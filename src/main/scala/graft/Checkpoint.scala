package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.RuleCompiler.RoutingPlan
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Resumable execution with per-partition-range lineage — the north star's
  * checkpoint requirement: each completed range persists a manifest carrying
  * (input fingerprint, file range, rule-version hash) plus
  * emitted/matched/unmatched counters and per-sink counts. A re-run skips
  * ranges whose manifest exists with a matching rule hash — so a killed job
  * resumes idempotently, and a rule change automatically invalidates all
  * prior work.
  *
  * The input is partitioned by contiguous file groups (the parquet analog of
  * Iceberg snapshot + file-scan ranges; under Iceberg the manifest would
  * carry the snapshot-id — here a file fingerprint of (path, size) stands
  * in). Manifests are written atomically (tmp + rename).
  */
object Checkpoint {

  final case class RangeResult(
      rangeId: Int,
      skipped: Boolean,
      emitted: Long,
      matched: Long,
      unmatched: Long,
      sinkCounts: Map[String, Long])

  final case class RunSummary(ranges: Seq[RangeResult]) {
    def processed: Int = ranges.count(!_.skipped)
    def skipped: Int = ranges.count(_.skipped)
    def totalSinkCounts: Map[String, Long] =
      ranges.flatMap(_.sinkCounts.toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Deterministic fingerprint of a file group: FNV over (name, size). */
  def filesFingerprint(files: Seq[File]): String = {
    val canonical = files.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}").mkString("|")
    java.lang.Long.toHexString(
      graft.expressions.FnvHash64.hash(canonical.getBytes(StandardCharsets.UTF_8)))
  }

  /** Run the routing pipeline over `inputDir` parquet, fanning out to
    * `outDir/data/range=<i>`, resuming from existing manifests.
    *
    * @param maxRangesThisRun process at most this many pending ranges
    *                         (test hook simulating a mid-job kill).
    */
  def runResumable(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      plan: RoutingPlan,
      lookup: Option[DataFrame] = None,
      numRanges: Int = 8,
      salt: Int = 8,
      maxRangesThisRun: Int = Int.MaxValue): RunSummary = {

    val parts = Option(new File(inputDir).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    require(parts.nonEmpty, s"no parquet files under $inputDir")
    val groups = parts.grouped(math.max(1, math.ceil(parts.length.toDouble / numRanges).toInt))
      .toSeq.zipWithIndex

    val manifestDir = Paths.get(outDir, "_manifests")
    Files.createDirectories(manifestDir)

    var budget = maxRangesThisRun
    val results = groups.map { case (files, rangeId) =>
      val mf = manifestDir.resolve(s"range_$rangeId.json")
      val fp = filesFingerprint(files.toSeq)
      readManifest(mf) match {
        case Some(m) if m("rule_version_hash") == plan.ruleVersionHash &&
          m("input_fingerprint") == fp =>
          RangeResult(rangeId, skipped = true,
            m("emitted").toLong, m("matched").toLong, m("unmatched").toLong,
            parseSinkCounts(m("sink_counts")))
        case _ if budget <= 0 =>
          RangeResult(rangeId, skipped = true, 0, 0, 0, Map.empty)
        case _ =>
          budget -= 1
          val df = spark.read.parquet(files.map(_.getPath).toIndexedSeq: _*)
          val obs = Observation()
          val routed = Router.routeObserved(df, plan, obs)
          val enriched = lookup.map(Router.enrich(routed, _)).getOrElse(routed)
          // per-sink counts ride the WRITE action as a second observe metric
          // (CountByKeyAgg: one bounded map entry per sink) — single pass;
          // the previous formulation re-read every written byte of the
          // range just to count it
          val sinkObs = Observation()
          val observed = enriched.observe(sinkObs,
            graft.expressions.CountByKeyAgg(
              org.apache.spark.sql.functions.concat_ws("/",
                org.apache.spark.sql.functions.coalesce(
                  org.apache.spark.sql.functions.col(Router.NewLabel),
                  org.apache.spark.sql.functions.lit(Router.DefaultLabel)),
                org.apache.spark.sql.functions.col(Router.NewTag))).as("sinks"))
          Router.writeFanOut(observed, s"$outDir/data/range=$rangeId", salt = salt)
          val sinks = sinkObs.get("sinks")
            .asInstanceOf[scala.collection.Map[String, Long]].toMap
          val m = obs.get
          val res = RangeResult(rangeId, skipped = false,
            m("emitted").asInstanceOf[Long], m("matched").asInstanceOf[Long],
            m("unmatched").asInstanceOf[Long], sinks)
          writeManifest(mf, plan, fp, res)
          res
      }
    }
    RunSummary(results)
  }

  // --- minimal dependency-free JSON for our own manifest format ------------

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  private def writeManifest(
      path: java.nio.file.Path,
      plan: RoutingPlan,
      inputFp: String,
      r: RangeResult): Unit = {
    val sinks = r.sinkCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val json =
      s"""{"range_id":${r.rangeId},
         |"input_fingerprint":"$inputFp",
         |"rule_version_hash":"${plan.ruleVersionHash}",
         |"emitted":${r.emitted},"matched":${r.matched},"unmatched":${r.unmatched},
         |"sink_counts":$sinks}""".stripMargin
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One `"key":count` entry; the key is a JSON string (escapes allowed). */
  private val sinkEntry = """"((?:[^"\\]|\\.)*)":(-?[0-9]+)"""

  /** Parse our own manifests (flat string/number fields + sink_counts
    * object) — no JSON library in the dependency budget. The sink_counts
    * object is matched entry by entry, so a `}` or `"` inside a sink key
    * cannot end it early, and scalar fields are read from the rest only.
    */
  private def readManifest(path: java.nio.file.Path): Option[Map[String, String]] = {
    if (!Files.exists(path)) return None
    val s = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    val fields = scala.collection.mutable.Map[String, String]()
    val sinksRe = s""""sink_counts":(\\{(?:$sinkEntry,?)*\\})""".r
    val rest = sinksRe.findFirstMatchIn(s) match {
      case Some(m) =>
        fields("sink_counts") = m.group(1)
        s.substring(0, m.start) + s.substring(m.end)
      case None => s
    }
    val scalar = """"([a-z_]+)":(?:"((?:[^"\\]|\\.)*)"|(-?[0-9]+))""".r
    for (m <- scalar.findAllMatchIn(rest))
      fields(m.group(1)) = Option(m.group(2)).getOrElse(m.group(3))
    Some(fields.toMap)
  }

  private def parseSinkCounts(json: String): Map[String, Long] =
    sinkEntry.r.findAllMatchIn(json)
      .map(m => """\\(.)""".r.replaceAllIn(m.group(1), "$1") -> m.group(2).toLong)
      .toMap
}
