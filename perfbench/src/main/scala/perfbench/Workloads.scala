package perfbench

import java.io.File
import java.nio.file.Path

import scala.collection.mutable

import graft.RuleCompiler.RoutingPlan
import graft.dedup.Dedup
import graft.parse.Grok
import graft.textops.TextFunctions
import graft.{Checkpoint, Router, Rule, RuleCompiler, RoutingConfig, RuleTableLoader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

/** A generated input (see `gen.py`): parquet rows under `data` and the
  * answer files written beside them.
  */
final case class Input(dir: Path, rows: Long) {
  def data: String = dir.resolve("data").toString
  def file(name: String): Path = dir.resolve(name)
}

/** One benchmark workload: how to set up the job one closed-loop rep runs. */
trait Workload {
  def name: String
  def setup(spark: SparkSession, in: Input): Job
}

/** A set-up job. `run` is one complete timed job; `check` returns its output
  * problems (none means correct); `prefixes` are the cumulative prefixes the
  * traced run times, named after the metric that gets their self time.
  */
trait Job {
  type Out
  def run(): Out
  def check(out: Out): Seq[String]
  /** The set-up's one cold job: compiles and warms what `run` uses. */
  def warmUp(): Unit = check(run())
  /** Per-rep end-to-end values a workload adds, filled in by `check`. */
  val extra: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  def prefixes: Seq[(String, () => Unit)]
  /** Per-layer counts and ratios, from the last traced rep, untimed passes
    * and the task totals of the prefix spans of each name.
    */
  def layerCounts(spanTotals: String => Seq[StageTotals], last: Out): Map[String, Double]
  /** Rule-table layers, for the traced run (None where no rules load). */
  def rules: Option[RuleLayers] = None
  /** Times the named phases inside one job; the traced run makes them spans. */
  var timer: Timer = Timer.Untimed
}

trait Timer { def apply[T](name: String)(body: => T): T }
object Timer {
  object Untimed extends Timer { def apply[T](name: String)(body: => T): T = body }
}

/** The loader and compiler calls of a routing workload, re-run by the traced
  * run under their own spans.
  */
final case class RuleLayers(load: () => (Seq[Rule], RoutingConfig),
    compile: ((Seq[Rule], RoutingConfig)) => RoutingPlan)

object Workloads {
  val all: Seq[Workload] = Seq(FlagshipRoute, LogsWideRules, FanoutResume, CurateDedup)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `label\ttag\trows` lines -> (label_ns, tag) -> rows. */
  def readSinkCounts(p: Path): Map[(String, String), Long] =
    InputIO.readText(p).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(a, b, n) = l.split("\t")
      (a, b) -> n.toLong
    }.toMap

  def diffCounts(what: String, got: Map[(String, String), Long],
      want: Map[(String, String), Long]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      val (g, w) = (got.getOrElse(k, 0L), want.getOrElse(k, 0L))
      if (g != w) Some(s"$what ${k._1}/${k._2}: got $g, want $w") else None
    }.take(5)

  def countsOf(rows: Array[Row]): Map[(String, String), Long] =
    rows.map(r => (r.getAs[String]("label_ns"), r.getAs[String]("tag")) -> r.getAs[Long]("n_rows")).toMap

  def ratio(n: Double, d: Double): Double = if (d == 0) 0.0 else n / d

  def loadRules(in: Input): (Seq[Rule], RoutingConfig) =
    RuleTableLoader.fromConfFile(in.file("rules.conf").toString)

  def compile(rules: (Seq[Rule], RoutingConfig), schema: StructType): RoutingPlan =
    RuleCompiler.compileFused(rules._1, rules._2, schema, "source")

  def ruleLayers(in: Input, schema: StructType): RuleLayers =
    RuleLayers(() => loadRules(in), compile(_, schema))

  /** Matched and kept shares of the rows a `routeObserved` observation saw. */
  def routeRatios(m: Map[String, Any]): Map[String, Double] = {
    def n(k: String) = m(k).asInstanceOf[Long].toDouble
    Map("tag_rewrite.matched_ratio" -> ratio(n("matched"), n("emitted")),
      "tag_rewrite.kept_ratio" -> ratio(n("emitted") - n("unmatched"), n("emitted")))
  }
}

/** The sequence-table routing shared by `flagship_route` and `fanout_resume`:
  * rule loading and the enrichment dimension.
  */
object Flagship {
  /** tag -> sink name; routed tags missing here stay unenriched. */
  val lookupRows: Seq[(String, String, String, Int)] = Seq(
    ("site.apache.access", "apache-access-sink", "web", 1),
    ("site.apache.error", "apache-error-sink", "web", 2),
    ("site.Nginx-Access", "nginx-sink", "web", 1),
    ("k8s.kubernetes.var.log", "k8s-log-sink", "infra", 3),
    ("app.Production.api", "prod-api-sink", "game", 1),
    ("input", "relabel-sink", "misc", 9))

  def lookup(spark: SparkSession): DataFrame =
    spark.createDataFrame(lookupRows).toDF("tag", "sink_name", "team", "priority")

  def enrichHit(counts: Map[(String, String), Long]): Double = {
    val known = lookupRows.map(_._1).toSet
    Workloads.ratio(counts.collect { case ((_, t), n) if known(t) => n }.sum.toDouble,
      counts.values.sum.toDouble)
  }
}

/** ~1.5M sequence rows through route -> per-sink counts -> enrichment of the
  * counts. Reads only `source`, so the rule cascade dominates.
  */
object FlagshipRoute extends Workload {
  val name = "flagship_route"

  def setup(spark: SparkSession, in: Input): Job = new Job {
    type Out = (Array[Row], Map[String, Any])
    private val df = spark.read.parquet(in.data)
    private val plan = Workloads.compile(Workloads.loadRules(in), df.schema)
    private val lookup = Flagship.lookup(spark)
    private val want = Workloads.readSinkCounts(in.file("expected.tsv"))
    private val sinkNames = Flagship.lookupRows.map(r => r._1 -> r._2).toMap
    override val rules = Some(Workloads.ruleLayers(in, df.schema))

    private def routed(obs: Observation) =
      Router.routeObserved(df, plan, obs).select(Router.NewTag, Router.NewLabel)

    def run(): Out = {
      val obs = Observation()
      val out = Router.enrichCounts(Router.sinkCounts(routed(obs)), lookup).collect()
      (out, obs.get)
    }

    def check(out: Out): Seq[String] = {
      val (rows, m) = out
      val emitted = m("emitted").asInstanceOf[Long]
      val enrichErrs = rows.toSeq.flatMap { r =>
        val (t, s) = (r.getAs[String]("tag"), r.getAs[String]("sink_name"))
        if (sinkNames.get(t).orNull != s) Some(s"tag $t enriched with sink $s") else None
      }
      Workloads.diffCounts("sink", Workloads.countsOf(rows), want) ++ enrichErrs ++
        (if (emitted != in.rows) Seq(s"emitted $emitted of ${in.rows} rows") else Nil)
    }

    def prefixes: Seq[(String, () => Unit)] = Seq(
      "scan.busy_s" -> (() => Workloads.noop(df.select("source"))),
      "tag_rewrite.busy_s" -> (() => Workloads.noop(routed(Observation()))),
      "sink_counts.busy_s" -> (() => Router.sinkCounts(routed(Observation())).collect()),
      "enrich.busy_s" -> (() => run()))

    def layerCounts(spans: String => Seq[StageTotals], last: Out): Map[String, Double] = {
      val (rows, m) = last
      Workloads.routeRatios(m) ++ Map(
        "sink_counts.shuffle_bytes" ->
          Workloads.med(spans("sink_counts.busy_s").map(_.shuffleWriteBytes.toDouble)),
        "sink_counts.out_rows" -> rows.length.toDouble,
        "enrich.hit_ratio" -> Flagship.enrichHit(Workloads.countsOf(rows)))
    }
  }
}

/** ~100k unique Apache combined log lines, grok-parsed and routed through a
  * generated 65-rule conf; each line hits one planted rule index.
  */
object LogsWideRules extends Workload {
  val name = "logs_wide_rules"
  val grok = "%{COMBINEDAPACHELOG}"

  def setup(spark: SparkSession, in: Input): Job = new Job {
    type Out = Array[Row]
    private val df = spark.read.parquet(in.data)
    private val parsed = Grok.parse(df, "line", grok)
    private val plan = Workloads.compile(Workloads.loadRules(in), parsed.schema)
    private val want = Workloads.readSinkCounts(in.file("expected.tsv"))
    override val rules = Some(Workloads.ruleLayers(in, parsed.schema))

    private def routed = Router.route(parsed, plan).select(Router.NewTag, Router.NewLabel)

    def run(): Out = Router.sinkCounts(routed).collect()

    def check(out: Out): Seq[String] =
      Workloads.diffCounts("sink", Workloads.countsOf(out), want)

    def prefixes: Seq[(String, () => Unit)] = Seq(
      "scan.busy_s" -> (() => Workloads.noop(df.select("line", "source"))),
      "grok.busy_s" -> (() => Workloads.noop(parsed.select("request", "source"))),
      "tag_rewrite.busy_s" -> (() => Workloads.noop(routed)),
      "sink_counts.busy_s" -> (() => run()))

    def layerCounts(spans: String => Seq[StageTotals], last: Out): Map[String, Double] = {
      val obs = Observation()
      Workloads.noop(Router.routeObserved(parsed, plan, obs).select(Router.NewTag))
      val parsedRows = parsed.filter(col("clientip").isNotNull).count()
      Workloads.routeRatios(obs.get) ++ Map(
        "grok.parsed_ratio" -> Workloads.ratio(parsedRows, in.rows),
        "sink_counts.shuffle_bytes" ->
          Workloads.med(spans("sink_counts.busy_s").map(_.shuffleWriteBytes.toDouble)),
        "sink_counts.out_rows" -> last.length.toDouble)
    }
  }
}

/** ~100k sequence rows through the resumable fan-out write: 4 ranges, killed
  * after 2, resumed, then re-run once complete. Full rows are read, shuffled
  * and written, so routing is a small share. Each range costs a fixed ~0.3 s
  * of jobs and commits, so fewer ranges leave more reps in a run.
  */
object FanoutResume extends Workload {
  val name = "fanout_resume"
  val ranges = 4
  val salt = 8

  final case class Result(out: Path, killed: Checkpoint.RunSummary,
      resumed: Checkpoint.RunSummary, again: Checkpoint.RunSummary)

  def setup(spark: SparkSession, in: Input): Job = new Job {
    type Out = Result
    private val df = spark.read.parquet(in.data)
    private val plan = Workloads.compile(Workloads.loadRules(in), df.schema)
    private val lookup = Flagship.lookup(spark)
    private val want = Workloads.readSinkCounts(in.file("expected.tsv"))
    // digest of the routed rows' (doc_id, tokens), computed at the first check
    private lazy val routedDigest = InputIO.digest(df
      .filter(col("source").isin(InputIO.readText(in.file("kept_sources.txt")).linesIterator.toSeq: _*))
      .select("doc_id", "tokens"))
    private val outRoot = in.dir.getParent.getParent.resolve("out").resolve(name)
    private var rep = 0
    override val rules = Some(Workloads.ruleLayers(in, df.schema))

    private def resumable(out: Path, max: Int) = Checkpoint.runResumable(spark, in.data,
      out.toString, plan, Some(lookup), numRanges = ranges, salt = salt, maxRangesThisRun = max)

    private def fresh(): Path = {
      rep += 1
      val p = outRoot.resolve(s"rep-$rep")
      deleteTree(p.toFile)
      p
    }

    /** The killed half alone: resuming runs the same per-range code. */
    override def warmUp(): Unit = {
      val out = fresh()
      try resumable(out, ranges / 2) finally deleteTree(out.toFile)
    }

    /** Killed after half the ranges, resumed, then re-run once complete. */
    def run(): Out = {
      val out = fresh()
      Result(out,
        timer("checkpoint.killed_s")(resumable(out, ranges / 2)),
        timer("checkpoint.resume_s")(resumable(out, Int.MaxValue)),
        timer("checkpoint.noop_resume_s")(resumable(out, Int.MaxValue)))
    }

    def check(r: Out): Seq[String] = try {
      val got = sinkCounts(r.again)
      val routedRows = got.values.sum
      val bytes = parquetFiles(r.out.resolve("data").toFile).map(_.length).sum
      extra.getOrElseUpdate("out_bytes_per_row", mutable.ArrayBuffer.empty) +=
        Workloads.ratio(bytes, routedRows)
      val written = InputIO.digest(spark.read.parquet(r.out.resolve("data").toString)
        .select("doc_id", "tokens"))
      Seq(
        (r.killed.processed == ranges / 2) -> s"killed run processed ${r.killed.processed}",
        (r.resumed.processed == ranges / 2) -> s"resume processed ${r.resumed.processed}",
        (r.again.skipped == ranges) -> s"completed re-run skipped ${r.again.skipped} of $ranges",
        (written == routedDigest) -> s"written (doc_id, tokens) digest $written != $routedDigest")
        .collect { case (false, msg) => msg } ++
        Workloads.diffCounts("manifest sink", got, want)
    } finally deleteTree(r.out.toFile)

    private val prefixOut = outRoot.resolve("prefix")
    def prefixes: Seq[(String, () => Unit)] = {
      def routed = Router.routeObserved(df, plan, Observation())
      Seq(
        "scan.busy_s" -> (() => Workloads.noop(df)),
        "tag_rewrite.busy_s" -> (() => Workloads.noop(routed)),
        "enrich.busy_s" -> (() => Workloads.noop(Router.enrich(routed, lookup))),
        "fanout.busy_s" -> (() => {
          deleteTree(prefixOut.toFile)
          Router.writeFanOut(Router.enrich(routed, lookup), prefixOut.toString, salt = salt)
        }))
    }

    def layerCounts(spans: String => Seq[StageTotals], r: Out): Map[String, Double] = {
      val fan = spans("fanout.busy_s")
      def medOf(f: StageTotals => Double) = Workloads.med(fan.map(f))
      val files = parquetFiles(prefixOut.toFile).size
      deleteTree(prefixOut.toFile)
      val obs = Observation()
      Workloads.noop(Router.routeObserved(df, plan, obs).select(Router.NewTag))
      val checkpoints = Seq(r.killed, r.resumed, r.again)
      Workloads.routeRatios(obs.get) ++ Map(
        "enrich.hit_ratio" -> Flagship.enrichHit(sinkCounts(r.again)),
        "fanout.shuffle_bytes" -> medOf(_.shuffleWriteBytes.toDouble),
        "fanout.spill_bytes" -> medOf(_.spillBytes.toDouble),
        "fanout.bytes_written" -> medOf(_.bytesWritten.toDouble),
        "fanout.files" -> files.toDouble,
        "fanout.task_skew" -> medOf { t =>
          val recs = t.taskRecordsWritten.map(_.toDouble).toSeq
          if (recs.isEmpty) 0.0 else recs.max / Stats.median(recs)
        },
        "checkpoint.skipped_ratio" -> Workloads.ratio(
          checkpoints.map(_.skipped).sum, checkpoints.map(_.ranges.size).sum))
    }
  }

  /** Manifest sink counts, keyed `label/tag`, as (label, tag) -> rows. */
  private def sinkCounts(run: Checkpoint.RunSummary): Map[(String, String), Long] =
    run.totalSinkCounts.map { case (k, n) =>
      val i = k.indexOf('/')
      (k.take(i), k.drop(i + 1)) -> n
    }

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** ~8k documents through the quality/language gate, MinHash-LSH pair mining
  * and the distributed near-duplicate clustering. No router code runs.
  */
object CurateDedup extends Workload {
  val name = "curate_dedup"
  val minScore = 50

  /** Planted group of a document (see `gen.py`): rows 8g..8g+3 copy group
    * g's text; every other document is its own group, keyed `-(id + 1)`.
    */
  def plantedGroup(docId: Long): Long = if (docId % 8 <= 3) docId / 8 else -(docId + 1)
  /** Slot 7 of each group of eight is junk the quality gate rejects. */
  def passesGate(docId: Long): Boolean = docId % 8 != 7

  def setup(spark: SparkSession, in: Input): Job = new Job {
    type Out = (Array[Row], Long)
    private val docs = spark.read.parquet(in.data)
    private val gated = docs.filter(
      TextFunctions.qualityScore(col("text")) >= minScore &&
        TextFunctions.langId(col("text")) =!= "und")
    private def pairs = Dedup.minHashLshPairs(gated)
    private val wantGated = (0L until in.rows).count(passesGate)

    def run(): Out = {
      // raw-graph driver solve off: the distributed contraction (the boxed
      // union-find maps) is the clustering path large corpora take
      val clusters = Dedup.nearDupClusters(gated, pairs, driverSolveMaxEdges = 0L)
      try {
        val rows = clusters.collect()
        (rows, rows.map(_.getLong(1)).distinct.length.toLong)
      } finally Dedup.releaseClusters(clusters)
    }

    def check(out: Out): Seq[String] = {
      val (rows, _) = out
      val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mixed = rows.groupBy(_.getLong(1)).collect {
        case (c, ms) if ms.map(r => plantedGroup(r.getLong(0))).distinct.length > 1 =>
          s"cluster $c mixes planted groups"
      }
      val split = (0L until in.rows by 8L).filter(g => g + 2 < in.rows).collect {
        case g if (0L to 2L).map(s => cluster.get(g + s)).distinct.length != 1 =>
          s"exact copies ${g}..${g + 2} not in one cluster"
      }
      (if (rows.length != wantGated) Seq(s"gate passed ${rows.length}, want $wantGated")
       else Nil) ++ mixed.take(3) ++ split.take(3)
    }

    def prefixes: Seq[(String, () => Unit)] = Seq(
      "scan.busy_s" -> (() => Workloads.noop(docs.select("doc_id", "text"))),
      "text_functions.busy_s" -> (() => Workloads.noop(gated)),
      "dedup.minhash_busy_s" -> (() => Workloads.noop(pairs)),
      "dedup.cluster_busy_s" -> (() => run()))

    def layerCounts(spans: String => Seq[StageTotals], last: Out): Map[String, Double] = {
      val dedupSpans = spans("dedup.cluster_busy_s")
      Map(
        "text_functions.pass_ratio" -> Workloads.ratio(gated.count(), in.rows),
        "dedup.pairs" -> pairs.count().toDouble,
        "dedup.clusters" -> last._2.toDouble,
        "dedup.shuffle_bytes" -> Workloads.med(dedupSpans.map(_.shuffleWriteBytes.toDouble)),
        "dedup.spill_bytes" -> Workloads.med(dedupSpans.map(_.spillBytes.toDouble)))
    }
  }
}
