package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("resumable run: kill after 2 of 4 ranges, resume, idempotent totals") {
    val inDir = Files.createTempDirectory("graft-ckpt-in").toString
    val outDir = Files.createTempDirectory("graft-ckpt-out").toString
    Synth.sequences(spark, 4000).repartition(8)
      .write.mode("overwrite").parquet(inDir)

    val df = spark.read.parquet(inDir)
    val plan = Pipelines.flagshipPlan(df)
    val lookup = Some(Pipelines.tagLookup(spark))

    // direct, non-checkpointed reference totals
    val want = Router.sinkCounts(
      Router.enrich(Router.route(df, plan), Pipelines.tagLookup(spark)))
      .collect().map(r => s"${r.getString(0)}/${r.getString(1)}" -> r.getLong(2)).toMap

    // first run "crashes" after 2 ranges
    val run1 = Checkpoint.runResumable(spark, inDir, outDir, plan, lookup,
      numRanges = 4, maxRangesThisRun = 2)
    assert(run1.processed == 2)

    // resume completes only the remaining ranges
    val run2 = Checkpoint.runResumable(spark, inDir, outDir, plan, lookup, numRanges = 4)
    assert(run2.processed == 2 && run2.skipped == 2)
    assert(run2.totalSinkCounts == want)

    // third run is a full no-op, totals stable (manifest round-trip)
    val run3 = Checkpoint.runResumable(spark, inDir, outDir, plan, lookup, numRanges = 4)
    assert(run3.processed == 0 && run3.skipped == 4)
    assert(run3.totalSinkCounts == want)

    // rule change invalidates all manifests
    val plan2 = RuleCompiler.compileFused(
      Pipelines.flagshipRules.take(6), Pipelines.flagshipConfig, df.schema, "source")
    val run4 = Checkpoint.runResumable(spark, inDir, outDir, plan2, lookup,
      numRanges = 4, maxRangesThisRun = 0)
    assert(run4.processed == 0 && run4.ranges.forall(_.skipped)) // all pending, none run
    val run5 = Checkpoint.runResumable(spark, inDir, outDir, plan2, lookup, numRanges = 4)
    assert(run5.processed == 4)
  }

  test("resume keeps sink counts whose keys contain '}' and '\"'") {
    import spark.implicits._
    // tags rendered from record values: the manifest's sink keys carry
    // braces, quotes, backslashes and a scalar field's name
    val values = Seq("a}b", "c\"d", "}", "{x}", "e\\f", "q\"emitted", "plain")
    val inDir = Files.createTempDirectory("graft-ckpt-keys-in")
    for (i <- 0 until 2) {
      val part = Files.createTempDirectory("graft-ckpt-keys-part").toString
      values.flatMap(v => Seq.fill(i + 2)(v)).zipWithIndex
        .map { case (v, j) => (s"d$i-$j", v, "in") }
        .toDF("doc_id", "key", "source")
        .coalesce(1).write.mode("overwrite").parquet(part)
      val file = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(file.toPath, inDir.resolve(s"part-$i.parquet"))
    }
    val df = spark.read.parquet(inDir.toString)
    val plan = RuleCompiler.compileFused(
      Seq(Rule("key", "^(.+)$", "x.$1")), RoutingConfig(), df.schema, "source")
    def run(outDir: String, maxRanges: Int = Int.MaxValue) =
      Checkpoint.runResumable(spark, inDir.toString, outDir, plan,
        numRanges = 2, maxRangesThisRun = maxRanges)

    val want = run(Files.createTempDirectory("graft-ckpt-keys-ref").toString)
    assert(want.totalSinkCounts == values.map(v => s"@default/x.$v" -> 5L).toMap)
    val outDir = Files.createTempDirectory("graft-ckpt-keys-out").toString
    assert(run(outDir, maxRanges = 1).processed == 1)
    val resumed = run(outDir)
    assert(resumed.processed == 1 && resumed.skipped == 1)
    assert(resumed.totalSinkCounts == want.totalSinkCounts)
    assert(resumed.ranges.map(_.emitted) == want.ranges.map(_.emitted))
  }
}
