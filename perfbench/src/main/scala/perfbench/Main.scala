package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One JVM of the benchmark, for one workload over one generated input.
  *  - `--mode measure --trace 0` sets up three times, then runs the closed
  *    loop and prints the end-to-end metrics;
  *  - `--mode measure --trace 1` prints the per-layer metrics instead;
  *  - `--mode onecore` is the local[1] flagship level the traced run forks.
  */
object Main {

  final case class Opts(mode: String, workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, partitions: Int, work: Path, input: Path, rows: Long)

  val endToEnd: Seq[(String, String)] =
    Seq("rows_per_s" -> "rows/s", "setup_s" -> "s")

  /** Every per-layer metric; a layer that does not run in a workload reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "scan.busy_s" -> "s", "scan.rows_per_s" -> "rows/s",
    "loader.load_s" -> "s", "loader.rules" -> "count",
    "compiler.compile_s" -> "s",
    "grok.busy_s" -> "s", "grok.parsed_ratio" -> "ratio",
    "tag_rewrite.busy_s" -> "s", "tag_rewrite.rows_per_s" -> "rows/s",
    "tag_rewrite.matched_ratio" -> "ratio", "tag_rewrite.kept_ratio" -> "ratio",
    "sink_counts.busy_s" -> "s", "sink_counts.shuffle_bytes" -> "B",
    "sink_counts.out_rows" -> "count",
    "enrich.busy_s" -> "s", "enrich.hit_ratio" -> "ratio",
    "fanout.busy_s" -> "s", "fanout.shuffle_bytes" -> "B", "fanout.spill_bytes" -> "B",
    "fanout.bytes_written" -> "B", "fanout.files" -> "count", "fanout.task_skew" -> "ratio",
    "checkpoint.killed_s" -> "s", "checkpoint.resume_s" -> "s",
    "checkpoint.noop_resume_s" -> "s", "checkpoint.skipped_ratio" -> "ratio",
    "text_functions.busy_s" -> "s", "text_functions.pass_ratio" -> "ratio",
    "dedup.minhash_busy_s" -> "s", "dedup.pairs" -> "count",
    "dedup.cluster_busy_s" -> "s", "dedup.clusters" -> "count",
    "dedup.shuffle_bytes" -> "B", "dedup.spill_bytes" -> "B",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.core_util" -> "ratio", "jvm.gc_s" -> "s", "jvm.alloc_bytes_per_row" -> "B/row",
    "spark.rows_per_s_1core" -> "rows/s", "spark.scaling_eff" -> "ratio",
    "trace.overhead_ratio" -> "ratio")

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val o = parse(args)
    val code = o.mode match {
      case "measure" if o.trace => traced(o)
      case "measure" => measure(o, start)
      case "onecore" => oneCore(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = get("cores").toInt
    Opts(get("mode"), Workloads.byName(get("workload")), get("seed").toLong,
      get("seconds").toDouble, get("trace") == "1", cores,
      kv.get("partitions").map(_.toInt).getOrElse(cores), Paths.get(get("work")),
      Paths.get(get("input")), get("rows").toLong)
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload.name}")
      .config("spark.sql.shuffle.partitions", o.partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- input digest ---------------------------------------------------------

  private def inputOf(o: Opts): Input = Input(o.input, o.rows)

  /** Digest of the rows plus a hash of every answer file beside them. */
  private def inputDigest(spark: SparkSession, in: Input): String = {
    val side = Files.list(in.dir).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "digest.txt")
      .sortBy(_.getFileName.toString)
      .map(p => p.getFileName.toString + ":" + InputIO.readText(p)).mkString("\n")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(side.getBytes("UTF-8")).map("%02x".format(_)).mkString
    InputIO.digest(spark.read.parquet(in.data)) + " " + sha
  }

  /** Record the input's digest on its first use; on later uses, false when
    * it changed. Runs after the timed part, off the set-up and the loop.
    */
  private def sameDigest(spark: SparkSession, in: Input): Boolean = {
    val now = inputDigest(spark, in)
    val recorded = in.file("digest.txt")
    if (!Files.exists(recorded)) { InputIO.writeText(recorded, now); return true }
    val was = InputIO.readText(recorded).trim
    if (now != was) System.err.println(s"cached input ${in.dir} changed: digest $now, recorded $was")
    now == was
  }

  // ---- end-to-end run ------------------------------------------------------

  /** Set-up cycles: (re)start the session, open the input, load and compile
    * the rules, and run one warm-up job. The first cycle counts from the
    * start of main.
    */
  private val setupCycles = 3

  private def measure(o: Opts, mainStart: Long): Int = {
    val in = inputOf(o)
    var spark = session(o)
    val setups = ArrayBuffer.empty[Double]
    val warm = new Stats.Reps
    var job: Job = null
    var cycleStart = mainStart
    for (_ <- 1 to setupCycles) {
      if (job != null) {
        cycleStart = System.nanoTime()
        spark.stop()
        spark = session(o)
      }
      job = o.workload.setup(spark, in)
      val j = job
      warm.record(() => j.warmUp())(_ => Nil)
      setups += (System.nanoTime() - cycleStart) / 1e9
    }
    val j = job
    val reps = Stats.closedLoop(o.seconds)(_.record(() => j.run())(j.check))
    val rowsPerS = reps.seconds.map(in.rows / _).toSeq
    val rss = peakRssMb()
    val unchanged = sameDigest(spark, in)
    spark.stop()
    if (!unchanged) return 1

    val lines = ArrayBuffer(
      ("rows_per_s", med(rowsPerS), "rows/s", rowsPerS.size),
      ("setup_s", Stats.median(setups.toSeq), "s", setups.size),
      ("peak_rss_mb", rss, "MB", 1),
      ("failed_ratio", reps.failedRatio, "ratio", reps.attempted))
    j.extra.foreach { case (k, v) => lines += ((k, med(v.toSeq), "B/row", v.size)) }
    report(o, in, lines.toSeq, reps, warm)
    val metrics = endToEnd.map { case (n, u) => (n, lines.find(_._1 == n).get._2, u) }
    emit(o, reps, warm, metrics)
  }

  // ---- traced run ----------------------------------------------------------

  private def traced(o: Opts): Int = {
    val in = inputOf(o)
    val spark = session(o)
    val job = o.workload.setup(spark, in)
    val warm = new Stats.Reps
    warm.record(() => job.warmUp())(_ => Nil)
    val tr = new Tracer(spark.sparkContext, s"${o.workload.name}-s${o.seed}")
    val m = scala.collection.mutable.Map.empty[String, Double]
    def medSpan(name: String) = med(tr.spans.filter(_.name == name).map(_.seconds).toSeq)
    job.rules.foreach { rl =>
      val loaded = (1 to 5).map(_ => tr.span("loader.load_s")(rl.load())._1).last
      (1 to 5).foreach(_ => tr.span("compiler.compile_s")(rl.compile(loaded)))
      m("loader.load_s") = medSpan("loader.load_s")
      m("compiler.compile_s") = medSpan("compiler.compile_s")
      m("loader.rules") = loaded._1.size
    }

    // untraced and traced full jobs alternate, each going first in every
    // other pair, so warm-up drift hits both; traced jobs also record
    // JVM-wide GC time and allocation
    val spanTimer = new Timer {
      def apply[T](name: String)(body: => T): T = tr.span(name)(body)._1
    }
    val base = new Stats.Reps
    val traced = new Stats.Reps
    val gcs = ArrayBuffer.empty[Double]
    val allocs = ArrayBuffer.empty[Double]
    val jobSpans = ArrayBuffer.empty[Span]
    var last: Option[job.Out] = None
    def untracedRep(): Unit = {
      tr.pause()
      base.record(() => job.run())(job.check)
      tr.resume()
    }
    def tracedRep(): Unit = {
      job.timer = spanTimer
      val (gc0, a0) = (gcMs(), allocatedBytes())
      traced.record { () =>
        val (out, s) = tr.span("job")(job.run())
        jobSpans += s
        out
      } { out => last = Some(out); job.check(out) }
      gcs += (gcMs() - gc0) / 1e3
      allocs += (allocatedBytes() - a0).toDouble / in.rows
      job.timer = Timer.Untimed
    }
    var pair = 0
    Stats.closedLoop(o.seconds) { _ =>
      if (pair % 2 == 0) { untracedRep(); tracedRep() } else { tracedRep(); untracedRep() }
      pair += 1
    }
    for (name <- Seq("checkpoint.killed_s", "checkpoint.resume_s", "checkpoint.noop_resume_s")
         if tr.spans.exists(_.name == name)) m(name) = medSpan(name)
    val jobTotals = jobSpans.toSeq.map(s => s -> tr.totals(s))
    m("spark.jobs") = med(jobTotals.map(_._2.jobs.toDouble))
    m("spark.stages") = med(jobTotals.map(_._2.stages.toDouble))
    m("spark.tasks") = med(jobTotals.map(_._2.tasks.toDouble))
    m("spark.core_util") = med(jobTotals.map { case (s, t) => t.runTimeMs / 1e3 / (s.seconds * o.cores) })
    m("jvm.gc_s") = med(gcs.toSeq)
    m("jvm.alloc_bytes_per_row") = med(allocs.toSeq)

    // cumulative prefixes, interleaved so drift spreads over all of them
    val prefixes = job.prefixes
    for (_ <- 1 to 5; (name, f) <- prefixes) tr.span(name)(f())
    val self = Stats.selfTimes(prefixes.map { case (n, _) => n -> medSpan(n) })
    self.foreach { case (n, t) => m(n) = t }
    m("scan.rows_per_s") = ratio(in.rows, m("scan.busy_s"))
    m.get("tag_rewrite.busy_s").foreach(t => m("tag_rewrite.rows_per_s") = ratio(in.rows, t))
    last.foreach(l => m ++= job.layerCounts(n => Tracer.totalsNamed(tr, n), l))

    val untracedRps = med(base.seconds.map(in.rows / _).toSeq)
    val tracedRps = med(traced.seconds.map(in.rows / _).toSeq)
    m("trace.overhead_ratio") = 1.0 - ratio(tracedRps, untracedRps)
    tr.pause()
    val unchanged = sameDigest(spark, in)
    spark.stop()
    if (!unchanged) return 1
    if (o.workload == FlagshipRoute) {
      val one = forkOneCore(o)
      m("spark.rows_per_s_1core") = one
      m("spark.scaling_eff") = ratio(untracedRps, one * o.cores)
    }

    val dir = Files.createDirectories(o.work.resolve("trace"))
    val stem = s"${o.workload.name}-s${o.seed}"
    Files.write(dir.resolve(s"$stem.spans.jsonl"), tr.jsonLines.asJava)
    InputIO.writeText(dir.resolve(s"$stem.layers.json"),
      m.toSeq.sorted.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}\n"))

    val reps = new Stats.Reps
    Seq(base, traced).foreach { r =>
      reps.attempted += r.attempted; reps.failed += r.failed; reps.errors ++= r.errors
    }
    val lines = perLayer.map { case (n, u) =>
      (n, m.getOrElse(n, 0.0), if (m.contains(n)) u else s"$u (not run)", 1) }
    report(o, in, lines ++ Seq(("rows_per_s_untraced", untracedRps, "rows/s", base.seconds.size),
      ("rows_per_s_traced", tracedRps, "rows/s", traced.seconds.size)), reps, warm)
    emit(o, reps, warm, perLayer.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) })
  }

  /** The flagship job in a local[1] JVM sized to one processor. */
  private def forkOneCore(o: Opts): Double = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("-XX:ActiveProcessorCount"))
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-XX:ActiveProcessorCount=1", "-cp", sys.props("java.class.path"), "perfbench.Main",
        "--mode", "onecore", "--workload", o.workload.name, "--seed", o.seed.toString,
        "--seconds", o.seconds.toString, "--trace", "0", "--cores", "1",
        "--partitions", o.partitions.toString, "--work", o.work.toString,
        "--input", o.input.toString, "--rows", o.rows.toString)
    val log = o.work.resolve("logs").resolve(s"onecore-${o.workload.name}-s${o.seed}.log")
    Files.createDirectories(log.getParent)
    val p = new ProcessBuilder(cmd: _*).redirectError(log.toFile).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    out.linesIterator.collectFirst { case l if l.startsWith("ONECORE ") => l.drop(8).toDouble }
      .getOrElse(throw new IllegalStateException(s"local[1] JVM exited $code without a result"))
  }

  private def oneCore(o: Opts): Int = {
    val in = inputOf(o)
    val spark = session(o)
    val job = o.workload.setup(spark, in)
    job.warmUp()
    val reps = Stats.closedLoop(o.seconds / 3)(_.record(() => job.run())(job.check))
    spark.stop()
    if (reps.failed > 0) { reps.errors.foreach(System.err.println); 1 }
    else { println(s"ONECORE ${Stats.median(reps.seconds.map(in.rows / _).toSeq)}"); 0 }
  }

  // ---- output --------------------------------------------------------------

  private def report(o: Opts, in: Input, lines: Seq[(String, Double, String, Int)],
      reps: Stats.Reps, warm: Stats.Reps): Unit = {
    println(s"workload ${o.workload.name} seed ${o.seed} rows ${in.rows} " +
      s"local[${o.cores}] closed loop, 1 client, ${if (o.trace) "traced" else "untraced"}")
    lines.foreach { case (n, v, u, k) => println(s"  $n = ${num(v)} $u (n=$k)") }
    (warm.errors ++ reps.errors).distinct.foreach(e => println(s"  FAILED CHECK: $e"))
  }

  /** Print the result line; exit code 1 when any output check failed. */
  private def emit(o: Opts, reps: Stats.Reps, warm: Stats.Reps,
      metrics: Seq[(String, Double, String)]): Int = {
    val correct = reps.failed == 0 && warm.failed == 0 && reps.attempted > 0
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${reps.attempted},"failed":${reps.failed},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    if (correct) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def med(xs: Seq[Double]): Double = Workloads.med(xs)
  private def ratio(n: Double, d: Double): Double = Workloads.ratio(n, d)

  private def peakRssMb(): Double =
    InputIO.readText(Paths.get("/proc/self/status")).linesIterator
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def allocatedBytes(): Long =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      .getTotalThreadAllocatedBytes
}
