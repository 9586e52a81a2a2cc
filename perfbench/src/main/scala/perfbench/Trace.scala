package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.ListenerBus
import org.apache.spark.scheduler._

/** One span: a named interval, its parent and the run it belongs to. */
final case class Span(id: String, name: String, parent: String, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json(t0: Long): String =
    s"""{"id":"$id","name":"$name","parent":"$parent","run":"$run",""" +
      s""""start_s":${(startNs - t0) / 1e9},"end_s":${(endNs - t0) / 1e9}}"""
}

/** Task metrics summed over the stages of one span's Spark jobs. */
final class StageTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runTimeMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  /** Records written per task that wrote output. */
  val taskRecordsWritten: ArrayBuffer[Long] = ArrayBuffer.empty
}

/** Attributes stage task metrics to the span that launched the job. Each
  * traced span runs its Spark actions under a job group named after the
  * span id; the listener maps every stage to that group.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, StageTotals]()

  private def of(group: String): StageTotals =
    totals.computeIfAbsent(group, _ => new StageTotals)

  def get(group: String): StageTotals = of(group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.JobGroup))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val t = of(g)
    t.synchronized(t.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = of(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    t.synchronized(t.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = of(stageGroup.getOrDefault(e.stageId, ""))
    t.synchronized {
      t.tasks += 1
      t.runTimeMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.bytesWritten += m.outputMetrics.bytesWritten
      if (m.outputMetrics.recordsWritten > 0)
        t.taskRecordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

/** In-memory spans for one traced run, written out when the run ends. Every
  * span's Spark jobs run under a job group equal to the span id.
  */
final class Tracer(val sc: SparkContext, val run: String) {
  val t0: Long = System.nanoTime()
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val listener = new SpanListener
  sc.addSparkListener(listener)
  private var stack: List[String] = Nil
  private var next = 0

  def span[T](name: String)(body: => T): (T, Span) = {
    next += 1
    val id = s"$run-$next"
    val parent = stack.headOption.getOrElse("")
    val prevGroup = sc.getLocalProperty(Tracer.JobGroup)
    sc.setJobGroup(id, name)
    stack = id :: stack
    val start = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, run, start, System.nanoTime())
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
    }
  }

  /** Totals of the jobs of a span and of the spans nested in it, once every
    * listener event has arrived.
    */
  def totals(s: Span): StageTotals = {
    ListenerBus.drain(sc)
    def within(x: Span): Boolean =
      x.id == s.id || spans.find(_.id == x.parent).exists(within)
    val sum = new StageTotals
    spans.filter(within).map(x => listener.get(x.id)).foreach { t =>
      sum.jobs += t.jobs; sum.stages += t.stages; sum.tasks += t.tasks
      sum.runTimeMs += t.runTimeMs; sum.gcMs += t.gcMs
      sum.shuffleWriteBytes += t.shuffleWriteBytes; sum.spillBytes += t.spillBytes
      sum.bytesWritten += t.bytesWritten; sum.taskRecordsWritten ++= t.taskRecordsWritten
    }
    sum
  }

  /** Detach the listener, once its queued events have arrived, so that
    * untraced reps run without it.
    */
  def pause(): Unit = { ListenerBus.drain(sc); sc.removeSparkListener(listener) }
  def resume(): Unit = sc.addSparkListener(listener)

  def jsonLines: Seq[String] = spans.toSeq.map(_.json(t0))
}

object Tracer {
  /** The local property Spark stores the job group under. */
  val JobGroup = "spark.jobGroup.id"

  /** Totals of every span named `name`. */
  def totalsNamed(tr: Tracer, name: String): Seq[StageTotals] =
    tr.spans.filter(_.name == name).map(tr.totals).toSeq
}
