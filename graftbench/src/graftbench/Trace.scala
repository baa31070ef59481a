package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB; spillB += o.spillB
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
  }

  /** The `spark.*` per-layer metrics, in their reported units. */
  def metrics: Seq[(String, Double, String)] = synchronized {
    val mb = 1024.0 * 1024.0
    Seq(
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.stages", stages.toDouble, "count"),
      ("spark.tasks", tasks.toDouble, "count"),
      ("spark.shuffle_write_mb", shuffleWriteB / mb, "MB"),
      ("spark.shuffle_read_mb", shuffleReadB / mb, "MB"),
      ("spark.spill_mb", spillB / mb, "MB"),
      ("spark.task_run_s", runMs / 1e3, "s"),
      ("spark.task_cpu_s", cpuNs / 1e9, "s"),
      ("spark.task_gc_s", gcMs / 1e3, "s"),
      ("spark.sched_delay_s", schedMs / 1e3, "s"))
  }
}

/** Collects job, stage and task metrics per job group. The tracer sets
  * one job group per span, so every job lands on the innermost span
  * open when it was submitted.
  */
final class SpanListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val byStage = new ConcurrentHashMap[Int, Counters]()

  def counters(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { group =>
      val c = counters(group)
      c.synchronized { c.jobs += 1 }
      e.stageInfos.foreach(s => byStage.put(s.stageId, c))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = byStage.get(e.stageInfo.stageId)
    if (c != null) c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) c.synchronized {
      c.tasks += 1
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val info = e.taskInfo
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
    }
  }
}

/** One traced call: name, interval, parent span and iteration id. */
final class Span(val id: Int, val name: String, val parent: Int, val iter: Int, val startNs: Long) {
  var endNs: Long = startNs
  var own: Counters = new Counters
  def durNs: Long = endNs - startNs
}

/** Records spans in memory around calls into the program's layers.
  * Disabled, `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext, listener: SpanListener) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String, iter: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), iter, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits for pending listener events and attaches each span's own
    * Spark counters.
    */
  def collect(): Unit = if (enabled) {
    org.apache.spark.BenchBus.drain(sc)
    spans.foreach(s => s.own = listener.counters(Tracer.GroupPrefix + s.id))
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Own counters plus those of every descendant. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    c.add(s.own)
    children(s).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Duration minus the time its (sequential) children cover. */
  def selfNs(s: Span): Long = s.durNs - children(s).map(_.durNs).sum

  def toJson: String = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    spans.map { s =>
      val counters = inclusive(s).metrics.map { case (k, v, _) => s""""$k": ${Json.num(v)}""" }
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "iter": ${s.iter}, """ +
        s""""start_s": ${Json.num((s.startNs - t0) / 1e9)}, "end_s": ${Json.num((s.endNs - t0) / 1e9)}, """ +
        s""""self_s": ${Json.num(selfNs(s) / 1e9)}, "spark": {${counters.mkString(", ")}}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val GroupPrefix = "graftbench-span-"
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
