package contestbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spans around each call the benchmark makes into a layer, plus Spark
  * job, stage and task counts per operation from a listener.
  *
  * Spans live in memory and are written out when the run ends. A span
  * records its name, start, end, parent span and operation id; run.py
  * derives each layer's self time from them. While tracing is off, a
  * span is one boolean test and the listener is not registered, so the
  * untraced repetitions measure the program alone. */
final class Tracer(sc: SparkContext) {
  @volatile private var on = false
  private val spans = mutable.ArrayBuffer.empty[Seq[Any]]
  private var stack: List[Int] = Nil
  private var opId = ""
  private var nextSpan = 0
  private var nextOp = 0
  val listener = new OpListener

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def disable(): Unit = if (on) {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Seq(id, parent, opId, name, t0, t1)
      }
    }

  /** One operation of `kind`: its spans and Spark jobs share an id. */
  def op[T](kind: String)(f: => T): T =
    if (!on) f
    else {
      opId = s"$kind#$nextOp"
      nextOp += 1
      sc.setLocalProperty(OpListener.Key, opId)
      val w0 = System.currentTimeMillis()
      try span(s"bench.$kind")(f)
      finally {
        listener.wall(opId, w0, System.currentTimeMillis())
        sc.setLocalProperty(OpListener.Key, null)
        opId = ""
      }
    }

  def spanRows: Seq[Seq[Any]] = spans.toSeq

  def opRows: Seq[Map[String, Any]] = {
    if (on) org.apache.spark.ListenerBusDrain(sc)
    listener.rows
  }
}

object OpListener {
  val Key = "contestbench.op"
}

/** Per-operation Spark work: jobs, stages, tasks, executor CPU and run
  * time, GC, shuffle write and spill, and the wall time no job covered
  * (driver-only time). Callbacks arrive on the listener-bus thread. */
final class OpListener extends SparkListener {
  private final class Stats(val kind: String) {
    var w0 = 0L
    var w1 = 0L
    var jobs = 0
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byOp = mutable.LinkedHashMap.empty[String, Stats]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]
  private val stageOp = mutable.Map.empty[Int, String]

  private def kindOf(op: String): String = op.takeWhile(_ != '#')
  private def stats(op: String): Stats = byOp.getOrElseUpdate(op, new Stats(kindOf(op)))

  def wall(op: String, w0: Long, w1: Long): Unit = synchronized {
    val s = stats(op)
    s.w0 = w0
    s.w1 = w1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key))).foreach { op =>
      stats(op).jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => stats(op).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = stats(op)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def rows: Seq[Map[String, Any]] = synchronized {
    byOp.toSeq.filter(_._2.w1 > 0).map { case (op, s) =>
      Map("op" -> op, "kind" -> s.kind, "wall_ms" -> (s.w1 - s.w0),
        "job_spans" -> s.jobSpans.map { case (a, b) => Seq(a - s.w0, b - s.w0) }.toSeq,
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "executor_cpu_ms" -> s.cpuNs / 1e6, "executor_run_ms" -> s.runMs,
        "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spill)
    }
  }
}
