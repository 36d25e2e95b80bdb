package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative named counters. Spans take a copy at start and end and keep
  * the difference, so a span's counts are the work done inside it. */
final case class Tally(v: Map[String, Double] = Map.empty) {
  def apply(k: String): Double = v.getOrElse(k, 0.0)
  def -(o: Tally): Tally = Tally((v.keySet ++ o.v.keySet).map(k => k -> (this(k) - o(k))).toMap)
}

/** A SparkListener for job, stage and task counts plus a
  * QueryExecutionListener for Catalyst's per-phase times. Only the traced
  * run registers it. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // per-stage task run times, for the max/median skew of each stage
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def add(k: String, d: Double): Unit = c(k) += d
  private def add(k: String, n: Long): Unit = c(k) += n.toDouble

  def snapshot: Tally = synchronized(Tally(c.toMap))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1L)
    if (e.reason != org.apache.spark.Success) add("failed_tasks", 1L)
    Option(e.taskMetrics).foreach { m =>
      add("task_cpu_ns", m.executorCpuTime)
      add("task_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("spill_b", m.diskBytesSpilled)
      add("input_b", m.inputMetrics.bytesRead)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    add("stages", 1L)
    if (info.numTasks == 1) add("single_task_stages", 1L)
    val runs = stageTasks.remove((info.stageId, info.attemptNumber()))
      .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    if (runs.size >= 2 && runs(runs.size / 2) > 0) {
      add("skew_sum", runs.last.toDouble / runs(runs.size / 2))
      add("skew_stages", 1L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    addPhases(qe)

  /** Catalyst phase times of one QueryExecution; also called for the
    * eagerly analyzed DataFrame a query function returns, whose analysis
    * no action reports. */
  def addPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    synchronized {
      for (p <- Seq("analysis", "optimization", "planning"))
        add(s"${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, op: String,
    startNs: Long, endNs: Long, tally: Tally) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans at layer boundaries, kept in memory and written out at the end.
  * [[Tracer.off]] is the untraced runs' tracer: its spans only run the body. */
class Tracer private (spark: Option[SparkSession]) {
  val listener = new ExecListener
  spark.foreach { s =>
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(listener)
  }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def on: Boolean = spark.isDefined

  def tally: Tally = spark match {
    case Some(s) => PerfbenchBus.drain(s.sparkContext); listener.snapshot
    case None => Tally()
  }

  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val before = tally
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, op, t0, t1, tally - before)
        stack = stack.tail
      }
    }
}

object Tracer {
  val off = new Tracer(None)
  def apply(spark: SparkSession): Tracer = new Tracer(Some(spark))
}
