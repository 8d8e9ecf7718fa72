package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call: name, start, end, and the span that caused it
  * (-1 for an operation's root span). Times are epoch milliseconds for
  * comparison with Spark's task and phase clocks.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** What Spark reported for one finished task. */
final case class TaskRec(launch: Long, finish: Long, runMs: Long, bytesRead: Long,
    shuffleWrite: Long, spill: Long)

/** Spans plus the Spark counters that land inside them.
  *
  * Spans are kept in memory for the current operation only; the
  * benchmark reduces each traced operation to per-layer numbers and
  * clears the buffers. The listeners are the benchmark's own: the
  * program under test is not instrumented.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  /** (phase end time, analysis + optimization + planning ms) per query. */
  val planning = ArrayBuffer.empty[(Long, Long)]
  /** (planning end time, name -> value) of every `observe()` metric. */
  val observed = ArrayBuffer.empty[(Long, Map[String, Long])]
  val jobs = ArrayBuffer.empty[Long]
  private var stack = List.empty[Int]

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized(jobs += e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val at = if (ph.nonEmpty) ph.values.map(_.endTimeMs).max else System.currentTimeMillis()
      if (ph.nonEmpty) planning.synchronized {
        planning += ((at, ph.values.map(_.durationMs).sum))
      }
      qe.observedMetrics.values.foreach { r =>
        val fields = r.schema.fieldNames.zipWithIndex.collect {
          case (n, i) if !r.isNullAt(i) => n -> r.getLong(i)
        }.toMap
        observed.synchronized(observed += ((at, fields)))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(taskListener)
  spark.listenerManager.register(queryListener)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.currentTimeMillis(), -1L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.currentTimeMillis())
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def clear(): Unit = {
    spans.clear(); tasks.clear(); planning.clear(); observed.clear(); jobs.clear()
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(queryListener)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration of the span minus what its child spans cover. */
  def selfMs(s: Span): Long =
    s.dur - spans.filter(_.parent == s.id).map(_.dur).sum

  /** Tasks that finished inside the span. */
  def tasksIn(s: Span): Seq[TaskRec] =
    tasks.filter(t => t.finish >= s.start && t.finish <= s.end).toSeq

  def planningMsIn(s: Span): Long =
    planning.filter(p => p._1 >= s.start && p._1 <= s.end).map(_._2).sum

  def jobsIn(s: Span): Int = jobs.count(t => t >= s.start && t <= s.end)

  /** Wall time inside `s` during which no task was running: listing,
    * planning, driver-side JSON and ledger work.
    */
  def driverOnlyMs(s: Span): Long = {
    val iv = tasks.map(t => (math.max(t.launch, s.start), math.min(t.finish, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.dur - covered
  }
}
