package perfbench

import scala.collection.mutable

import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Marks the start (`open`) or end of a span on the listener bus. */
final case class SpanMark(id: Long, open: Boolean) extends SparkListenerEvent

/** What Spark did inside one span. */
final class SpanRec(val name: String, val id: Long, val measured: Boolean) {
  var wallMs = 0.0
  var jobs = 0
  var stages = 0
  var tasks = 0
  var queries = 0
  var planMs = 0.0
  var execRunMs = 0.0
  var execCpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIds = mutable.Set.empty[Int]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time not covered by any of the span's jobs: the per-action
    * floor (planning, scheduling, driver-side work). */
  def driverMs: Double = {
    val sorted = jobIntervals.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallMs - covered)
  }

  def counters: Seq[(String, Double)] = Seq(
    "ms" -> wallMs, "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "plan_ms" -> planMs, "driver_ms" -> driverMs,
    "exec_run_ms" -> execRunMs, "exec_cpu_ms" -> execCpuMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble)

  def toJson: String =
    (Seq(s""""name":"$name"""", s""""id":$id""", s""""measured":$measured""",
      s""""queries":$queries""") ++
      counters.map { case (k, v) => s""""$k":${Json.num(v)}""" })
      .mkString("{", ",", "}")
}

/** Where spans go. [[NoSpans]] runs the body untouched (the untimed
  * end-to-end mode); [[Tracer]] records each span's Spark counters. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** Per-span Spark counters from a SparkListener and a
  * QueryExecutionListener registered by the benchmark itself.
  *
  * Each span runs under its own job group, between two [[SpanMark]]
  * events posted on the listener bus. Both listeners sit on the bus's
  * shared queue, which delivers events in post order, so every job,
  * stage, task and query-execution event between the two marks belongs
  * to the span. That also covers work Spark runs on other threads
  * (the REST server's worker), which a job group alone would miss.
  *
  * The fence: when the span's body returns, the close mark is posted
  * and the caller waits (on a monitor, never a fixed sleep) until the
  * listener has delivered it. Every job the status tracker lists for
  * the span's group must by then have been seen, with its end event. */
final class Tracer(spark: SparkSession, fenceTimeoutMs: Long = 60000L)
    extends Spans {

  private val sc = spark.sparkContext
  private val lock = new Object
  private var nextId = 0L
  private var open: SpanRec = null
  private var delivered = -1L
  private val pending = mutable.Map.empty[Long, SpanRec]
  private val jobSpan = mutable.Map.empty[Int, (SpanRec, Long)]
  private val ended = mutable.Set.empty[Int]

  /** Recorded spans, in order. */
  val spans = mutable.ArrayBuffer.empty[SpanRec]

  /** When false, spans run untraced (for the traced-vs-untraced
    * overhead comparison inside one run). */
  @volatile var enabled = true

  /** Whether spans opened now belong to the measured phase. */
  @volatile var measuring = false

  private val listener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case SpanMark(id, true) => lock.synchronized { open = pending(id) }
      case SpanMark(id, false) => lock.synchronized {
        open = null
        delivered = id
        lock.notifyAll()
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized {
        if (open != null) {
          open.jobs += 1
          open.jobIds += e.jobId
          jobSpan(e.jobId) = (open, e.time)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) =>
        s.jobIntervals += ((t0, e.time))
        ended += e.jobId
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { if (open != null) open.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (open != null && m != null) {
        open.tasks += 1
        open.execRunMs += m.executorRunTime
        open.execCpuMs += m.executorCpuTime / 1e6
        open.gcMs += m.jvmGCTime
        open.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        open.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      if (open != null) {
        open.queries += 1
        open.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val rec = lock.synchronized {
        val r = new SpanRec(name, nextId, measuring)
        nextId += 1
        pending(r.id) = r
        r
      }
      val group = s"perfbench-span-${rec.id}"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      Bus.post(sc, SpanMark(rec.id, open = true))
      val t0 = System.nanoTime()
      try body
      finally {
        rec.wallMs = (System.nanoTime() - t0) / 1e6
        Bus.post(sc, SpanMark(rec.id, open = false))
        sc.clearJobGroup()
        fence(rec, group)
        spans += rec
      }
    }

  private def fence(rec: SpanRec, group: String): Unit = {
    val deadline = System.currentTimeMillis() + fenceTimeoutMs
    lock.synchronized {
      while (delivered < rec.id) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"span ${rec.name}: listener bus did not deliver its close mark")
        lock.wait(left)
      }
      pending.remove(rec.id)
      val listed = sc.statusTracker.getJobIdsForGroup(group).toSet
      val missing = listed.filterNot(id => rec.jobIds(id) && ended(id))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"span ${rec.name}: jobs ${missing.mkString(",")} of group " +
          s"$group were not seen to end inside the span")
      ended --= rec.jobIds
    }
  }
}

/** Minimal JSON rendering for numbers and strings. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
