package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A failed output check: the op counts as failed, never as a time. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object CheckFailed {
  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** Attempted / succeeded / failed ops, per phase. */
final class Accounting {
  val phases = Seq("setup", "warmup", "measure", "overhead", "final")
  private val counts = mutable.LinkedHashMap(
    phases.map(p => p -> Array(0, 0, 0)): _*)
  val failures = mutable.ArrayBuffer.empty[String]

  def attempted(phase: String): Int = counts(phase)(0)
  def failed(phase: String): Int = counts(phase)(2)
  def anyFailed: Boolean = counts.values.exists(_(2) > 0)

  /** Run one op; a throw (including a failed check) is recorded as a
    * failure and yields None. */
  def run[T](phase: String, what: String)(body: => T): Option[T] = {
    val c = counts(phase)
    c(0) += 1
    try { val r = body; c(1) += 1; Some(r) }
    catch {
      case NonFatal(e) =>
        c(2) += 1
        if (failures.length < 20) failures += s"$phase/$what: $e"
        None
    }
  }

  def render: Seq[String] = counts.toSeq.map { case (p, c) =>
    f"$p%-8s attempted=${c(0)}%d succeeded=${c(1)}%d failed=${c(2)}%d" }
}

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession,
    val dir: String,
    val seed: Long,
    val cores: Int,
    val spans: Spans,
    val acct: Accounting) {

  /** Latency samples (ms) by op kind; only successful ops land here. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Latencies (ms) of the overhead phase, by whether the op ran
    * traced. */
  val overheadMs = Map(
    true -> mutable.ArrayBuffer.empty[Double],
    false -> mutable.ArrayBuffer.empty[Double])
  /** The phase ops are counted in: `warmup`, `measure`, `overhead` or
    * `final`. */
  var phase = "warmup"
  def measuring: Boolean = phase == "measure"

  def tracer: Option[Tracer] = spans match {
    case t: Tracer => Some(t)
    case _ => None
  }

  /** Time `body` as one op of `kind`, then run `check` on its result
    * (untimed) and return what the check returns. The time is recorded
    * only when both succeed, and only in the measured and overhead
    * phases. */
  def op[T, U](kind: String)(body: => T)(check: T => U): Option[U] = {
    tracer.foreach(_.measuring = measuring)
    val res = acct.run(phase, kind) {
      val t0 = System.nanoTime()
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, check(r))
    }
    res.map { case (ms, r) =>
      phase match {
        case "measure" => samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        case "overhead" => overheadMs(tracer.exists(_.enabled)) += ms
        case _ =>
      }
      r
    }
  }

  def path(name: String): String = s"$dir/$name"

  /** Run one set-up step, logging its wall time to stderr. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[perfbench]   $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }
}

/** The end-to-end figures every workload reports (with `setup_s`). */
final case class EndToEnd(
    throughputPerS: Double,
    opMs: Double,
    quality: Double,
    bytesPerRow: Double)

trait Workload {
  /** Generate inputs and build what the measured phase reads. */
  def setup(): Unit
  /** A short untimed slice of every op type (codegen, JIT). */
  def warmup(): Unit
  /** One closed-loop unit of the measured phase. */
  def iteration(): Unit
  /** Checks on the final state, after the measured phase. */
  def finish(): Unit = ()
  def endToEnd: EndToEnd
  /** The workload's own named figures, for the human summary. */
  def summary: Seq[String]
  /** One op of the workload's main kind (a pass; an IVF search): the
    * op a trace run times traced and untraced for the overhead. */
  def primaryCall(): Unit
  /** Extra per-layer figures, measured after the measured phase in a
    * trace run. */
  def layerExtras(): Seq[(String, Double)] = Nil
  def close(): Unit = ()
}

object Fs {
  /** Bytes of the data files under `path`: hidden files (checksums)
    * and `_`-prefixed markers are not counted; 0 when absent. */
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists || f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => bytes(c.getPath)).sum
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }
}
