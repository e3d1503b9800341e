package perfbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Graft

/** The repository benchmark: one workload per process.
  *
  * {{{
  * Main --workload <dedup_batch|index_churn>[,...] --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--spans-out <file>]
  * }}}
  *
  * Set-up (session, `Graft.init`, input generation, index builds) and
  * the untimed warm-up run once; `setup_s` is the time from JVM start
  * to the end of the warm-up, i.e. to the first timed op. Then the
  * workload is measured in a closed loop with one client for about
  * `--seconds`. A trace run follows that with [[OverheadPairs]] pairs
  * of traced and untraced primary ops for `trace.overhead_ms`. The last
  * line on stdout is the result object; everything else goes to
  * stderr. */
object Main {

  val WorkloadNames = Seq("dedup_batch", "index_churn")

  /** End-to-end metrics with their units, in report order. */
  val EndToEndMetrics = Seq("setup_s" -> "s", "throughput_per_s" -> "1/s",
    "op_ms" -> "ms", "quality" -> "ratio", "bytes_per_row" -> "B")

  /** Warm-up slices before the measured phase, per workload: dedup
    * passes still speed up over the first three (JIT); one index_churn
    * slice runs every op kind at its measured size. */
  val WarmupRepeats = Map("dedup_batch" -> 3, "index_churn" -> 1)

  /** Traced/untraced primary-op pairs after a trace run's measured
    * phase. */
  val OverheadPairs = 3

  /** Workload sizes; see perfbench/README.md for the reasoning. */
  val DedupDocs = 8000
  val ChurnDocs = 5000
  val ChurnClusters = 16

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloads = opts.getOrElse("workload", usage("--workload")).split(",").toSeq
    val seed = opts.getOrElse("seed", usage("--seed")).toLong
    val seconds = opts.getOrElse("seconds", usage("--seconds")).toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", usage("--work"))
    val cores = Runtime.getRuntime.availableProcessors()
    workloads.filterNot(WorkloadNames.contains).foreach(w =>
      usage(s"a known workload, not '$w'"))
    val code =
      try {
        workloads.foreach { w =>
          run(w, seed, seconds, trace, s"$work/$w", cores, opts.get("spans-out"))
        }
        0
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out
    Runtime.getRuntime.halt(code)
  }

  private def usage(what: String): Nothing = {
    System.err.println(s"[perfbench] missing or bad argument: $what")
    Runtime.getRuntime.halt(2)
    throw new IllegalStateException
  }

  private def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.init(s)
  }

  private def make(name: String, ctx: Ctx): Workload = name match {
    case "dedup_batch" => new DedupBatch(ctx, DedupDocs)
    case "index_churn" => new IndexChurn(ctx, ChurnDocs, ChurnClusters)
  }

  /** Live heap after a full collection, in MB. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int, spansOut: Option[String]): Unit = {
    val acct = new Accounting
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = s"$work/data"
    new java.io.File(dir).mkdirs()
    val t1 = System.nanoTime()
    val spark = session(work, cores)
    System.err.println(f"[perfbench]   session: ${(System.nanoTime() - t1) / 1e9}%.3f s")
    val ctx = new Ctx(spark, dir, seed, cores,
      if (trace) new Tracer(spark) else NoSpans, acct)
    val wl = make(name, ctx)
    if (acct.run("setup", "setup")(wl.setup()).isEmpty)
      throw new IllegalStateException(
        "set-up failed: " + acct.failures.mkString("; "))
    // warm-up (codegen, JIT) on the state that will be measured
    (1 to WarmupRepeats(name)).foreach(_ => wl.warmup())
    if (acct.failed("warmup") > 0)
      throw new IllegalStateException(
        "warm-up failed: " + acct.failures.mkString("; "))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val heapAfterSetup = liveHeapMb()

    // closed loop, one client: whole iterations (each a fixed op mix)
    // while at least half an iteration's mean time remains
    ctx.phase = "measure"
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var iterations = 0
    while (iterations == 0 || elapsed + 0.5 * elapsed / iterations < seconds) {
      wl.iteration()
      iterations += 1
    }
    val measuredS = elapsed
    ctx.tracer.foreach { t =>
      // tracing overhead: the primary op alternately traced and
      // untraced, on the same (final) state
      ctx.phase = "overhead"
      (1 to OverheadPairs).foreach { _ =>
        Seq(true, false).foreach { on => t.enabled = on; wl.primaryCall() }
      }
      t.enabled = true
    }
    ctx.phase = "final"
    ctx.tracer.foreach(_.measuring = false)
    wl.finish()
    val heapMb = math.max(heapAfterSetup, liveHeapMb())

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val e = wl.endToEnd
        EndToEndMetrics.zip(Seq(setupS, e.throughputPerS, e.opMs, e.quality,
            e.bytesPerRow))
          .map { case ((k, u), v) => (k, v, u) }
      } else Layers.metrics(ctx, wl, cores, heapMb)

    val err = System.err
    err.println(s"[perfbench] workload=$name seed=$seed cores=$cores " +
      f"iterations=$iterations measured=${measuredS}%.2f s trace=$trace")
    err.println(f"  setup_s                     $setupS%.3f  (JVM start to the end of warm-up)")
    wl.summary.foreach(l => err.println("  " + l))
    err.println(f"  live_heap_mb                $heapMb%.1f")
    val checked = Seq("measure", "overhead", "final")
    val measured = checked.map(acct.attempted).sum
    val failed = checked.map(acct.failed).sum
    err.println(f"  error_rate                  ${failed.toDouble / math.max(1, measured)}%.4f  " +
      s"($failed of $measured measured ops)")
    acct.render.foreach(l => err.println("  " + l))
    acct.failures.foreach(f => err.println("  FAILED " + f))

    spansOut.foreach { out =>
      ctx.tracer.foreach { t =>
        val json = s"""{"workload":"$name","seed":$seed,"spans":""" +
          t.spans.map(_.toJson).mkString("[", ",\n", "]") + "}\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    wl.close()
    ctx.spark.stop()

    val ms = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":${!acct.anyFailed},"attempted":$measured,""" +
      s""""failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}""")
  }
}

/** Per-layer metrics of a trace run, named `<layer>.<call>.<counter>`.
  * Every workload reports every name; a span a workload never opens
  * reads 0. */
object Layers {

  val SpanNames = Seq(
    "operators.near_dup_pairs", "operators.components", "operators.dedup_exact",
    "index.ivf_search", "operators.hybrid_search", "rest.workflow_search",
    "sql.similar", "index.flat_search", "index.ivf_append", "index.ivf_compact",
    "index.flat_upsert", "index.flat_delete")

  /** Counter → unit. `ms` is the median per call; the rest are means
    * per call. */
  val Counters = Seq(
    "ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "plan_ms" -> "ms",
    "driver_ms" -> "ms", "exec_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "shuffle_write_bytes" -> "B", "spill_bytes" -> "B")

  val Builds = Seq("index.flat_build", "index.ivf_build", "operators.bm25_build")

  val Extras = Seq(
    "operators.lsh_candidates.rows" -> "count",
    "operators.lsh.verify_yield" -> "ratio",
    "functions.minhash_signature.rows_per_s" -> "1/s",
    "functions.cosine_scan.rows_per_s" -> "1/s",
    "index.ivf.files" -> "count",
    "index.ivf.generations" -> "count",
    "index.ivf_compact.count" -> "count")

  val Substrate = Seq(
    "spark.jobs_per_op" -> "count", "spark.plan_ms_share" -> "ratio",
    "spark.driver_ms_share" -> "ratio", "spark.executor_busy_share" -> "ratio",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] =
    SpanNames.flatMap(s => Counters.map { case (c, u) => s"$s.$c" -> u }) ++
      Builds.map(b => s"$b.ms" -> "ms") ++ Extras ++ Substrate ++
      Seq("trace.overhead_ms" -> "ms", "jvm.live_heap_mb" -> "MB")

  def metrics(ctx: Ctx, wl: Workload, cores: Int,
      heapMb: Double): Seq[(String, Double, String)] = {
    val tracer = ctx.tracer.get
    val extras = wl.layerExtras().toMap
    val measured = tracer.spans.filter(_.measured)
    val byName = measured.groupBy(_.name)
    val values = scala.collection.mutable.Map.empty[String, Double]
    byName.foreach { case (span, recs) =>
      recs.head.counters.map(_._1).foreach { c =>
        val xs = recs.map(_.counters.toMap.apply(c)).toSeq
        values(s"$span.$c") = if (c == "ms") Stats.median(xs) else xs.sum / xs.length
      }
    }
    tracer.spans.filter(s => Builds.contains(s.name))
      .foreach(s => values(s"${s.name}.ms") = s.wallMs)
    values ++= extras
    val ops = ctx.samples.values.map(_.length).sum
    if (ops > 0 && measured.nonEmpty) {
      val wall = measured.map(_.wallMs).sum
      values("spark.jobs_per_op") = measured.map(_.jobs).sum.toDouble / ops
      values("spark.plan_ms_share") = measured.map(_.planMs).sum / wall
      values("spark.driver_ms_share") = measured.map(_.driverMs).sum / wall
      values("spark.executor_busy_share") = measured.map(_.execRunMs).sum / (wall * cores)
      values("spark.gc_ms") = measured.map(_.gcMs).sum / ops
      values("spark.shuffle_write_bytes") =
        measured.map(_.shuffleWriteBytes).sum.toDouble / ops
      values("spark.spill_bytes") = measured.map(_.spillBytes).sum.toDouble / ops
    }
    val (on, off) = (ctx.overheadMs(true), ctx.overheadMs(false))
    if (on.nonEmpty && off.nonEmpty)
      values("trace.overhead_ms") = Stats.median(on.toSeq) - Stats.median(off.toSeq)
    values("jvm.live_heap_mb") = heapMb
    All.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }
}
