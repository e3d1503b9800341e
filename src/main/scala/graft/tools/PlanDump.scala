package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization-round helper: dumps `.explain("formatted")` for a
  * comma-separated list of declared queries into files
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence the
  * round commits under plans/r17/. Bench-shaped session (local[32],
  * shuffle partitions = cores) so the captured plans are the ones the
  * bench actually executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = if (args.length > 1) args(1) else "before"
    val outDir = if (args.length > 2) args(2) else "plans/r17"
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.init(spark)
    new java.io.File(outDir).mkdirs()
    // r18: queries that materialize intermediates (localCheckpoint)
    // EXECUTE those sub-plans during DataFrame construction — the
    // final plan alone cannot show what their scans compute (e.g. the
    // explode-inferred shingle filter lived inside the checkpointed
    // subtree). Capture every plan the construction executes and
    // append them to the same dump file, so the before/after evidence
    // covers the whole query, not just its visible tail.
    val executed =
      scala.collection.mutable.ArrayBuffer[(String, String)]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = executed.synchronized {
          executed += ((funcName, qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
          ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    names.foreach { name =>
      try {
        executed.synchronized(executed.clear())
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // listener events arrive async: drain the bus before
        // snapshotting the construction-executed plans
        org.apache.spark.sql.graftshim.Shim.waitUntilEmpty(spark)
        val subs = executed.synchronized(executed.toVector)
        val body = txt + subs.zipWithIndex.map { case ((fn, p), i) =>
          s"\n\n===== construction-executed plan ${i + 1} ($fn) =====\n$p"
        }.mkString
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt" +
          s" (+${subs.size} construction-executed plans)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
