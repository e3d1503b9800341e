package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization-round profiler: runs a declared query (warm-up run +
  * measured run) and prints every Spark job the measured run submits
  * with its wall duration and call site — the per-job breakdown the
  * disabled UI would otherwise show, used to attribute a query's time
  * to the operator stages (checkpoint, collect, broadcast, final noop
  * sink) before touching anything. */
object QueryJobsProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("dedup_incremental")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val repeats = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // (the cached-plan AQE conf is set by Graft.init since r18)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.init(spark)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the RESULT stage's name carries the action's call site
        val site = js.stageInfos.sortBy(_.stageId).lastOption
          .map(si => s"${si.name} [${js.stageInfos.size} stages, " +
            s"${js.stageInfos.map(_.numTasks).sum} tasks]")
          .getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (record && s != null)
          rows.synchronized {
            rows += ((je.jobId, je.time - s._1, s._2)); ()
          }
      }
    })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      rows.synchronized(rows.clear())
      (1 to repeats).foreach { i =>
        val warm = i < repeats
        record = !warm
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name run $i (${if (warm) "warm" else "MEASURED"}): $dt%.3f s")
      }
      // listener events arrive async: drain the bus first
      org.apache.spark.sql.graftshim.Shim.waitUntilEmpty(spark)
      println(f"[probe] $name measured-run jobs (${rows.size}):")
      rows.sortBy(_._1).foreach { case (id, ms, site) =>
        println(f"  job $id%4d  $ms%6d ms  $site")
      }
      println(f"[probe] $name sum of job times: ${rows.map(_._2).sum} ms")
    }
    spark.stop()
  }
}
