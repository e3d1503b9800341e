package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Shim

import graft.index.IvfVectorIndex
import graft.operators.{Ivf, Workflows}

/** A warm index read is exactly one Spark job — its own action: the
  * snapshot DataFrame is reused (no schema-inference job) and a REST
  * body is parsed on the driver (no JSON-read jobs). Jobs are counted
  * by a listener, with the bus drained (no sleeps) before each count. */
class WarmReadJobsSpec extends SparkTestBase {
  import spark.implicits._

  private val jobs = new AtomicInteger()
  private val counter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
  }

  /** Spark jobs `f` submits, after one warm-up call. */
  private def jobsOf[T](f: => T): Int = {
    f
    Shim.waitUntilEmpty(spark)
    jobs.set(0)
    f
    Shim.waitUntilEmpty(spark)
    jobs.get()
  }

  test("IVF search, flat search, routed SQL similar() and REST search " +
    "each run one job when warm") {
    val texts = Seq("spark vector join engine", "vector hash join",
      "the quick brown fox", "a lazy dog sleeps", "hash join hash",
      "brown bears in the woods", "vectors and joins", "quick foxes run")
    val base = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val flat = Workflows.indexTextWorkflow(
      texts.zipWithIndex.map { case (t, i) => (f"u$i%02d", t) }
        .toDF("uid", "text"), "text", s"$base/flat")
    val model = Ivf.train(flat.df, "vector", 2)
    val ivf = IvfVectorIndex.build(flat.df.select("docid", "vector"),
      "vector", "docid", s"$base/ivf", model)
    val q = HashingEncoder(64)("vector join")
    val server = WorkflowServer.start(spark, s"$base/flat", 0, 3)
    val http = HttpClient.newHttpClient()
    spark.sparkContext.addSparkListener(counter)
    try {
      assert(jobsOf(ivf.search(q, 3, nprobe = 2).collect()) == 1)
      assert(jobsOf(flat.search(q, 3).collect()) == 1)
      val sqlJobs = jobsOf {
        ivf.df.createOrReplaceTempView("warm_jobs_ivf")
        spark.conf.set("spark.graft.ann.autoRoute", "true")
        try spark.sql("SELECT docid, similar(vector, 'vector join') AS " +
            "score FROM warm_jobs_ivf ORDER BY score DESC, docid LIMIT 3")
          .collect()
        finally spark.conf.set("spark.graft.ann.autoRoute", "false")
      }
      assert(sqlJobs == 1)
      val req = HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}/workflow"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name": "search", "elements": ["vector join"]}""")).build()
      val restJobs = jobsOf {
        val r = http.send(req, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
      }
      assert(restJobs == 1)
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      WorkflowServer.shutdown(server)
    }
  }
}
