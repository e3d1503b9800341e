package graft.plans

import org.apache.spark.sql.functions._

import graft.{Graft, SparkTestBase}
import graft.index.IvfVectorIndex
import graft.operators.{Ivf, Knn}

/** ANN auto-routing: the plain exact top-k query is rewritten to a
  * cluster-pruned scan — only with the opt-in conf, only on tables
  * carrying an IVF sidecar, and with results identical to the
  * hand-built IvfVectorIndex.search plan. */
class AnnRouteRuleSpec extends SparkTestBase {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") === 7)
    .select("embedding").head().getSeq[Float](0).toArray

  private def buildIndex(): IvfVectorIndex = {
    val model = Ivf.train(emb, "embedding", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-route").toString
    IvfVectorIndex.build(emb, "embedding", "vec_id", dir, model)
  }

  private def withRouting[T](nprobe: Int)(f: => T): T = {
    Graft.init(spark)
    spark.conf.set("spark.graft.ann.autoRoute", "true")
    spark.conf.set("spark.graft.ann.nprobe", nprobe.toString)
    try f finally {
      spark.conf.set("spark.graft.ann.autoRoute", "false")
    }
  }

  test("the exact-query plan is rewritten to scan only the probed " +
    "clusters, and results equal the hand-routed index search") {
    val idx = buildIndex()
    val plain = Knn.search(idx.df, "vector", "docid", q, 5)
    withRouting(nprobe = 3) {
      val routed = Knn.search(idx.df, "vector", "docid", q, 5)
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        """cluster#\d+ IN""".r.findFirstIn(plan).nonEmpty,
        plan)
      val got = routed.select("docid", "score").collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val want = idx.search(q, 5, nprobe = 3).select("docid", "score")
        .collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(got == want)
      assert(got.head._1 == 7L)
    }
    // outside the conf, the same query is exact again (no cluster filter)
    val after = Knn.search(idx.df, "vector", "docid", q, 5)
      .queryExecution.executedPlan.toString
    assert("""cluster#\d+ IN""".r.findFirstIn(after).isEmpty, after)
    assert(plain.select("docid").collect().map(_.getLong(0)).toSeq ==
      Knn.search(idx.df, "vector", "docid", q, 5)
        .select("docid").collect().map(_.getLong(0)).toSeq)
  }

  test("verbatim SQL text (ORDER BY cosine_sim(...) DESC LIMIT k) " +
    "routes through the same rewrite") {
    val idx = buildIndex()
    idx.df.createOrReplaceTempView("routed_tbl")
    val qLit = q.map(f => s"float('$f')").mkString("array(", ", ", ")")
    val sql = "SELECT docid, cosine_sim(vector, " + qLit + ") AS score " +
      "FROM routed_tbl ORDER BY score DESC, docid LIMIT 5"
    withRouting(nprobe = 3) {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.executedPlan.toString
      assert("""cluster#\d+ IN""".r.findFirstIn(plan).nonEmpty, plan)
      assert(routed.select("docid").head().getLong(0) == 7L)
    }
  }

  test("the txtai dialect's similar('query text') routes too: encode " +
    "to a vector literal, then cluster-prune") {
    val idx = buildIndex()
    idx.df.createOrReplaceTempView("routed_sim_tbl")
    withRouting(nprobe = 3) {
      val routed = spark.sql(
        "SELECT docid, similar(vector, 'deep learning') AS score " +
          "FROM routed_sim_tbl ORDER BY score DESC, docid LIMIT 5")
      val plan = routed.queryExecution.executedPlan.toString
      assert("""cluster#\d+ IN""".r.findFirstIn(plan).nonEmpty, plan)
      assert(routed.count() == 5)
    }
  }

  test("the rule leaves tables WITHOUT an IVF sidecar untouched even " +
    "when enabled") {
    withRouting(nprobe = 2) {
      val plan = Knn.search(emb, "embedding", "vec_id", q, 5)
        .queryExecution.executedPlan.toString
      assert("""cluster#\d+ IN""".r.findFirstIn(plan).isEmpty, plan)
      // exact results on the plain table
      assert(Knn.search(emb, "embedding", "vec_id", q, 5)
        .select("vec_id").head().getLong(0) == 7L)
    }
  }

  test("a filtered query keeps its filter AND gains the cluster probe; " +
    "nprobe = k degrades to the exact filtered result") {
    val idx = buildIndex()
    val want = Knn.search(idx.df.filter(col("docid") < 400),
        "vector", "docid", q, 5)
      .select("docid").collect().map(_.getLong(0)).toSeq
    withRouting(nprobe = 8) { // all 8 clusters probed: routed but exact
      val routed = Knn.search(idx.df.filter(col("docid") < 400),
        "vector", "docid", q, 5)
      val plan = routed.queryExecution.executedPlan.toString
      assert("""cluster#\d+ IN""".r.findFirstIn(plan).nonEmpty, plan)
      assert(plan.contains("LessThan(docid,400)"), plan)
      val got = routed.select("docid").collect().map(_.getLong(0)).toSeq
      assert(got == want && got.head == 7L)
    }
  }

  test("the rule is idempotent: re-applied to its own output it changes " +
    "nothing, and the optimized plan carries one cluster probe") {
    val idx = buildIndex()
    val query = Knn.search(idx.df, "vector", "docid", q, 5)
    def probes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.flatMap(_.expressions).flatMap(_.collect {
        case in: org.apache.spark.sql.catalyst.expressions.In
          if in.value.references.exists(_.name == "cluster") => in
      }).length
    val plain = query.queryExecution.optimizedPlan
    withRouting(nprobe = 3) {
      val rule = AnnRouteRule(spark)
      val once = rule(plain)
      assert(probes(once) == 1, once.treeString)
      assert(rule(once) == once, "a second pass must change nothing")
      val optimized =
        Knn.search(idx.df, "vector", "docid", q, 5).queryExecution.optimizedPlan
      assert(probes(optimized) == 1, optimized.treeString)
    }
  }
}
