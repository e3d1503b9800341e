package graft

import org.apache.spark.sql.SparkSession

/** The SparkSessionExtensions deployment path + the SQL `similar()`
  * surface (txtai SQL dialect L1/L2, SURVEY §2.3). */
class GraftExtensionsSpec extends SparkTestBase {

  test("withExtensions(GraftExtensions) registers functions without init()") {
    // getOrCreate returns the shared test session unless cleared; build
    // a genuinely new SparkSession (same SparkContext) with extensions
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(spark2 ne prior)
      val r = spark2.sql(
        "SELECT similar(array(cast(1.0 as float), cast(0.0 as float)), " +
          "array(cast(1.0 as float), cast(0.0 as float))) AS score").head()
      assert(r.getDouble(0) == 1.0)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("Graft.init leaves a consumer's explicit cached-plan conf alone " +
    "and sets it only when unset") {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val mine = spark.newSession()
    mine.conf.set(key, "false")
    Graft.init(mine)
    assert(mine.conf.get(key) == "false")
    val fresh = spark.newSession()
    Graft.init(fresh)
    assert(fresh.conf.get(key) == "true")
  }

  test("media triage structs fully materialize: ivf_meta/webm_meta " +
    "schemas match their returned row arity (no field-pruning mask)") {
    Graft.init(spark)
    // collect() forces UnsafeProjection over EVERY declared field; a
    // schema/row arity mismatch throws here even when census queries
    // prune to a subset (the r13 IvfMeta 7-field/5-row latent bug)
    val iv = spark.sql(
      "SELECT ivf_meta(vp8_ivf_media_for_id(0L)) AS m").head().getStruct(0)
    assert(iv.length == 5)
    assert(iv.getInt(0) == 48 && iv.getInt(1) == 32 && iv.getInt(2) == 3)
    assert(iv.getInt(3) == 1 && iv.getInt(4) == 2)
    val wm = spark.sql(
      "SELECT webm_meta(webm_media_for_id(0L)) AS m").head().getStruct(0)
    assert(wm.length == 17)
    assert(wm.getString(0) == "webm" && wm.getInt(4) == 48)
  }

  test("L1-style SQL: similar() + score filter + order + limit") {
    Graft.init(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("docs_sql")
    val out = spark.sql(
      """WITH q AS (SELECT first(embedding) AS qv FROM docs_sql WHERE vec_id = 0)
        |SELECT vec_id, similar(embedding, (SELECT qv FROM q)) AS score
        |FROM docs_sql
        |WHERE similar(embedding, (SELECT qv FROM q)) >= 0.0
        |ORDER BY score DESC LIMIT 5""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.head.getLong(0) == 0L && out.head.getDouble(1) == 1.0)
    val scores = out.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ >= 0.0))
  }

  test("txtai dialect: verbatim similar('query text') string against the " +
    "registered txtai view (01_simple.ipynb:446)") {
    Graft.init(spark)
    val dir = "/root/testdata/sf0.001"
    Txtai.register(
      spark.read.parquet(s"$dir/documents.parquet"),
      spark.read.parquet(s"$dir/embeddings.parquet"))
    // the notebook's L1 shape, pasted as-is (only the query text differs)
    val out = spark.sql(
      """SELECT id, text, similar('feel good story') AS score
        |FROM txtai
        |WHERE similar('feel good story') >= 0.0
        |ORDER BY score DESC, id LIMIT 3""".stripMargin).collect()
    assert(out.length == 3)
    val scores = out.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    // the one-arg form must equal the explicit two-arg encoded form
    val q = TextEncoder.encode("feel good story")
    val explicit = spark.sql(
      s"""SELECT id, similar(vector, array(${q.map(v => s"cast($v as float)").mkString(",")})) AS score
         |FROM txtai ORDER BY score DESC, id LIMIT 3""".stripMargin)
      .collect().map(_.getDouble(1))
    assert(out.map(_.getDouble(2)).sameElements(explicit))
  }

  test("similar('text') uses the pluggable TextEncoder") {
    Graft.init(spark)
    val dir = "/root/testdata/sf0.001"
    Txtai.register(
      spark.read.parquet(s"$dir/documents.parquet"),
      spark.read.parquet(s"$dir/embeddings.parquet"))
    try {
      // a "model" that always returns the stored embedding of vec 0 —
      // so similar('anything') must score vec 0 at exactly 1.0
      val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      TextEncoder.set(_ => v0)
      val top = spark.sql(
        """SELECT id, similar('anything at all') AS score
          |FROM txtai ORDER BY score DESC, id LIMIT 1""".stripMargin).head()
      assert(top.getLong(0) == 0L)
      assert(math.abs(top.getDouble(1) - 1.0) < 1e-12)
    } finally TextEncoder.reset()
  }

  test("similar(vec, textCol) plumbs the registered hash encoder's dim " +
    "and fails loudly under a custom encoder") {
    Graft.init(spark)
    import spark.implicits._
    val df = Seq(("hello", 1), ("world", 2)).toDF("text", "id")
    df.createOrReplaceTempView("simdim")
    try {
      // dim-32 hash encoder: per-row scores must match hash_embed(text, 32)
      TextEncoder.set(HashingEncoder(32))
      val got = spark.sql(
        """SELECT similar(hash_embed(text, 32), text) AS s
          |FROM simdim ORDER BY id""".stripMargin)
        .collect().map(_.getDouble(0))
      // self-similarity of the same 32-dim vector is exactly 1
      assert(got.forall(s => math.abs(s - 1.0) < 1e-12), got.toSeq)
      // a custom (non-hash) encoder cannot run per row: loud error, not
      // a silently mismatched hash fallback
      TextEncoder.set(_ => Array.fill(16)(0.5f))
      val err = intercept[Exception] {
        spark.sql("SELECT similar(hash_embed(text, 32), text) FROM simdim")
          .collect()
      }
      assert(err.getMessage.contains("encodeColumn"), err.getMessage)
    } finally TextEncoder.reset()
  }
}
