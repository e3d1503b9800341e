package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The hashed near-dup consumers key shingles with `shingle_hashes` and
  * give what the string-keyed formulation gives: `ngramJaccardPairs`
  * and the hashed [[ShingleIndex]] (postings, probe, survivors, build
  * stats) equal a reference that builds each shingle as a string and
  * `xxhash64`s it, and their plans never run a shingle kernel in a scan
  * condition. */
class ShingleHashKeySpec extends SparkTestBase {

  /** A seeded corpus: random-word documents with near copies, exact
    * copies, a repeated boilerplate phrase, multi-byte UTF-8 words,
    * within-document repeats, and documents with fewer than 3 tokens. */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 150).map(i => s"w$i") ++
      Seq("café", "naïve", "東京", "日本語", "テキスト", "🙂", "größe", "ελλάδα")
    def word() = vocab(rnd.nextInt(vocab.size))
    val boiler = "all rights reserved 東京 🙂".split(" ").toSeq
    val docs = (0 until 90).flatMap { i =>
      val body = Seq.fill(8 + rnd.nextInt(30))(word())
      val base =
        if (i % 4 == 0) body ++ boiler
        else if (i % 7 == 0) body ++ body.take(6) ++ body.take(6)
        else body
      val copies = (0 until rnd.nextInt(3)).map(_ =>
        base.map(w => if (rnd.nextDouble() < 0.08) word() else w))
      val exact = if (i % 10 == 0) Seq(base) else Nil
      (base +: copies) ++ exact
    } ++ Seq(Seq("two", "words"), Seq("東京"), Seq(""), Seq("a", "b", "c"))
    rnd.shuffle(docs).zipWithIndex
      .map { case (ws, i) => (i.toLong * 2 + 5, ws.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** The string-keyed exploded shingles `(key, id, nsh)`: every shingle
    * built as a string, then hashed. */
  private def stringKeyed(docs: DataFrame): DataFrame =
    TextDedup.explodedShingles(docs, "doc_id", "text", 3)
      .select(xxhash64(col("shingle")).as("key"), col("id"), col("nsh"))

  /** The string-keyed pair search, written out: hot-key cap, self-join,
    * size-ratio prune, intersection count, Jaccard, threshold. */
  private def stringPairs(keyed: DataFrame, t: Double,
      cap: Option[Int]): DataFrame = {
    var ex = keyed.select(col("key"), col("id"), col("nsh"))
    cap.foreach { c =>
      val hot = ex.groupBy("key").count().filter(col("count") > c)
        .select("key")
      ex = ex.join(hot, Seq("key"), "left_anti")
    }
    val a = ex.select(col("key"), col("id").as("id_a"), col("nsh").as("nsh_a"))
    val b = ex.select(col("key"), col("id").as("id_b"), col("nsh").as("nsh_b"))
    a.join(b, Seq("key"))
      .filter(col("id_a") < col("id_b") &&
        least(col("nsh_a"), col("nsh_b")).cast("double") >=
          greatest(col("nsh_a"), col("nsh_b")) * t)
      .groupBy("id_a", "nsh_a", "id_b", "nsh_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard")
  }

  /** The string-keyed lake probe over in-memory postings. */
  private def stringProbe(batch: DataFrame, post: DataFrame,
      t: Double): DataFrame =
    batch.select(col("key"), col("id").as("new_id"), col("nsh").as("nsh_new"))
      .join(post.select(col("key"), col("old_id"), col("nsh").as("nsh_old")),
        "key")
      .filter(least(col("nsh_new"), col("nsh_old")) >=
        lit(t) * greatest(col("nsh_new"), col("nsh_old")))
      .groupBy("new_id", "nsh_new", "old_id", "nsh_old")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nsh_new") + col("nsh_old") - col("inter")))
      .filter(col("jaccard") >= t)
      .select("new_id", "old_id", "jaccard")

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def tmp(tag: String) = java.nio.file.Files
    .createTempDirectory(s"graft-shkey-$tag").toString + "/idx"

  test("ngramJaccardPairs equals the string-keyed pair search at the " +
    "default cap, a low cap and no cap") {
    val docs = corpus
    for (t <- Seq(0.35, 0.5); cap <- Seq(Some(10000), Some(3), None)) {
      val got = triples(TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        3, t, cap))
      val want = triples(stringPairs(stringKeyed(docs), t, cap))
      assert(got == want, s"t=$t cap=$cap: ${got -- want} / ${want -- got}")
      assert(got.exists(_._3 < 1.0) && got.exists(_._3 == 1.0),
        s"t=$t cap=$cap")
    }
  }

  test("the hashed ShingleIndex: postings rows, build stats, probe and " +
    "survivors equal the string-keyed reference") {
    val docs = corpus
    val base = docs.filter(col("doc_id") < 200)
    val incoming = docs.filter(col("doc_id") >= 200)
    val idx = ShingleIndex.build(base, "doc_id", "text", tmp("hashed"), 3)
    assert(idx.hashKeys)

    // build stats under AutoBuckets: shinglable docs and the bucket
    // count the string shingle volume gives
    val Array(st) = TextDedup.shingles(base, "doc_id", "text", 3)
      .agg(count(lit(1)), sum(col("nsh"))).collect()
    assert(idx.nDocs == st.getLong(0))
    assert(idx.nBuckets == Bm25Index.autoBuckets(st.getLong(1)))

    val post = stringKeyed(base)
      .select(col("key"), col("id").as("old_id"), col("nsh"))
      .withColumn("bucket", pmod(hash(col("key")), lit(idx.nBuckets)))
    def rows(df: DataFrame) = df.select("key", "old_id", "nsh", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3))).sorted.toSeq
    assert(rows(idx.postings) == rows(post))

    for (t <- Seq(0.35, 0.5)) {
      val got = triples(idx.probe(incoming, "doc_id", "text", t))
      val want = triples(stringProbe(stringKeyed(incoming), post, t))
      assert(got == want, s"t=$t: ${got -- want} / ${want -- got}")
      assert(got.nonEmpty, s"t=$t")

      // survivors: no lake match, then min-id representatives of the
      // batch's own near-dup pairs
      val dups = stringProbe(stringKeyed(incoming), post, t)
        .select(col("new_id").as("doc_id")).distinct()
      val fresh = incoming.join(dups, Seq("doc_id"), "left_anti")
      val intra = stringPairs(stringKeyed(fresh), t, Some(10000))
      val wantSurv = TextDedup.keepRepresentatives(fresh, "doc_id", intra)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val gotSurv = idx.survivors(incoming, "doc_id", "text", t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotSurv == wantSurv, s"t=$t")
      assert(intra.count() > 0, s"t=$t: the batch has no near-dups of its own")
    }
  }

  /** Every plan the body executes, as its final physical plan. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = seen.synchronized { seen += qe.executedPlan; () }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.graftshim.Shim.waitUntilEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toVector)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** The plans carry `shingle_hashes` and never `ngram_shingles`, and no
    * scan filter or scan-side Filter condition runs a shingle kernel. */
  private def assertHashKeyed(plans: Seq[SparkPlan]): Unit = {
    val all = plans.flatMap(nodes)
    val text = plans.map(_.toString).mkString("\n")
    assert(text.contains("shingle_hashes"), text)
    assert(!text.contains("ngram_shingles"), text)
    val conditions = all.collect {
      case f: FilterExec => Seq(f.condition.sql)
      case s: FileSourceScanExec => s.dataFilters.map(_.sql)
    }.flatten
    assert(conditions.nonEmpty, text)
    conditions.foreach { c =>
      assert(!c.contains("shingle_hashes") && !c.contains("ngram_shingles"), c)
    }
  }

  test("ngramJaccardPairs and a hashed probe plan carry shingle_hashes, " +
    "and no scan condition runs a shingle kernel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shkey-docs")
      .toString + "/docs"
    corpus.write.parquet(dir)
    val docs = spark.read.parquet(dir)
    assertHashKeyed(executedPlans {
      TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
    })
    val idx = ShingleIndex.build(docs.filter(col("doc_id") < 200),
      "doc_id", "text", tmp("plan"), 3)
    assertHashKeyed(executedPlans {
      idx.probe(docs.filter(col("doc_id") >= 200), "doc_id", "text", 0.5)
        .collect()
    })
  }
}
