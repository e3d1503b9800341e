package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftshim.Shim

import graft.SparkTestBase

class Bm25Spec extends SparkTestBase {

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "spark vector join"),
      (2L, "vector vector hash"),
      (3L, "the quick brown fox"),
      (4L, "hash join hash join hash")
    ).toDF("doc_id", "text")
  }

  test("postings carry one row per distinct (doc, term) with dl and tf") {
    val p = Bm25.postings(docs, "text", "doc_id").collect()
    val d2 = p.filter(_.getAs[Long]("docid") == 2L)
    assert(d2.length == 2) // vector, hash
    val vec = d2.find(_.getAs[String]("term") == "vector").get
    assert(vec.getAs[Long]("tf") == 2L && vec.getAs[Long]("dl") == 3L)
  }

  test("score ranks higher-tf and rarer-term docs above common matches") {
    val res = Bm25.score(docs, "text", "doc_id", Seq("vector", "hash"))
      .collect().map(r => r.getAs[Long]("docid") -> r.getAs[Long]("bm25_micros"))
      .toMap
    // d3 has no query term → absent
    assert(res.keySet == Set(1L, 2L, 4L))
    // d2 (vector x2 + hash) beats d1 (vector x1)
    assert(res(2L) > res(1L))
    // all scores positive (Lucene idf is always > 0)
    assert(res.values.forall(_ > 0))
  }

  test("hand-computed micro-scores match the Okapi/Lucene formula") {
    val res = Bm25.score(docs, "text", "doc_id", Seq("vector"))
      .collect().map(r => r.getAs[Long]("docid") -> r.getAs[Long]("bm25_micros"))
      .toMap
    // N=4, avgdl=(3+3+4+5)/4=3.75, df(vector)=2
    val idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    def tfn(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.75))
    assert(res(1L) == math.round(idf * tfn(1, 3) * 1e6))
    assert(res(2L) == math.round(idf * tfn(2, 3) * 1e6))
  }

  test("topK is deterministic: score desc, docid asc on ties") {
    val top = Bm25.topK(docs, "text", "doc_id", Seq("vector", "hash"), 2)
      .collect().map(_.getAs[Long]("docid")).toSeq
    val all = Bm25.score(docs, "text", "doc_id", Seq("vector", "hash"))
      .orderBy(desc("bm25_micros"), col("docid"))
      .collect().map(_.getAs[Long]("docid")).toSeq
    assert(top == all.take(2))
  }

  test("query terms are lowercased and deduplicated") {
    val a = Bm25.score(docs, "text", "doc_id", Seq("VECTOR", "vector"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Bm25.score(docs, "text", "doc_id", Seq("vector"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("hybrid blends normalized lexical and semantic scores") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.6f, 0.8f)), (4L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val res = Bm25.hybrid(docs, "text", "doc_id", emb, "vec_id", "embedding",
        Seq("vector", "hash"), Array(1f, 0f), alpha = 0.5)
      .collect().map(r => r.getAs[Long]("docid") -> r.getAs[Long]("hybrid_micros"))
      .toMap
    assert(res.keySet == Set(1L, 2L, 4L))
    // min-max puts every blend in [0, 1e6]
    assert(res.values.forall(v => v >= 0 && v <= 1000000L))
    // d1: cosine=1 (max semantic); d4: max lexical. With alpha=1 the
    // ranking is purely semantic → d1 on top.
    val sem = Bm25.hybrid(docs, "text", "doc_id", emb, "vec_id", "embedding",
        Seq("vector", "hash"), Array(1f, 0f), alpha = 1.0)
      .orderBy(desc("hybrid_micros")).collect()
    assert(sem.head.getAs[Long]("docid") == 1L)
  }

  test("Bm25Index search matches ad-hoc topK and prunes buckets") {
    val dir = Files.createTempDirectory("bm25idx").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", dir, nBuckets = 8)
    val fromIndex = idx.search(Seq("vector", "hash"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adHoc = Bm25.topK(docs, "text", "doc_id", Seq("vector", "hash"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fromIndex == adHoc)

    // reload from disk → same stats, same results
    val re = Bm25Index.load(spark, dir)
    assert(re.n == idx.n && math.abs(re.avgdl - idx.avgdl) < 1e-12)
    assert(re.search(Seq("vector", "hash"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == adHoc)

    // the pruned plan touches only the query terms' buckets
    val plan = idx.search(Seq("vector"), 3).queryExecution.executedPlan.toString
    val bucket = Bm25Index.bucketOf("vector", 8)
    assert(plan.contains(s"bucket#") || plan.contains("PartitionFilters"))
    val scanned = idx.postings
      .filter(col("bucket").isin(bucket))
      .select("term").distinct().collect().map(_.getString(0)).toSet
    assert(scanned.contains("vector"))
  }

  test("append: build(A)+append(B) is bit-identical to build(A∪B)") {
    val a = docs.filter(col("doc_id") <= 2)
    val b = docs.filter(col("doc_id") > 2)
    val dirA = Files.createTempDirectory("bm25app").toString
    val incr = Bm25Index.build(a, "text", "doc_id", dirA, nBuckets = 8)
      .append(b, "text", "doc_id")
    val dirF = Files.createTempDirectory("bm25full").toString
    val full = Bm25Index.build(docs, "text", "doc_id", dirF, nBuckets = 8)
    // stats merge exactly (long addition), so avgdl is bit-identical
    assert(incr.n == full.n && incr.sumdl == full.sumdl)
    assert(incr.avgdl == full.avgdl)
    def top(i: Bm25Index) = i.search(Seq("vector", "hash", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(incr) == top(full))
    // a reload sees the merged sidecar, not the pre-append one
    val re = Bm25Index.load(spark, dirA)
    assert(re.n == full.n && re.sumdl == full.sumdl)
    assert(top(re) == top(full))
    // appending zero docs is a no-op
    val same = incr.append(docs.filter(col("doc_id") > 100), "text", "doc_id")
    assert(same.n == incr.n && same.sumdl == incr.sumdl)
  }

  test("append overlap guard: an id range intersecting an indexed one " +
    "throws (silent double-count becomes a loud error); force " +
    "overrides; disjoint ranges never trip") {
    val dir = Files.createTempDirectory("bm25grd").toString
    val idx = Bm25Index.build(docs.filter(col("doc_id") <= 2),
      "text", "doc_id", dir, nBuckets = 8)
    // doc 2 is already indexed: re-appending it must throw
    val e = intercept[IllegalArgumentException] {
      idx.append(docs.filter(col("doc_id") >= 2), "text", "doc_id")
    }
    assert(e.getMessage.contains("double-count"), e.getMessage)
    // stats are untouched by the rejected append
    assert(Bm25Index.load(spark, dir).n == idx.n)
    // disjoint append passes, and the guard then knows BOTH ranges
    val grown = idx.append(docs.filter(col("doc_id") > 2), "text", "doc_id")
    intercept[IllegalArgumentException] {
      grown.append(docs.filter(col("doc_id") === 4), "text", "doc_id")
    }
    // documented escape: force=true skips the guard
    val forced = grown.append(docs.filter(col("doc_id") === 4),
      "text", "doc_id", force = true)
    assert(forced.n == grown.n + 1)
  }

  test("append overlap guard survives compact (the _ranges sidecar is " +
    "carried)") {
    val dir = Files.createTempDirectory("bm25grc").toString
    val idx = Bm25Index.build(docs.filter(col("doc_id") <= 2),
        "text", "doc_id", dir, nBuckets = 4)
      .append(docs.filter(col("doc_id") === 3), "text", "doc_id")
      .compact()
    intercept[IllegalArgumentException] {
      idx.append(docs.filter(col("doc_id") === 3), "text", "doc_id")
    }
    val ok = idx.append(docs.filter(col("doc_id") === 4), "text", "doc_id")
    assert(ok.n == 4)
  }

  test("autoBuckets follows the recorded cbrt(tokens/20) rule at both " +
    "measured optima and clamps to [16, 4096]") {
    // BASELINE.md probe: 100k docs ≈ 5.4M tokens → 64 buckets won;
    // 5M docs ≈ 270M tokens → 256 won
    assert(Bm25Index.autoBuckets(5400000L) == 64)
    assert(Bm25Index.autoBuckets(270000000L) == 256)
    assert(Bm25Index.autoBuckets(1L) == 16) // floor
    assert(Bm25Index.autoBuckets(Long.MaxValue / 4) == 4096) // ceiling
    // the default build derives from the corpus (tiny fixture → floor)
    val dir = Files.createTempDirectory("bm25auto").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", dir)
    assert(idx.nBuckets == 16)
    assert(Bm25Index.load(spark, dir).nBuckets == 16)
    val adHoc = Bm25.topK(docs, "text", "doc_id", Seq("vector", "hash"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(idx.search(Seq("vector", "hash"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == adHoc)
  }

  test("index-routed facets are bit-identical to ad-hoc Bm25.facets on " +
    "BOTH serving paths (bounded In(docid) fetch and the distributed " +
    "fallback)") {
    import spark.implicits._
    val faceted = docs.withColumn("lang",
      when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val want = Bm25.facets(faceted, "text", "doc_id",
        Seq("vector", "hash"), "lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val dir = Files.createTempDirectory("bm25fct").toString
    val idx = Bm25Index.build(faceted, "text", "doc_id", dir, nBuckets = 8)
      .writeMeta(faceted, "doc_id", Seq("lang"))
    def got(maxFetch: Int) =
      idx.facets(Seq("vector", "hash"), "lang", maxFetch)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(got(10000) == want) // In(docid) fetch path
    assert(got(1) == want)     // > maxFetch → distributed-join path
    assert(want.nonEmpty)
  }

  test("the meta sidecar is read by its part files: building it submits " +
    "no job, and its rows are the written ones") {
    val faceted = docs.withColumn("lang",
      when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val dir = Files.createTempDirectory("bm25meta").toString
    val idx = Bm25Index.build(faceted, "text", "doc_id", dir, nBuckets = 4)
      .writeMeta(faceted, "doc_id", Seq("lang"))
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Shim.waitUntilEmpty(spark)
    spark.sparkContext.addSparkListener(counter)
    val meta =
      try {
        val m = idx.meta
        m.schema
        Shim.waitUntilEmpty(spark)
        m
      } finally spark.sparkContext.removeSparkListener(counter)
    assert(jobs.get() == 0, s"${jobs.get()} jobs")
    def rows(df: DataFrame) = df.select("docid", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(meta) == rows(faceted.select(col("doc_id").as("docid"),
      col("lang"))))
    assert(meta.count() == 4)
  }

  test("compact after appends: identical stats and ranking, fewer files") {
    val dir = Files.createTempDirectory("bm25cpt").toString
    val idx = Bm25Index.build(docs.filter(col("doc_id") <= 1),
        "text", "doc_id", dir, nBuckets = 4)
      .append(docs.filter(col("doc_id") === 2), "text", "doc_id")
      .append(docs.filter(col("doc_id") > 2), "text", "doc_id")
    def top(i: Bm25Index) = i.search(Seq("vector", "hash", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = top(idx)
    // count the current SNAPSHOT's files (r17): retention keeps prior
    // generations on disk for pinned readers, so a raw tree walk
    // would see old + new together until manifests roll past the
    // window — the snapshot footprint is what compaction shrinks
    val (filesBefore, _) = idx.storageFootprint()
    val compacted = idx.compact()
    assert(compacted.n == idx.n && compacted.sumdl == idx.sumdl)
    assert(top(compacted) == before)
    // three writes into overlapping buckets collapse to one pass
    val (filesAfter, _) = compacted.storageFootprint()
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    // a reload of the compacted path agrees
    val re = Bm25Index.load(spark, dir)
    assert(re.n == idx.n && top(re) == before)
  }

  test("topKBatch: every qid's ranking is bit-identical to the " +
    "single-query topK") {
    val queries = Seq(
      (0L, Seq("vector", "hash")), (1L, Seq("sort", "merge", "join")))
    val batch = Bm25.topKBatch(docs, "text", "doc_id", queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, terms) =>
      val single = Bm25.topK(docs, "text", "doc_id", terms, 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1L, r.getLong(0), r.getLong(1)) }
      assert(batch(qid).sortBy(_._2).toSeq == single.toSeq, s"qid=$qid")
    }
  }

  test("hybridBatch: every qid's ranking is bit-identical to the " +
    "single-query hybrid over the same corpus") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qvecs = emb.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = Seq(
      (0L, Seq("vector", "hash"), qvecs(0L)),
      (1L, Seq("sort", "merge", "join"), qvecs(1L)))
    val batch = Bm25.hybridBatch(docs, "text", "doc_id",
        emb, "vec_id", "embedding", queries, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, terms, qv) =>
      val single = Bm25.hybrid(docs, "text", "doc_id",
          emb, "vec_id", "embedding", terms, qv)
        .orderBy(desc("hybrid_micros"), col("docid").asc)
        .limit(5).collect()
        .zipWithIndex
        .map { case (r, i) =>
          (qid, i + 1L, r.getLong(0), r.getLong(1)) }
      assert(batch(qid).sortBy(_._2).toSeq == single.toSeq, s"qid=$qid")
    }
  }

  test("Bm25Index.hybridSearchBatch: per-qid results bit-identical to " +
    "hybridSearch, one pruned postings read for the batch") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qvecs = emb.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dir = Files.createTempDirectory("bm25hsb").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", s"$dir/idx", 8)
    val queries = Seq(
      (0L, Seq("vector", "hash"), qvecs(0L)),
      (1L, Seq("sort", "merge", "join"), qvecs(1L)))
    val batch = idx.hybridSearchBatch(emb, "vec_id", "embedding",
        queries, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, terms, qv) =>
      val single = idx.hybridSearch(emb, "vec_id", "embedding",
          terms, qv, k = 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1L, r.getLong(0), r.getLong(1)) }
      assert(batch(qid).sortBy(_._2).toSeq == single.toSeq, s"qid=$qid")
    }
  }

  test("driver-side bucketOf matches Spark's hash(term) pmod nBuckets") {
    val terms = Seq("vector", "hash", "join", "spark", "the", "fox")
    import spark.implicits._
    val sparkSide = terms.toDF("t")
      .select(col("t"), pmod(hash(col("t")), lit(8)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach { t =>
      assert(Bm25Index.bucketOf(t, 8) == sparkSide(t), s"term $t")
    }
  }

  test("empty query is a loud error") {
    intercept[IllegalArgumentException] {
      Bm25.score(docs, "text", "doc_id", Seq.empty)
    }
  }

  /** A 2-d embedding for each of [[docs]]' four documents. */
  private def emb2: DataFrame = {
    import spark.implicits._
    Seq((1L, Array(1f, 0f)), (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.8f, 0.6f)), (4L, Array(0f, 1f))).toDF("vec_id", "embedding")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("single hybrid edge cases, ad-hoc and indexed: no matching term " +
    "gives an empty (docid, hybrid_micros) frame; a lone candidate hits " +
    "the degenerate bounds and scores 1,000,000 micros") {
    val emb = emb2
    val qv = Array(1f, 0f)
    val dir = Files.createTempDirectory("bm25edge").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", s"$dir/idx", 8)
    def adHoc(terms: Seq[String]) = Bm25.hybrid(docs, "text", "doc_id",
      emb, "vec_id", "embedding", terms, qv)
    def indexed(terms: Seq[String]) = idx.hybridSearch(emb, "vec_id",
      "embedding", terms, qv, k = 5)
    Seq(adHoc(Seq("zebra")), indexed(Seq("zebra"))).foreach { none =>
      assert(none.columns.toSeq == Seq("docid", "hybrid_micros"))
      assert(none.collect().isEmpty)
    }
    // "quick" occurs in doc 3 only: min == max on both sides
    assert(pairs(adHoc(Seq("quick"))) == Seq((3L, 1000000L)))
    assert(pairs(indexed(Seq("quick"))) == Seq((3L, 1000000L)))
  }

  test("a batch qid that matches nothing yields no rows while the other " +
    "qid ranks exactly as its single form, ad-hoc and indexed") {
    val emb = emb2
    val (qv0, qv1) = (Array(1f, 0f), Array(0f, 1f))
    val dir = Files.createTempDirectory("bm25miss").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", s"$dir/idx", 8)
    val terms = Seq("vector", "hash")
    val queries = Seq((0L, Seq("zebra"), qv0), (1L, terms, qv1))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._2)
    def ranked(single: DataFrame) = pairs(single).zipWithIndex
      .map { case ((d, s), i) => (1L, i + 1L, d, s) }
    val adHoc = rows(Bm25.hybridBatch(docs, "text", "doc_id",
      emb, "vec_id", "embedding", queries, k = 5))
    assert(adHoc.nonEmpty && adHoc == ranked(Bm25.hybrid(docs, "text",
        "doc_id", emb, "vec_id", "embedding", terms, qv1)
      .orderBy(desc("hybrid_micros"), col("docid").asc).limit(5)))
    val indexed = rows(idx.hybridSearchBatch(emb, "vec_id", "embedding",
      queries, k = 5))
    assert(indexed.nonEmpty && indexed == ranked(idx.hybridSearch(emb,
      "vec_id", "embedding", terms, qv1, k = 5)))
  }
}
