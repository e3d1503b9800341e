package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Misuse must fail LOUDLY at the API boundary — not produce quietly
  * wrong results. Pins the error contracts of the round-2 surface. */
class ContractErrorsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("Pq.train rejects a dimension not divisible by m") {
    val e = intercept[IllegalArgumentException] {
      Pq.train(emb, "embedding", m = 7)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("Pq.Model.encode/decode reject wrong shapes") {
    val model = Pq.train(emb, "embedding", m = 8, ksub = 16)
    intercept[IllegalArgumentException] { model.encode(new Array[Float](32)) }
    intercept[IllegalArgumentException] { model.decode(new Array[Byte](4)) }
  }

  test("AsOfJoin rejects payload/left collisions and reserved names") {
    val l = Seq((1L, 10L, "x")).toDF("k", "t", "v")
    val r = Seq((1L, 5L, "y")).toDF("k", "rt", "v")
    intercept[IllegalArgumentException] {
      AsOfJoin.asof(l, r, "k", "t", "rt", Seq("v")) // v exists on left
    }
    val bad = Seq((1L, 10L, 1.0)).toDF("k", "t", "__tie")
    intercept[IllegalArgumentException] {
      AsOfJoin.asof(bad, r.withColumnRenamed("v", "p"),
        "k", "t", "rt", Seq("p"))
    }
  }

  test("RangeJoin rejects non-positive bin widths") {
    val df = Seq((1L, 1L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      RangeJoin.binned(df, "a", df, "a", "b", binWidth = 0)
    }
  }

  test("Sampling rejects percents over 100 and empty splits") {
    val df = spark.range(5).toDF("id")
    intercept[IllegalArgumentException] {
      Sampling.withSplit(df, "id", Seq("a" -> 80, "b" -> 30))
    }
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(df, "id", Seq.empty, Seq("a" -> 50))
    }
  }

  test("TextChunk rejects overlap >= size") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextChunk.chunk(df, "doc_id", "text", size = 10, overlap = 10)
    }
  }

  test("Stats.groupedQuantiles rejects out-of-range percentiles and " +
    "colliding labels") {
    val df = Seq(("a", 1.0)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Stats.groupedQuantiles(df, Seq("k"), "v", Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      Stats.groupedQuantiles(df, Seq("k"), "v", Seq(0.054, 0.054))
    }
  }

  test("hybridBatch rejects an empty batch and an empty-terms query") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val qv = new Array[Float](64)
    intercept[IllegalArgumentException] {
      Bm25.hybridBatch(docs, "text", "doc_id",
        emb, "vec_id", "embedding", Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      Bm25.hybridBatch(docs, "text", "doc_id",
        emb, "vec_id", "embedding", Seq((0L, Seq.empty, qv)), k = 5)
    }
  }

  test("keyword_score rejects a non-string-literal query at analysis " +
    "(per-row terms would need per-row corpus statistics)") {
    val e = intercept[IllegalArgumentException] {
      graft.Keyword.build(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(1)))
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("Decontaminate on a shingle-free side returns empty, never " +
    "throws (documents shorter than n tokens)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val tiny = Seq((900L, "too short")).toDF("doc_id", "text")
    // train side real, test side sub-threshold: no pairs, no crash
    assert(Decontaminate.overlaps(docs, "doc_id", "text",
      tiny, "doc_id", "text", n = 5).count() == 0)
    // set path likewise
    val set = Decontaminate.benchmarkShingles(tiny, "doc_id", "text", 5)
    assert(set.isEmpty)
    assert(Decontaminate.cleanWithSet(docs, "text", set, 5).count() ==
      docs.count())
  }

  test("Bm25Index.dfOf rejects an empty term list") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-err-bm25").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", s"$dir/idx", 4)
    intercept[IllegalArgumentException] { idx.dfOf(Seq.empty) }
  }

  test("IvfVectorIndex: searchAdc without a PQ model and load without " +
    "a codebook fail loudly") {
    val model = Ivf.train(emb, "embedding", k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-err").toString
    val idx = graft.index.IvfVectorIndex.build(
      emb, "embedding", "vec_id", dir, model)
    intercept[IllegalStateException] {
      idx.searchAdc(new Array[Float](64), 5)
    }
    intercept[graft.index.IndexNotFoundException] {
      graft.index.IvfVectorIndex.load(spark, dir + "-nope")
    }
  }

  test("Bm25Index: load of a missing index fails with " +
    "IndexNotFoundException") {
    val dir = java.nio.file.Files.createTempDirectory("graft-err").toString
    intercept[graft.index.IndexNotFoundException] {
      Bm25Index.load(spark, dir + "-nope")
    }
  }

  test("searchBatch refuses a query side past the broadcast contract " +
    "BEFORE materializing it (driver holds at most cap+1 rows)") {
    val index = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // a query side one past the cap: the guard must fire with the
    // chunking advice, not OOM or silently broadcast
    val over = spark.range(0, Knn.MaxBatchQueries + 1L)
      .select(col("id").as("qid"),
        array(lit(1.0f), lit(0.0f)).as("qv"))
    val e = intercept[IllegalArgumentException] {
      Knn.searchBatch(index, "embedding", "vec_id", over, "qv", "qid", 2)
    }
    assert(e.getMessage.contains("batch contract"))
    assert(e.getMessage.contains("chunk"))
  }

  test("groupedQuantilesSorted fails loudly past the group-count bound, " +
    "pointing at the window form (few-huge-groups contract enforced)") {
    val many = spark.range(0, 500)
      .select(concat(lit("g"), col("id")).as("k"),
        (col("id") % 7).cast("double").as("v"))
    val e = intercept[Exception] {
      Stats.groupedQuantilesSorted(many, Seq("k"), "v", Seq(0.5),
        maxGroups = 10).collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: chain(t.getCause)
    val msgs = chain(e).mkString("\n")
    assert(msgs.contains("groupedQuantiles"))
    assert(msgs.contains("few-huge-groups"))
    // within the bound the guard is invisible: same rows as the window form
    val few = spark.range(0, 100)
      .select((col("id") % 3).cast("string").as("k"),
        col("id").cast("double").as("v"))
    val a = Stats.groupedQuantilesSorted(few, Seq("k"), "v", Seq(0.25, 0.9))
      .orderBy("k").collect().toSeq
    val b = Stats.groupedQuantiles(few, Seq("k"), "v", Seq(0.25, 0.9))
      .orderBy("k").collect().toSeq
    assert(a == b)
  }

  /** `f` throws IllegalArgumentException naming `arg` as below one. */
  private def rejectsBelowOne(arg: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(s"$arg must be at least 1"), e.getMessage)
  }

  test("every BM25 and hybrid top-k form rejects k < 1, naming k") {
    val docs = Seq((1L, "vector hash join"), (2L, "sort merge"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-err-k").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", s"$dir/idx", 4)
    val terms = Seq("vector")
    val qv = new Array[Float](64)
    rejectsBelowOne("k")(Bm25.topK(docs, "text", "doc_id", terms, 0))
    rejectsBelowOne("k")(
      Bm25.topKBatch(docs, "text", "doc_id", Seq((0L, terms)), 0))
    rejectsBelowOne("k")(Bm25.hybridBatch(docs, "text", "doc_id",
      emb, "vec_id", "embedding", Seq((0L, terms, qv)), k = 0))
    rejectsBelowOne("k")(Workflows.hybridSearch(docs, "text", "doc_id",
      emb, "vec_id", "embedding", "vector", k = 0))
    rejectsBelowOne("k")(idx.search(terms, 0))
    rejectsBelowOne("k")(
      idx.hybridSearch(emb, "vec_id", "embedding", terms, qv, k = -1))
    rejectsBelowOne("k")(idx.hybridSearchBatch(emb, "vec_id", "embedding",
      Seq((0L, terms, qv)), k = 0))
  }

  test("the index hybrid forms reject candidates < 1, naming candidates") {
    val docs = Seq((1L, "vector hash join"), (2L, "sort merge"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-err-cand").toString
    val idx = Bm25Index.build(docs, "text", "doc_id", s"$dir/idx", 4)
    val qv = new Array[Float](64)
    rejectsBelowOne("candidates")(idx.hybridSearch(emb, "vec_id",
      "embedding", Seq("vector"), qv, k = 5, candidates = 0))
    rejectsBelowOne("candidates")(idx.hybridSearchBatch(emb, "vec_id",
      "embedding", Seq((0L, Seq("vector"), qv)), k = 5, candidates = 0))
  }
}
