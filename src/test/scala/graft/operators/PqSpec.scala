package graft.operators

import org.apache.spark.sql.functions._

import graft.{Graft, SparkTestBase}

/** Product quantization: training determinism, encode/decode/ADC
  * consistency, and the two-phase search contract (exact re-rank makes
  * final scores exact cosine; recall vs exact kNN is high). */
class PqSpec extends SparkTestBase {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") === 0)
    .select("embedding").head().getSeq[Float](0).toArray
  private lazy val model = Pq.train(emb, "embedding", m = 8, ksub = 64)

  test("training is deterministic: two train calls give identical codebooks") {
    val m2 = Pq.train(emb, "embedding", m = 8, ksub = 64)
    assert(model.m == 8 && model.dsub == 8 && model.dim == 64)
    model.codebooks.zip(m2.codebooks).foreach { case (ba, bb) =>
      ba.zip(bb).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
  }

  test("distributed pq_encode matches the driver-side Model.encode " +
    "and codes are m bytes") {
    val rows = Pq.encode(emb, "embedding", model)
      .select(col("vec_id"), col("embedding"), col("code"))
      .collect()
    rows.take(50).foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val code = r.getAs[Array[Byte]](2)
      assert(code.length == model.m)
      assert(code.sameElements(model.encode(v)))
    }
    // a near-tie found by a seeded search: sub-vector 0 sits next to the
    // bisector of two centroids, where a distance loop in float picks a
    // different cell than the kernel's loop in double
    import spark.implicits._
    val tie = Array(0.053415567f, 0.031415753f, 0.01056752f, 0.061015535f,
      0.08219046f, -0.12954476f, 0.0074953213f, -0.18963775f) ++
      Array.fill(56)(0f)
    val tieCode = Pq.encode(Seq(tie).toDF("embedding"), "embedding", model)
      .select("code").head().getAs[Array[Byte]](0)
    assert(tieCode.sameElements(model.encode(tie)))
  }

  test("ADC score equals exact cosine against the DECODED vector " +
    "(the approximation error is purely quantization, not scoring)") {
    val scored = Pq.adcScore(Pq.encode(emb, "embedding", model),
        "code", q, model)
      .select(col("vec_id"), col("code"), col("adc_score"))
      .collect()
    scored.take(50).foreach { r =>
      val decoded = model.decode(r.getAs[Array[Byte]](1))
      var dot = 0.0; var nq = 0.0; var nd = 0.0
      q.indices.foreach { i =>
        dot += q(i).toDouble * decoded(i)
        nq += q(i).toDouble * q(i)
        nd += decoded(i).toDouble * decoded(i)
      }
      val exact =
        if (nq == 0.0 || nd == 0.0) 0.0
        else dot / (math.sqrt(nq) * math.sqrt(nd))
      assert(math.abs(r.getDouble(2) - exact) < 1e-4,
        s"vec ${r.getLong(0)}: adc ${r.getDouble(2)} vs decoded-cosine $exact")
    }
  }

  test("reconstruction is lossy but bounded: mean decoded cosine to the " +
    "original is high") {
    val rows = Pq.encode(emb, "embedding", model)
      .select(col("embedding"), col("code")).collect()
    val cosines = rows.map { r =>
      val v = r.getSeq[Float](0).toArray
      val d = model.decode(r.getAs[Array[Byte]](1))
      var dot = 0.0; var nv = 0.0; var nd = 0.0
      v.indices.foreach { i =>
        dot += v(i).toDouble * d(i)
        nv += v(i).toDouble * v(i); nd += d(i).toDouble * d(i)
      }
      dot / (math.sqrt(nv) * math.sqrt(nd))
    }
    val mean = cosines.sum / cosines.length
    assert(mean > 0.8, s"mean reconstruction cosine $mean")
  }

  test("search: self-match is top-1 with exact score 1.0, and recall@10 " +
    "vs exact kNN is >= 0.8") {
    val encoded = Pq.encode(emb, "embedding", model).cache()
    val res = Pq.search(encoded, "embedding", "code", "vec_id",
      q, 10, model).collect()
    assert(res.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(res.head.getAs[Double]("score") - 1.0) < 1e-9)
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val got = res.map(_.getAs[Long]("vec_id")).toSet
    assert(exact.intersect(got).size >= 8,
      s"recall ${exact.intersect(got).size}/10")
    encoded.unpersist()
  }

  test("searchBatch matches per-query Pq.search for every query") {
    val encoded = Pq.encode(emb, "embedding", model).cache()
    val queries = emb.filter(col("vec_id") < 60)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Pq.searchBatch(encoded, "embedding", "code", "vec_id",
        queries, "qvec", "qid", 5, model)
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("id"),
            math.round(r.getAs[Double]("score") * 1e9))).toSeq
      }
    assert(batch.size == 60)
    (0L until 60L by 7L).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val single = Pq.search(encoded, "embedding", "code", "vec_id",
          qv, 5, model)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"),
          math.round(r.getAs[Double]("score") * 1e9))).toSeq
      assert(batch(qid) == single, s"qid $qid: ${batch(qid)} vs $single")
    }
    // every query self-matches at exact 1.0
    batch.foreach { case (qid, hits) =>
      assert(hits.head == ((qid, 1000000000L)), s"qid $qid: ${hits.head}")
    }
    encoded.unpersist()
  }

  test("dimension mismatch yields null code (loud, not truncated)") {
    Graft.init(spark)
    val bad = emb.limit(5)
      .select(slice(col("embedding"), 1, 32).as("embedding"))
    val codes = Pq.encode(bad, "embedding", model).select("code").collect()
    assert(codes.forall(_.isNullAt(0)))
  }

  test("a code cell >= ksub scores null in both ADC forms (foreign-model " +
    "or corrupt codes never index-error or cross-read)") {
    import org.apache.spark.sql.graftshim.Shim
    import graft.functions.PqAdcScoreAt
    import spark.implicits._
    // length is the correct m=8, but cell 255 >= ksub=64
    val corrupt = Array.fill[Byte](model.m)(255.toByte)
    val good = model.encode(q)
    val df = Seq((0, corrupt), (1, good)).toDF("id", "code")
    val single = Pq.adcScore(df, "code", q, model)
      .orderBy("id").select("adc_score").collect()
    assert(single(0).isNullAt(0) && !single(1).isNullAt(0))
    val (dots, normsq, qn) = model.adcTables(q)
    val batch = df.withColumn("s", Shim.column(PqAdcScoreAt(
        Shim.expression(col("code")), Shim.expression(lit(0)),
        dots, normsq, Array(qn), model.m)))
      .orderBy("id").select("s").collect()
    assert(batch(0).isNullAt(0) && !batch(1).isNullAt(0))
  }

  test("ADC shortlist stage plans as TakeOrderedAndProject (no global sort)") {
    val plan = Pq.adcScore(Pq.encode(emb, "embedding", model), "code", q, model)
      .orderBy(desc("adc_score"), col("vec_id").asc).limit(50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pq_adc_score runs inside whole-stage codegen (the lookup tables " +
    "ride as reference objects, not an interpreted fallback)") {
    val df = Pq.adcScore(Pq.encode(emb, "embedding", model), "code", q, model)
    df.collect()
    val generated = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(generated.contains("adcDots"), generated.take(2000))
  }
}
