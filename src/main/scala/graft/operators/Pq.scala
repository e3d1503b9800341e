package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

import graft.functions.{PqAdcScore, PqEncode, PqQuantizer}
import org.apache.spark.sql.graftshim.Shim

/** Product quantization (Jegou et al., TPAMI 2011) — the compression
  * half of the faiss IVF+PQ recipe, next to [[Ivf]]'s cluster pruning.
  *
  * Same industry split as IVF: TRAIN per-subspace codebooks on a
  * bounded sample driver-side (deterministic, seconds), then ENCODE and
  * SEARCH distributed. A dim-64 float vector (256 B) becomes m=8 bytes;
  * the ADC scan reads 32x less and scores each row with m table
  * lookups instead of dim multiplies. At 100 TB the codes table is
  * ~3 TB — the difference between a full-corpus scan being minutes and
  * being feasible at interactive cadence.
  *
  * Search is the standard two-phase ANN shape: (1) ADC-approximate
  * top-(k*refine) over the codes — `TakeOrderedAndProject`, bounded
  * per-partition heaps, no global sort; (2) exact cosine re-rank of
  * that shortlist against the original vectors, with the shortlist ids
  * pushed into the rescan as an `isin` filter (parquet row-group
  * pruning applies; the shortlist is k*refine ids — a boundary set,
  * not a corpus collect). Final scores are exact cosine, so results
  * are oracle-checkable the same way as `ivf_knn` (re-rank is
  * re-derivable from the dumped shortlist). */
object Pq {

  /** Trained per-subspace codebooks: m x ksub x dsub. */
  case class Model(codebooks: Array[Array[Array[Float]]]) {
    require(codebooks.nonEmpty && codebooks(0).nonEmpty)
    val m: Int = codebooks.length
    val ksub: Int = codebooks(0).length
    val dsub: Int = codebooks(0)(0).length
    val dim: Int = m * dsub

    private val quantizer = PqQuantizer(codebooks)

    /** Driver-side encode: the [[PqEncode]] kernel's own loop, so the
      * driver and the distributed encode pick the same cells. */
    def encode(v: Array[Float]): Array[Byte] = {
      require(v.length == dim, s"pq encode: dim ${v.length} != $dim")
      quantizer.encode(UnsafeArrayData.fromPrimitiveArray(v), 1)
    }

    /** Reconstruction: concatenate the chosen centroids. */
    def decode(code: Array[Byte]): Array[Float] = {
      require(code.length == m, s"pq decode: code length ${code.length} != $m")
      val out = new Array[Float](dim)
      var j = 0
      while (j < m) {
        System.arraycopy(codebooks(j)(code(j) & 0xff), 0, out, j * dsub, dsub)
        j += 1
      }
      out
    }

    /** Per-query ADC lookup tables, flattened m x ksub row-major:
      * (q_j . centroid) dot contributions and centroid norm^2
      * contributions, plus ||q||. Built once per query driver-side. */
    def adcTables(q: Array[Float]): (Array[Float], Array[Float], Double) = {
      require(q.length == dim, s"pq adc: query dim ${q.length} != $dim")
      val dots = new Array[Float](m * ksub)
      val normsq = new Array[Float](m * ksub)
      var qn = 0.0
      var i = 0
      while (i < dim) { qn += q(i).toDouble * q(i); i += 1 }
      var j = 0
      while (j < m) {
        val off = j * dsub
        var c = 0
        while (c < ksub) {
          val cen = codebooks(j)(c)
          var dot = 0.0
          var nsq = 0.0
          i = 0
          while (i < dsub) {
            dot += q(off + i).toDouble * cen(i)
            nsq += cen(i).toDouble * cen(i)
            i += 1
          }
          dots(j * ksub + c) = dot.toFloat
          normsq(j * ksub + c) = nsq.toFloat
          c += 1
        }
        j += 1
      }
      (dots, normsq, math.sqrt(qn))
    }
  }

  /** Train per-subspace L2 k-means codebooks on the first `sampleSize`
    * vectors (bounded, driver-side, deterministic: evenly-spaced seeds,
    * sequential iteration — two calls on one source give bit-identical
    * codebooks, which the correctness dump relies on). `ksub` defaults
    * to 256 so a code cell is exactly one byte; with fewer than
    * `ksub` samples the effective ksub shrinks to the sample size. */
  def train(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 10,
      sampleSize: Int = 16384): Model = {
    require(m >= 1 && ksub >= 1 && ksub <= 256 && iters >= 1)
    val sample = df.select(vecCol).limit(sampleSize)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pq train: empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"pq train: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val k = math.min(ksub, sample.length)

    val codebooks = Array.tabulate(m) { j =>
      val off = j * dsub
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      // evenly-spaced deterministic seeds
      var cents = Array.tabulate(k) { c =>
        sub((c.toLong * sub.length / k).toInt).clone()
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Long](k)
        sub.foreach { v =>
          var best = 0
          var bestDist = Double.MaxValue
          var c = 0
          while (c < k) {
            var dist = 0.0
            var i = 0
            while (i < dsub) { val d = v(i) - cents(c)(i); dist += d * d; i += 1 }
            if (dist < bestDist) { bestDist = dist; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
          else {
            val out = new Array[Float](dsub)
            var i = 0
            while (i < dsub) { out(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
            out
          }
        }
        it += 1
      }
      cents
    }
    Model(codebooks)
  }

  /** Add the m-byte `code` column (one map-side pass, native expr). */
  def encode(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("code",
      Shim.column(PqEncode(Shim.expression(col(vecCol)), model.codebooks)))

  /** Approximate score column over a coded table (ADC; no re-rank). */
  def adcScore(df: DataFrame, codeCol: String, queryVec: Array[Float],
      model: Model): DataFrame = {
    val (dots, normsq, qn) = model.adcTables(queryVec)
    df.withColumn("adc_score", Shim.column(
      PqAdcScore(Shim.expression(col(codeCol)), dots, normsq, qn, model.m)))
  }

  /** Batch two-phase search: every query ADC-scans the codes (m
    * lookups per (code, query) pair — the tables of the whole batch
    * ride one [[graft.functions.PqAdcScoreAt]] expression), bounded
    * heaps keep k*refine per query, and the union of shortlists is
    * exact-re-ranked in ONE pass (broadcast shortlist pairs joined to
    * the corpus, then per-query heaps again). Output (qid, rank, id,
    * score) with exact scores — same shape as [[Knn.searchBatch]]. */
  def searchBatch(
      encoded: DataFrame,
      vecCol: String,
      codeCol: String,
      idCol: String,
      queries: DataFrame,
      qVecCol: String,
      qidCol: String,
      k: Int,
      model: Model,
      refine: Int = 5): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = encoded.sparkSession
    graft.Graft.init(spark)
    val qRows = Knn.collectBoundedQueries(
      queries.select(col(qidCol), col(qVecCol)), "pq searchBatch")
    require(qRows.nonEmpty, "pq searchBatch: empty query set")
    Knn.ensureHashAggCapacity(spark, qRows.length)
    val nq = qRows.length
    val per = model.m * model.ksub
    val dotsAll = new Array[Float](nq * per)
    val normsqAll = new Array[Float](nq * per)
    val qNorms = new Array[Double](nq)
    qRows.zipWithIndex.foreach { case (r, i) =>
      val (d, n, qn) = model.adcTables(r.getSeq[Float](1).toArray)
      System.arraycopy(d, 0, dotsAll, i * per, per)
      System.arraycopy(n, 0, normsqAll, i * per, per)
      qNorms(i) = qn
    }
    val ordSchema = StructType(Seq(
      StructField("qid", queries.schema(qidCol).dataType),
      StructField("__ord", IntegerType),
      StructField("__qvec", ArrayType(FloatType, containsNull = false))))
    val ordDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(
        qRows.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(0), i, r.getSeq[Float](1))
        }.toIndexedSeq, 1), ordSchema))
    // phase 1: ADC shortlist of k*refine per query (bounded heaps)
    val adcScored = encoded.select(col(idCol), col(codeCol))
      .crossJoin(ordDf.select("qid", "__ord"))
      .select(col("qid"),
        col(idCol).cast("long").as("__id"),
        Shim.column(graft.functions.PqAdcScoreAt(
          Shim.expression(col(codeCol)), Shim.expression(col("__ord")),
          dotsAll, normsqAll, qNorms, model.m)).as("__score"))
    val shortlist = Knn.topKPerQuery(adcScored, k * refine)
      .select(col("qid"), col("id").as("__sid"))
    // phase 2: exact cosine re-rank of the shortlist union, one pass
    val exact = encoded
      .join(broadcast(shortlist),
        col(idCol).cast("long") === col("__sid"))
      .join(ordDf.select("qid", "__qvec"), "qid")
      .select(col("qid"),
        col(idCol).cast("long").as("__id"),
        graft.Graft.cosineSim(col(vecCol), col("__qvec")).as("__score"))
    Knn.topKPerQuery(exact, k)
  }

  /** Two-phase search: ADC shortlist of k*refine over the codes, then
    * exact cosine re-rank of the shortlist against `vecCol`. Output
    * (idCol, score) with exact scores — same shape as [[Knn.search]]. */
  def search(
      encoded: DataFrame,
      vecCol: String,
      codeCol: String,
      idCol: String,
      queryVec: Array[Float],
      k: Int,
      model: Model,
      refine: Int = 5): DataFrame = {
    val shortlist = adcScore(encoded.select(idCol, codeCol), codeCol,
        queryVec, model)
      .orderBy(desc("adc_score"), col(idCol).asc)
      .limit(k * refine)
      .select(idCol)
      .collect().map(_.get(0)) // boundary set: k*refine ids
    Knn.search(
      encoded.filter(col(idCol).isin(shortlist.toIndexedSeq: _*)),
      vecCol, idCol, queryVec, k)
  }
}
