package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{CentroidBook, NearestCentroid}

/** IVF (inverted-file) approximate nearest neighbor — the k-means twin
  * of [[AnnLsh]]'s hyperplane bucketing, and the second scale path the
  * north-star extension set calls for.
  *
  * Industry-standard split (what faiss does): TRAIN the codebook on a
  * bounded sample driver-side — deterministic, seconds — then ASSIGN and
  * SEARCH distributed. At 100 TB the corpus never moves for training
  * (a codebook needs ~256·k sample vectors, not the corpus); assignment
  * is one map-side pass (`nearest_centroid` native expression, k×dim
  * tight loop per row); storage partitioned by cluster gives the same
  * scan pruning as [[graft.index.LshVectorIndex]]: a search touching
  * `nprobe` of `k` clusters never opens the other files.
  *
  * Spherical k-means (centroids L2-normalized each round) because the
  * engine metric is cosine (weaviate.py:26 `distance: cosine`).
  * Training is bit-deterministic for a fixed input: seeds are evenly
  * spaced sample rows, iteration is sequential driver-side — so two
  * calls in one session produce identical codebooks (the correctness
  * dump relies on this).
  */
object Ivf {

  /** A trained codebook. */
  case class Model(centroids: Array[Array[Float]]) {
    require(centroids.nonEmpty)
    val dim: Int = centroids(0).length

    // the row kernels' scoring loop: a query probes exactly the cells
    // its own row would be assigned to
    @transient private lazy val book = CentroidBook(centroids)

    /** The `n` centroid ids nearest to `v` (cosine desc, ties by id). */
    def nearest(v: Array[Float], n: Int = 1): Seq[Int] =
      book.ranked(v, n, _ => true)

    /** [[nearest]] restricted to `allowed` cells — the query-time
      * DEAD-CELL skip (r17): under sustained drift maintenance a cell
      * can end up with zero stored rows (grow captured its mass into
      * new cells), and spending a probe slot on it returns nothing.
      * Ranking over occupied cells only strictly adds candidates at
      * the same nprobe. */
    def nearestAmong(
        v: Array[Float], n: Int, allowed: Int => Boolean): Seq[Int] =
      book.ranked(v, n, allowed)
  }

  /** `v` scaled to unit L2 norm (a zero vector stays zero): the
    * spherical k-means centroid update of every IVF trainer. */
  private[graft] def normalize(v: Array[Double]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = if (s > 0) math.sqrt(s) else 1.0
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
    out
  }

  /** Train a k-cluster spherical-k-means codebook on the first
    * `sampleSize` vectors (faiss-style bounded sample; deterministic
    * for a fixed source). Empty clusters keep their previous centroid. */
  def train(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 10,
      sampleSize: Int = 16384): Model = {
    require(k >= 1 && iters >= 1)
    val sample = df.select(vecCol).limit(sampleSize)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.length >= k,
      s"ivf train: need at least k=$k sample vectors, got ${sample.length}")
    val dim = sample(0).length

    // evenly-spaced seeds: spread across the sample, deterministic
    var model = Model(Array.tabulate(k) { c =>
      normalize(sample((c.toLong * sample.length / k).toInt)
        .map(_.toDouble))
    })
    // Assignment is the k·sample·dim hot loop (the 1M-probe measured
    // it dominating SemDeDup's k=1024 composition at 86 s on one
    // thread). Parallelize across FIXED sample chunks, then merge
    // per-chunk partials in chunk order — deterministic regardless of
    // thread scheduling, because double addition happens in the same
    // order every run (a naive shared-accumulator parallel loop would
    // make the centroids run-dependent and break the oracle's aux
    // replays). The chunk size is a hardware-independent CONSTANT —
    // deriving it from availableProcessors would move chunk boundaries
    // (and float summation order, and the codebook's low-order bits)
    // across machines/container CPU limits, silently breaking the
    // "bit-deterministic for a fixed input" contract; the thread pool
    // still sizes itself to the box, only the work units are fixed.
    val chunkSize = 1024
    val chunks = sample.grouped(chunkSize).toArray
    var it = 0
    while (it < iters) {
      val m = model
      val partials = new Array[(Array[Array[Double]], Array[Long])](chunks.length)
      java.util.stream.IntStream.range(0, chunks.length).parallel()
        .forEach { ci =>
          val sums = Array.fill(k)(new Array[Double](dim))
          val counts = new Array[Long](k)
          chunks(ci).foreach { v =>
            val c = m.nearest(v).head
            var i = 0
            while (i < dim) { sums(c)(i) += v(i); i += 1 }
            counts(c) += 1
          }
          partials(ci) = (sums, counts)
        }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      partials.foreach { case (ps, pc) =>
        var c = 0
        while (c < k) {
          var i = 0
          while (i < dim) { sums(c)(i) += ps(c)(i); i += 1 }
          counts(c) += pc(c)
          c += 1
        }
      }
      model = Model(Array.tabulate(k) { c =>
        if (counts(c) == 0) model.centroids(c) else normalize(sums(c))
      })
      it += 1
    }
    model
  }

  /** Add the `cluster` column (write partitioned/clustered by it for
    * scan pruning, exactly like LshVectorIndex's `bucket`). */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("cluster",
      org.apache.spark.sql.graftshim.Shim.column(
        NearestCentroid(
          org.apache.spark.sql.graftshim.Shim.expression(col(vecCol)),
          model.centroids)))

  /** Distributed k-means: Lloyd iterations run IN the cluster — the
    * scale path when the codebook is too large for the sample trainer
    * ([[train]]'s chunk-parallel driver loop is k·sample·iters on one
    * box; at k in the tens of thousands, or when the sample must be
    * the corpus, the update itself has to distribute). Each round is
    * one codegen'd `nearest_centroid` map over the corpus plus ONE
    * partial-aggregated groupBy(cluster) → [[graft.Graft.vectorAvg]]
    * (map-side dim-length buffers), then a collect BOUNDED BY k rows;
    * lineage on `df` is re-read per round, so callers cache or
    * checkpoint their input for multi-round training.
    *
    * Determinism caveat (and why oracle queries keep [[train]]): the
    * distributed sum's merge order varies run to run, so centroids
    * are stable only up to floating-point addition order — identical
    * clusterings in practice, not bit-identical codebooks. Seeding
    * reuses [[train]]'s evenly-spaced bounded sample. */
  def trainDistributed(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 10,
      sampleSize: Int = 16384,
      seeds: Option[Array[Array[Float]]] = None): Model = {
    require(k >= 1 && iters >= 1)
    // explicit seeds (e.g. the STORED centroids in a retrain-in-place,
    // IvfVectorIndex.retrainInPlace) skip the sample draw: Lloyd then
    // REFINES the existing codebook instead of restarting it
    seeds.foreach(s => require(s.length == k,
      s"ivf trainDistributed: ${s.length} seeds for k=$k"))
    val seedSample = seeds.getOrElse(
      df.select(vecCol).limit(sampleSize)
        .collect().map(_.getSeq[Float](0).toArray))
    require(seedSample.length >= k,
      s"ivf trainDistributed: need at least k=$k seed vectors, got ${seedSample.length}")
    var model = Model(Array.tabulate(k) { c =>
      normalize(seedSample((c.toLong * seedSample.length / k).toInt)
        .map(_.toDouble))
    })
    var it = 0
    while (it < iters) {
      val sums = assign(df, vecCol, model)
        // dirty-input contract: dim-mismatched vectors assign to a
        // null cluster — drop them (as [[drift]] does) rather than
        // NPE on the null-key group's getInt below
        .filter(col("cluster").isNotNull)
        .groupBy("cluster")
        .agg(graft.Graft.vectorAvg(col(vecCol)).as("c"))
        .collect() // bounded: at most k rows of dim doubles
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      model = Model(Array.tabulate(k) { c =>
        sums.get(c).map(normalize).getOrElse(model.centroids(c))
      })
      it += 1
    }
    model
  }

  /** Batch IVF search: every query scores ONLY the clusters it probes.
    * Probe sets are computed driver-side from the (small, by the same
    * contract as [[Knn.searchBatch]]) query side and broadcast as
    * (qid, cluster, qvec) rows, so the probed-cluster equi-join does
    * Σ_q nprobe·|cluster| scoring work — the IVF saving — instead of
    * the exact batch's full cross product, and the corpus scan is
    * pruned to the UNION of probed clusters (isin pushdown; on an
    * [[graft.index.IvfVectorIndex]] layout that is partition pruning).
    * Output (qid, rank, id, score), same shape as [[Knn.searchBatch]]. */
  def searchBatch(
      assigned: DataFrame,
      vecCol: String,
      idCol: String,
      queries: DataFrame,
      qVecCol: String,
      qidCol: String,
      k: Int,
      model: Model,
      nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = assigned.sparkSession
    graft.Graft.init(spark)
    val qRows = Knn.collectBoundedQueries(
      queries.select(col(qidCol), col(qVecCol)), "ivf searchBatch")
    Knn.ensureHashAggCapacity(spark, qRows.length)
    val probeRows = qRows.flatMap { r =>
      val vec = r.getSeq[Float](1).toArray
      model.nearest(vec, nprobe).map(c =>
        org.apache.spark.sql.Row(r.get(0), c, vec.toSeq))
    }
    val schema = StructType(Seq(
      StructField("qid", queries.schema(qidCol).dataType),
      StructField("cluster", IntegerType),
      StructField("__qvec", ArrayType(FloatType, containsNull = false))))
    val probeDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1), schema))
    val allClusters = probeRows.map(_.getInt(1)).distinct.toIndexedSeq
    val scored = assigned
      .filter(col("cluster").isin(allClusters: _*))
      .join(probeDf, "cluster")
      .select(
        col("qid"),
        col(idCol).cast("long").as("__id"),
        graft.Graft.cosineSim(col(vecCol), col("__qvec")).as("__score"))
    Knn.topKPerQuery(scored, k)
  }

  /** Approximate top-k: exact cosine re-rank inside the `nprobe`
    * clusters nearest to the query. `nprobe = k` degrades gracefully to
    * exact search. */
  def search(
      assigned: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Array[Float],
      k: Int,
      model: Model,
      nprobe: Int = 1): DataFrame = {
    val probes = model.nearest(queryVec, nprobe)
    Knn.search(
      assigned.filter(col("cluster").isin(probes: _*)),
      vecCol, idCol, queryVec, k)
  }
  /** The codebook as a DataFrame (cluster, centroid array<float>) —
    * the persistable/aux-dumpable artifact a drift oracle or an
    * external engine re-derives assignments from. */
  def centroidsDf(
      spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
  }

  /** Codebook drift detection — the retrain trigger of a long-lived
    * IVF/SemDeDup deployment: score BOTH a reference window (the data
    * the codebook was trained on) and an incoming batch by cosine to
    * their nearest centroid ([[graft.functions.CentroidCosine]] — a
    * per-row map), then compare per cluster. `drift_frac` is the
    * fraction of incoming rows scoring below the reference band
    * (global mean − 2·std, both exact closed-form aggregates); when
    * it climbs, the codebook no longer represents the data and
    * [[train]]/[[trainDistributed]] should rerun. Output one row per
    * cluster: (cluster, n_ref, ref_mean_cos, n_new, new_mean_cos,
    * drift_frac) — clusters absent from a side carry 0/null there.
    *
    * Shape at 100 TB: two pure-map scoring passes + two bounded
    * per-cluster aggregates + a one-row broadcast band; no joins on
    * corpus rows, no window. */
  def drift(
      reference: DataFrame,
      incoming: DataFrame,
      vecCol: String,
      model: Model): DataFrame = {
    import org.apache.spark.sql.graftshim.Shim
    def scored(df: DataFrame) = df.select(
      Shim.column(NearestCentroid(
        Shim.expression(col(vecCol)), model.centroids)).as("cluster"),
      Shim.column(graft.functions.CentroidCosine(
        Shim.expression(col(vecCol)), model.centroids)).as("__cos"))
      .filter(col("cluster").isNotNull)
    val ref = scored(reference)
    val inc = scored(incoming)
    val band = ref.agg(
      avg("__cos").as("__m"),
      avg(col("__cos") * col("__cos")).as("__m2"))
      .select(col("__m"),
        sqrt(col("__m2") - col("__m") * col("__m")).as("__sd"))
    val refAgg = ref.groupBy("cluster").agg(
      count(lit(1)).cast("long").as("n_ref"),
      avg("__cos").as("__refMean"))
    val incAgg = inc.crossJoin(broadcast(band))
      .groupBy("cluster").agg(
        count(lit(1)).cast("long").as("n_new"),
        avg("__cos").as("__newMean"),
        avg(when(col("__cos") < col("__m") - lit(2.0) * col("__sd"), 1.0)
          .otherwise(0.0)).as("__belowFrac"))
    refAgg.join(incAgg, Seq("cluster"), "full_outer")
      .select(col("cluster"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        round(col("__refMean"), 6).as("ref_mean_cos"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(col("__newMean"), 6).as("new_mean_cos"),
        round(col("__belowFrac"), 6).as("drift_frac"))
  }
}
