package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexMerge, Ivf, Knn, Pq}

/** Vector index stored *partitioned by IVF cluster* — the k-means twin
  * of [[LshVectorIndex]], same 100 TB storage story: vectors land in
  * `cluster=<id>/` partition directories at write time, and a search
  * reads ONLY the `nprobe` probed clusters (Hive partition pruning —
  * unprobed files are never opened). Unlike the hyperplane buckets,
  * IVF cells follow the data distribution, so probing the nearest
  * cells gives better recall per file read on clustered corpora (the
  * usual case for embedding spaces).
  *
  * With a PQ model supplied at build time this becomes the full faiss
  * IVF+PQ layout: each row also carries an m-byte `code` column, and
  * [[search]] runs ADC first — the probed-cluster scan touches only
  * (docid, code), i.e. partition pruning × column pruning together cut
  * a 100 TB corpus to a few GB of actual read — then re-ranks the
  * shortlist by exact cosine from the `vector` column (predicate-pushed
  * id fetch). At small scale the two-phase cost exceeds the savings;
  * at cluster scale the scan reduction is the whole game.
  *
  * STORAGE IS MANIFEST-PINNED SNAPSHOTS (r17 — [[Manifests]]): every
  * write (build, append, compact, retrain, grow, merge) lands whole in
  * a fresh `gen=…` directory and becomes visible only through an
  * atomic manifest commit; committed generations are never mutated.
  * That makes maintenance safe against CONCURRENT READERS — a plan
  * resolved before a compact or a grow reads its pinned snapshot to
  * completion while the maintenance commits the next one beside it
  * (the discipline the flat versioned [[VectorIndex]] always had,
  * which the pre-r17 directory-swap compact and delete-then-promote
  * retrain loop lacked). Writers remain single-writer per index, as
  * for every lake in this engine. Codebooks version WITH the data
  * (`_books/…`, referenced by the manifest) so a pinned snapshot is
  * read with exactly the book its rows were assigned under.
  *
  * Append, compact and shard merge are the shared lifecycle
  * ([[ManifestIndex]]): shards built with the SAME codebooks (IVF
  * centroids and, when coded, the PQ books, bit-equal) assign vectors
  * alike, so their generations are disjoint row sets of the same index
  * and merge as directory moves — the 100 TB build shape: train the
  * codebook once on a sample, broadcast it, build shard indexes in
  * parallel (each a local sort + write), merge as metadata. */
class IvfVectorIndex private (
    val spark: SparkSession,
    val path: String,
    val model: Ivf.Model,
    val pqModel: Option[Pq.Model])
    extends ManifestIndex[IvfVectorIndex] {

  protected def family: Manifests.Family = IvfVectorIndex.Storage

  /** One file per cluster until clusters outgrow the target size. */
  protected def idealPartitions: Int = model.centroids.length

  /** Differing books assign the same vector to different clusters, and
    * the merged partitions would lie. */
  protected def requireMergeable(other: IvfVectorIndex): Unit = {
    require(model.centroids.length == other.model.centroids.length &&
      model.centroids.zip(other.model.centroids)
        .forall { case (a, b) => java.util.Arrays.equals(a, b) },
      "ivf merge: shards must be built with the SAME IVF codebook " +
      "(bit-equal centroids) — differing books assign the same vector " +
      "to different clusters and the merged partitions would lie")
    require(pqModel.isDefined == other.pqModel.isDefined &&
      pqModel.zip(other.pqModel).forall { case (a, b) =>
        a.codebooks.length == b.codebooks.length &&
        a.codebooks.zip(b.codebooks).forall { case (ba, bb) =>
          ba.zip(bb).forall { case (ca, cb) =>
            java.util.Arrays.equals(ca, cb) } }
      },
      "ivf merge: PQ codebooks must match (or both be absent)")
  }

  /** The CURRENT committed snapshot: file listing and schema come from
    * the newest manifest (resolved once per snapshot and reused,
    * [[Manifests.dataFrame]]), and the returned plan
    * stays valid through [[Manifests.DefaultRetain]]−1 subsequent
    * maintenance commits (snapshot isolation for concurrent
    * readers). */
  def df: DataFrame =
    Manifests.dataFrame(spark, path, Manifests.require(spark, path))

  /** Exact top-k inside the probed clusters (approximate overall;
    * nprobe = k clusters degrades gracefully to exact full-scan).
    * Probes rank over OCCUPIED cells only (r17): sustained grow
    * maintenance can empty a cell (its mass captured into new cells),
    * and a probe slot spent on it would return nothing — skipping
    * dead cells strictly adds candidates at the same nprobe, and
    * keeps a long-maintained codebook's dead entries costless at
    * query time. */
  def search(queryVec: Array[Float], k: Int, nprobe: Int = 1): DataFrame = {
    val m = Manifests.require(spark, path)
    val occupied = m.parts
      .map(p => Manifests.partitionValueOf(p).toInt).toSet
    val probes = model.nearestAmong(queryVec, nprobe, occupied)
    Knn.search(Manifests.dataFrame(spark, path, m)
        .filter(col("cluster").isin(probes: _*)),
      "vector", "docid", queryVec, k)
  }

  /** IVF+PQ two-phase search (requires a PQ-coded index): ADC shortlist
    * of k*refine over the probed clusters' (docid, code) columns only,
    * then exact cosine re-rank from the `vector` column. */
  def searchAdc(
      queryVec: Array[Float],
      k: Int,
      nprobe: Int = 1,
      refine: Int = 5): DataFrame = {
    val pq = pqModel.getOrElse(throw new IllegalStateException(
      s"Index at $path was built without a PQ model — use search()"))
    val m = Manifests.require(spark, path)
    val occupied = m.parts
      .map(p => Manifests.partitionValueOf(p).toInt).toSet
    val probes = model.nearestAmong(queryVec, nprobe, occupied)
    val probed = Manifests.dataFrame(spark, path, m)
      .filter(col("cluster").isin(probes: _*))
    val shortlist = Pq.adcScore(probed.select("docid", "code"), "code",
        queryVec, pq)
      .orderBy(desc("adc_score"), col("docid").asc)
      .limit(k * refine)
      .select("docid")
      .collect().map(_.getLong(0)) // boundary set: k*refine ids
    Knn.search(
      probed.filter(col("docid").isin(shortlist.toIndexedSeq: _*)),
      "vector", "docid", queryVec, k)
  }

  /** Incremental maintenance: assign new rows with the STORED codebook
    * (so existing partition pruning stays valid — the codebook is the
    * index's contract, never retrained on append) and land them in a
    * fresh generation; optionally PQ-code them when the index carries
    * codes. Unprobed clusters still never open; a drifted corpus
    * wants grow/retrain ([[growClusters]]/[[retrainInPlace]]), not an
    * append — same trade faiss documents for IVF.
    *
    * Crash footprint (r17, strictly better than the pre-manifest
    * append): the batch becomes visible ONLY at the manifest commit,
    * so an interrupted append leaves the index exactly as before —
    * no visible-subset window — and the orphan generation is reaped
    * by the next commit. The `_ranges` claim lands after the commit
    * (stats-last analogue): a crash in between leaves the batch
    * visible but unclaimed by the shard-merge guard — never a false
    * claim; per-append replay protection stays the caller's job
    * ([[graft.streaming.BatchLedger]] on the streaming path). */
  def append(docs: DataFrame, vecCol: String, idCol: String): IvfVectorIndex = {
    Manifests.appendGeneration(spark, path, family,
      IvfVectorIndex.rows(docs, vecCol, idCol, model, pqModel))
    RangeLedger.recordSpan(spark, path, docs, idCol)
    this
  }

  def count(): Long = df.count()

  /** The drift RESPONDER — completes the loop [[graft.operators.Ivf
    * .drift]] opens: re-cluster ONLY the flagged clusters' rows and
    * rewrite ONLY their partitions. Mechanics:
    *
    *  1. read the drifted partitions (partition-pruned — untouched
    *     clusters' files are never opened, let alone rewritten;
    *     spec-pinned via file mtimes);
    *  2. Lloyd-refine a LOCAL codebook over those rows,
    *     [[graft.operators.Ivf.trainDistributed]] seeded from the
    *     STORED centroids of the flagged clusters (a refinement of
    *     the existing book, not a restart — ids keep their meaning);
    *  3. reassign the rows among the refined centroids (local index →
    *     the same global cluster ids) and commit the rewritten
    *     partitions + patched codebook as one snapshot
    *     ([[commitRewrite]] — atomic visibility, reader-safe).
    *
    * PQ codes are content-addressed (vector × the global PQ book), so
    * rows keep their codes through reassignment — no re-encoding.
    *
    * Scope (the faiss trade, documented not hidden): rows of
    * UNTOUCHED clusters are not revisited, so a stale row that would
    * now prefer a refined centroid stays where it is until the next
    * full rebuild — retrain-in-place buys recall in the drifted
    * region for IO proportional to the drifted partitions, not the
    * corpus. */
  def retrainInPlace(
      driftedClusters: Seq[Int], iters: Int = 5): IvfVectorIndex = {
    require(driftedClusters.nonEmpty, "no drifted clusters given")
    require(driftedClusters.forall(c =>
      c >= 0 && c < model.centroids.length),
      s"cluster ids out of range: $driftedClusters")
    val drifted = driftedClusters.distinct.sorted
    val rows = df.filter(
      col("cluster").isin(drifted.map(Integer.valueOf): _*))
    val seeds = drifted.map(model.centroids(_)).toArray
    val local = Ivf.trainDistributed(
      rows, "vector", k = drifted.length, iters = iters,
      seeds = Some(seeds))
    // local index -> global cluster id through a tiny literal array
    val idMap = array(drifted.map(c => lit(c)): _*)
    val reassigned = Ivf.assign(rows.drop("cluster"), "vector", local)
      .withColumn("cluster",
        element_at(idMap, col("cluster") + 1))
    val patched = model.centroids.clone()
    drifted.zipWithIndex.foreach { case (g, i) =>
      patched(g) = local.centroids(i)
    }
    commitRewrite(reassigned, Ivf.Model(patched), replacing(drifted))
  }

  /** The snapshot commit shared by [[retrainInPlace]],
    * [[growClusters]] and [[rebuild]] (r14 staged roll-forward,
    * re-founded on [[Manifests]] in r17): the new codebook lands in a
    * fresh `_books` dir, the reassigned rows whole in a fresh
    * generation, and ONE manifest commit atomically (a) replaces
    * every partition `keep` drops, (b) drops a touched cluster that
    * ended refinement with zero rows (routine k-means: a refined
    * neighbor stole everything), and (c) swaps the codebook. A crash
    * BEFORE the commit leaves the index untouched (the orphan
    * generation and book are reaped later); there is no after-window
    * to roll forward — the commit IS the point of completion.
    * Concurrent readers pinned to the previous snapshot read it
    * undisturbed. */
  private def commitRewrite(
      reassigned: DataFrame,
      book: Ivf.Model,
      keep: Manifests.Manifest => Seq[String],
      maxRecordsPerFile: Long = Manifests.MaxRecordsPerFile)
      : IvfVectorIndex = {
    val m = Manifests.require(spark, path)
    val name = Manifests.bookName(m.n + 1)
    IvfVectorIndex.writeBook(spark, path, name, book.centroids, pqModel)
    Manifests.writeGeneration(spark, path, family, reassigned, Some(m),
      keep(m), Some(name), maxRecordsPerFile)
    graft.plans.AnnRouteRule.invalidate(path)
    new IvfVectorIndex(spark, path, book, pqModel)
  }

  /** The part lines of every cluster but `touched`. */
  private def replacing(touched: Seq[Int])(m: Manifests.Manifest)
      : Seq[String] = {
    val t = touched.toSet
    m.parts.filterNot(p => t.contains(Manifests.partitionValueOf(p).toInt))
  }

  /** The drift responder for NOVEL mass — GROW the codebook instead of
    * moving it (r16, the r15 probe's finding): when incoming vectors
    * form genuinely new modes, [[retrainInPlace]] can only RELOCATE
    * the flagged centroids toward them, which measurably COSTS recall
    * (queries then probe the refined strays-cluster while related
    * base mass sits in unretrained ones — 0.564 → 0.413 @ nprobe=1
    * even mass-gated, BASELINE r15).
    *
    * Why the obvious grow is also wrong, and this one is not: the
    * same probe's headline finding is that stored-book IVF recall is
    * SELF-CONSISTENT — queries and rows route with the same codebook,
    * so however stale the book, a query lands in the cell its
    * neighbors were assigned to. Any partial change that moves SOME
    * of a mode's rows into new cells while routing-equivalent rows
    * stay behind breaks that agreement (measured: seeding new cells
    * from only the flagged partitions' rows scored 0.202 @ nprobe=1 —
    * BELOW both no-maintenance 0.447 and relocate 0.288). The
    * recall-safe grow is FROZEN-BOOK COMPETITIVE:
    *
    *  1. existing centroids never move — a row whose nearest stored
    *     centroid was `c` still has nearest OLD centroid `c` under
    *     the patched book, so the only possible reassignment is
    *     old cell → new cell;
    *  2. `add` new centroids are seeded farthest-first from the
    *     flagged clusters' rows (pruned read — the flagging batch's
    *     novel mass was just appended there; each pick is the row
    *     with the lowest nearest-centroid cosine vs stored ∪ picked,
    *     so the second seed finds the second novel mode) and refined
    *     by Lloyd rounds that recompute ONLY the new cells from the
    *     candidate rows they win against the frozen book;
    *  3. movers are then captured LAKE-WIDE: one map-only pass scores
    *     every row against the patched book (the same full-scan
    *     class as [[graft.operators.Ivf.drift]]'s reference side),
    *     and every partition holding a row that now routes to a new
    *     cell is rewritten through [[commitRewrite]] — so after the
    *     commit, assignment == routing for EVERY row of the lake,
    *     restoring exact self-consistency with a strictly
    *     better-fitting book.
    *
    * IO: training is pruned to the flagged partitions; the capture
    * pass is map-only over the lake (no shuffle); the rewrite reads
    * and writes only partitions that actually contain movers. PQ
    * codes are content-addressed, so rows keep their codes; the
    * patched codebook has `k + add` rows and [[search]]'s pruning
    * contract extends to the new cells automatically. Single-writer
    * like all maintenance; readers are snapshot-safe
    * ([[graft.streaming.IndexStream.ingestIvf]]'s `growMeanRatio`
    * wires the drift report's shape to this choice). */
  def growClusters(
      driftedClusters: Seq[Int], add: Int,
      iters: Int = 5): IvfVectorIndex = {
    require(driftedClusters.nonEmpty, "no drifted clusters given")
    require(add >= 1, s"growClusters: add=$add must be >= 1")
    require(driftedClusters.forall(c =>
      c >= 0 && c < model.centroids.length),
      s"cluster ids out of range: $driftedClusters")
    val drifted = driftedClusters.distinct.sorted
    val k0 = model.centroids.length
    val candidates = df.filter(
      col("cluster").isin(drifted.map(Integer.valueOf): _*))
    // farthest-first seeds for the new cells
    import org.apache.spark.sql.graftshim.Shim
    val newSeeds = scala.collection.mutable.ArrayBuffer
      .empty[Array[Float]]
    (0 until add).foreach { _ =>
      val book = model.centroids ++ newSeeds
      val far = candidates.select(col("docid"), col("vector"),
          Shim.column(graft.functions.CentroidCosine(
            Shim.expression(col("vector")), book)).as("__cos"))
        .orderBy(col("__cos").asc_nulls_last, col("docid").asc)
        .select(col("vector"), col("__cos")).limit(1).collect()
      require(far.nonEmpty && !far(0).isNullAt(0),
        "growClusters: flagged clusters hold no rows to seed from")
      newSeeds += far(0).getSeq[Float](0).toArray
    }
    // competitive Lloyd: assign candidates against frozen ∪ new, then
    // recompute ONLY the new cells from the rows they won — one
    // codegen'd map + one add-row aggregate per round
    var newC: Array[Array[Float]] = newSeeds.toArray
    var it = 0
    while (it < iters) {
      val won = Ivf.assign(candidates.drop("cluster"), "vector",
          Ivf.Model(model.centroids ++ newC))
        .filter(col("cluster") >= k0)
        .groupBy("cluster")
        .agg(graft.Graft.vectorAvg(col("vector")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      newC = Array.tabulate(add) { i =>
        won.get(k0 + i).map(Ivf.normalize).getOrElse(newC(i))
      }
      it += 1
    }
    val patched = model.centroids ++ newC
    val patchedModel = Ivf.Model(patched)
    // lake-wide capture: which partitions hold rows that now route to
    // a new cell? One map pass, a bounded (≤ k) distinct
    val touched = Ivf.assign(
        df.withColumnRenamed("cluster", "__old"), "vector", patchedModel)
      .filter(col("cluster") >= k0 && col("cluster") =!= col("__old"))
      .select("__old").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) // nothing routes to the new cells: keep the
      return this        // stored book — adding dead cells buys nothing
    val rows = df.filter(
      col("cluster").isin(touched.map(Integer.valueOf): _*))
    val reassigned = Ivf.assign(rows.drop("cluster"), "vector",
      patchedModel)
    commitRewrite(reassigned, patchedModel, replacing(touched))
  }

  /** RE-FIT the codebook to the current corpus and rewrite the whole
    * snapshot under it — the bounded-k escape hatch for SUSTAINED
    * drift (r17, the r16 verdict's #3): [[growClusters]] only ever
    * ADDS cells (one per flagged cluster per epoch), so a corpus
    * whose modes keep moving grows k monotonically and every epoch
    * pays the lake-wide capture scan. When k crosses the operator's
    * bound (see [[graft.streaming.IndexStream.ingestIvf]]'s
    * `maxCells`), one rebuild re-fits the ORIGINAL cell budget to
    * everything the lake now holds: dead cells disappear, novel
    * modes get first-class cells, k resets.
    *
    * Unlike [[IvfVectorIndex.build]] this preserves the index's
    * operational sidecars (`_ranges` claims, `_batches` delivery
    * ledger, `_quiesced`) — a streaming ingest's replay protection
    * must survive the maintenance — and commits through the same
    * snapshot protocol as every other rewrite (concurrent readers
    * pinned to the old book + old layout finish undisturbed). */
  def rebuild(newModel: Ivf.Model,
      maxRecordsPerFile: Long = Manifests.MaxRecordsPerFile)
      : IvfVectorIndex = {
    require(newModel.dim == model.dim,
      s"rebuild: dimension mismatch (${newModel.dim} vs ${model.dim})")
    commitRewrite(Ivf.assign(df.drop("cluster"), "vector", newModel),
      newModel, _ => Nil, maxRecordsPerFile)
  }
}

object IvfVectorIndex {

  /** Cluster-partitioned, docid-sorted generations: parquet row-group
    * min/max stats on docid are then disjoint ranges, so the shortlist
    * re-rank ([[IvfVectorIndex.searchAdc]]) and candidate-vector
    * fetches (Bm25Index.hybridSearch) prune to the few row groups
    * holding their In(docid) set. A settled merge drops the routing
    * rule's cached codebooks of the destination and of the absorbed
    * sources. */
  private[index] val Storage: Manifests.Family =
    new Manifests.Family("cluster", "docid") {
      override def settle(spark: SparkSession, path: String,
          srcs: Seq[String], stats: Seq[Long]): Unit =
        (path +: srcs.map(_.stripSuffix(IndexMerge.OwnedSuffix)))
          .foreach(graft.plans.AnnRouteRule.invalidate)
    }

  /** `docs` as index rows: the stored codebook's cluster, the vector as
    * `vector`, the id as `docid`, and the PQ `code` when coded. */
  private def rows(docs: DataFrame, vecCol: String, idCol: String,
      model: Ivf.Model, pqModel: Option[Pq.Model]): DataFrame = {
    val assigned = Ivf.assign(docs, vecCol, model)
      .withColumnRenamed(vecCol, "vector")
      .withColumnRenamed(idCol, "docid")
    pqModel.fold(assigned)(Pq.encode(assigned, "vector", _))
  }

  /** Build from (docid, vector, …) rows with a trained codebook; pass
    * `pqModel` to also store m-byte PQ codes (the IVF+PQ layout). A
    * rebuild over an existing path replaces the index whole. */
  def build(
      docs: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      model: Ivf.Model,
      pqModel: Option[Pq.Model] = None,
      maxRecordsPerFile: Long = Manifests.MaxRecordsPerFile)
      : IvfVectorIndex = {
    val spark = docs.sparkSession
    // a build REPLACES the path (the pre-manifest overwrite semantics)
    Manifests.reset(spark, path)
    val book = Manifests.bookName(1L)
    writeBook(spark, path, book, model.centroids, pqModel)
    Manifests.writeGeneration(spark, path, Storage,
      rows(docs, vecCol, idCol, model, pqModel), None, Nil, Some(book),
      maxRecordsPerFile)
    // fresh build (the reset removed the old ledger): the docid-range
    // ledger holds this corpus's interval — [[mergeAll]]'s
    // shard-disjointness guard
    RangeLedger.recordSpan(spark, path, docs, idCol)
    // A rebuild over an existing path replaces the codebook: sessions
    // with spark.graft.ann.autoRoute=true must not keep routing with
    // the stale cached centroids (probes against old centroids over new
    // cluster assignments silently return wrong top-k).
    graft.plans.AnnRouteRule.invalidate(path)
    new IvfVectorIndex(spark, path, model, pqModel)
  }

  /** Persist a codebook version under `_books/<name>`: the IVF
    * centroids (and the PQ books when coded) — referenced by the
    * manifest, immutable once written, reaped with the manifests that
    * reference it. */
  private[index] def writeBook(
      spark: SparkSession, path: String, name: String,
      centroids: Array[Array[Float]], pqModel: Option[Pq.Model]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_books/$name/centroids")
    pqModel.foreach { pq =>
      // flatten m x ksub x dsub to rows (subspace, centroid, values)
      pq.codebooks.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cen, c) => (j, c, cen.toSeq) }
      }.toSeq.toDF("subspace", "centroid", "values")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_books/$name/pq")
    }
  }

  /** The centroids stored in a codebook directory, in cluster order.
    * k-row codebooks are read on the driver (no Spark job per load —
    * two jobs plus their scheduling gaps per IVF construction before,
    * r17 optimization round). */
  private[graft] def readCentroids(
      spark: SparkSession, dir: String): Array[Array[Float]] =
    DriverParquet.groups(spark, dir)
      .sortBy(_.getInteger("cluster", 0))
      .map(g => DriverParquet.floatArray(g, "centroid"))
      .toArray

  /** Open an index, recovering the persisted codebook(s) of the
    * current snapshot; rolls an interrupted shard merge forward
    * first ([[Manifests.completeMerge]]) so a crashed merge window
    * never leaves a half-absorbed index. */
  def load(spark: SparkSession, path: String): IvfVectorIndex = {
    Manifests.completeMerge(spark, path, Storage)
    val m = Manifests.require(spark, path)
    val book = m.book.getOrElse(throw new IndexNotFoundException(
      s"No IVF codebook recorded in the manifest at $path"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cdir = s"$path/_books/$book/centroids"
    if (!fs.exists(new org.apache.hadoop.fs.Path(cdir)))
      throw new IndexNotFoundException(s"No IVF codebook at $cdir")
    val centroids = readCentroids(spark, cdir)
    val pqDir = s"$path/_books/$book/pq"
    val pq =
      if (!fs.exists(new org.apache.hadoop.fs.Path(pqDir))) None
      else {
        val cells = DriverParquet.groups(spark, pqDir)
          .sortBy(g => (g.getInteger("subspace", 0),
            g.getInteger("centroid", 0)))
          .map(g => (g.getInteger("subspace", 0),
            DriverParquet.floatArray(g, "values")))
        Some(Pq.Model(cells.groupBy(_._1).toSeq.sortBy(_._1)
          .map(_._2.map(_._2).toArray).toArray))
      }
    new IvfVectorIndex(spark, path, Ivf.Model(centroids), pq)
  }
}
