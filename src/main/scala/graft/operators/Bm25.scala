package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{DriverParquet, RangeLedger}

/** BM25 keyword relevance — the lexical half of a txtai-family hybrid
  * engine (the reference family's `scoring="bm25"` / hybrid search
  * config; the studied repo itself delegates keyword scoring to the
  * server it wraps). Spark-first shapes:
  *
  *  - posting construction is one `explode` + partial-aggregated
  *    `groupBy` (map-side combine collapses per-doc term repeats before
  *    the shuffle);
  *  - ad-hoc scoring keeps the whole plan declarative: corpus stats ride
  *    a broadcast 1-row crossJoin, per-term document frequencies ride a
  *    broadcast hash join, and the final top-k lowers to
  *    TakeOrderedAndProject;
  *  - at scale, [[Bm25Index]] persists postings partitioned by a hashed
  *    term bucket: a query prunes to its terms' buckets (Hive partition
  *    pruning — unmatched buckets are never opened), which is the
  *    inverted-index read pattern at 100 TB.
  *
  * One body per step serves every (single/batch) × (ad-hoc/indexed)
  * form: one scorer per source ([[scoreBatch]] over a corpus,
  * `Bm25Index.termScores` over the index), one per-qid min-max
  * [[blendMinMax]], one per-qid top-k ([[rankPerQuery]]) and one query
  * tokenizer ([[termsOf]]). A single-query form is its batch form at
  * qid 0, so single and batch results agree by construction.
  *
  * Scoring is Okapi BM25 with the Lucene idf (ln(1 + (N-df+0.5)/(df+0.5)),
  * always positive). Per-term contributions are rounded to integer
  * MICROS before the per-doc sum so the aggregate is associative —
  * float summation order varies across partitions, integer sums don't —
  * making results reproducible and oracle-checkable bit-for-bit.
  * Constants (2.2, 1.2, 0.25, 0.75) are written as literals on both the
  * engine and oracle sides so they parse to identical doubles.
  */
object Bm25 {

  /** Tokenizer shared with the oracle side: RE2/Java-compatible, no
    * lookarounds, reproducible in DuckDB's regexp_extract_all. */
  val TokenPattern = "[a-z]+|[0-9]+"

  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** Query text → its distinct terms, tokenized like the corpus. Text
    * without a term throws, the message led by the caller's `prefix`
    * (`hybrid:`, `keyword:`, `keyword_score:`). */
  private[graft] def termsOf(text: String, prefix: String): Seq[String] = {
    val terms = Bm25.TokenPattern.r
      .findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSeq.distinct
    require(terms.nonEmpty, s"$prefix no query terms in '$text'")
    terms
  }

  /** Query terms lower-cased and deduplicated; none left throws `empty`. */
  private[operators] def normTerms(terms: Seq[String], empty: => String)
      : Seq[String] = {
    val t = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(t.nonEmpty, empty)
    t
  }

  /** A result count below one throws, naming the argument. */
  private[operators] def requireAtLeastOne(n: Int, name: String): Unit =
    require(n >= 1, s"bm25: $name must be at least 1, got $n")

  /** Inverted-index rows: (docid, dl, term, tf) — one row per distinct
    * (document, term), `dl` the document's token count carried
    * denormalized so scoring never joins back to the corpus. */
  def postings(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("docid"),
        tokens(col(textCol)).as("__toks"))
      // explode_outer + isnotnull, not explode (r18): the non-outer
      // explode over the __toks attribute triggers Catalyst's
      // InferFiltersFromGenerate, whose alias-substituted predicate
      // re-ran the full tokenize in the scan (see
      // TextDedup.exploded). Row-identical: tokens() elements
      // are regexp matches (never null), so the isnotnull(term) filter
      // drops exactly the null/empty-array rows explode dropped.
      .select(col("docid"), size(col("__toks")).cast("long").as("dl"),
        explode_outer(col("__toks")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("docid", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** 1-row corpus stats (n docs, mean token count) — broadcast into the
    * scoring plan, never collected to the driver. */
  def stats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(size(tokens(col(textCol))).cast("long").as("__dl"))
      .agg(count(lit(1)).as("n"), sum(col("__dl")).as("__sumdl"))
      .select(col("n"),
        (col("__sumdl").cast("double") / col("n")).as("avgdl"))

  /** Raw mergeable stats: (n, sumdl) as LONGS — the exact form
    * [[Bm25Index]] persists so an append merges bit-exactly (long
    * addition is associative; a stored double avgdl would drift from
    * the full-rebuild value) — plus the batch's (min_id, max_id) for
    * the append overlap guard. Null texts count in n, contribute 0 dl. */
  private[operators] def statsRaw(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(size(tokens(col(textCol))).cast("long").as("__dl"),
        col(idCol).cast("long").as("__id"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("__dl")), lit(0L)).as("sumdl"),
        min(col("__id")).as("min_id"), max(col("__id")).as("max_id"))

  /** Per-document marker term injected into [[postingsWithMarker]]: the
    * tokenizer can never produce it ([a-z]+|[0-9]+ excludes NUL), so
    * marker rows are invisible to term matching while letting corpus
    * stats (n, avgdl) ride the SAME postings pass — including docs with
    * zero tokens, which a plain explode would drop. */
  private[operators] val DocMarker = "\u0000"

  /** Postings plus one marker row per document (see [[DocMarker]]).
    * `dl` is the REAL token count (marker excluded); a null text yields
    * just its marker row with a null dl, mirroring [[stats]] (counted
    * in n, skipped by the dl sum). */
  private[operators] def postingsWithMarker(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("docid"),
        tokens(col(textCol)).as("__toks"))
      .select(col("docid"), size(col("__toks")).cast("long").as("dl"),
        explode(concat(array(lit(DocMarker)),
          coalesce(col("__toks"), array()))).as("term"))
      .groupBy("docid", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** Per-term micro-score column (see scoring notes above). Callers
    * provide tf/dl/df/n/avgdl columns; k1/b default to the standard
    * 1.2/0.75 (0.25 = 1-b and 2.2 = k1+1 are written out so the doubles
    * are literal-identical to the oracle SQL). */
  private[operators] def termMicros(
      tf: Column, dl: Column, df: Column, n: Column, avgdl: Column): Column = {
    val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    val tfn = tf * lit(2.2) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))
    round(idf * tfn * lit(1000000.0), 0).cast("long")
  }

  /** Ad-hoc BM25: (docid, bm25_micros) for every document matching at
    * least one query term — [[scoreBatch]] at qid 0. Use [[Bm25Index]]
    * when the corpus is indexed ahead of time. */
  def score(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    scoreBatch(docs, textCol, idCol, Seq((0L, queryTerms))).drop("qid")
  }

  /** Top-k convenience over [[score]]: deterministic ties on docid;
    * lowers to TakeOrderedAndProject. */
  def topK(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k: Int): DataFrame = {
    requireAtLeastOne(k, "k")
    score(docs, textCol, idCol, queryTerms)
      .orderBy(desc("bm25_micros"), col("docid").asc)
      .limit(k)
  }

  /** Hybrid lexical+semantic ranking — txtai's `hybrid: true` blend
    * ([[blendMinMax]] over every matched candidate, no top-k) at qid 0:
    * (docid, hybrid_micros). `embeddings` supplies (embIdCol,
    * embVecCol); candidates missing an embedding drop out. */
  def hybrid(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      embeddings: DataFrame,
      embIdCol: String,
      embVecCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Float],
      alpha: Double = 0.5): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    blendMinMax(scoreBatch(docs, textCol, idCol, Seq((0L, queryTerms))),
        embeddings, embIdCol, embVecCol, Seq((0L, queryTerms, queryVec)), alpha)
      .select(col("docid"), col("hybrid_micros").cast("long").as("hybrid_micros"))
  }

  /** Faceted keyword search — the reference family's
    * Aggregate-over-filtered-search (Weaviate's GraphQL `Aggregate`
    * with a `where`/`near` restriction): per-facet statistics over the
    * documents matching the query, computed in the SAME plan as the
    * match itself. One corpus pass produces the scored candidate set
    * ([[score]]'s single-scan plan), one hash-partitioned groupBy on
    * the facet column reduces it — candidates join their facet values
    * by id, so the corpus text is never carried through the facet
    * shuffle. Output (facet value, n_docs, sum/max micros) — the hit
    * counts and score mass a search UI renders next to the top-k. */
  def facets(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      facetCol: String): DataFrame = {
    val matched = score(docs, textCol, idCol, queryTerms)
    val sides = docs.select(col(idCol).cast("long").as("docid"),
      col(facetCol).as("facet"))
    matched.join(sides, "docid")
      .groupBy("facet")
      .agg(count(lit(1)).as("n_docs"),
        sum("bm25_micros").as("sum_micros"),
        max("bm25_micros").as("max_micros"))
  }

  /** The ad-hoc scorer: (qid, docid, bm25_micros) for every document
    * matching at least one of its query's terms, every query served by
    * ONE declarative plan that scans and tokenizes the corpus exactly
    * ONCE.
    *
    * Single-scan mechanics (the naive formulation re-tokenized the
    * corpus three times — once each for matched postings, per-term df,
    * and n/avgdl stats):
    *  - [[postingsWithMarker]] carries corpus stats IN the postings
    *    (one un-matchable marker row per doc), so n/avgdl derive from
    *    the same shuffled postings;
    *  - both consumers keep the postings exchange byte-identical so
    *    Spark's ReuseExchange runs it once: term matching is a
    *    broadcast JOIN on a (qid, term) table (an `isin` filter would
    *    push below the aggregate and fork the exchange into a filtered
    *    twin; a posting matched by m queries fans out m-fold AFTER the
    *    shared exchange) and the stats aggregate consumes every posting
    *    column (column pruning would otherwise rewrite the shared
    *    subtree per-branch);
    *  - per-(qid, term) df is a window count over the matched rows (a
    *    separate groupBy branch would be a third consumer shape and,
    *    pre-reuse, was the second corpus scan). */
  def scoreBatch(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "bm25: empty query batch")
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = queries.flatMap { case (qid, terms) =>
      normTerms(terms.filter(_ != DocMarker), s"bm25: empty query $qid")
        .map(term => (qid, term))
    }.toDF("qid", "term")
    val p = postingsWithMarker(docs, textCol, idCol)
    val st = p
      .join(broadcast(Seq(DocMarker).toDF("term")), "term")
      // count(docid) + sum(dl*tf), not count(*) + sum(dl): a marker
      // row's tf is exactly 1, so the numbers are identical — but this
      // form consumes all four posting columns, which keeps the
      // postings aggregate byte-identical to the matched branch's (the
      // optimizer prunes unused aggregate functions per-branch, and a
      // pruned twin would fork the shared exchange — see reuse note)
      .agg(count(col("docid")).as("n"),
        sum(col("dl") * col("tf")).as("__sumdl"))
      .select(col("n"),
        (col("__sumdl").cast("double") / col("n")).as("avgdl"))
    p.join(broadcast(qTerms), "term")
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid", "term")))
      .crossJoin(broadcast(st))
      .select(col("qid"), col("docid"),
        termMicros(col("tf"), col("dl"), col("df"), col("n"),
          col("avgdl")).as("__micros"))
      .groupBy("qid", "docid")
      .agg(sum("__micros").as("bm25_micros"))
  }

  /** Bounded-heap top-k per qid over [[scoreBatch]] →
    * (qid, rank, docid, bm25_micros). */
  def topKBatch(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame = {
    requireAtLeastOne(k, "k")
    rankPerQuery(scoreBatch(docs, textCol, idCol, queries), "bm25_micros",
      k, queries.length)
  }

  /** Batch hybrid — N queries in ONE declarative plan (the reference's
    * workflow surface serves element LISTS; a per-element driver loop
    * runs N full jobs and re-tokenizes the corpus N times): the lexical
    * half is [[scoreBatch]]'s shared postings pass, the blend is
    * [[blendMinMax]], and the final top-k is [[rankPerQuery]]'s
    * bounded heap — the shuffle carries per-partition heaps, not
    * scored candidates.
    *
    * Output (qid, rank, docid, hybrid_micros), rank 1-based, ties on
    * docid ascending — per qid, [[hybrid]]'s top-k. */
  def hybridBatch(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      embeddings: DataFrame,
      embIdCol: String,
      embVecCol: String,
      queries: Seq[(Long, Seq[String], Array[Float])],
      k: Int,
      alpha: Double = 0.5): DataFrame = {
    requireAtLeastOne(k, "k")
    val lex = scoreBatch(docs, textCol, idCol,
      queries.map { case (qid, terms, _) => (qid, terms) })
    rankPerQuery(blendMinMax(lex, embeddings, embIdCol, embVecCol, queries,
      alpha), "hybrid_micros", k, queries.length)
  }

  /** The one hybrid blend. Each lexical candidate `(qid, docid,
    * bm25_micros)` joins its vector from `vectors` (`vecIdCol`,
    * `vecCol`; a candidate without one drops out — at scale both sides
    * shuffle on the id, and the candidate side is already pruned to
    * term matches) and its query's vector from a broadcast
    * (qid, qvec) table, so cosine runs over Σq |cand(q)| rows, never
    * queries × corpus. BM25 micros and cosines are then min-max
    * normalized over each qid's candidates (order-independent
    * aggregates, riding a broadcast groupBy join) and blended
    * `alpha*semantic + (1-alpha)*lexical` (txtai's weight convention);
    * a qid whose bounds coincide scores 1.0 on that side.
    * Output (qid, docid, hybrid_micros) with the micros a rounded
    * double, so ordering is reproducible.
    *
    * The cosine projection sits ABOVE the candidate join (column
    * pruning reaches the vector scan, and Catalyst never pushes
    * expression projections below a join); the candidates are read
    * twice (bounds + blend) but their lineage is shared via
    * ReuseExchange. */
  private[operators] def blendMinMax(
      lex: DataFrame,
      vectors: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queries: Seq[(Long, Seq[String], Array[Float])],
      alpha: Double): DataFrame = {
    val spark = lex.sparkSession
    import spark.implicits._
    val qVecs = queries.map { case (qid, _, v) => (qid, v.toSeq) }
      .toDF("qid", "__qvec")
      .select(col("qid"), col("__qvec").cast("array<float>").as("__qvec"))
    val cand = lex
      .join(vectors.select(col(vecIdCol).cast("long").as("docid"),
        col(vecCol).as("__v")), "docid")
      .join(broadcast(qVecs), "qid")
      .select(col("qid"), col("docid"), col("bm25_micros"),
        graft.Graft.cosineSim(col("__v"), col("__qvec")).as("__cos"))
    val bounds = cand.groupBy("qid").agg(
      min("bm25_micros").as("__bmin"), max("bm25_micros").as("__bmax"),
      min("__cos").as("__cmin"), max("__cos").as("__cmax"))
    val normB = when(col("__bmax") === col("__bmin"), lit(1.0))
      .otherwise((col("bm25_micros") - col("__bmin")).cast("double") /
        (col("__bmax") - col("__bmin")).cast("double"))
    val normC = when(col("__cmax") === col("__cmin"), lit(1.0))
      .otherwise((col("__cos") - col("__cmin")) /
        (col("__cmax") - col("__cmin")))
    cand.join(broadcast(bounds), "qid")
      .select(col("qid"), col("docid"),
        round((lit(alpha) * normC + lit(1.0 - alpha) * normB) *
          lit(1000000.0), 0).as("hybrid_micros"))
  }

  /** Bounded-heap top-k per qid (the partial aggregate shared with
    * [[Knn.searchBatch]]) over `(qid, docid, <scoreCol>)` →
    * (qid, rank, docid, <scoreCol> as long), rank 1-based, ties on
    * docid ascending. The r2 scale lesson (BASELINE.md):
    * ObjectHashAggregate falls back to sort-based at 128 distinct keys
    * per partition, which would sort-and-spill every scored candidate,
    * so the threshold is raised to the `nQueries` batch size first. */
  private[operators] def rankPerQuery(scored: DataFrame, scoreCol: String,
      k: Int, nQueries: Int): DataFrame = {
    Knn.ensureHashAggCapacity(scored.sparkSession, nQueries)
    Knn.topKPerQuery(
        scored.select(col("qid"), col("docid").as("__id"),
          col(scoreCol).cast("double").as("__score")),
        k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("id").as("docid"), col("score").cast("long").as(scoreCol))
  }

  /** One qid's ranked rows in rank order, projected to
    * `(docid, <scoreCol>)` — how a single-query form reads its batch
    * form. The rows are few, so they sort in one partition (no range
    * exchange, no sampling job). */
  private[operators] def oneQuery(ranked: DataFrame, scoreCol: String)
      : DataFrame =
    ranked.coalesce(1).sortWithinPartitions("rank")
      .select(col("docid"), col(scoreCol))
}

/** Persisted inverted index: postings stored partitioned by
  * `bucket = pmod(hash(term), nBuckets)` so a keyword query opens ONLY
  * its terms' buckets (Hive partition pruning — same 100 TB storage
  * story as [[graft.index.LshVectorIndex]]), with the corpus stats in a
  * `_stats` sidecar the partition reader ignores.
  *
  * STORAGE IS MANIFEST-PINNED SNAPSHOTS (r17 — [[graft.index
  * .Manifests]], the vector families' discipline brought to the
  * postings lakes): every postings write (build, append, streamed
  * batch, compact, merge) lands whole in a fresh `gen=…` directory
  * and becomes visible only at an atomic manifest commit, so
  * [[compact]] and [[mergeAll]] are safe against CONCURRENT READERS —
  * a query plan resolved before the maintenance reads its pinned
  * snapshot to completion (until r17 compact swapped the live
  * directory out from under in-flight probes; the contract was
  * "maintenance windows only"). Writers stay single-writer per lake.
  * The driver-read sidecars (`_stats`, `_ranges`, `_meta`,
  * `_batches`, `_stats_pending`, `_quiesced`) remain top-level and
  * unversioned: they are resolved at load/maintenance time, never by
  * a pinned scan — a [[Bm25Index]] handle captures (n, Σdl) at load,
  * so a concurrent append moves neither a pinned plan nor a pinned
  * handle's scoring.
  *
  * Compact and shard merge are the shared lifecycle
  * ([[graft.index.ManifestIndex]]). BM25 scoring stays exact through a
  * merge by construction: per-term df is computed from the merged
  * postings at query time, and the global (n, Σdl) sum into `_stats`
  * through the merge marker. The `_meta` sidecars concatenate at file
  * level too — shards hold disjoint docid ranges, so their
  * docid-sorted meta files keep row-group min/max pruning intact. */
class Bm25Index private (
    val spark: SparkSession,
    val path: String,
    val n: Long,
    val sumdl: Long,
    val nBuckets: Int)
    extends graft.index.ManifestIndex[Bm25Index]
    with org.apache.spark.internal.Logging {

  protected def family: graft.index.Manifests.Family = Bm25Index.Storage

  protected def idealPartitions: Int = nBuckets

  protected def requireMergeable(o: Bm25Index): Unit =
    require(o.nBuckets == nBuckets,
      s"bm25 merge: bucket-count mismatch ($nBuckets vs " +
      s"${o.nBuckets}); shards must be built with the same buckets")

  override protected def mergedStats(others: Seq[Bm25Index]): Seq[Long] =
    Seq(n + others.map(_.n).sum, sumdl + others.map(_.sumdl).sum,
      nBuckets.toLong)

  override protected def reloaded: Bm25Index = Bm25Index.load(spark, path)

  /** Derived exactly as a full rebuild would: one double division over
    * the exact long totals — so build(A)+append(B) scores are
    * bit-identical to build(A∪B). */
  val avgdl: Double = sumdl.toDouble / n

  /** The CURRENT committed snapshot's postings, resolved now and
    * pinned ([[graft.index.Manifests.DefaultRetain]]−1 further
    * maintenance commits of validity — the vector families'
    * reader contract). */
  def postings: DataFrame = {
    val m = graft.index.Manifests.require(spark, path)
    graft.index.Manifests.dataFrame(spark, path, m)
  }

  /** Incremental append — the growing-corpus path (a day's crawl lands
    * without re-tokenizing the existing 100 TB): the new docs' postings
    * append into their term-bucket partitions (existing files
    * untouched; unmatched buckets still never open on read), and the
    * `(n, sumdl)` sidecar merges with exact long addition, so ranking
    * after append is bit-identical to a full rebuild over the union.
    *
    * Caller contract (mirror of [[graft.index.VectorIndex.append]]'s
    * offset-continuing semantics): `idCol` values must be disjoint from
    * the already-indexed corpus — re-appending an indexed doc would
    * double-count its postings, same as the reference family's append
    * (weaviate.py:135-149) which never dedups server-side. The
    * contract is ENFORCED cheaply: every build/append records its
    * docid [min,max] in a `_ranges` sidecar, and an append whose id
    * range intersects a recorded one throws instead of silently
    * corrupting scores (ranges, not exact sets — O(appends) driver
    * memory at any corpus size; disjoint-range batches, the normal
    * ingest pattern, never false-positive). `force = true` skips the
    * guard for callers interleaving id ranges ON PURPOSE — the
    * double-count risk is then theirs. Repeated appends leave one
    * small file per append per bucket; [[compact]] folds them — safe
    * against concurrent readers since r17, so no maintenance window
    * is needed.
    *
    * Appending also invalidates any `keyword_score` registration of
    * this index ([[graft.Keyword.invalidateIndex]]) — the pre-append
    * stats are wrong for the grown corpus, so scoring must re-register
    * the RETURNED index rather than silently using stale n/df. */
  def append(docs: DataFrame, textCol: String, idCol: String,
      force: Boolean = false): Bm25Index = {
    val Array(st) = Bm25.statsRaw(docs, textCol, idCol).collect()
    val (nNew, sumdlNew) = (st.getLong(0), st.getLong(1))
    if (nNew == 0L) return this
    require(!st.isNullAt(2),
      s"bm25 append: every value of id column '$idCol' casts to null")
    val (lo, hi) = (st.getLong(2), st.getLong(3))
    if (!force) RangeLedger.requireDisjoint(
      RangeLedger.read(spark, path), "bm25 append", lo, hi)
    // repartition ON the bucket (r14) — one file per touched bucket
    // per append instead of tasks x buckets slivers (ShingleIndex
    // .appendBatch's note; the batch-sized shuffle is the cheap side).
    // The batch lands whole in a fresh generation and becomes visible
    // at the manifest commit (r17) — an interrupted append leaves the
    // index exactly as before, and the orphan generation is reaped by
    // the next commit.
    writeBatchPostings(docs, textCol, idCol)
    // postings first, stats second: a crash in between leaves the
    // sidecar undercounting (scores slightly conservative), never a
    // stats-without-postings index
    Bm25Index.writeStats(spark, path, n + nNew, sumdl + sumdlNew, nBuckets)
    RangeLedger.record(spark, path, (lo, hi))
    graft.Keyword.invalidateIndex(path)
    new Bm25Index(spark, path, n + nNew, sumdl + sumdlNew, nBuckets)
  }

  /** Replay-safe [[append]] for the STREAMING ingest path
    * ([[graft.streaming.IndexStream.ingestKeyword]]) — [[ShingleIndex
    * .appendBatchIfAbsent]]'s contract on the keyword lake:
    *
    *  - the batch's EXACT docid range already claimed in `_ranges` →
    *    a previous attempt owned this batch: the replay VERIFIES the
    *    attempt finished and completes whatever is missing (postings
    *    and/or the stats write — see below) instead of blind-skipping;
    *    a PARTIAL overlap still throws (never a replay);
    *  - otherwise a `_stats_pending/<lo>_<hi>` flag carrying the
    *    (pre, post) stats totals lands first, then the range claim
    *    (claim-before-postings is what makes the replay check sound:
    *    a crash between postings and a trailing claim would let the
    *    replay silently double the postings), then postings, then
    *    stats, then the flag delete.
    *
    * The pending flag closes BOTH residual crash windows of the r14
    * protocol (the advisor's finding): a crash between the postings
    * write and the stats write used to leave `n`/`Σdl` permanently
    * undercounting — the replay hit the exact-claim skip, and
    * [[missingRanges]] could not see it (postings exist for the
    * range). Now a replay that finds the flag still present knows the
    * previous attempt died mid-append and FINISHES it from the
    * replayed batch itself: postings absent → write them; stats still
    * at the flagged pre-totals → commit the flagged post-totals; stats
    * already at the post-totals → only the flag delete was lost.
    * Anything else means out-of-band writes landed between crash and
    * replay (violating the single-writer stream contract) and throws
    * rather than guessing. [[missingRanges]]/[[reconcile]] remain the
    * repair when the stream itself is gone and recovery must come from
    * the source corpus. */
  def appendIfAbsent(
      docs: DataFrame, textCol: String, idCol: String): Bm25Index = {
    val Array(st) = Bm25.statsRaw(docs, textCol, idCol).collect()
    val (nNew, sumdlNew) = (st.getLong(0), st.getLong(1))
    if (nNew == 0L) return this
    require(!st.isNullAt(2),
      s"bm25 append: every value of id column '$idCol' casts to null")
    val (lo, hi) = (st.getLong(2), st.getLong(3))
    if (RangeLedger.replayed(spark, path, "bm25 append", lo, hi))
      return finishReplayedAppend(docs, textCol, idCol, lo, hi)
    Bm25Index.writePendingStats(spark, path, lo, hi,
      n, sumdl, n + nNew, sumdl + sumdlNew)
    RangeLedger.record(spark, path, (lo, hi)) // claim BEFORE postings
    writeBatchPostings(docs, textCol, idCol)
    Bm25Index.writeStats(spark, path, n + nNew, sumdl + sumdlNew, nBuckets)
    Bm25Index.deletePendingStats(spark, path, lo, hi)
    graft.Keyword.invalidateIndex(path)
    new Bm25Index(spark, path, n + nNew, sumdl + sumdlNew, nBuckets)
  }

  private def writeBatchPostings(
      docs: DataFrame, textCol: String, idCol: String): Unit = {
    graft.index.Manifests.appendGeneration(spark, path, family,
      Bm25Index.rows(docs, textCol, idCol, nBuckets))
    ()
  }

  /** Complete an [[appendIfAbsent]] whose exact range claim is already
    * recorded: no flag → the previous attempt fully committed (plain
    * replay skip); flag present → finish the interrupted append from
    * the replayed batch (see [[appendIfAbsent]]'s crash-window table).
    * Callers hold a FRESHLY LOADED index (the streaming path loads per
    * batch) so `n`/`sumdl` here reflect the on-disk `_stats`. */
  private def finishReplayedAppend(
      docs: DataFrame, textCol: String, idCol: String,
      lo: Long, hi: Long): Bm25Index =
    Bm25Index.readPendingStats(spark, path, lo, hi) match {
      case None => this
      case Some((nPre, sumdlPre, nPost, sumdlPost)) =>
        if (postings.filter(col("docid").between(lo, hi)).isEmpty)
          writeBatchPostings(docs, textCol, idCol)
        if (n == nPre && sumdl == sumdlPre)
          Bm25Index.writeStats(spark, path, nPost, sumdlPost, nBuckets)
        else if (!(n == nPost && sumdl == sumdlPost))
          throw new IllegalStateException(
            s"bm25 replay of [$lo,$hi]: on-disk stats ($n, $sumdl) match " +
            s"neither the flagged pre-append ($nPre, $sumdlPre) nor " +
            s"post-append ($nPost, $sumdlPost) totals — out-of-band " +
            "writes landed since the crash; reconcile from the source " +
            "corpus instead of replaying")
        Bm25Index.deletePendingStats(spark, path, lo, hi)
        graft.Keyword.invalidateIndex(path)
        new Bm25Index(spark, path, nPost, sumdlPost, nBuckets)
    }

  /** Ranges recorded in `_ranges` with NO postings on disk — the
    * footprint of a crash between [[appendIfAbsent]]'s range claim
    * and its postings write ([[ShingleIndex.missingRanges]]'s check
    * over the keyword lake; one pruned pass, the lake never
    * shuffles). */
  def missingRanges(): Seq[(Long, Long)] =
    RangeLedger.missing(spark, path, postings, "docid")

  /** Settle orphaned `_stats_pending` flags for the OTHER crash
    * window — postings LANDED but the stats write crashed (r16,
    * ADVICE r15: [[missingRanges]] cannot see this window because the
    * range's postings exist, so with the stream gone the flag used to
    * sit orphaned and `n`/`Σdl` undercounted forever). For each flag
    * whose range has postings on disk:
    *
    *  - on-disk stats == the flagged PRE-totals → the stats write
    *    died: commit the flagged post-totals, delete the flag;
    *  - on-disk stats == the flagged POST-totals → only the flag
    *    delete was lost: delete the flag;
    *  - anything else → left in place (out-of-band writes landed
    *    since the crash; corpus-level reconcile or the operator must
    *    adjudicate — guessing at stats arithmetic corrupts scores).
    *
    * Flags whose range has NO postings are left for
    * [[missingRanges]]/[[reconcile]] — that is the claim-only window.
    * Loops to a fixpoint: settling one flag's stats can make the next
    * flag's pre-totals current (chained crashes). */
  def settlePendingStats(): Bm25Index = {
    var cur = this
    var pending = Bm25Index.listPendingStats(spark, path)
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      pending = pending.filter { case (lo, hi) =>
        Bm25Index.readPendingStats(spark, path, lo, hi) match {
          case None => false
          case Some((nPre, sPre, nPost, sPost)) =>
            val landed = !cur.postings
              .filter(col("docid").between(lo, hi)).isEmpty
            if (!landed) true // claim-only window: reconcile's job
            else if (cur.n == nPre && cur.sumdl == sPre) {
              Bm25Index.writeStats(spark, path, nPost, sPost, nBuckets)
              Bm25Index.deletePendingStats(spark, path, lo, hi)
              graft.Keyword.invalidateIndex(path)
              cur = new Bm25Index(spark, path, nPost, sPost, nBuckets)
              progress = true
              false
            } else if (cur.n == nPost && cur.sumdl == sPost) {
              Bm25Index.deletePendingStats(spark, path, lo, hi)
              false
            } else true // ambiguous: never guess
        }
      }
    }
    // SURFACE what could not be settled (r17, ADVICE r16: flags judged
    // ambiguous were silently left in place, so a permanent stats
    // undercount could persist invisibly across repeated reconcile
    // calls) — the operator must learn adjudication is needed instead
    // of discovering it via score drift. Claim-only leftovers are
    // missingRanges/reconcile's job and stay quiet here.
    val ambiguous = cur.ambiguousPendingStats()
    ambiguous.foreach { case (lo, hi, nPre, sPre, nPost, sPost) =>
      cur.logWarning(
        s"bm25 $path: stats-pending flag [$lo,$hi] is AMBIGUOUS — " +
        s"on-disk stats (n=${cur.n}, sumdl=${cur.sumdl}) match neither " +
        s"its pre-totals ($nPre, $sPre) nor its post-totals " +
        s"($nPost, $sPost); out-of-band writes landed since the crash. " +
        "n/sumdl may undercount this range. Adjudicate from the source " +
        "corpus (rebuild stats or delete the flag) — " +
        "ambiguousPendingStats() lists these programmatically.")
    }
    cur
  }

  /** In-flight `_stats_pending` flags [[settlePendingStats]] CANNOT
    * adjudicate (r17): the range's postings are on disk but the
    * current stats match neither the flag's pre- nor post-totals —
    * out-of-band writes landed since the crash, so any arithmetic
    * would be a guess. Each row is (lo, hi, nPre, sumdlPre, nPost,
    * sumdlPost); non-empty means `n`/`Σdl` may undercount and the
    * operator must adjudicate from the source corpus. Settle and
    * reconcile WARN with this list; this surfaces it programmatically
    * (monitoring, a maintenance job's refuse-to-proceed gate). */
  def ambiguousPendingStats(): Seq[(Long, Long, Long, Long, Long, Long)] =
    Bm25Index.listPendingStats(spark, path).flatMap { case (lo, hi) =>
      Bm25Index.readPendingStats(spark, path, lo, hi).collect {
        case (nPre, sPre, nPost, sPost)
          if !(n == nPre && sumdl == sPre) &&
             !(n == nPost && sumdl == sPost) &&
             !postings.filter(col("docid").between(lo, hi)).isEmpty =>
          (lo, hi, nPre, sPre, nPost, sPost)
      }
    }

  /** Repair [[missingRanges]] from a recovery corpus (the streamed
    * batches' source of truth): first settles any orphaned
    * postings-landed `_stats_pending` flags ([[settlePendingStats]] —
    * whose window [[missingRanges]] cannot see), then re-tokenizes
    * ONLY the missing ranges' rows, lands their postings under the
    * already-claimed ranges, and adds their (n, Σdl) to the stats the
    * skipped append never counted. No-op when nothing is missing or
    * flagged. */
  def reconcile(
      recovery: DataFrame, textCol: String, idCol: String): Bm25Index = {
    // settle BEFORE the missing-range repair: settling compares the
    // flags' absolute pre/post totals against the CURRENT stats, and
    // the repair below shifts them
    val settled = settlePendingStats()
    if (settled ne this)
      return settled.reconcile(recovery, textCol, idCol)
    val missing = missingRanges()
    if (missing.isEmpty) return this
    val inRange = missing
      .map { case (lo, hi) => col(idCol).cast("long").between(lo, hi) }
      .reduce(_ || _)
    val docs = recovery.filter(inRange)
    val Array(st) = Bm25.statsRaw(docs, textCol, idCol).collect()
    val (nNew, sumdlNew) = (st.getLong(0), st.getLong(1))
    // through the same generation write as every other postings
    // landing (r17): bucket-repartitioned (the r14 sliver fix),
    // atomically visible at the manifest commit
    writeBatchPostings(docs, textCol, idCol)
    Bm25Index.writeStats(spark, path, n + nNew, sumdl + sumdlNew, nBuckets)
    // postings missing ⇒ the crash preceded the stats write too, so the
    // incremental add above is exact; the repaired ranges' in-flight
    // flags (if any) are now settled
    missing.foreach { case (lo, hi) =>
      Bm25Index.deletePendingStats(spark, path, lo, hi) }
    graft.Keyword.invalidateIndex(path)
    new Bm25Index(spark, path, n + nNew, sumdl + sumdlNew, nBuckets)
  }

  /** Docid-sorted metadata sidecar (`path/_meta`): `cols` keyed by
    * docid, range-partitioned and sorted ON docid so a bounded
    * `In(docid)` fetch skips row groups on min/max stats — the same
    * write-time layout lesson as the vector fetch (BASELINE.md finding
    * #4). This is the fetch-side store for index-routed [[facets]]
    * (and any candidates-then-attributes pattern): object attributes
    * come from here, never from a corpus re-scan. Full overwrite —
    * after an [[append]], re-run with the grown corpus (attribute
    * rows are tiny next to postings; an appendable meta store would
    * buy little and lose the global docid sort). */
  def writeMeta(docs: DataFrame, idCol: String, cols: Seq[String])
      : Bm25Index = {
    docs
      .select(col(idCol).cast("long").as("docid") +: cols.map(col): _*)
      .repartitionByRange(col("docid"))
      .sortWithinPartitions("docid")
      .write.mode("overwrite").parquet(s"$path/_meta")
    this
  }

  /** The [[writeMeta]] store (throws if never written). Read by its
    * part files with the schema of the first one's footer
    * ([[graft.index.DriverParquet.reader]]): no schema-inference job,
    * and no directory read that Spark would skip as hidden (`_meta`). */
  def meta: DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path, "_meta")
    val files = DriverParquet.dataFiles(dir.getFileSystem(
      spark.sparkContext.hadoopConfiguration).listStatus(dir))
    DriverParquet.reader(spark, files.headOption)
      .parquet(files.map(_.toString): _*)
  }

  /** Index-routed faceted search — [[Bm25.facets]]' Aggregate-over-
    * search (Weaviate's filtered `Aggregate`, api.http:26-57) without
    * ANY corpus scan:
    *
    *  - candidates: [[scores]] over the bucket-pruned postings (only
    *    the query terms' partitions open);
    *  - facet values: fetched from the docid-sorted [[writeMeta]]
    *    sidecar. Up to `maxFetch` matched docs ride the same bounded
    *    collect + `In(docid)` pushdown as [[hybridSearch]] (row groups
    *    outside the candidate set skip on min/max stats); a LARGER
    *    matched set (stop-word-ish terms) falls back to a distributed
    *    join of the scores against the skinny (docid, facet) sidecar —
    *    still never the corpus, and the shuffle carries ids+facets
    *    only;
    *  - the same facet groupBy as the ad-hoc path, so results are
    *    bit-identical to [[Bm25.facets]] over the indexed corpus.
    *
    * Output (facet, n_docs, sum_micros, max_micros). */
  def facets(queryTerms: Seq[String], facetCol: String,
      maxFetch: Int = 10000): DataFrame = {
    import spark.implicits._
    val sc = scores(queryTerms)
    val matched = sc.limit(maxFetch + 1).collect()
    val facetSide = meta.select(col("docid"), col(facetCol).as("facet"))
    val joined =
      if (matched.length > maxFetch) sc.join(facetSide, "docid")
      else {
        val ids = matched.map(_.getLong(0)).toIndexedSeq
        matched.toIndexedSeq.map(r => (r.getLong(0), r.getLong(1)))
          .toDF("docid", "bm25_micros")
          .join(facetSide.filter(col("docid").isin(ids: _*)), "docid")
      }
    joined
      .groupBy("facet")
      .agg(count(lit(1)).as("n_docs"),
        sum("bm25_micros").as("sum_micros"),
        max("bm25_micros").as("max_micros"))
  }

  /** The index scorer: (term, docid, __micros) for every posting of
    * `terms` (already normalized), reading ONLY their hashed bucket
    * partitions. df is computed from the pruned postings themselves
    * (exact: every posting of a term lives in its bucket) and is
    * qid-independent, so one read serves a whole batch. */
  private def termScores(terms: Seq[String]): DataFrame = {
    val matched = termPostings(terms)
    matched
      .join(broadcast(termDfs(matched)), "term")
      .select(col("term"), col("docid"),
        Bm25.termMicros(col("tf"), col("dl"), col("df"), lit(n),
          lit(avgdl)).as("__micros"))
  }

  private def termPostings(terms: Seq[String]): DataFrame = {
    val buckets = terms.map(t => Bm25Index.bucketOf(t, nBuckets)).distinct
    postings
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
  }

  private def termDfs(matched: DataFrame): DataFrame =
    matched.groupBy("term").agg(count(lit(1)).as("df"))

  /** Partition-pruned BM25 scores for EVERY matching document (no
    * top-k): [[termScores]] summed per doc. */
  def scores(queryTerms: Seq[String]): DataFrame =
    termScores(Bm25.normTerms(queryTerms, "bm25: empty query"))
      .groupBy("docid")
      .agg(sum("__micros").as("bm25_micros"))

  /** Per-term document frequencies, reading ONLY the query terms'
    * bucket partitions — the stats source behind index-registered
    * `keyword_score` ([[graft.Keyword.registerIndex]]); terms absent
    * from the corpus are absent from the map. */
  def dfOf(queryTerms: Seq[String]): Map[String, Long] =
    termDfs(termPostings(Bm25.normTerms(queryTerms, "bm25: empty query")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Partition-pruned BM25 top-k over [[scores]]. */
  def search(queryTerms: Seq[String], k: Int): DataFrame = {
    Bm25.requireAtLeastOne(k, "k")
    scores(queryTerms)
      .orderBy(desc("bm25_micros"), col("docid").asc)
      .limit(k)
  }

  /** Index-routed hybrid — txtai `hybrid: true` shaped for 100 TB, N
    * queries at once: BOTH halves read index storage, neither scans a
    * full table.
    *
    *  - lexical: [[termScores]] over the UNION of every query's term
    *    buckets (the postings open ONCE for the batch), matched to its
    *    queries by a broadcast (qid, term) join like
    *    [[Bm25.scoreBatch]]'s, then the per-qid top-`candidates` ([[Bm25.rankPerQuery]]: ties on docid
    *    ascending, the order [[search]] produces), collected once as a
    *    bounded boundary set (≤ queries × candidates rows, like
    *    [[graft.index.IvfVectorIndex.searchAdc]]'s shortlist);
    *  - semantic: the union of candidate ids fetches its vectors from
    *    `vectors` — e.g. an IVF index's `df` — in ONE `In(docid)` scan
    *    the parquet reader pushes down (row groups outside the id set
    *    skip on min/max stats), never a full-corpus embedding scan;
    *  - blend: [[Bm25.blendMinMax]], the ad-hoc hybrid's own blend, so
    *    scores equal the ad-hoc hybrid restricted to the same
    *    candidates — which keeps the result SQL-oracle-derivable.
    *
    * Output (qid, rank, docid, hybrid_micros). */
  def hybridSearchBatch(
      vectors: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queries: Seq[(Long, Seq[String], Array[Float])],
      k: Int,
      alpha: Double = 0.5,
      candidates: Int = 50): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "bm25: empty query batch")
    Bm25.requireAtLeastOne(k, "k")
    Bm25.requireAtLeastOne(candidates, "candidates")
    val qTerms = queries.flatMap { case (qid, ts, _) =>
      Bm25.normTerms(ts, s"bm25: empty query $qid").map(term => (qid, term))
    }
    val lex = termScores(qTerms.map(_._2).distinct)
      .join(broadcast(qTerms.toDF("qid", "term")), "term")
      .groupBy("qid", "docid")
      .agg(sum("__micros").as("bm25_micros"))
    val candRows = Bm25.rankPerQuery(lex, "bm25_micros", candidates,
        queries.length)
      .select("qid", "docid", "bm25_micros").collect()
    val cand = candRows.toIndexedSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("qid", "docid", "bm25_micros")
    val ids = candRows.map(_.getLong(1)).distinct.toIndexedSeq
    val fetched = vectors.filter(col(vecIdCol).cast("long").isin(ids: _*))
    Bm25.rankPerQuery(Bm25.blendMinMax(cand, fetched, vecIdCol, vecCol,
      queries, alpha), "hybrid_micros", k, queries.length)
  }

  /** [[hybridSearchBatch]] at qid 0, in rank order: (docid,
    * hybrid_micros), the top-k of the query's top-`candidates` lexical
    * matches. */
  def hybridSearch(
      vectors: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Float],
      k: Int,
      alpha: Double = 0.5,
      candidates: Int = 50): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    Bm25.oneQuery(hybridSearchBatch(vectors, vecIdCol, vecCol,
      Seq((0L, queryTerms, queryVec)), k, alpha, candidates), "hybrid_micros")
  }
}

object Bm25Index {

  /** Bucket-partitioned, term-sorted postings: row-group min/max stats
    * on term then carve each bucket into disjoint term ranges, so a
    * query's term filter prunes row groups INSIDE its matched buckets
    * too. A settled merge moves the sources' `_meta` files in, writes
    * the post-merge (n, Σdl, buckets) into `_stats` and drops
    * `keyword_score` registrations of the path (its stats changed). */
  private[operators] val Storage: graft.index.Manifests.Family =
    new graft.index.Manifests.Family("bucket", "term") {
      override def settle(spark: SparkSession, path: String,
          srcs: Seq[String], stats: Seq[Long]): Unit = {
        val dst = new org.apache.hadoop.fs.Path(path)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        srcs.foreach(s => IndexMerge.moveFlatFiles(fs,
          new org.apache.hadoop.fs.Path(s, "_meta"),
          new org.apache.hadoop.fs.Path(dst, "_meta")))
        writeStats(spark, path, stats(0), stats(1), stats(2).toInt)
        graft.Keyword.invalidateIndex(path)
      }
    }

  /** `docs` as postings rows under `nBuckets` term buckets. */
  private def rows(docs: DataFrame, textCol: String, idCol: String,
      nBuckets: Int): DataFrame =
    Bm25.postings(docs, textCol, idCol)
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))

  /** Engine-side twin of the storage bucketing: Spark's `hash` (Murmur3
    * seed 42) mod nBuckets, computed driver-side for pruning. */
  private[operators] def bucketOf(term: String, nBuckets: Int): Int = {
    val bytes = term.getBytes("UTF-8")
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42)
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** Sentinel default for [[build]]'s `nBuckets`: derive the bucket
    * count from the corpus itself via [[autoBuckets]]. */
  val AutoBuckets: Int = 0

  /** Bucket count from postings volume — BASELINE.md's bucket-count
    * probe found the sweet spot SCALES with corpus size (64 buckets win
    * at 100k docs ≈ 5.4M tokens, 256 at 5M docs ≈ 270M tokens: listing
    * overhead dominates small corpora, per-bucket data volume dominates
    * large ones). Both measured optima sit on `cbrt(tokens / 20)`
    * rounded to the nearest power of two (5.4M → 64, 270M → 256;
    * cube-root growth keeps BOTH the bucket count and the per-bucket
    * bytes growing as the corpus grows, splitting the overhead), so
    * that is the recorded rule, clamped to [16, 4096]. Power of two
    * only for layout familiarity — the pmod hash needs no alignment. */
  def autoBuckets(totalTokens: Long): Int = {
    val target = math.cbrt(math.max(1L, totalTokens) / 20.0)
    val pow2 =
      math.pow(2.0, math.round(math.log(target) / math.log(2.0)).toDouble)
    math.min(4096, math.max(16, pow2.toInt))
  }

  /** `(n, sumdl, n_buckets)` sidecar — sumdl kept as a LONG so append
    * merges are exact (see [[Bm25Index.append]]). */
  private def writeStats(spark: SparkSession, path: String,
      n: Long, sumdl: Long, nBuckets: Int): Unit = {
    import spark.implicits._
    Seq((n, sumdl, nBuckets))
      .toDF("n", "sumdl", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")
  }

  private def pendingStatsPath(path: String, lo: Long, hi: Long) =
    new org.apache.hadoop.fs.Path(path, s"_stats_pending/r_${lo}_$hi")

  /** `_stats_pending/<range>` flag — [[Bm25Index.appendIfAbsent]]'s
    * in-flight marker, written BEFORE the range claim and deleted
    * after the stats commit. Carries (nPre, sumdlPre, nPost,
    * sumdlPost) so a replay can tell "stats not yet applied" from
    * "only the flag delete was lost". Single small create, terminated
    * like [[IndexMerge.writeMarker]]. */
  private[operators] def writePendingStats(
      spark: SparkSession, path: String, lo: Long, hi: Long,
      nPre: Long, sumdlPre: Long, nPost: Long, sumdlPost: Long): Unit = {
    val p = pendingStatsPath(path, lo, hi)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$nPre\n$sumdlPre\n$nPost\n$sumdlPost\nend\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read an in-flight append flag: (nPre, sumdlPre, nPost,
    * sumdlPost), or None when absent. A torn flag cannot coexist with
    * the range claim (the flag write strictly precedes the claim and
    * nothing rewrites it), so a parse failure here means out-of-band
    * tampering — throw rather than guess at stats arithmetic. */
  private[operators] def readPendingStats(
      spark: SparkSession, path: String, lo: Long, hi: Long)
      : Option[(Long, Long, Long, Long)] = {
    val p = pendingStatsPath(path, lo, hi)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    val lines = raw.split("\n").filter(_.nonEmpty)
    require(lines.length == 5 && lines(4) == "end",
      s"bm25: malformed stats-pending flag at $p — refusing to guess; " +
      "remove it and reconcile from the source corpus")
    Some((lines(0).toLong, lines(1).toLong, lines(2).toLong,
      lines(3).toLong))
  }

  /** All in-flight append flags under `_stats_pending/` — the
    * load-time sweep's inventory (one directory listing; names carry
    * the range, `r_<lo>_<hi>`). */
  private[operators] def listPendingStats(
      spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(path, "_stats_pending")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case name if name.startsWith("r_") =>
        val parts = name.stripPrefix("r_").split('_')
        require(parts.length == 2,
          s"bm25: unparseable stats-pending flag name $name at $dir")
        (parts(0).toLong, parts(1).toLong)
      }
  }

  private[operators] def deletePendingStats(
      spark: SparkSession, path: String, lo: Long, hi: Long): Unit = {
    val p = pendingStatsPath(path, lo, hi)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    ()
  }

  def build(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      nBuckets: Int = AutoBuckets): Bm25Index = {
    val spark = docs.sparkSession
    // stats first: an empty corpus must fail loudly BEFORE the postings
    // write mutates the target path (n=0 would also make avgdl NULL and
    // surface later as an opaque NPE)
    val Array(st) = Bm25.statsRaw(docs, textCol, idCol).collect()
    require(st.getLong(0) > 0, s"bm25: empty corpus, refusing to build $path")
    require(!st.isNullAt(2),
      s"bm25: every value of id column '$idCol' casts to null")
    val nb = if (nBuckets == AutoBuckets) autoBuckets(st.getLong(1))
      else nBuckets
    // the bucket count scales cube-root with the corpus, so the
    // bucket-repartitioned write's parallelism scales too. A rebuild
    // over an existing path replaces the index whole (an explicit
    // reset, so the manifest store restarts at generation 1)
    graft.index.Manifests.reset(spark, path)
    graft.index.Manifests.writeGeneration(spark, path, Storage,
      rows(docs, textCol, idCol, nb), None, Nil, None)
    writeStats(spark, path, st.getLong(0), st.getLong(1), nb)
    // fresh build (the reset above removed the old ledger): the range
    // log holds exactly this corpus's interval
    RangeLedger.record(spark, path, (st.getLong(2), st.getLong(3)))
    new Bm25Index(spark, path, st.getLong(0), st.getLong(1), nb)
  }

  /** Open an index: roll an interrupted shard merge forward, then read
    * `_stats` on the driver (no Spark job per load — the index-routed
    * query family constructs an index per query; re-read every call,
    * never cached). */
  def load(spark: SparkSession, path: String): Bm25Index = {
    graft.index.Manifests.completeMerge(spark, path, Storage)
    val st = graft.index.Manifests.readStats(spark, path)
    new Bm25Index(spark, path, st.getLong("n", 0), st.getLong("sumdl", 0),
      st.getInteger("n_buckets", 0))
  }
}
