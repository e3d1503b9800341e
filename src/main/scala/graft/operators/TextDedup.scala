package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Text near-duplicate detection operators for LLM-data pipelines.
  *
  * The reference stack has no dedup surface at all (SURVEY §2.5) — these
  * are the north-star extension set, designed Spark-first:
  * set-oriented plans whose cost scales with the number of *candidate*
  * pairs (pairs that can actually be duplicates), never O(n²) all-pairs.
  */
object TextDedup {

  /** Distinct word n-gram shingles per document:
    * (id, sh array<string>, nsh). */
  def shingles(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingled(docs, idCol, textCol, graft.functions.NgramShingles(_, n), n)

  /** [[shingles]] as their 64-bit XXH64 hashes: (id, sh array<bigint>,
    * nsh), element for element `xxhash64` of [[shingles]]' strings
    * ([[graft.functions.ShingleHashes]]: each shingle hashed in place
    * from the text's bytes, no string built). `nsh` counts distinct
    * hashes, which equals the distinct shingle count unless two
    * shingles of one document collide in 64 bits. */
  private[graft] def hashedShingles(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingled(docs, idCol, textCol, graft.functions.ShingleHashes(_, n), n)

  /** (id, sh = `kernel(text)`, nsh = size(sh)) over the rows with at
    * least n tokens — the one pre-filter of every shingle kernel.
    *
    * Repartitions to the session default parallelism ONLY when the
    * source has fewer partitions: shingle consumers are compute-heavy
    * per row, and a small source file (one parquet block) would
    * otherwise pin the whole stage to one task — but an already-wide
    * source must not pay a full-corpus text shuffle on every dedup call
    * (at 100 TB that shuffle would dominate the job). The partition
    * count probe converts the plan to an RDD lineage (no job runs);
    * that one-time planning cost buys skipping the shuffle entirely. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
      kernel: Expression => Expression, n: Int): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val cur = docs.rdd.getNumPartitions
    val text = col(textCol)
    (if (cur < target) docs.repartition(target) else docs)
      // drop sub-threshold rows with a CHEAP token-count predicate
      // instead of filtering on the computed shingle column (r17
      // optimization round): `sh IS NOT NULL` referenced the kernel
      // projection, so Catalyst substituted the alias and pushed
      // `isnotnull(ngram_shingles(text))` below the repartition INTO
      // THE SCAN — the full shingle computation ran once in the
      // (narrow, often single-task) scan stage just to test for null,
      // then again in the post-shuffle projection (plan-verified: the
      // old Filter(2) at the scan carried ngram_shingles). Both
      // kernels split on the single byte 0x20 keeping empty tokens,
      // so a text has (spaces + 1) tokens, and both are null exactly
      // when the text is null or has fewer than n tokens
      // (HashingExpressions.scala): this predicate keeps the identical
      // row set while the scan stage only counts spaces, never
      // shingles. Neither kernel returns an EMPTY array (>= n tokens
      // yields >= 1 shingle), so downstream consumers may rely on sh
      // non-null AND non-empty.
      .filter(octet_length(text) -
        octet_length(replace(text, lit(" "), lit(""))) >= n - 1)
      .select(
        col(idCol).as("id"),
        Shim.column(kernel(Shim.expression(text))).as("sh"))
      .withColumn("nsh", size(col("sh")))
  }

  /** Exact n-gram Jaccard similarity over all pairs with
    * jaccard ≥ threshold.
    *
    * Plan: inverted-index self-join. Explode shingles, equi-join on the
    * shingle, count matches per (id_a, id_b) → |A∩B|; then
    * |A∪B| = |A|+|B|-|A∩B|. Any pair with jaccard ≥ t > 0 shares at
    * least one shingle, so the result is identical to the O(n²)
    * cross-join formulation while the cost is Σ_s df(s)² over shingles —
    * proportional to real textual overlap, not corpus size squared.
    *
    * Shingles are keyed by their 64-bit hashes ([[explodedHashes]]:
    * `shingle_hashes`, equal to `xxhash64` of each shingle string), so
    * every exchange moves 8-byte keys instead of ~n-word strings. `nsh`
    * is the distinct-hash count; it and a pair's intersection differ
    * from the string counts only on a 64-bit collision inside one
    * document or one pair (about |A∪B|²/2⁶⁴), the trade [[MinHashLsh]]
    * documents.
    *
    * Scale note: an ultra-frequent shingle with document frequency m
    * contributes m² join rows (classic skew). `maxShingleDf` caps it by
    * dropping shingles present in more than that many docs — a standard
    * "stop-shingle" approximation (such shingles are boilerplate and
    * carry no near-dup signal; capped shingles don't count toward the
    * intersection, so reported jaccard becomes a lower bound for pairs
    * whose overlap is mostly boilerplate). Defaulted ON at 10000 so the
    * pipeline entry point survives a skewed corpus out of the box: at
    * the default, one hot shingle is bounded to 10⁸ join rows instead
    * of (corpus size)², and any pair of genuinely similar documents
    * still shares plenty of sub-cap shingles. `None` disables.
    * [[MinHashLsh]] is the alternative that bounds per-doc work by the
    * signature size.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Option[Int] = Some(10000)): DataFrame =
    // ONE shingle pass, materialized (r17 optimization round): the
    // hot-shingle cap and BOTH self-join sides consume the same
    // exploded set, and before this the plan recomputed
    // scan→shingle→explode once per consumer (4 subtrees in the
    // captured physical plan — at 100 TB that is four full corpus
    // scans plus four shingle passes for one logical pass). Lineage is
    // released when the result's reference drops (the DataMix
    // localCheckpoint pattern used across the repo).
    ngramJaccardPairsKeyed(
      explodedHashes(docs, idCol, textCol, n).localCheckpoint(),
      threshold, maxShingleDf)

  /** [[shingles]] exploded to one row per (doc, shingle):
    * `(id, shingle, nsh)` — the exact-string key of [[matchesAgainst]],
    * [[Decontaminate]] and an unhashed [[ShingleIndex]]. */
  private[operators] def explodedShingles(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    exploded(shingles(docs, idCol, textCol, n), "shingle")

  /** [[hashedShingles]] exploded to one row per (doc, shingle hash):
    * `(id, key: bigint, nsh)` — the key of every hashed consumer
    * ([[ngramJaccardPairs]], a hashed [[ShingleIndex]]). */
  private[operators] def explodedHashes(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    exploded(hashedShingles(docs, idCol, textCol, n), "key")

  /** Shingle sets `(id, sh, nsh)` exploded to `(id, <as>, nsh)`.
    *
    * Uses `explode_outer` + a cheap `isnotnull` filter rather than
    * plain `explode` (r18 optimization round): Catalyst's
    * InferFiltersFromGenerate derives `size(sh) > 0 AND isnotnull(sh)`
    * from a NON-outer explode over an attribute, and predicate
    * pushdown then alias-substitutes it below the shingle projection
    * INTO THE SCAN — re-evaluating the full shingle kernel once per
    * row just to test for null, the exact
    * expensive-expression-in-scan pattern the r17 cheap tokenize
    * predicate removed (plan-verified: every r18 before-plan of an
    * explode consumer carried `isnotnull(ngram_shingles(text))` in its
    * scan condition). The rule skips OUTER generates, and equivalence
    * is unconditional on [[shingled]]'s contract: `sh` is non-null and
    * non-empty (so outer emits no extra null row) and its elements are
    * never null (a shingle is a concat of split tokens, a hash is a
    * long — so the isnotnull filter drops nothing and explode would
    * never have emitted a null element either). Row-identical,
    * oracle-verified. */
  private def exploded(sets: DataFrame, as: String): DataFrame =
    sets.select(col("id"), explode_outer(col("sh")).as(as), col("nsh"))
      .filter(col(as).isNotNull)

  /** [[ngramJaccardPairs]] over PRE-KEYED exploded shingles
    * `(key, id, nsh)` — the shape [[ShingleIndex]] already computes
    * (and localCheckpoints) for its lake probe, so the intra-batch
    * near-dup pass of [[ShingleIndex.survivors]] reuses it instead of
    * re-shingling the batch (r14: ~40% of the per-crawl survivors
    * cost was the second shingle pass + a string-keyed shuffle; the
    * reused keys are 8-byte longs when the index hashes keys, so the
    * self-join shuffles fixed-width rows). Key collisions under
    * xxhash64 are the same accepted risk as the lake probe itself —
    * a false pair needs enough colliding shingles to cross the
    * jaccard threshold. Same hot-shingle df cap, same output
    * (id_a < id_b, jaccard). */
  def ngramJaccardPairsKeyed(
      keyed: DataFrame,
      threshold: Double,
      maxShingleDf: Option[Int] = Some(10000)): DataFrame = {
    var exploded = keyed.select(col("key"), col("id"), col("nsh"))
    maxShingleDf.foreach { cap =>
      val hot = exploded.groupBy("key").count()
        .filter(col("count") > cap).select("key")
      exploded = exploded.join(broadcast(hot), Seq("key"), "left_anti")
    }
    // (r17 second session: pre-partitioning the capped set by key so
    // the two join sides share one exchange was MEASURED WORSE — the
    // family rose ~20-30% — because AQE broadcasts one side of this
    // join at candidate-table sizes, leaving the other side
    // unshuffled; the explicit repartition forced the full shuffle
    // and blocked that conversion. Reverted: Ensure-inserted
    // exchanges + AQE's own join choice win here.)
    val a = exploded.select(col("key"), col("id").as("id_a"),
      col("nsh").as("nsh_a"))
    val b = exploded.select(col("key"), col("id").as("id_b"),
      col("nsh").as("nsh_b"))
    verifyJaccard(a.join(b, Seq("key")).filter(col("id_a") < col("id_b")),
      "id_a", "nsh_a", "id_b", "nsh_b", threshold)
  }

  /** The one Jaccard verifier of the inverted-index operators, over
    * shingle-join rows that carry each side's id and set size: the
    * size-ratio prune (jaccard ≥ t needs min size ≥ t · max size), the
    * per-pair intersection count, jaccard = |A∩B| / (|A|+|B|-|A∩B|)
    * and the threshold filter. Output `(a, b, jaccard)`. */
  private[operators] def verifyJaccard(joined: DataFrame, a: String,
      nshA: String, b: String, nshB: String, threshold: Double): DataFrame =
    joined
      .filter(least(col(nshA), col(nshB)) >=
        lit(threshold) * greatest(col(nshA), col(nshB)))
      .groupBy(a, nshA, b, nshB)
      .agg(count(lit(1)).as("__inter"))
      .withColumn("jaccard", col("__inter").cast("double") /
        (col(nshA) + col(nshB) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(a, b, "jaccard")

  /** Exact-duplicate groups by full-text hash: (text-group key, ids).
    * One hash-partitioned groupBy — the trivially-scalable exact dedup. */
  def exactDupGroups(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol).cast("binary"), 256).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"),
        sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n_dups") > 1)

  /** Keep-representatives pass for NEAR-dup pairs: greedy min-id —
    * every doc that appears as the larger id of any pair is dropped,
    * smaller ids survive. (The standard single-pass approximation of
    * connected-component dedup: for a chain a-b, b-c it drops b and c
    * even if a-c were not individually similar — the usual, and
    * conservative, choice for training-data dedup.) One anti-join. */
  def keepRepresentatives(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    docs.join(
      pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Keep one representative (min id) per exact-duplicate text. */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(textCol)).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Cross-corpus near-dup pairs: INCOMING docs matched against a
    * BASE corpus — the incremental-ingest shape (each crawl snapshot
    * dedups against the lake; re-pairing the lake against itself
    * every ingest is the quadratic anti-pattern this exists to
    * avoid). Same inverted-index + size-ratio discipline as
    * [[ngramJaccardPairs]], but the join is strictly incoming ×
    * base: no base×base and no incoming×incoming pairs are formed.
    * Output (new_id, old_id, jaccard ≥ threshold). */
  def matchesAgainst(
      base: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    // explodedShingles, not explode: see [[exploded]]' scaladoc (the
    // inferred generate filter re-ran the shingle kernel in both scans)
    val bs = explodedShingles(base, idCol, textCol, n)
      .select(col("id").as("old_id"), col("shingle"),
        col("nsh").as("nsh_old"))
    val is = explodedShingles(incoming, idCol, textCol, n)
      .select(col("id").as("new_id"), col("shingle"),
        col("nsh").as("nsh_new"))
    verifyJaccard(is.join(bs, "shingle"), "new_id", "nsh_new", "old_id",
      "nsh_old", threshold)
  }

  /** The incremental-ingest survivor set: incoming rows that (a) have
    * no near-dup in the base corpus and (b) survive min-id
    * representative selection among the incoming batch's own
    * near-dups. The base is only ever on the build side of the
    * inverted-index joins — never paired with itself. */
  def incrementalSurvivors(
      base: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val vsBase = matchesAgainst(base, incoming, idCol, textCol, n, threshold)
      .select(col("new_id").as(idCol)).distinct()
    val fresh = incoming.join(vsBase, Seq(idCol), "left_anti")
    val intra = ngramJaccardPairs(fresh, idCol, textCol, n, threshold)
    keepRepresentatives(fresh, idCol, intra)
  }
}
