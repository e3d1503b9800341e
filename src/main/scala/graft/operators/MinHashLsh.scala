package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.functions.{BandKeys, MinHashSignature}

/** MinHash + banded LSH near-duplicate detection — the scale path for
  * n-gram Jaccard dedup when even the inverted-index join is too wide.
  *
  * Work per document is bounded by the signature size (numHashes), not
  * the document length × corpus overlap, and candidate generation is a
  * hash-partitioned self-join on (band index, band key) — no all-pairs
  * stage anywhere. Candidates are then verified with the exact
  * Jaccard, so false positives never escape; false-negative probability
  * for a pair with true Jaccard j is (1 - j^r)^b (standard LSH bound —
  * e.g. r=4, b=16: j=0.8 → 0.1%, j=0.9 → ~0).
  *
  * Shingles travel as their 64-bit XXH64 hashes
  * ([[TextDedup.hashedShingles]]), computed once from the text's bytes:
  * the signature mixes them into the k family members
  * ([[graft.functions.MinHashSignature]]), and verification intersects
  * the hash arrays. Signatures and band keys are bit-identical to the
  * string path's, so the candidate set is too; the verified Jaccard
  * over hashes equals the one over strings unless two distinct
  * shingles of one pair collide in 64 bits (about |A∪B|²/2⁶⁴, ~10⁻¹⁵
  * for 100-shingle documents) — the trade [[TextDedup.ngramJaccardPairs]]
  * and [[ShingleIndex]] already make with `xxhash64` keys.
  * `MinHashLshHashSpec` pins the kernels to the string formulas and the
  * pairs to a string-verified reference.
  */
object MinHashLsh {

  private def signature(sh: Column, numHashes: Int): Column =
    Shim.column(MinHashSignature(Shim.expression(sh), numHashes))

  private def bandKeys(sig: Column, bands: Int): Column =
    Shim.column(BandKeys(Shim.expression(sig), bands))

  /** MinHash signatures: (id, sig array<bigint> of length numHashes).
    * One native-expression pass: each shingle is hashed once from the
    * text's bytes and the k family members derive by multiply-add
    * mixing. */
  def signatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64): DataFrame =
    // no sig-null filter (r17 optimization round): hashedShingles()
    // guarantees sh non-null and non-empty, which is exactly
    // MinHashSignature's null domain — the old filter re-evaluated
    // the signature below its own projection once Catalyst pushed
    // the aliased predicate down
    TextDedup.hashedShingles(docs, idCol, textCol, n)
      .select(col("id"), signature(col("sh"), numHashes).as("sig"))

  /** Candidate pairs from banded LSH: any pair agreeing on at least one
    * full band of the signature. rows = numHashes / bands. The band
    * content is collapsed to one 64-bit key
    * ([[graft.functions.BandKeys]]) so the self-join is a plain
    * long-keyed hash join instead of an array-equality sort-merge; a
    * hash collision can only ADD a candidate, and the exact verify step
    * removes false positives. */
  def candidatePairs(signatures: DataFrame, bands: Int): DataFrame =
    // materialized (r17 optimization round): the self-join consumes the
    // keys TWICE, and without the checkpoint each side re-executed the
    // whole upstream subtree (for a raw-docs caller that was the corpus
    // scan + shingle + signature pass, twice — plan-verified). The
    // materialization is (id, keys): bands longs per doc, far narrower
    // than the pass it saves.
    bandPairs(signatures
      .select(col("id"), bandKeys(col("sig"), bands).as("keys"))
      .localCheckpoint())

  /** The (id_a < id_b) pairs sharing a band key, over materialized
    * (id, keys) rows. */
  private def bandPairs(keyed: DataFrame): DataFrame = {
    val banded = keyed
      .select(col("id"), posexplode(col("keys")).as(Seq("band", "band_sig")))
    val a = banded.select(col("band"), col("band_sig"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_sig"), col("id").as("id_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** End-to-end: LSH candidates verified with exact n-gram Jaccard.
    * Output: (id_a, id_b, jaccard) for verified pairs ≥ threshold. */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    // ONE shingle pass, ONE materialization: (id, sh, nsh, keys). The
    // band self-join and BOTH verify joins read it (the old
    // repartition-and-hope-for-ReuseExchange shape re-scanned the
    // corpus once per subtree). The checkpoint sits ABOVE the id-keyed
    // repartition, so the materialized RDD keeps hashpartitioning(id)
    // and the verify joins attach to it without re-exchanging the
    // shingle hashes; the band keys are computed after that exchange,
    // so it does not carry them. No sig-null filter: hashedShingles()
    // guarantees sh non-null/non-empty.
    val sh = TextDedup.hashedShingles(docs, idCol, textCol, n)
      .repartition(col("id"))
      .withColumn("keys", bandKeys(signature(col("sh"), numHashes), bands))
      .localCheckpoint()
    bandPairs(sh.select(col("id"), col("keys")))
      .join(sh.select(col("id").as("id_a"), col("sh").as("sha"),
        col("nsh").as("nsh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb"),
        col("nsh").as("nsh_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate-set quality evaluation — "measure, don't guess" for the
    * banding parameters: recall and precision of the LSH candidate
    * pairs against EXACT n-gram Jaccard at each threshold. The
    * s-curve theory (prob. of candidacy ≈ 1−(1−s^r)^b) says where
    * recall should fall; this measures it on the real corpus, which
    * is how numHashes/bands get chosen instead of guessed.
    *
    * Output, one row per threshold: (threshold, n_true, n_caught,
    * recall, n_candidates, precision) — n_true = exact pairs with
    * jaccard ≥ t, n_caught = those also in the candidate set,
    * precision = n_caught / n_candidates (candidates are threshold-
    * blind, so the "true at t" candidates ARE the caught set).
    *
    * Shape at 100 TB: the exact side reuses the inverted-index pair
    * join (cap disabled — an eval must not lower-bound its ground
    * truth), the candidate side the banded hash join; the comparison
    * is one equi-join on the pair key and one explode of the bounded
    * threshold list. The candidate COUNT is the one driver scalar. */
  def evaluate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      thresholds: Seq[Double] = Seq(0.2, 0.35, 0.5, 0.8)): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val exact = TextDedup.ngramJaccardPairs(docs, idCol, textCol, n,
      thresholds.min, maxShingleDf = None)
    val cands = candidatePairs(
      signatures(docs, idCol, textCol, n, numHashes), bands)
    val nCand = cands.count()
    val marked = exact
      .join(cands.withColumn("__c", lit(true)), Seq("id_a", "id_b"), "left")
      .select(col("jaccard"), coalesce(col("__c"), lit(false)).as("__caught"))
    marked
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"),
        col("jaccard"), col("__caught"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).cast("long").as("n_true"),
        sum(when(col("__caught"), 1L).otherwise(0L)).as("n_caught"))
      .select(col("threshold"), col("n_true"), col("n_caught"),
        round(col("n_caught").cast("double") / col("n_true"), 6).as("recall"),
        lit(nCand).as("n_candidates"),
        // empty candidate set (aggressive banding / tiny corpus):
        // precision is undefined — emit null, not NaN/Infinity (which
        // a SQL oracle would disagree on)
        when(lit(nCand) > 0L,
          round(col("n_caught").cast("double") / lit(nCand.toDouble), 6))
          .otherwise(lit(null).cast("double"))
          .as("precision"))
  }
}
