package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed suffix array over a tokenized corpus — the exact form
  * of ExactSubstr dedup (Lee et al. 2021 §4.1 build a single-machine
  * suffix array; [[SubstrDedup]] is the linear k-gram approximation
  * of its COVERAGE). Where the k-gram pass can only say "some
  * duplicated window of exactly k tokens covers this position", the
  * suffix array yields the per-position MAXIMAL duplicated-substring
  * length — the fidelity the fixed k hides (consecutive duplicated
  * windows may have different partners, so window-run length says
  * nothing about maximal repeat length).
  *
  * Spark-native construction — prefix doubling (Manber–Myers), the
  * classic O(log n)-rounds-of-sorts suffix sort, with every round a
  * narrow-integer shuffle and NO single-partition stage anywhere:
  *
  *  1. level-0 ranks: dense order-preserving ids over the DISTINCT
  *     token values ([[Ids.withDenseId]] — range-partitioned, ties
  *     share a rank because ranking happens on the distinct set);
  *  2. round j: pair each suffix's rank with the rank at pos+2^j
  *     (one equi-join; -1 past the document end, so shorter sorts
  *     first), then dense ids over the DISTINCT pairs ordered
  *     lexicographically — rank of the 2^(j+1)-token prefix;
  *  3. adjacency WITHOUT a global window: final ranks are dense
  *     0..C-1, so the neighbor of class r is class r+1 — a self-join
  *     on r+1, never a SinglePartition row_number.
  *
  * Doubling stops at depth D = the least power of two EXCEEDING
  * `cap` (the caller's report ceiling — Lee et al. use fixed small
  * thresholds, ~50 tokens), so the round count scales with log(cap),
  * not log(corpus): suffixes identical to depth D tie, and a tie
  * already certifies maxrep > cap. Suffixes never cross document
  * boundaries (the paper's separator-concatenation, without the
  * separators).
  *
  * LCP between adjacent rank classes runs the standard binary walk
  * over the saved level tables (levels L-1..0: if the 2^j-token
  * prefixes at the current offset match, advance by 2^j) — two
  * narrow hash joins per level, never shipping token text, never
  * O(lcp) per pair. The walk stays strictly inside the shared
  * D-prefix, so any class member serves as representative (the
  * deterministic min is used). Inter-class LCP < D always, because
  * distinct final ranks certify a difference within depth D.
  *
  * Per-suffix maximal repeat = max(LCP with the previous class, LCP
  * with the next class, and — when the class holds >= 2 suffixes —
  * least(suffix_len, cap): equal final ranks mean either identical
  * whole suffixes (when shorter than D, the -1 sentinels force full
  * equality) or a shared D-prefix already past the cap).
  *
  * 100 TB shape: every shuffle after tokenization carries
  * (long, long, long) rows; rounds are log(cap); the distinct-pair
  * tables are bounded by the suffix count; nothing is collected.
  * [[coverageSpans]] is provably equal to [[SubstrDedup.dupSpans]]
  * when uncapped (both are the union of duplicated >= k-token
  * substrings; the spec pins the equality on a real corpus slice),
  * so the cheap k-gram pass remains the coverage fast path and this
  * operator is the fidelity path. */
object SuffixArray {

  /** Per-position maximal duplicated-substring length:
    * `(idCol, pos, rep_len)` for every token position whose maximal
    * corpus-duplicated prefix is >= `k` tokens, with `rep_len`
    * capped at `cap`. Duplication counts all suffix occurrences,
    * including two positions inside one document. */
  def maxRepeat(df: DataFrame, textCol: String, idCol: String,
      k: Int, cap: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(cap >= k, s"cap must be >= k, got cap=$cap k=$k")

    val toks = df
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "__tok")))
      .withColumn("pos", col("pos").cast("long"))

    // level-0 ranks: dense ids over distinct tokens, order-preserving
    // each round's rank table is localCheckpoint'ed: it is re-read by
    // the next round AND by the LCP walk, and without truncation the
    // doubling rounds compound into a plan tree deep enough to blow
    // the planner's recursion (the PageRank lineage lesson applies
    // verbatim to prefix doubling)
    // withDenseIdCounted: the vocabulary size falls out of the dense-id
    // prefix sums, so the level-0 max-rank job is free (r18 — every
    // densification's count/max used to be a separate partial-max job)
    val (tok0, vocabSize) = Ids.withDenseIdCounted(
      toks.select(col("__tok")).distinct(), "r", Seq(col("__tok")))
    val r0 = toks.join(tok0, "__tok")
      .select(col(idCol).as("doc"), col("pos"), col("r"))
      .localCheckpoint()

    // doubling rounds to depth D = 2^levels > cap
    val levels = {
      var l = 0
      while ((1L << l) <= cap) l += 1
      l
    } // depth after the rounds: 2^levels; level tables r_0 .. r_levels
    val rankTables = scala.collection.mutable.ArrayBuffer(r0)
    // total position count, computed ONCE over the materialized level-0
    // table — the per-round singleton test compares against it (r17)
    val totalRows = r0.count()
    var cur = r0
    var j = 0
    var allSingleton = totalRows == 0L
    // alternating encoded rounds (r17 optimization round, second
    // session): mid-loop ranks only need to be ORDER-PRESERVING and
    // injective per (r, r2) pair — density is required only by the
    // early-stop test and by the final adjacency trick. When the
    // incoming ranks are dense 0..C-1 and C is small enough that
    // (C-1)·(C+1)+C fits a long (C+1 <= 3,037,000,499 — checked, with
    // the withDenseId path as the at-scale fallback), the doubled rank
    // is just the PACKED PAIR  r·(C+1) + (r2+1)  — lexicographic in
    // (r, r2) by construction, computed as a pure projection. That
    // skips the whole distinct → range-sample-sort → zipWithIndex →
    // re-join densification (4 jobs + 3 exchanges) on every other
    // round; the following round densifies as before (its withDenseId
    // input is the distinct ENCODED pairs — same table size) and
    // re-establishes the early-stop signal. The LCP walk below only
    // ever compares rank EQUALITY, which the injective encoding
    // preserves, so encoded tables serve it unchanged.
    var curDense = true // cur's ranks are dense 0..C-1
    // max rank value of cur (valid whenever curDense): dense ranks over
    // the distinct-token table, so max = vocabulary size - 1 — known
    // from the dense-id assignment itself, no job
    var curMax = vocabSize - 1L
    val encodeLimit = 3037000499L - 1L // (curMax+2)^2 must fit a long
    while (j < levels && !allSingleton) {
      val step = 1L << j
      // rank at pos+2^j via lead() over consecutive per-doc positions
      // (r17 optimization round): the rank table holds EVERY position
      // 0..L-1 of every doc at every round (the pairIds join is inner
      // on a distinct set that covers all rows), so the former
      // (doc, pos)==(doc, pos+step) self-join is exactly
      // lead(r, step) over (partition by doc, order by pos) — one
      // narrow-int window shuffle per round instead of a self-join
      // (two shuffled/broadcast sides). -1 past the document end as
      // before (shorter sorts first). A doc's window partition is
      // bounded by its token count, never corpus-sized.
      val paired = cur.select(col("doc"), col("pos"), col("r"),
        lead(col("r"), step.toInt, -1L).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc")).orderBy(col("pos"))).as("r2"))
      if (curDense && curMax <= encodeLimit && j < levels - 1) {
        // (j < levels-1: the FINAL round always densifies directly —
        // the final ranks must be dense for the adjacency trick, so an
        // encoded last round would just pay the same densification as
        // a separate extra pass plus one more checkpoint)
        // packed-pair round: mult = C+1 = curMax+2 distinct values of
        // r2+1 (r2 ranges over -1..curMax), so r·mult + (r2+1) is
        // injective and lexicographic. No distinct, no sort, no ids.
        val mult = curMax + 2L
        cur = paired.select(col("doc"), col("pos"),
          (col("r") * lit(mult) + col("r2") + lit(1L)).as("r"))
          .localCheckpoint()
        curDense = false // injective but sparse; next round densifies
      } else {
        // withDenseIdCounted: the distinct-pair count IS the dense
        // class count C, so the early-stop census below needs no
        // separate max job over the materialized round (r18)
        val (pairIds, nClasses) = Ids.withDenseIdCounted(
          paired.select(col("r"), col("r2")).distinct(), "__nr",
          Seq(col("r"), col("r2")))
        cur = paired.join(pairIds, Seq("r", "r2"))
          .select(col("doc"), col("pos"), col("__nr").as("r"))
          .localCheckpoint()
        curDense = true
        curMax = nClasses - 1L
      }
      rankTables += cur
      j += 1
      // early stop: once every rank class is a singleton, the order
      // is final and every inter-suffix LCP is already below the
      // current depth — deeper rounds cannot change the answer. On
      // real text this usually fires well before depth cap.
      // Ranks are DENSE 0..C-1, so all-singleton ⇔ max(r)+1 == rows —
      // one narrow partial-max over the materialized table instead of
      // the former groupBy+shuffle+head census (r17 optimization
      // round: one fewer exchange per doubling round). Encoded rounds
      // skip the test (no cheap density signal); the next densified
      // round re-checks, so the stop fires at most one round later
      // than before — strictly cheaper than the densification the
      // encoded round skipped. curMax is maintained by the
      // densification's own count (r18): the all-singleton test is
      // now pure driver arithmetic, zero jobs per round.
      if (curDense && j < levels)
        allSingleton = curMax + 1L == totalRows
    }
    // the adjacency trick below (class r joined with class r+1) needs
    // DENSE final ranks, and cur always holds them here (dense 0..C-1,
    // the ranks of the depth-2^j prefixes). The loop ends one of three
    // ways: (a) the rounds run out — the last round (j = levels-1)
    // fails the encoded branch's `j < levels - 1` guard, so it
    // densifies; (b) the early stop, which is only tested after a
    // dense round; (c) no round at all (empty corpus, or levels = 0),
    // leaving r0's dense token ranks.

    // class census: size + deterministic representative + a member's
    // suffix length (all members shorter than D are identical, so any
    // length works for the least(len, cap) bound; for classes holding
    // a >= D suffix the bound is cap either way)
    val classes = cur
      .groupBy(col("r"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("doc"), col("pos"))).as("__rep"))
      .select(col("r"), col("__cnt"),
        col("__rep.doc").as("rep_doc"), col("__rep.pos").as("rep_pos"))
      // localCheckpoint, not persist: a cache entry would outlive the
      // call and leak into the session (the repo-wide hygiene pin)
      .localCheckpoint()

    // adjacent-class pairs via dense-rank arithmetic: (r, r+1)
    val adj = classes.select(col("r").as("ra"),
        col("rep_doc").as("da"), col("rep_pos").as("pa"))
      .join(classes.select((col("r") - 1).as("ra"),
        col("rep_doc").as("db"), col("rep_pos").as("pb")), "ra")

    // binary LCP walk over levels (levels-1)..0 — strictly below D
    var walked = adj.withColumn("__acc", lit(0L))
    var lvl = rankTables.length - 2
    while (lvl >= 0) {
      val stepL = 1L << lvl
      val rj = rankTables(lvl)
      val xa = rj.select(col("doc").as("__xd"), col("pos").as("__xp"),
        col("r").as("__xr"))
      val xb = rj.select(col("doc").as("__yd"), col("pos").as("__yp"),
        col("r").as("__yr"))
      walked = walked
        .join(xa, col("__xd") === col("da") &&
          col("__xp") === col("pa") + col("__acc"), "left")
        .join(xb, col("__yd") === col("db") &&
          col("__yp") === col("pb") + col("__acc"), "left")
        .withColumn("__acc", col("__acc") +
          when(col("__xr").isNotNull && col("__yr").isNotNull &&
            col("__xr") === col("__yr"), lit(stepL)).otherwise(lit(0L)))
        .drop("__xd", "__xp", "__xr", "__yd", "__yp", "__yr")
      // the walk chains two joins per level; truncate every few
      // levels so the accumulated plan stays shallow
      if (lvl % 3 == 0) walked = walked.localCheckpoint()
      lvl -= 1
    }
    val lcp = walked.select(col("ra"), col("__acc").as("lcp"))

    // per-class maximal repeat: neighbors' LCP and the within-class
    // duplication bound; join members back for per-suffix lengths
    val lcpRight = lcp.select(col("ra").as("r"), col("lcp").as("__lr"))
    val lcpLeft = lcp.select((col("ra") + 1).as("r"),
      col("lcp").as("__ll"))
    val perClass = classes
      .join(lcpRight, Seq("r"), "left")
      .join(lcpLeft, Seq("r"), "left")
      .select(col("r"), col("__cnt"),
        greatest(coalesce(col("__lr"), lit(0L)),
          coalesce(col("__ll"), lit(0L))).as("__nbr"))

    // doc lengths from the MATERIALIZED level-0 rank table, not from
    // `toks` (r18): r0 holds exactly one row per (doc, pos), so the
    // counts are identical, while the toks form re-ran the corpus
    // scan + split + posexplode one more full time
    val docLen = r0.groupBy(col("doc"))
      .agg(count(lit(1)).as("__len"))
    cur.join(perClass, "r")
      .join(docLen, "doc")
      .withColumn("__suflen", col("__len") - col("pos"))
      .withColumn("rep_len", least(
        greatest(col("__nbr"),
          when(col("__cnt") >= 2, col("__suflen")).otherwise(lit(0L))),
        lit(cap.toLong)))
      .filter(col("rep_len") >= k)
      .select(col("doc").as(idCol), col("pos"), col("rep_len"))
  }

  /** Maximal duplicated coverage spans from the suffix array —
    * `(idCol, span_start, span_end, n_tokens)`, the same shape (and,
    * uncapped, provably the same rows) as [[SubstrDedup.dupSpans]]:
    * the union of `[pos, pos + rep_len - 1]` over positions with
    * `rep_len >= k`, merged with the same overlapping-or-adjacent
    * island rule. Pass `cap >= the longest document` for the exact
    * (uncapped) spans. */
  def coverageSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reps = maxRepeat(df, textCol, idCol, k, cap)
      .select(col(idCol), col("pos").as("__s"),
        (col("pos") + col("rep_len") - 1).as("__e"))
    val byDoc = Window.partitionBy(idCol).orderBy("__s")
    val runMax = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    reps
      .withColumn("__pmax", max("__e").over(runMax))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum("__new").over(byDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("__s").as("span_start"), max("__e").as("span_end"))
      .select(col(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("n_tokens"))
  }
}
