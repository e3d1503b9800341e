package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/test decontamination — the benchmark-leak check every
  * public LLM training pipeline runs before training (GPT-3 appendix C
  * and The Pile both flag training documents sharing long n-grams with
  * evaluation sets; the reference family's data-prep story stops at
  * dedup, this is its eval-side twin).
  *
  * Spark-first shape: shingle BOTH corpora with the dedup operators'
  * [[graft.functions.NgramShingles]] (distinct string n-grams), explode,
  * and equi-join train shingles against test shingles — an inverted
  * join whose cost is Σ_s df_train(s)·df_test(s), never |train|·|test|
  * document pairs. The test side (an eval benchmark) is orders of
  * magnitude smaller than a 100 TB train corpus, so its exploded
  * shingles are broadcast: the train side never shuffles, and the scan
  * + join pipeline into one codegen stage. Per-(train,test) overlap
  * counts DISTINCT shared shingles (each shingle appears once per doc
  * by construction), so `minHits` thresholds exact containment
  * evidence, not tf-weighted noise. */
object Decontaminate {

  /** (train_id, test_id, shared) for every cross-corpus pair sharing at
    * least `minHits` distinct n-gram shingles. `maxShingleDf` drops
    * train-side stop-shingles (boilerplate present in more than that
    * many training docs — they flood the join with pairs that carry no
    * leak signal; dropped shingles don't count toward `shared`, making
    * it a lower bound exactly like [[TextDedup.ngramJaccardPairs]]). */
  def overlaps(
      train: DataFrame,
      trainIdCol: String,
      trainTextCol: String,
      test: DataFrame,
      testIdCol: String,
      testTextCol: String,
      n: Int,
      minHits: Int = 2,
      maxShingleDf: Option[Int] = Some(10000)): DataFrame = {
    // TextDedup.explodedShingles, not a bare explode (r18): the
    // non-outer explode's inferred generate filter re-ran the full
    // shingle kernel inside BOTH scans (plan-verified — this was why
    // decontaminate/contamination_frac missed the r17 cheap-predicate
    // win; see TextDedup.exploded's scaladoc for the equivalence proof)
    var tr = TextDedup.explodedShingles(train, trainIdCol, trainTextCol, n)
      .select(col("id").as("train_id"), col("shingle"))
    maxShingleDf.foreach { cap =>
      val hot = tr.groupBy("shingle").count()
        .filter(col("count") > cap).select("shingle")
      tr = tr.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
    val te = TextDedup.explodedShingles(test, testIdCol, testTextCol, n)
      .select(col("id").as("test_id"), col("shingle"))
    tr.join(broadcast(te), Seq("shingle"))
      .groupBy("train_id", "test_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minHits)
  }

  /** Per-train-document contamination FRACTION (the Llama-2-style
    * eval report, vs [[overlaps]]' pairwise flag): each training
    * document's distinct-shingle count and how many of them appear
    * ANYWHERE in the benchmark — the numerator/denominator a
    * pipeline thresholds ("drop documents > X% contaminated") and
    * the per-benchmark contamination tables papers publish. Same
    * broadcast inverted shape as [[overlaps]]: the benchmark's
    * distinct shingles broadcast, the train side never shuffles
    * (one left join + one train-doc-keyed aggregate). */
  def contaminationFraction(
      train: DataFrame,
      trainIdCol: String,
      trainTextCol: String,
      test: DataFrame,
      testIdCol: String,
      testTextCol: String,
      n: Int): DataFrame = {
    // explodedShingles, not explode: see [[overlaps]]' note
    val tr = TextDedup.explodedShingles(train, trainIdCol, trainTextCol, n)
      .select(col("id").as("train_id"), col("shingle"))
    val te = TextDedup.explodedShingles(test, testIdCol, testTextCol, n)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    tr.join(broadcast(te), Seq("shingle"), "left")
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
  }

  /** The benchmark's distinct n-gram shingles collected to the driver —
    * the one-time prep for [[cleanWithSet]]. Bounded by the eval set's
    * size by definition (a benchmark is thousands of docs, not a
    * corpus); guard rails belong to the caller choosing what counts as
    * a benchmark. */
  def benchmarkShingles(
      test: DataFrame,
      testIdCol: String,
      testTextCol: String,
      n: Int): Seq[String] =
    // explodedShingles, not explode: see [[overlaps]]' note
    TextDedup.explodedShingles(test, testIdCol, testTextCol, n)
      .select(col("shingle")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq

  /** Stateless leak filter against a pre-collected benchmark shingle
    * set ([[benchmarkShingles]]): drops every row whose text shares at
    * least `minHits` distinct n-grams with the benchmark UNION (the
    * GPT-3 appendix C semantics — any long-n-gram collision with any
    * eval document dirties the row; for minHits > 1 this is a
    * conservative superset of [[clean]]'s per-pair counting, since
    * hits may come from different eval docs). The test is one
    * codegen'd per-row expression ([[graft.functions.ShingleHits]]) —
    * no join, no shuffle, no state — so the SAME call cleans a batch
    * table or a structured stream (crawl filtering at ingest), where
    * a join-based plan would need stream-state machinery. */
  def cleanWithSet(
      docs: DataFrame,
      textCol: String,
      benchmark: Seq[String],
      n: Int,
      minHits: Int = 1): DataFrame = {
    val hits = org.apache.spark.sql.graftshim.Shim.column(
      graft.functions.ShingleHits(
        org.apache.spark.sql.graftshim.Shim.expression(col(textCol)),
        graft.functions.ShingleSetRef(benchmark, n)))
    // null text → 0 hits, keeping batch/stream parity with [[clean]]'s
    // join path (which keeps null-text train docs: they can't collide)
    docs.filter(coalesce(hits, lit(0)) < minHits)
  }

  /** The training corpus minus every document [[overlaps]] flags — one
    * broadcast anti-join on the (small, pair-bounded) flag set. */
  def clean(
      train: DataFrame,
      trainIdCol: String,
      trainTextCol: String,
      test: DataFrame,
      testIdCol: String,
      testTextCol: String,
      n: Int,
      minHits: Int = 2,
      maxShingleDf: Option[Int] = Some(10000)): DataFrame = {
    val flagged = overlaps(train, trainIdCol, trainTextCol,
        test, testIdCol, testTextCol, n, minHits, maxShingleDf)
      .select(col("train_id").as(trainIdCol)).distinct()
    train.join(broadcast(flagged), Seq(trainIdCol), "left_anti")
  }
}
