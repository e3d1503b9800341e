package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Components, MinHashLsh, TextDedup}

/** `dedup_batch`: a batch curation pass over a generated corpus with
  * planted duplicates, and the write of its survivors.
  *
  * One pass: `MinHashLsh.nearDupPairs` (pairs written as a report) →
  * `Components.labelCorpus` → `TextDedup.dedupExact` over the kept rows
  * → parquet write. The executor does most of the work here: shingle
  * and MinHash kernels, the banded self-join shuffle, materialization. */
final class DedupBatch(ctx: Ctx, docs: Int) extends Workload {
  import DedupBatch._

  private val spark = ctx.spark
  private var corpus: Data.DedupCorpus = _
  private var input: DataFrame = _
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var passes = 0
  private var survivorBytes = 0L
  private var survivorRows = 0L
  private var verifiedPairs = 0L

  def setup(): Unit = {
    corpus = ctx.step("generate")(Data.dedupCorpus(ctx.seed, docs))
    input = ctx.step("write_corpus")(write(corpus, "corpus"))
  }

  private def write(c: Data.DedupCorpus, name: String): DataFrame = {
    import spark.implicits._
    c.ids.toSeq.zip(c.texts).toDF("id", "text")
      .repartition(ctx.cores)
      .write.mode("overwrite").parquet(ctx.path(name))
    spark.read.parquet(ctx.path(name))
  }

  /** One untimed pass over the measured corpus: a smaller one would
    * warm other join strategies than the measured passes use. */
  def warmup(): Unit = ctx.step("warmup")(primaryCall())

  /** One checked pass whose output is not kept. */
  def primaryCall(): Unit = {
    ctx.op("pass")(runPass(input, "single"))(verify(corpus, _))
    Fs.delete(ctx.path("single-pairs"))
    Fs.delete(ctx.path("single-out"))
  }

  def iteration(): Unit = {
    val tag = s"pass$passes"
    passes += 1
    ctx.op("pass")(runPass(input, tag))(verify(corpus, _)).foreach { r =>
      recalls += r.recall
      survivorBytes = r.survivorBytes
      survivorRows = r.survivors
      verifiedPairs = r.pairs.length.toLong
    }
    Fs.delete(ctx.path(s"$tag-pairs"))
    Fs.delete(ctx.path(s"$tag-out"))
  }

  /** The timed pass; returns where it wrote. */
  private def runPass(docsDf: DataFrame, tag: String): String = {
    val pairsOut = ctx.path(s"$tag-pairs")
    val out = ctx.path(s"$tag-out")
    ctx.spans("operators.near_dup_pairs") {
      MinHashLsh.nearDupPairs(docsDf, "id", "text", threshold = Threshold)
        .write.mode("overwrite").parquet(pairsOut)
    }
    val labeled = ctx.spans("operators.components") {
      Components.labelCorpus(docsDf, "id",
        spark.read.parquet(pairsOut), "id_a", "id_b")
    }
    ctx.spans("operators.dedup_exact") {
      TextDedup.dedupExact(
          labeled.filter(col("keep")).select("id", "text"), "id", "text")
        .write.mode("overwrite").parquet(out)
    }
    tag
  }

  private def verify(c: Data.DedupCorpus, tag: String): PassResult = {
    val pairs = spark.read.parquet(ctx.path(s"$tag-pairs"))
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val outDf = spark.read.parquet(ctx.path(s"$tag-out"))
    val survivors = outDf.count()
    PassResult(pairs, survivors, Fs.bytes(ctx.path(s"$tag-out")),
      checkPass(c, pairs, survivors, ctx.seed))
  }

  def endToEnd: EndToEnd = {
    val ms = ctx.samples("pass")
    EndToEnd(
      throughputPerS = docs * ms.length / (ms.sum / 1000.0),
      opMs = Stats.median(ms.toSeq),
      quality = recalls.sum / recalls.length,
      bytesPerRow = survivorBytes.toDouble / survivorRows)
  }

  def summary: Seq[String] = {
    val ms = ctx.samples.getOrElse("pass", mutable.ArrayBuffer.empty[Double])
    val t = Stats.timing(ms.toSeq)
    Seq(
      f"docs=$docs near_pairs=${corpus.nearPairs.size} exact_pairs=${corpus.exactPairs.size}",
      t.render("pass_ms", "ms"),
      "  passes: " + ms.map(x => f"$x%.0f").mkString(" "),
      f"dedup_docs_per_s            ${docs / (t.p50 / 1000.0)}%.1f  (docs / median pass, n=${t.n})",
      f"dup_recall                  ${recalls.sum / recalls.length}%.4f  (n=${recalls.length} passes)",
      f"survivors                   $survivorRows  bytes=$survivorBytes")
  }

  override def layerExtras(): Seq[(String, Double)] = {
    val sigs = MinHashLsh.signatures(input, "id", "text")
    val cands = ctx.spans("operators.lsh_candidates") {
      MinHashLsh.candidatePairs(sigs, 16).count()
    }
    // signature kernel throughput: a signature pass minus a scan-only
    // pass over the same rows, medians of three
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    val sigMs = Stats.median((1 to 3).map(_ => noop(sigs)))
    val scanMs = Stats.median((1 to 3).map(_ => noop(input)))
    Seq(
      "operators.lsh_candidates.rows" -> cands.toDouble,
      "operators.lsh.verify_yield" -> verifiedPairs.toDouble / math.max(1L, cands),
      "functions.minhash_signature.rows_per_s" ->
        docs / (math.max(1.0, sigMs - scanMs) / 1000.0))
  }
}

object DedupBatch {
  val Threshold = 0.5
  /** Planted near pairs a pass must find, at least. */
  val MinRecall = 0.9
  /** Emitted pairs whose Jaccard is recomputed, per pass. */
  val JaccardSample = 200

  final case class PassResult(
      pairs: Array[(Long, Long, Double)],
      survivors: Long,
      survivorBytes: Long,
      recall: Double)

  /** Check one pass's output against the corpus; returns the planted
    * near-pair recall. Throws [[CheckFailed]] on any mismatch:
    *  - every emitted pair is ordered (id_a < id_b) and distinct;
    *  - at least [[MinRecall]] of the planted near pairs and every
    *    planted exact pair are emitted;
    *  - recomputed Jaccard of every unplanted pair and of a seeded
    *    sample of the rest is at least the threshold and equals the
    *    reported value;
    *  - survivors = docs minus the merges the emitted pair graph
    *    implies (one document kept per connected component). */
  def checkPass(c: Data.DedupCorpus, pairs: Array[(Long, Long, Double)],
      survivors: Long, seed: Long): Double = {
    CheckFailed.require(pairs.forall { case (a, b, _) => a < b },
      "pair with id_a >= id_b")
    val keys = pairs.map { case (a, b, _) => (a, b) }
    CheckFailed.require(keys.distinct.length == keys.length, "duplicate pairs")
    val emitted = keys.toSet
    val recall = c.nearPairs.count(emitted).toDouble / c.nearPairs.size
    CheckFailed.require(recall >= MinRecall,
      f"planted near-pair recall $recall%.4f < $MinRecall")
    val missedExact = c.exactPairs.filterNot(emitted)
    CheckFailed.require(missedExact.isEmpty,
      s"${missedExact.size} planted exact pairs not emitted")
    val planted = c.nearPairs ++ c.exactPairs
    val rng = new java.util.Random(seed)
    val (unplanted, known) = pairs.partition(p => !planted((p._1, p._2)))
    val sample = unplanted ++
      Data.shuffled(rng, known.length).take(JaccardSample).map(known(_))
    sample.foreach { case (a, b, j) =>
      val exact = Checks.jaccard(Checks.shingles(c.textById(a), 3),
        Checks.shingles(c.textById(b), 3))
      CheckFailed.require(exact >= Threshold && math.abs(exact - j) < 1e-9,
        f"pair ($a,$b): reported jaccard $j%.6f, recomputed $exact%.6f")
    }
    val expected = c.size - Checks.mergesImplied(keys)
    CheckFailed.require(survivors == expected,
      s"$survivors survivors, expected $expected")
    recall
  }
}
