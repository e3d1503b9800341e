package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

import graft.SparkTestBase
import graft.index.RangeLedger

/** Shard-parallel build + file-level merge for the persisted index
  * families (r14): shards built with identical parameters over
  * disjoint docid ranges merge as pure file renames, and the merged
  * index is RESULT-IDENTICAL to one built monolithically over the
  * union — postings, searches, probes, and stats. Crash windows of
  * the marker protocol roll forward at load. */
class IndexMergeSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "some other corpus document text that lives in the lake"),
    (3L, "a third document with enough distinct words to shingle"),
    (4L, "and a fourth one closing out the miniature test corpus"),
    (10L, "vector search with hash joins is a database topic"),
    (11L, "the lazy dog sleeps while the quick brown fox jumps"),
    (12L, "hash partitioned vector indexes merge by file moves"),
    (13L, "closing documents mention the corpus one final time"))
    .toDF("doc_id", "text")

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-merge-$tag").toString

  /** The pairwise claims step, used to plant crash footprints by
    * hand: every (lo, hi) docid claim of `src` is appended to `dst`'s
    * `_ranges` unless already there (value-level idempotence for
    * replays); a PARTIAL overlap with dst's existing claims throws —
    * merging an already-indexed doc range would double its postings. */
  private def claimRanges(
      spark: SparkSession, dstPath: String, srcPath: String): Unit = {
    val mine = RangeLedger.read(spark, dstPath)
    val theirs = RangeLedger.read(spark, srcPath)
    theirs.foreach { case (lo, hi) =>
      if (!mine.contains((lo, hi))) {
        mine.find { case (l, h) => lo <= h && l <= hi }.foreach {
          case (l, h) => throw new IllegalArgumentException(
            s"index merge: source range [$lo,$hi] intersects " +
            s"already-indexed [$l,$h] — shards must cover disjoint " +
            "docid ranges")
        }
        RangeLedger.record(spark, dstPath, (lo, hi))
      }
    }
  }

  private def postingRows(path: String): Set[String] = {
    // through the manifest (r17): the raw tree now carries the
    // internal `gen` partition column, whose values legitimately
    // differ between a merged lake and a monolithic one
    val m = graft.index.Manifests.require(spark, path)
    graft.index.Manifests.dataFrame(spark, path, m)
      .collect().map(_.toString).toSet
  }

  test("shingle shards merge file-level into the monolithic index: " +
    "postings identical, survivors identical, stats summed") {
    val root = scratch("shingle")
    ShingleIndex.build(corpus, "doc_id", "text", s"$root/whole",
      ngram = 3, nBuckets = 8)
    val a = ShingleIndex.build(corpus.filter($"doc_id" < 10),
      "doc_id", "text", s"$root/a", ngram = 3, nBuckets = 8)
    val b = ShingleIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/b", ngram = 3, nBuckets = 8)
    val merged = a.merge(b)
    assert(postingRows(s"$root/a") == postingRows(s"$root/whole"))
    assert(merged.nDocs == 8)
    assert(!new java.io.File(s"$root/b").exists, "source drained")
    assert(!new java.io.File(s"$root/a/_merge_pending").exists)
    // probe equality against the monolith
    val incoming = Seq(
      (20L, "the quick brown fox jumps over the lazy dog tonight"),
      (21L, "hash partitioned vector indexes merge by file renames"),
      (22L, "an entirely novel incoming document with fresh words"))
      .toDF("doc_id", "text")
    def surv(idx: ShingleIndex): Set[Long] = idx
      .survivors(incoming, "doc_id", "text", 0.35)
      .select("doc_id").as[Long].collect().toSet
    val whole = ShingleIndex.load(spark, s"$root/whole")
    assert(surv(merged) == surv(whole))
    // reload round-trips the merged stats
    assert(ShingleIndex.load(spark, s"$root/a").nDocs == 8)
  }

  test("bm25 shards merge file-level: search and facet results equal " +
    "the monolithic index, (n, sumdl) summed, _meta concatenated") {
    val root = scratch("bm25")
    val whole = Bm25Index.build(corpus, "text", "doc_id",
      s"$root/whole", nBuckets = 8)
    val a = Bm25Index.build(corpus.filter($"doc_id" < 10), "text",
      "doc_id", s"$root/a", nBuckets = 8)
      .writeMeta(corpus.filter($"doc_id" < 10), "doc_id", Seq("text"))
    val b = Bm25Index.build(corpus.filter($"doc_id" >= 10), "text",
      "doc_id", s"$root/b", nBuckets = 8)
      .writeMeta(corpus.filter($"doc_id" >= 10), "doc_id", Seq("text"))
    val merged = a.merge(b)
    assert(merged.n == whole.n && merged.sumdl == whole.sumdl)
    def top(idx: Bm25Index): Seq[(Long, Long)] = idx
      .search(Seq("quick", "vector", "corpus"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(merged) == top(whole))
    // meta survived the merge at file level: all 8 docids fetchable
    assert(merged.meta.count() == 8)
    assert(Bm25Index.load(spark, s"$root/a").n == 8)
  }

  test("winnow shards merge file-level: near-copy pairs equal the " +
    "monolithic lake") {
    val root = scratch("winnow")
    val whole = WinnowIndex.build(corpus, "doc_id", "text",
      s"$root/whole", k = 4, w = 5, nBuckets = 8)
    val a = WinnowIndex.build(corpus.filter($"doc_id" < 10),
      "doc_id", "text", s"$root/a", k = 4, w = 5, nBuckets = 8)
    val b = WinnowIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/b", k = 4, w = 5, nBuckets = 8)
    val merged = a.merge(b)
    val incoming = Seq(
      (30L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    def pairs(idx: WinnowIndex): Set[(Long, Long)] = idx
      .probe(incoming, "doc_id", "text", minShared = 1)
      .select("new_id", "old_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(merged) == pairs(whole) && pairs(merged).nonEmpty)
    assert(merged.nDocs == 8)
  }

  test("ivf shards built with the SAME codebook merge as pure file " +
    "moves: searches equal the monolithic index") {
    val rnd = new scala.util.Random(7)
    val emb = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == i % 3 * 2) 1.0f else 0.0f) + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(emb, "embedding", k = 3, sampleSize = 200)
    val root = scratch("ivf")
    val whole = graft.index.IvfVectorIndex.build(
      emb, "embedding", "vec_id", s"$root/whole", model)
    val a = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" < 60), "embedding", "vec_id", s"$root/a", model)
    val b = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" >= 60), "embedding", "vec_id", s"$root/b", model)
    val merged = a.merge(b)
    assert(merged.count() == 120)
    assert(!new java.io.File(s"$root/b").exists)
    val q = Array.tabulate(8)(d => if (d == 2) 1.0f else 0.0f)
    def top(ix: graft.index.IvfVectorIndex): Seq[Long] = ix
      .search(q, 10, nprobe = 2).select("docid")
      .collect().map(_.getLong(0)).toSeq
    assert(top(merged) == top(whole))
  }

  test("lsh shards built with the SAME hyperplanes merge as pure " +
    "file moves: searches equal the monolithic index; differing " +
    "planes refuse") {
    import graft.operators.HyperplaneLsh
    val rnd = new scala.util.Random(13)
    val emb = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(16)(_ => rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val lsh = HyperplaneLsh(dim = 16, nbits = 3, seed = 5L)
    val root = scratch("lsh")
    val whole = graft.index.LshVectorIndex.build(
      emb, "embedding", "vec_id", s"$root/whole", lsh)
    val a = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" < 50), "embedding", "vec_id", s"$root/a", lsh)
    val b = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" >= 50), "embedding", "vec_id", s"$root/b", lsh)
    val merged = a.merge(b)
    assert(merged.count() == 100)
    assert(!new java.io.File(s"$root/b").exists)
    val q = Array.tabulate(16)(d => if (d < 4) 1.0f else -0.2f)
    def top(ix: graft.index.LshVectorIndex): Seq[Long] = ix
      .search(q, 8, probes = 2).select("docid")
      .collect().map(_.getLong(0)).toSeq
    assert(top(merged) == top(whole) && top(merged).nonEmpty)
    // differing planes refuse
    val c = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" >= 50), "embedding", "vec_id", s"$root/c",
      HyperplaneLsh(dim = 16, nbits = 3, seed = 6L))
    intercept[IllegalArgumentException] {
      graft.index.LshVectorIndex.load(spark, s"$root/whole").merge(c)
    }
  }

  test("partition pruning SURVIVES the merge: a search over the " +
    "merged bm25 lake still prunes to the query terms' bucket " +
    "partitions, and the merged ivf search prunes to probed clusters") {
    val root = scratch("prune")
    val a = Bm25Index.build(corpus.filter($"doc_id" < 10), "text",
      "doc_id", s"$root/a", nBuckets = 8)
    val b = Bm25Index.build(corpus.filter($"doc_id" >= 10), "text",
      "doc_id", s"$root/b", nBuckets = 8)
    val plan = a.merge(b).search(Seq("vector", "hash", "corpus"), 5)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*".r
      .findFirstIn(plan).isDefined, plan)
    val rnd = new scala.util.Random(5)
    val emb = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == i % 2 * 2) 1.0f else 0.0f) + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(emb, "embedding", k = 2, sampleSize = 100)
    val ia = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" < 40), "embedding", "vec_id", s"$root/ia", model)
    val ib = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" >= 40), "embedding", "vec_id", s"$root/ib", model)
    val q = Array.tabulate(8)(d => if (d == 0) 1.0f else 0.0f)
    val iplan = ia.merge(ib).search(q, 5, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster[^\\]]*".r
      .findFirstIn(iplan).isDefined, iplan)
    // and the lsh family (r15): probed-bucket pruning survives too
    import graft.operators.HyperplaneLsh
    val lsh = HyperplaneLsh(dim = 8, nbits = 3, seed = 11L)
    val la = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" < 40), "embedding", "vec_id", s"$root/lpa", lsh)
    val lb = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" >= 40), "embedding", "vec_id", s"$root/lpb", lsh)
    val lplan = la.merge(lb).search(q, 5, probes = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*".r
      .findFirstIn(lplan).isDefined, lplan)
  }

  test("guards: parameter mismatch and overlapping docid ranges throw") {
    val root = scratch("guards")
    val a = ShingleIndex.build(corpus.filter($"doc_id" < 10),
      "doc_id", "text", s"$root/a", ngram = 3, nBuckets = 8)
    val bWrongParams = ShingleIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/bp", ngram = 4, nBuckets = 8)
    intercept[IllegalArgumentException] { a.merge(bWrongParams) }
    val bOverlap = ShingleIndex.build(corpus.filter($"doc_id" >= 3),
      "doc_id", "text", s"$root/bo", ngram = 3, nBuckets = 8)
    intercept[IllegalArgumentException] { a.merge(bOverlap) }
    // ivf: differing codebooks refuse
    val rnd = new scala.util.Random(3)
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(_ => rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val m1 = Ivf.train(emb, "embedding", k = 2, sampleSize = 50)
    val m2 = Ivf.Model(m1.centroids.map(_.map(v => v + 0.5f)))
    val ia = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" < 20), "embedding", "vec_id", s"$root/ia", m1)
    val ib = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" >= 20), "embedding", "vec_id", s"$root/ib", m2)
    intercept[IllegalArgumentException] { ia.merge(ib) }
    // r15: the vector families enforce the SAME docid-disjointness
    // guard as the postings lakes — overlapping shard ranges refuse
    val iOverlap = graft.index.IvfVectorIndex.build(
      emb.filter($"vec_id" >= 10), "embedding", "vec_id", s"$root/io", m1)
    intercept[IllegalArgumentException] { ia.merge(iOverlap) }
    import graft.operators.HyperplaneLsh
    val lsh = HyperplaneLsh(dim = 4, nbits = 2, seed = 9L)
    val la = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" < 20), "embedding", "vec_id", s"$root/la", lsh)
    val lo = graft.index.LshVectorIndex.build(
      emb.filter($"vec_id" >= 10), "embedding", "vec_id", s"$root/lo", lsh)
    intercept[IllegalArgumentException] { la.merge(lo) }
    // self-merge / duplicate sources refuse BEFORE any claim or move
    // (the collision fallback would rename files onto themselves and
    // then delete the destination tree)
    intercept[IllegalArgumentException] { la.merge(la) }
    intercept[IllegalArgumentException] { la.mergeAll(Seq(lo, lo)) }
    // r15: overlap BETWEEN two sources (both disjoint from the
    // destination) is caught by the multi-way claims pass too
    val s1 = ShingleIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/s1", ngram = 3, nBuckets = 8)
    val s2 = ShingleIndex.build(corpus.filter($"doc_id" >= 12),
      "doc_id", "text", s"$root/s2", ngram = 3, nBuckets = 8)
    intercept[IllegalArgumentException] { a.mergeAll(Seq(s1, s2)) }
  }

  test("merge crash AFTER the marker (files partially moved): load " +
    "rolls the merge forward — postings equal the monolith, stats " +
    "correct, source drained, marker gone") {
    val root = scratch("crash")
    ShingleIndex.build(corpus, "doc_id", "text", s"$root/whole",
      ngram = 3, nBuckets = 8)
    val a = ShingleIndex.build(corpus.filter($"doc_id" < 10),
      "doc_id", "text", s"$root/a", ngram = 3, nBuckets = 8)
    val b = ShingleIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/b", ngram = 3, nBuckets = 8)
    // the crash footprint, planted by hand (r17 manifest protocol):
    // ranges claimed, marker written, the source's GENERATIONS moved
    // into the destination — then death BEFORE the manifest commit
    // that would make them visible (the moved data sits unreferenced)
    val fs = new org.apache.hadoop.fs.Path(s"$root/a")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    claimRanges(spark, s"$root/a", s"$root/b")
    IndexMerge.writeMarker(fs, new org.apache.hadoop.fs.Path(s"$root/a"),
      s"$root/b", Seq(8L, 3L, 8L, 1L))
    graft.index.Manifests.moveGenerations(spark, s"$root/b", s"$root/a")
    // the uncommitted move is invisible — and load must complete the
    // merge: re-derive the part lines (moves skip), commit, drain
    val recovered = ShingleIndex.load(spark, s"$root/a")
    assert(recovered.nDocs == 8)
    assert(postingRows(s"$root/a") == postingRows(s"$root/whole"))
    assert(!new java.io.File(s"$root/b").exists)
    assert(!new java.io.File(s"$root/a/_merge_pending").exists)
  }

  test("a torn marker rolls back on read and the merge re-runs " +
    "value-idempotently") {
    val root = scratch("torn")
    val a = ShingleIndex.build(corpus.filter($"doc_id" < 10),
      "doc_id", "text", s"$root/a", ngram = 3, nBuckets = 8)
    val b = ShingleIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/b", ngram = 3, nBuckets = 8)
    // crash DURING the marker write: ranges already claimed, marker torn
    claimRanges(spark, s"$root/a", s"$root/b")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/a/_merge_pending"),
      "gar\nbage\nnot-a-long\n".getBytes)
    val reloaded = ShingleIndex.load(spark, s"$root/a") // rolls back
    assert(!new java.io.File(s"$root/a/_merge_pending").exists)
    assert(reloaded.nDocs == 4, "torn marker must not corrupt stats")
    // the re-run resumes cleanly (range claims already present)
    val merged = reloaded.merge(ShingleIndex.load(spark, s"$root/b"))
    assert(merged.nDocs == 8)
    a.hashCode(); b.hashCode()
  }

  test("many-shard merge trips the PRODUCTION auto-compact rule; " +
    "compact settles the cycle and changes no result (r15 — the " +
    "fan-in × fragmentation interaction, measured in BASELINE.md)") {
    import org.apache.spark.sql.functions.{col, concat, concat_ws, hash, lit, pmod}
    val root = scratch("fanincycle")
    // 48 docs of 40 hashed terms each — every shard touches all 4
    // buckets, so a 24-shard merge carries ~24 files per bucket:
    // past the production rule (slack 16 × ideal 4 = 64 files)
    val docs = spark.range(0L, 48L).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(i =>
        concat(lit("w"), pmod(hash(col("id") * 61 + i), lit(500)))): _*)
        .as("text"))
    val whole = Bm25Index.build(docs, "text", "doc_id",
      s"$root/whole", nBuckets = 4)
    val shards = (0 until 24).map { sId =>
      Bm25Index.build(
        docs.filter(col("doc_id") >= sId * 2 && col("doc_id") < sId * 2 + 2),
        "text", "doc_id", s"$root/s$sId", nBuckets = 4)
    }
    // the r15 multi-way form: one claims pass, one marker, one stats
    // write for the whole fan-in
    val merged = shards.head.mergeAll(shards.tail)
    assert(merged.n == whole.n && merged.sumdl == whole.sumdl)
    val (filesPre, _) = merged.storageFootprint()
    assert(filesPre > 64, s"fan-in fragmentation expected: $filesPre files")
    assert(merged.shouldCompact(),
      "the production rule must fire after a many-shard merge")
    def top(ix: Bm25Index) = ix.search(Seq("100", "200", "33"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = top(merged)
    assert(before == top(whole))
    val compacted = merged.compact()
    assert(!compacted.shouldCompact(), "one compact settles the cycle")
    val (filesPost, _) = compacted.storageFootprint()
    assert(filesPost <= 4, s"one file per bucket expected: $filesPost")
    assert(top(compacted) == before, "compaction changes no score")
  }

  test("property: ANY random shard split mergeAll-s back to the " +
    "monolithic index — postings set, stats, and search identical " +
    "(3 seeded trials, 2-6 shards)") {
    import org.apache.spark.sql.functions.{col, concat, concat_ws, hash, lit, pmod}
    val docs = spark.range(0L, 30L).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 20).map(i =>
        concat(lit("w"), pmod(hash(col("id") * 31 + i), lit(200)))): _*)
        .as("text"))
    val root = scratch("prop")
    val whole = Bm25Index.build(docs, "text", "doc_id",
      s"$root/whole", nBuckets = 4)
    def top(ix: Bm25Index) = ix.search(Seq("10", "55", "199"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wholeTop = top(whole)
    (0 until 3).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      val nShards = 2 + rnd.nextInt(5)
      // random strictly-increasing cut points over [1, 30)
      val cuts = (0L +: Seq.fill(nShards - 1)(1L + rnd.nextInt(29).toLong)
        .distinct.sorted) :+ 30L
      val shards = cuts.sliding(2).zipWithIndex.flatMap {
        case (Seq(lo, hi), i) if lo < hi =>
          Some(Bm25Index.build(
            docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
            "text", "doc_id", s"$root/t${trial}_s$i", nBuckets = 4))
        case _ => None
      }.toSeq
      val merged = shards.head.mergeAll(shards.tail)
      assert(merged.n == whole.n && merged.sumdl == whole.sumdl,
        s"trial $trial (${shards.size} shards): stats diverge")
      assert(postingRows(s"$root/t${trial}_s0") ==
        postingRows(s"$root/whole"),
        s"trial $trial: postings diverge")
      assert(top(merged) == wholeTop, s"trial $trial: search diverges")
    }
  }

  test("multi-way merge crash AFTER the marker (one source drained, " +
    "two untouched): load rolls ALL listed sources forward — " +
    "postings equal the monolith, stats correct, sources gone (r15)") {
    val root = scratch("multicrash")
    Bm25Index.build(corpus, "text", "doc_id", s"$root/whole", nBuckets = 8)
    val a = Bm25Index.build(corpus.filter($"doc_id" < 3), "text",
      "doc_id", s"$root/a", nBuckets = 8)
    val b = Bm25Index.build(corpus.filter($"doc_id" >= 3 && $"doc_id" < 10),
      "text", "doc_id", s"$root/b", nBuckets = 8)
    val c = Bm25Index.build(corpus.filter($"doc_id" >= 10 && $"doc_id" < 12),
      "text", "doc_id", s"$root/c", nBuckets = 8)
    val d = Bm25Index.build(corpus.filter($"doc_id" >= 12), "text",
      "doc_id", s"$root/d", nBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(s"$root/a")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // footprint (r17 manifest protocol): claims landed, multi-src
    // marker written, source b's generations already moved in, c and
    // d untouched — death before the manifest commit and stats
    IndexMerge.claimRangesAll(spark, s"$root/a",
      Seq(s"$root/b", s"$root/c", s"$root/d"))
    IndexMerge.writeMarker(fs, new org.apache.hadoop.fs.Path(s"$root/a"),
      IndexMerge.joinSrcs(Seq(s"$root/b", s"$root/c", s"$root/d")),
      Seq(whole(root).n, whole(root).sumdl, 8L))
    graft.index.Manifests.moveGenerations(spark, s"$root/b", s"$root/a")
    // load must finish c and d too
    val recovered = Bm25Index.load(spark, s"$root/a")
    assert(recovered.n == whole(root).n &&
      recovered.sumdl == whole(root).sumdl)
    assert(!new java.io.File(s"$root/c").exists)
    assert(!new java.io.File(s"$root/d").exists)
    assert(!new java.io.File(s"$root/a/_merge_pending").exists)
    def top(ix: Bm25Index) = ix.search(Seq("quick", "vector", "corpus"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(recovered) == top(whole(root)))
    a.hashCode(); b.hashCode(); c.hashCode(); d.hashCode()
  }

  private def whole(root: String): Bm25Index =
    Bm25Index.load(spark, s"$root/whole")

  test("a marker torn at a LINE boundary (src + short stats, all " +
    "parseable) is still detected as torn — the terminator is load-" +
    "bearing (r15)") {
    val root = scratch("linetorn")
    val a = ShingleIndex.build(corpus.filter($"doc_id" < 10),
      "doc_id", "text", s"$root/a", ngram = 3, nBuckets = 8)
    val b = ShingleIndex.build(corpus.filter($"doc_id" >= 10),
      "doc_id", "text", s"$root/b", ngram = 3, nBuckets = 8)
    claimRanges(spark, s"$root/a", s"$root/b")
    // the crash landed exactly after the first stat's newline: every
    // line parses, but the stats list is short — under the pre-r15
    // rules this read as a VALID marker and completeMerge indexed
    // past stats(0), wedging every subsequent load
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/a/_merge_pending"),
      s"$root/b\n8\n".getBytes("UTF-8"))
    val reloaded = ShingleIndex.load(spark, s"$root/a") // must not throw
    assert(!new java.io.File(s"$root/a/_merge_pending").exists,
      "line-torn marker rolled back")
    assert(reloaded.nDocs == 4)
    val merged = reloaded.merge(ShingleIndex.load(spark, s"$root/b"))
    assert(merged.nDocs == 8)
    a.hashCode(); b.hashCode()
  }

  test("the _ranges ledger is read on the driver: readRanges and a " +
    "claims pass over two sources submit no Spark job") {
    val root = scratch("ledgerjobs")
    RangeLedger.record(spark, s"$root/a", (1L, 50L))
    RangeLedger.record(spark, s"$root/s1", (100L, 198L), (101L, 199L))
    RangeLedger.record(spark, s"$root/s2", (300L, 399L))
    val srcs = Seq(s"$root/s1", s"$root/s2")
    // the first pass lands the claims (one ledger write); the re-run
    // finds them all present, so it only reads
    IndexMerge.claimRangesAll(spark, s"$root/a", srcs)
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Shim.waitUntilEmpty(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      val claimed = RangeLedger.read(spark, s"$root/a")
      IndexMerge.claimRangesAll(spark, s"$root/a", srcs)
      Shim.waitUntilEmpty(spark)
      assert(jobs.get() == 0)
      assert(claimed.toSet == Set((1L, 50L), (100L, 198L), (101L, 199L),
        (300L, 399L)))
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
