package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.index.RangeLedger

/** Shard-merge machinery for the hash-partitioned index families —
  * the 100 TB INDEX BUILD story. A monolithic build of any of the
  * lakes shuffles the whole corpus's postings once; at petabyte scale
  * the right shape is shard-parallel: each worker (or each crawl
  * segment) builds its own index over its docid slice with purely
  * LOCAL sorts, and the shards then merge as O(generations) namenode
  * renames + one manifest commit (r17; was O(files) renames) — no
  * posting is read, decoded, shuffled, or rewritten,
  * because every family partitions by a CONTENT hash (`bucket =
  * pmod(hash(term|key), nBuckets)` or `cluster = nearest centroid`)
  * that is identical across shards built with the same parameters:
  * shard A's `bucket=7` files and shard B's `bucket=7` files are
  * disjoint row sets of the SAME merged partition, so the merged
  * index is just both file sets under one directory.
  *
  * Query-time stats stay exact through a merge by construction:
  * BM25's per-term df is computed from the (merged) postings at
  * search time, and the global (n, sumdl) are summed into `_stats`
  * by the marker protocol below. Compaction later folds the merged
  * small files — the usual maintenance story, not a merge cost.
  *
  * Crash safety mirrors [[graft.index.IvfVectorIndex]]'s staged
  * retrain: a `_merge_pending` marker written BEFORE any moves
  * carries the post-merge stats and the source paths, and every step
  * (generation move, manifest commit, stats overwrite, source
  * delete) is idempotent. ONE roll-forward,
  * [[graft.index.Manifests.completeMerge]], serves every family: the
  * one merge driver ([[graft.index.ManifestIndex.mergeAll]]) runs it
  * as its mainline, and every `load` and `compact` runs it to finish
  * an interrupted merge. This object holds the protocol's pieces:
  * markers, source ownership, quiesce and the multi-source claims
  * pass over the [[graft.index.RangeLedger]] docid-claim ledger. */
object IndexMerge {

  /** Move the plain data files directly under `src` into `dst`
    * (created on demand) — for flat sidecar dirs like BM25's `_meta`
    * (data generations move whole via [[graft.index.Manifests
    * .moveGenerations]] since r17). Idempotent; no-op when `src` is
    * absent. */
  private[graft] def moveFlatFiles(
      fs: FileSystem, src: Path, dst: Path): Long = {
    if (!fs.exists(src)) return 0L
    if (!fs.exists(dst)) fs.mkdirs(dst)
    var moved = 0L
    fs.listStatus(src).filter(_.isFile).foreach { f =>
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val to0 = new Path(dst, name)
        val to = if (!fs.exists(to0)) to0
          else new Path(dst, s"merged-${System.nanoTime()}-$name")
        require(fs.rename(f.getPath, to),
          s"index merge: cannot move ${f.getPath} to $to")
        moved += 1
      }
    }
    moved
  }

  /** Write the `_merge_pending` marker: `src` plus the post-merge
    * stat longs, one per line, closed by an `end` terminator line.
    * Single small create — effectively atomic at the granularity the
    * protocol needs (a torn marker fails parse and [[readMarker]]
    * treats it as absent, i.e. the crash window collapses into
    * "before the marker"). The terminator is load-bearing: the
    * families write 4–6 lines, so a marker torn exactly at a LINE
    * boundary (src plus a stat prefix) would otherwise parse as a
    * short-but-valid stats list and index past its end in
    * completeMerge — wedging every subsequent load. */
  private[graft] def writeMarker(
      fs: FileSystem, dst: Path, src: String, stats: Seq[Long]): Unit = {
    val out = fs.create(new Path(dst, "_merge_pending"), true)
    try out.write((src + "\n" + stats.mkString("\n") + "\nend\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a pending-merge marker: (src path, post-merge stats), or
    * None when absent or torn — torn meaning missing/garbled stats OR
    * a missing `end` terminator (a crash mid-write can land any
    * prefix, including one torn at a line boundary). A torn marker
    * (the crash hit during the marker write itself — BEFORE any file
    * moved) is deleted on read: the protocol's state is then exactly
    * "ranges claimed, no marker", which a re-run of the same merge
    * resumes value-idempotently. */
  private[graft] def readMarker(
      fs: FileSystem, dst: Path): Option[(String, Seq[Long])] = {
    val p = new Path(dst, "_merge_pending")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    val lines = raw.split("\n").filter(_.nonEmpty)
    val parsed =
      if (lines.length < 3 || lines.last != "end") None
      else try Some((lines.head, lines.tail.init.toSeq.map(_.toLong)))
      catch { case _: NumberFormatException => None }
    if (parsed.isEmpty) fs.delete(p, false) // torn: roll back to no-marker
    parsed
  }

  private[graft] def deleteMarker(fs: FileSystem, dst: Path): Unit = {
    fs.delete(new Path(dst, "_merge_pending"), false); ()
  }

  /** Multi-way markers (r15): a marker's src line may carry SEVERAL
    * source paths, tab-joined — the fan-in sweep measured the
    * pairwise chain at ~0.6 s per merge call (claims read/append +
    * stats write + load, each a small Spark job), which at 64 shards
    * was 36 s of pure metadata; a multi-way merge pays those jobs
    * ONCE. Tab because marker lines split on newline and no temp or
    * lake path contains a tab (enforced at write). */
  private[graft] def joinSrcs(srcs: Seq[String]): String = {
    require(srcs.nonEmpty && srcs.forall(s =>
      !s.contains('\t') && !s.contains('\n')),
      s"index merge: source paths must not contain tab/newline: $srcs")
    srcs.mkString("\t")
  }

  /** Shared mergeAll precondition: a source that IS the destination
    * (or appears twice) would rename its files onto themselves via
    * the collision fallback and then DELETE the destination tree —
    * refuse loudly before any claim or move. Paths are compared
    * FULLY QUALIFIED (`fs.makeQualified`: scheme + authority +
    * working-dir resolution), not as raw strings — a trailing slash,
    * a `./` prefix, or a `file:/…` spelling of the destination is
    * still the destination, and letting an alias through is exactly
    * the self-delete this guard exists to prevent (ADVICE r15). */
  private[graft] def requireDistinctSources(
      spark: SparkSession, dstPath: String, srcs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = {
      val hp = new Path(p)
      val uri = hp.getFileSystem(conf).makeQualified(hp).toUri
      // null vs empty authority both mean "local": fold them so
      // `file:/x` and `file:///x` compare equal
      s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}" +
        uri.getPath
    }
    val dstQ = qualified(dstPath)
    val srcQ = srcs.map(qualified)
    srcQ.zip(srcs).find(_._1 == dstQ).foreach { case (_, raw) =>
      throw new IllegalArgumentException(
        s"index merge: source list contains the destination ($raw " +
        s"resolves to $dstQ) — merging an index into itself would " +
        "delete it")
    }
    val dup = srcQ.groupBy(identity).collectFirst {
      case (q, hits) if hits.size > 1 => q
    }
    dup.foreach { q => throw new IllegalArgumentException(
      s"index merge: duplicate source paths (resolve to $q): $srcs — " +
      "each shard may be absorbed once")
    }
  }

  /** The merge QUIESCE guard (r16): [[Bm25Index.mergeAll]] and its
    * four siblings DELETE every source tree after draining it — a
    * source whose ingest stream is still live can race the merge (a
    * claim-first append mid-write to a tree being renamed away), so
    * the handshake is explicit rather than conventional:
    *
    *  - a path that was never stream-fed (no `_batches` delivery
    *    ledger) has no stream to race by the single-writer contract —
    *    allowed;
    *  - a stream-fed path needs a `_quiesced` marker, written by
    *    [[graft.streaming.Quiesce.mark]] (or the stop-helper
    *    [[graft.streaming.IndexStream.stopAndQuiesce]]) AFTER the
    *    stream stopped; every streaming delivery clears the marker at
    *    batch ENTRY, so a restarted stream un-quiesces its lake
    *    before any effect lands and a concurrent merge refuses.
    *
    * The guard covers the DESTINATION too: the merge rewrites dst's
    * `_stats`/`_ranges`, which races a live dst stream identically.
    *
    * Lifecycle of a checkpoint restarted against a merged-away shard
    * path: the source tree (ledger included) is gone, so the restart
    * re-delivers from its checkpointed offsets into a FRESH lake at
    * that path — it does not corrupt the merged index (which lives at
    * the destination), but the re-built shard is a new, unmerged
    * index. Retire the checkpoint with the shard; a segment's stream
    * must not outlive its merge.
    *
    * Scope (r17): for SOURCES this check is now only the early,
    * friendly error — the authoritative guard is [[takeOwnership]]'s
    * rename-then-re-check, which closes the r16 check-then-delete
    * window entirely (a stream restarted after this check passed
    * either clears the marker before the rename, which the
    * post-rename re-check catches, or delivers into a fresh tree at
    * the original path that the merge never touches). The DESTINATION
    * cannot be renamed (the merge's output lands there), so for dst
    * the marker remains an advisory handshake: "do not restart the
    * destination's stream while its merge is in flight" stays part
    * of the single-writer contract. */
  private[graft] def requireQuiesced(
      spark: SparkSession, dstPath: String, srcs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    (dstPath +: srcs).foreach { p =>
      val ledger = new Path(p, "_batches")
      val fs = ledger.getFileSystem(conf)
      if (fs.exists(ledger) &&
          !fs.exists(new Path(p, graft.streaming.Quiesce.Marker)))
        throw new IllegalStateException(
          s"index merge: $p was stream-fed (_batches ledger present) " +
          "but carries no _quiesced marker — its ingest stream may " +
          "still be live, and merging would delete the tree under a " +
          "mid-flight append. Stop the stream and mark the lake " +
          "(IndexStream.stopAndQuiesce / Quiesce.mark) before merging.")
    }
  }

  private[graft] def splitSrcs(srcLine: String): Seq[String] =
    srcLine.split('\t').toSeq.filter(_.nonEmpty)

  /** Suffix of a source tree a merge has taken OWNERSHIP of (r17). */
  private[graft] val OwnedSuffix = ".__merging"

  /** The owned sibling name for a merge source. */
  private[graft] def ownedPath(src: String): String = {
    val s = if (src.endsWith("/") && src.length > 1) src.dropRight(1)
      else src
    s + OwnedSuffix
  }

  /** Take ATOMIC ownership of every merge source (r17 — closes the
    * check-then-delete window the r16 quiesce guard documented at its
    * own introduction): each source tree is RENAMED to
    * `<src>.__merging` (same-filesystem rename — atomic) BEFORE any
    * claim is read or file moved, so a stream deliberately restarted
    * after [[requireQuiesced]] passed finds NO lake at its configured
    * path — its next delivery bootstraps a fresh, unmerged lake there
    * (the documented restart lifecycle) instead of appending into a
    * tree mid-delete. After the rename the quiesce state is
    * re-checked INSIDE the owned tree: a `_batches` ledger without
    * the `_quiesced` marker means a restarted stream's batch ENTRY
    * (which clears the marker before any effect lands) won the race
    * to the rename — the tree is handed back and the merge refuses.
    * A batch entry that fires after the rename is a no-op delete on a
    * path that no longer exists, so the two outcomes are exhaustive:
    * either the merge sees the cleared marker and refuses, or the
    * restarted stream delivers into a fresh tree the merge never
    * touches.
    *
    * Idempotent across crashes: a re-run whose source already sits at
    * the owned sibling ADOPTS it (orig gone + owned present = this
    * merge's own interrupted run); `allowMissing` lets a resume
    * tolerate sources already drained and deleted. Both-exist is an
    * unresolvable manual state (an older interrupted merge's tree
    * AND a freshly rebuilt lake) and throws. On any refusal the
    * sources taken so far are handed back ([[releaseOwnership]]).
    *
    * Scope, stated honestly: the DESTINATION cannot be renamed (the
    * merge's output must land at its path), so dst keeps the advisory
    * handshake of [[requireQuiesced]] only. */
  private[graft] def takeOwnership(
      spark: SparkSession, srcs: Seq[String],
      allowMissing: Boolean): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val held = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      srcs.map { s =>
        val orig = new Path(s)
        val owned = new Path(ownedPath(s))
        val fs = orig.getFileSystem(conf)
        val origExists = fs.exists(orig)
        val ownedExists = fs.exists(owned)
        if (origExists && ownedExists)
          throw new IllegalStateException(
            s"index merge: BOTH $s and ${ownedPath(s)} exist — an " +
            "older interrupted merge left its owned tree next to a " +
            "freshly (re)built lake. Finish or discard the owned " +
            "tree by hand before merging this source again.")
        if (origExists) {
          require(fs.rename(orig, owned),
            s"index merge: cannot take ownership of $s")
          held += s
        } else if (!ownedExists && !allowMissing)
          throw new IllegalStateException(
            s"index merge: source $s does not exist (and no owned " +
            "sibling to adopt)")
        if (ownedExists) held += s // adopted: hand back too on refusal
        // authoritative re-check, post-rename: the marker can no
        // longer change under us (clears target the original path)
        if (fs.exists(owned) &&
            fs.exists(new Path(owned, "_batches")) &&
            !fs.exists(new Path(owned, graft.streaming.Quiesce.Marker)))
          throw new IllegalStateException(
            s"index merge: $s lost its _quiesced marker between the " +
            "guard and the ownership rename — its ingest stream " +
            "restarted since the drain. The tree was handed back; " +
            "stop the stream and quiesce the lake before merging.")
        ownedPath(s)
      }
    } catch {
      case e: Throwable =>
        held.foreach(s => releaseOwnership(spark, s))
        throw e
    }
  }

  /** Hand an owned source tree back to its original path (the merge
    * refused or failed validation before any file moved). No-op when
    * the owned tree is gone or the original path is occupied again
    * (a restarted stream's fresh lake must not be clobbered — the
    * owned tree then stays for manual adjudication, which
    * [[takeOwnership]]'s both-exist guard reports on the next run). */
  private[graft] def releaseOwnership(
      spark: SparkSession, src: String): Unit = {
    val owned = new Path(ownedPath(src))
    val orig = new Path(src)
    val fs = owned.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(owned) && !fs.exists(orig)) { fs.rename(owned, orig); () }
  }

  /** The multi-way claims step: every (lo, hi) docid claim of every
    * source lands in `dst`'s `_ranges` in ONE append (each source's
    * ledger is read on the driver on its own, so every claim's source
    * is known from the start), after in-memory validation.
    * The overlap rules are SOURCE-AWARE (r16, both ADVICE r15
    * findings):
    *
    *  - ranges WITHIN one source may interleave freely — a shard
    *    whose batches carried non-monotonic ids (file-source
    *    ordering) records overlapping per-batch (min,max) envelopes
    *    over perfectly distinct docids, and rejecting it would
    *    permanently strand a legitimately built shard;
    *  - ANY overlap BETWEEN two different sources throws, and the
    *    most blatant case — two sources claiming the IDENTICAL
    *    range — is detected explicitly instead of silently collapsed
    *    by a distinct() (the pre-r16 bug: two shards that indexed the
    *    same docid slice merged without error, duplicating every
    *    docid's postings and double-counting stats);
    *  - against the DESTINATION's claims, exact duplicates are
    *    skipped (value-level idempotence for interrupted re-runs) and
    *    partial overlaps throw. */
  private[graft] def claimRangesAll(
      spark: SparkSession, dstPath: String, srcPaths: Seq[String]): Unit = {
    val mine = RangeLedger.read(spark, dstPath)
    // per-source distinct: a replay artifact may duplicate a row
    // inside ONE ledger; that is never a cross-shard double-index
    val bySrc = srcPaths.distinct
      .map(src => src -> RangeLedger.read(spark, src).distinct)
    // exact duplicates across two DIFFERENT sources — never a replay
    // (replay dedup applies only against the destination's claims)
    bySrc.flatMap { case (src, rs) => rs.map(r => (r, src)) }
      .groupBy(_._1)
      .collectFirst { case ((lo, hi), owners) if owners.size > 1 =>
        throw new IllegalArgumentException(
          s"index merge: range [$lo,$hi] is claimed by " +
          s"${owners.size} distinct sources " +
          s"(${owners.map(_._2).mkString(", ")}) — two shards " +
          "indexed the identical docid slice; merging would " +
          "duplicate every docid's postings and double-count stats")
      }
    // sweep for any overlap between ranges of DIFFERENT sources:
    // sorted by lo, tracking each source's running max hi — O(R·S)
    // driver-side over ledger rows (O(appends), never corpus-sized)
    val sorted = bySrc
      .flatMap { case (src, rs) => rs.map { case (lo, hi) => (lo, hi, src) } }
      .sortBy(t => (t._1, t._2))
    val maxHi = scala.collection.mutable.Map.empty[String, (Long, Long)]
    sorted.foreach { case (lo, hi, src) =>
      maxHi.foreach { case (osrc, (ohi, olo)) =>
        if (osrc != src && ohi >= lo)
          throw new IllegalArgumentException(
            s"index merge: source range [$lo,$hi] of $src intersects " +
            s"[$olo,$ohi] of $osrc — shards must cover disjoint " +
            "docid ranges")
      }
      if (maxHi.get(src).forall(_._1 < hi)) maxHi(src) = (hi, lo)
    }
    // against the destination: exact dups skip (resume idempotence),
    // partial overlaps throw
    val mineSet = mine.toSet
    val fresh = sorted.map(t => (t._1, t._2)).distinct.filterNot(mineSet)
    fresh.foreach { case (lo, hi) =>
      RangeLedger.requireDisjoint(mine, "index merge", lo, hi) }
    if (fresh.nonEmpty) RangeLedger.record(spark, dstPath, fresh: _*)
  }
}
