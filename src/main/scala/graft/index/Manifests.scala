package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.IndexMerge

/** Snapshot storage for the PARTITION-LAYOUT index families — the
  * vector indexes ([[IvfVectorIndex]], [[LshVectorIndex]]) and, since
  * later in r17, the three postings lakes
  * ([[graft.operators.Bm25Index]], [[graft.operators.ShingleIndex]],
  * [[graft.operators.WinnowIndex]]) — the versioned-read discipline
  * the flat [[VectorIndex]] already had, brought to the
  * cluster/bucket-partitioned layouts so maintenance is safe against
  * CONCURRENT READERS (until r17 compact swapped the live directory
  * and retrain/grow deleted live partitions mid-commit, so a scan
  * overlapping a maintenance window could observe a half-swapped
  * layout or die on vanished files — at 100 TB a multi-minute scan
  * overlapping maintenance is the normal case, not the exception).
  *
  * Layout (all under the index root):
  *
  * {{{
  *   _manifests/m-0000000007        committed manifests, one per commit
  *   gen=g-0000000007/cluster=3/…   write-once generation directories
  *   _books/b-0000000007/centroids  versioned codebooks (IVF)
  * }}}
  *
  * A MANIFEST is the index: a small text file listing the
  * `gen=…/cluster=…` partition directories (and codebook dir) that
  * make up one consistent snapshot. Every write lands WHOLE in a
  * fresh generation directory first; the atomic tmp-then-rename
  * manifest commit is the only visibility point. Readers resolve the
  * newest manifest once and read exactly its directories
  * (`basePath` keeps `cluster` a partition column, so Catalyst's
  * partition pruning works unchanged); nothing a committed manifest
  * references is ever mutated or renamed, so a resolved plan stays
  * valid while maintenance commits NEW generations next to it.
  *
  * Consequences, each spec-pinned:
  *  - a reader pinned to manifest N is undisturbed by a concurrent
  *    compact / retrain / grow / append (they commit N+1);
  *  - a crash before the manifest commit leaves the new generation
  *    INVISIBLE (no torn append: the pre-r17 IVF append could land a
  *    visible subset of a batch) and the orphan is reaped by the next
  *    commit;
  *  - shard merges move whole generation DIRECTORIES — O(generations)
  *    renames instead of O(files).
  *
  * Retention bounds the time-travel window: a commit keeps the last
  * [[DefaultRetain]] manifests and deletes generations/books no
  * retained manifest references. A reader must be younger than
  * `retain` maintenance COMMITS (not wall-clock) — the same contract
  * as any lakehouse snapshot expiry; size `retain` to the longest
  * scan overlapping the busiest maintenance cadence.
  *
  * The index LIFECYCLE all five families share is written here once:
  * one generation write ([[writeGeneration]]), one
  * [[ManifestIndex.compact]], one file footprint behind
  * [[ManifestIndex.shouldCompact]], one [[completeMerge]] roll-forward
  * and one [[ManifestIndex.mergeAll]] driver. A family supplies only what differs — its [[Family]]
  * (partition and sort columns, what a merge writes back) and the
  * [[ManifestIndex]] hooks (ideal partition count, parameter check,
  * marker stats). */
object Manifests {

  /** One committed snapshot: `parts` are `gen=…/<prefix>=…` partition
    * dirs relative to the index root, `book` the codebook dir under
    * `_books` (when the family has one). */
  final case class Manifest(
      n: Long, book: Option[String], parts: Vector[String]) {
    def genOf(part: String): String = Manifests.genOf(part)
  }

  private val Dir = "_manifests"
  private val Header = "graft-manifest v1"

  /** Manifests (and the generations only they reference) retained per
    * commit: the current one plus two predecessors, so a reader that
    * resolved its snapshot before a maintenance op is safe through
    * TWO further commits — enough to hold a scan open across a
    * compact AND a grow back-to-back. Storage cost is bounded by the
    * retained snapshots' non-shared generations (only a compact
    * duplicates the whole data tree; append/retrain/grow snapshots
    * share their untouched generations). */
  val DefaultRetain = 3

  private[index] def manifestName(n: Long) = f"m-$n%010d"
  /** Generation-directory name for commit `n` (written only by
    * [[writeGeneration]]). */
  def genDirName(n: Long) = f"gen=g-$n%010d"
  private[index] def bookName(n: Long) = f"b-$n%010d"

  /** The `gen=…` component of a part line. */
  def genOf(part: String): String = part.substring(0, part.indexOf('/'))

  /** The partition value (e.g. cluster id) of a part line. */
  def partitionValueOf(part: String): String =
    part.substring(part.lastIndexOf('=') + 1)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The newest committed manifest, or None for a path that has no
    * manifest store (not built yet, or a pre-r17 layout). */
  def current(spark: SparkSession, path: String): Option[Manifest] = {
    val fs = fsOf(spark, path)
    val dir = new Path(path, Dir)
    if (!fs.exists(dir)) return None
    val names = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("m-")).sorted
    names.lastOption.map(nm => read(spark, path, nm))
  }

  /** [[current]] or a loud failure naming the path. */
  def require(spark: SparkSession, path: String): Manifest =
    current(spark, path).getOrElse(throw new IndexNotFoundException(
      s"No index manifest at $path/$Dir — not an index (or built by a " +
      "pre-manifest layout; rebuild it)"))

  private def read(
      spark: SparkSession, path: String, name: String): Manifest = {
    val fs = fsOf(spark, path)
    val p = new Path(new Path(path, Dir), name)
    val in = fs.open(p)
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    val lines = raw.split("\n").filter(_.nonEmpty)
    // committed manifests are rename-atomic, so a torn one is
    // out-of-band damage: refuse loudly rather than read a partial
    // file list as "the index shrank"
    if (lines.length < 2 || lines.head != Header || lines.last != "end")
      throw new IllegalStateException(
        s"torn or foreign index manifest at $p — refusing to guess")
    val body = lines.tail.init
    val book = body.find(_.startsWith("book "))
      .map(_.stripPrefix("book "))
    val parts = body.filter(_.startsWith("part "))
      .map(_.stripPrefix("part ")).toVector
    Manifest(name.stripPrefix("m-").toLong, book, parts)
  }

  /** Commit the next snapshot: write-to-tmp + atomic rename, then
    * expire manifests beyond `retain` and delete the generations and
    * books only expired manifests referenced. Single-writer (the
    * families' maintenance contract): a lost race surfaces as a
    * failed rename, never a silent overwrite. */
  def commit(
      spark: SparkSession, path: String,
      book: Option[String], parts: Seq[String],
      retain: Int = DefaultRetain): Manifest = {
    val fs = fsOf(spark, path)
    val dir = new Path(path, Dir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val n = current(spark, path).map(_.n).getOrElse(0L) + 1
    val m = Manifest(n, book, parts.distinct.sorted.toVector)
    val tmp = new Path(dir, s".tmp-${manifestName(n)}")
    val out = fs.create(tmp, true)
    try out.write((
      Header + "\n" +
      m.book.map(b => s"book $b\n").getOrElse("") +
      m.parts.map(p => s"part $p\n").mkString +
      "end\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    scala.Predef.require(fs.rename(tmp, new Path(dir, manifestName(n))),
      s"manifest commit lost a race at $path (single-writer contract " +
      "violated?)")
    Snapshots.invalidate(path)
    reap(spark, path, retain)
    m
  }

  /** Delete the index root so a rebuild over an existing path replaces
    * the index whole (its manifest store restarts at generation 1),
    * and forget the path's resolved snapshot. */
  def reset(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    if (fs.exists(root)) fs.delete(root, true)
    Snapshots.invalidate(path)
  }

  /** Expire old manifests and the storage only they reference. Skipped
    * while a `_merge_pending` marker is present: a mid-merge crash
    * leaves moved-in generations that the roll-forward will commit —
    * they must not be swept as orphans before it runs (every load
    * rolls the merge forward BEFORE its first commit, so the skip is
    * belt and braces, not load-bearing). */
  private def reap(spark: SparkSession, path: String, retain: Int): Unit = {
    val fs = fsOf(spark, path)
    if (fs.exists(new Path(path, "_merge_pending"))) return
    val dir = new Path(path, Dir)
    val names = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("m-")).sorted
    if (names.length <= retain) return
    val (expired, retained) = names.splitAt(names.length - retain)
    val live = retained.map(nm => read(spark, path, nm))
    val liveGens = live.flatMap(_.parts.map(genOf)).toSet
    val liveBooks = live.flatMap(_.book).toSet
    expired.foreach(nm => fs.delete(new Path(dir, nm), false))
    // top-level generation dirs not referenced by any retained
    // manifest — includes crash orphans (written, never committed)
    fs.listStatus(new Path(path)).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory && nm.startsWith("gen=") && !liveGens.contains(nm))
        fs.delete(st.getPath, true)
    }
    val books = new Path(path, "_books")
    if (fs.exists(books)) fs.listStatus(books).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory && !liveBooks.contains(nm))
        fs.delete(st.getPath, true)
    }
  }

  /** The partition dirs a just-written generation holds, as part
    * lines (one driver listing). */
  def listParts(
      spark: SparkSession, path: String, genDir: String): Vector[String] = {
    val fs = fsOf(spark, path)
    val g = new Path(path, genDir)
    if (!fs.exists(g)) return Vector.empty
    fs.listStatus(g)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(st => s"$genDir/${st.getPath.getName}")
      .toVector.sorted
  }

  /** The snapshot `m` as a DataFrame: exactly its partition dirs,
    * with `basePath` so the partition column (`cluster`/`bucket`)
    * stays a partition column — Catalyst prunes on it as if this were
    * a plain Hive-layout read — and the internal `gen` column
    * dropped. The file listing is resolved NOW, against directories
    * no later commit mutates: the returned plan is a pinned snapshot,
    * valid until `retain` further commits expire it.
    *
    * Scan roots are GENERATION directories, not part directories
    * (r17 late, measured on the fan-in sweep): a fragmented lake's
    * manifest holds gens × partitions part lines, and handing Spark
    * thousands of root paths made every resolve pay a per-root
    * listing round (S=64 BM25 probe measured 19.6 s vs ~1 s on gen
    * roots — BASELINE). A committed generation is normally
    * referenced WHOLE, so one root per gen lists the same files; the
    * exception is a retrain/grow commit, whose part list keeps a
    * SUBSET of older generations (the untouched clusters) — those
    * partial gens contribute a partition-column whitelist predicate
    * that Catalyst prunes with at planning time, so the replaced
    * partitions' files are listed but never read.
    *
    * The resolved DataFrame is reused ([[Snapshots]]): a later call for
    * the same session and path returns it as long as the committed
    * manifest and the manifest file's length and mtime are unchanged,
    * which, generations being write-once, means the same files. A
    * [[commit]] or a rebuild's [[reset]] drops the path's entry; a
    * commit made elsewhere changes the key. Only a manifest whose file
    * is already gone (expired) is resolved without reuse. */
  def dataFrame(
      spark: SparkSession, path: String, m: Manifest): DataFrame = {
    scala.Predef.require(m.parts.nonEmpty,
      s"index manifest ${m.n} at $path lists no data")
    val file = new Path(new Path(path, Dir), manifestName(m.n))
    val fs = fsOf(spark, path)
    if (!fs.exists(file)) resolveDataFrame(spark, path, m)
    else {
      val st = fs.getFileStatus(file)
      Snapshots.resolve(spark, path,
        (m, st.getLen, st.getModificationTime))(
        resolveDataFrame(spark, path, m))
    }
  }

  private def resolveDataFrame(
      spark: SparkSession, path: String, m: Manifest): DataFrame = {
    val head = m.parts.head
    val sub = head.substring(head.indexOf('/') + 1)
    val partCol = sub.substring(0, sub.indexOf('='))
    def partPred(ps: Seq[String]): org.apache.spark.sql.Column = {
      val vals = ps.map(partitionValueOf)
      if (vals.forall(_.matches("-?\\d+")))
        col(partCol).isin(vals.map(_.toInt): _*)
      else col(partCol).cast("string").isin(vals: _*)
    }
    // one driver listing per gen decides full vs partial reference
    val listed = m.parts.groupBy(genOf).toSeq.sortBy(_._1).map {
      case (g, ps) =>
        (g, ps, listParts(spark, path, g).toSet == ps.toSet)
    }
    // the schema comes from one footer in the first generation, as a
    // plain read would infer it from one file
    val first = new Path(path, listed.head._2.min)
    val base = DriverParquet
      .reader(spark, DriverParquet.dataFiles(
        fsOf(spark, path).listStatus(first)).headOption)
      .option("basePath", path)
      .parquet(listed.map { case (g, _, _) => s"$path/$g" }: _*)
    val pruned =
      if (listed.forall(_._3)) base
      else {
        val fullGens = listed.collect {
          case (g, _, true) => g.stripPrefix("gen=") }
        val fullPred = if (fullGens.isEmpty) lit(false)
          else col("gen").isin(fullGens: _*)
        base.filter(listed.collect { case (g, ps, false) =>
          col("gen").equalTo(g.stripPrefix("gen=")).and(partPred(ps))
        }.foldLeft(fullPred)(_ or _))
      }
    pruned.drop("gen")
  }

  /** Deterministic destination name for a generation absorbed from a
    * merge source — stable across crash re-runs (same source path +
    * gen name → same target), disjoint from the local `g-…` number
    * space. */
  def mergedGenName(srcPath: String, genDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$srcPath/$genDir".getBytes("UTF-8"))
    "gen=g-m" + md.take(5).map(b => f"$b%02x").mkString
  }

  /** Move every generation a source manifest references into `dst`
    * under [[mergedGenName]] names (whole-directory renames, skipped
    * when already moved) and return the source's part lines rebased
    * to the new names. */
  def moveGenerations(
      spark: SparkSession, srcPath: String, dstPath: String)
      : Vector[String] = {
    val src = require(spark, srcPath)
    val fs = fsOf(spark, dstPath)
    src.parts.map(genOf).distinct.foreach { gen =>
      val from = new Path(srcPath, gen)
      val to = new Path(dstPath, mergedGenName(srcPath, gen))
      if (fs.exists(from)) {
        if (!fs.exists(to))
          scala.Predef.require(fs.rename(from, to),
            s"index merge: cannot move $from to $to")
        else // a crashed re-run already moved part of this gen: the
          // rename is all-or-nothing per dir, so both existing means
          // two sources hashed alike — impossible by construction
          throw new IllegalStateException(
            s"index merge: both $from and $to exist")
      } // already moved by an interrupted run: nothing to do
    }
    src.parts.map { p =>
      s"${mergedGenName(srcPath, genOf(p))}/${p.substring(p.indexOf('/') + 1)}"
    }
  }

  /** Rows per file in every generation write: a hot partition is split
    * into files of this many rows instead of one oversized file. */
  val MaxRecordsPerFile = 5000000L

  /** What a family's generations look like and what its shard merge
    * writes back. Rows are partitioned on `partCol` and sorted on
    * `sortCol` within each partition, so parquet row-group min/max
    * stats on the sort key are disjoint ranges a filter prunes on. */
  class Family(val partCol: String, val sortCol: String) {
    /** Settle a merge whose generations are committed, before its
      * sources are deleted: take over the sources' flat sidecars and
      * write back the post-merge `stats` the marker carries.
      * Idempotent. Nothing to settle by default. */
    def settle(spark: SparkSession, path: String, srcs: Seq[String],
        stats: Seq[Long]): Unit = ()
  }

  /** The one generation write: `rows` repartitioned on the partition
    * column (one task per partition writes whole-partition files, not
    * tasks × partitions slivers), sorted on (partition, sort key),
    * written whole into the `gen=` dir after `base` (None: a fresh
    * build) and committed beside the `keep` part lines with codebook
    * `book`. A crash before the commit leaves an invisible orphan the
    * next commit reaps. */
  def writeGeneration(
      spark: SparkSession, path: String, family: Family, rows: DataFrame,
      base: Option[Manifest], keep: Seq[String], book: Option[String],
      maxRecordsPerFile: Long = MaxRecordsPerFile): Manifest = {
    val gen = genDirName(base.fold(0L)(_.n) + 1)
    rows.repartition(col(family.partCol))
      .sortWithinPartitions(family.partCol, family.sortCol)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(family.partCol)
      .parquet(s"$path/$gen")
    commit(spark, path, book, keep ++ listParts(spark, path, gen))
  }

  /** [[writeGeneration]] of a batch beside the whole current snapshot. */
  def appendGeneration(spark: SparkSession, path: String, family: Family,
      rows: DataFrame): Manifest = {
    val m = require(spark, path)
    writeGeneration(spark, path, family, rows, Some(m), m.parts, m.book)
  }

  /** The one-row `_stats` sidecar of a family that keeps one, read on
    * the driver ([[DriverParquet.single]]: no Spark job, and anything
    * but exactly one row fails loudly). A path without it is not an
    * index. */
  def readStats(spark: SparkSession, path: String): Group = {
    val dir = new Path(path, "_stats")
    if (!fsOf(spark, path).exists(dir))
      throw new IndexNotFoundException(s"No index at $path (no $dir)")
    DriverParquet.single(spark, dir.toString)
  }

  /** Roll an interrupted shard merge forward — the one roll-forward
    * every family's `load`, [[ManifestIndex.compact]] and
    * [[ManifestIndex.mergeAll]] call (where the marker written just before makes the mainline
    * merge a roll-forward too). Protocol state on disk is a
    * `_merge_pending` marker listing the owned source paths and the
    * post-merge stats; every step is idempotent: generation moves skip
    * already-moved dirs, the manifest commit dedups part lines, the
    * family's settle rewrites the same stats, source deletes and the
    * marker delete are no-ops when already done. */
  def completeMerge(spark: SparkSession, path: String, family: Family): Unit = {
    val dst = new Path(path)
    val fs = fsOf(spark, path)
    IndexMerge.readMarker(fs, dst).foreach { case (srcLine, stats) =>
      val srcs = IndexMerge.splitSrcs(srcLine)
      val m = require(spark, path)
      val moved = srcs.flatMap { s =>
        // a source is movable while its manifest store survives; a
        // tree already drained (or torn by a crashed delete) is
        // finished by the delete below
        if (current(spark, s).isDefined) moveGenerations(spark, s, path)
        else Vector.empty
      }
      if (moved.nonEmpty)
        commit(spark, path, m.book, m.parts ++ moved)
      family.settle(spark, path, srcs, stats)
      srcs.foreach(s => fsOf(spark, s).delete(new Path(s), true))
      IndexMerge.deleteMarker(fs, dst)
    }
  }
}

/** A handle on one manifest-partitioned index ([[Manifests]]). The
  * lifecycle is written here once; a family implements the hooks.
  * Writers are single-writer per index; readers are snapshot-safe. */
trait ManifestIndex[I <: ManifestIndex[I]] { this: I =>
  def spark: SparkSession
  def path: String

  /** The family's layout and merge write-back. */
  protected def family: Manifests.Family

  /** Partition count of the ideal compacted layout: one file per
    * partition until partitions outgrow the target file size. */
  protected def idealPartitions: Int

  /** Refuse a merge source built with different parameters: its rows
    * would sit in partitions that do not mean the same thing. */
  protected def requireMergeable(other: I): Unit

  /** The post-merge stats row a `_merge_pending` marker carries for
    * merging `others` into this index; the family's settle writes it
    * back. A family without stats carries a single 0. */
  protected def mergedStats(others: Seq[I]): Seq[Long] = Seq(0L)

  /** This index with the stats now on disk: the family's `load` (the
    * handle itself for a family without stats). */
  protected def reloaded: I = this

  /** `(fileCount, bytes)` of the current snapshot's data files — what
    * appends and shard merges fragment and [[compact]] folds. Sidecars
    * are driver-side reads, never scan inputs, and are not counted. */
  def storageFootprint(): (Long, Long) = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Manifests.require(spark, path).parts.flatMap { p =>
      val d = new Path(path, p)
      if (fs.exists(d)) fs.listStatus(d).filter(_.isFile).toSeq
      else Seq.empty
    }
    (files.length.toLong, files.map(_.getLen).sum)
  }

  /** The auto-compaction trigger: compact when the file count exceeds
    * `slack ×` the ideal layout's count, ideal = `max(partitions,
    * bytes / targetFileBytes)`. The rule self-scales: a growing index
    * raises the ideal count, so compaction (a full rewrite, cost ∝
    * index size) fires ever less often while the small-file tax per
    * read stays bounded at `slack ×` optimal.
    *
    * `slack = 16` is calibrated from the r14 probe sweeps
    * (BASELINE.md): with bucket-repartitioned writes (one file per
    * partition per append) the measured per-probe tax is ~0.5 ms/file
    * while a rewrite costs seconds per 10⁷ postings, putting the
    * break-even at ~20+ appends — slack 4 fired too early and paid
    * rewrites that saved nothing (106 vs 76 s at the 1M shape). 16
    * sits just under the break-even: a clean-append stream compacts
    * every ~16 batches, while a sliver-fragmented lake still triggers
    * almost immediately. */
  def shouldCompact(
      slack: Double = 16.0,
      targetFileBytes: Long = 256L << 20): Boolean = {
    val (files, bytes) = storageFootprint()
    val ideal = math.max(idealPartitions.toLong,
      (bytes + targetFileBytes - 1) / targetFileBytes)
    files > slack * ideal
  }

  /** Offline maintenance after appends and merges fragment the
    * partitions: settle a pending merge (compacting under its marker
    * would fold moved-in generations the roll-forward still expects to
    * commit), then rewrite the whole snapshot into one fresh generation
    * that replaces it. Readers pinned to the fragmented snapshot finish
    * undisturbed; sidecars never move. */
  def compact(maxRecordsPerFile: Long = Manifests.MaxRecordsPerFile): I = {
    Manifests.completeMerge(spark, path, family)
    val m = Manifests.require(spark, path)
    Manifests.writeGeneration(spark, path, family,
      Manifests.dataFrame(spark, path, m), Some(m), Nil, m.book,
      maxRecordsPerFile)
    reloaded
  }

  /** Absorb `other` — a shard built with the same parameters over a
    * disjoint docid range ([[mergeAll]]). */
  def merge(other: I): I = mergeAll(Seq(other))

  /** Absorb many shards by whole-generation directory moves: every
    * family partitions by a content hash (or nearest centroid) that is
    * identical across shards built with the same parameters, so the
    * merged snapshot is just all part sets under one manifest — no row
    * is read or rewritten, and the merge costs O(generations) renames
    * plus one manifest commit ([[IndexMerge]]'s shard-parallel build).
    * Any number of shards share one claims pass, one marker and one
    * stats write: a pairwise chain paid ~0.6 s of small metadata jobs
    * per shard (36 s at 64 shards, BASELINE r15).
    *
    * Crash protocol: sources are owned by rename
    * ([[IndexMerge.takeOwnership]]) before any claim is read; every
    * source's docid-range claims land in one validated append
    * ([[IndexMerge.claimRangesAll]] — overlaps throw); the
    * `_merge_pending` marker carries the owned source list and the
    * post-merge stats; [[Manifests.completeMerge]] then runs the merge
    * to the end. A marker for a DIFFERENT source set is an older
    * interrupted merge and is settled first; the SAME set means this
    * call re-runs an interrupted merge and resumes from the marker's
    * stats. The post-merge stats are computed from the destination's
    * stats on disk (the family's `load`, before any source is owned or
    * claimed), never from this handle's fields, so a handle gone stale
    * — across a settled older merge or otherwise — cannot drop counts,
    * and a malformed `_stats` refuses the merge before it starts.
    *
    * `compact = true` wires the shouldCompact → compact cycle into the
    * merge: a hundreds-of-shards fan-in leaves per-shard file
    * fragmentation, a measured ~3× probe tax at S=256 (BASELINE r15)
    * until compaction folds it. */
  def mergeAll(others: Seq[I], compact: Boolean = false): I = {
    if (others.isEmpty) return this
    others.foreach(requireMergeable)
    val srcs = others.map(_.path)
    IndexMerge.requireDistinctSources(spark, path, srcs)
    IndexMerge.requireQuiesced(spark, path, srcs)
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val owned = srcs.map(IndexMerge.ownedPath)
    def pending = IndexMerge.readMarker(fs, dst)
      .map(m => IndexMerge.splitSrcs(m._1).toSet == owned.toSet)
    if (pending.contains(false)) Manifests.completeMerge(spark, path, family)
    val resume = pending.contains(true)
    val stats = if (resume) Nil else reloaded.mergedStats(others)
    IndexMerge.takeOwnership(spark, srcs, allowMissing = resume)
    if (!resume) try {
      IndexMerge.claimRangesAll(spark, path, owned)
      IndexMerge.writeMarker(fs, dst, IndexMerge.joinSrcs(owned), stats)
    } catch {
      case e: Throwable => // refused before any move: hand back
        srcs.foreach(IndexMerge.releaseOwnership(spark, _))
        throw e
    }
    Manifests.completeMerge(spark, path, family)
    val merged = reloaded
    if (compact && merged.shouldCompact()) merged.compact() else merged
  }
}
