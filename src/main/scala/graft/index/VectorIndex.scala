package graft.index

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ids, Knn}

/** Schema rejected by [[IndexSchema.validate]] — port of the reference's
  * `SchemaValidationException` (weaviate.py:13-14,115-118). */
class SchemaValidationException(msg: String) extends RuntimeException(msg)

/** Operation on a dropped/missing index — port of the
  * `@check_index_exists` guard (weaviate.py:41-52). */
class IndexNotFoundException(msg: String) extends RuntimeException(msg)

/** The reference's 8-knob client batch config, knob for knob
  * (`DEFAULT_BATCH_CONFIG`, weaviate.py:29-38; partial-override
  * semantics tested test_weaviate.py:221-237 — a Scala case class
  * `copy` IS partial override). Engine mapping of each knob:
  *
  *  - `batchSize` (ref default None) → `maxRecordsPerFile` on the index
  *    write: the reference flushes an HTTP batch every N objects; the
  *    engine rolls a new file every N rows.
  *  - `dynamic` (ref False) → when the size is None Spark's AQE already
  *    sizes write partitions dynamically; the knob is honored by doing
  *    nothing — dynamic sizing is the engine default.
  *  - `numWorkers` (ref 1) → minimum write parallelism: the reference's
  *    1 reflects a single HTTP client thread, so it is a floor, not a
  *    cap (a distributed writer must not be serialized by default).
  *  - `timeoutRetries` / `connectionErrorRetries` /
  *    `weaviateErrorRetries` (ref 3/3/3) → transient-failure retry is
  *    Spark task retry (`spark.task.maxFailures`, cluster-level);
  *    carried for config fidelity and surfaced by [[describe]].
  *  - `creationTime` / `callback` → no engine equivalent (HTTP batch
  *    latency target / per-batch hook); documented no-ops.
  */
case class BatchConfig(
    batchSize: Option[Long] = None,
    creationTime: Option[Double] = None,
    timeoutRetries: Int = 3,
    connectionErrorRetries: Int = 3,
    weaviateErrorRetries: Int = 3,
    callback: Option[String] = None,
    dynamic: Boolean = false,
    numWorkers: Int = 1) {

  def describe: String =
    s"batchSize=${batchSize.getOrElse("dynamic")} numWorkers>=$numWorkers " +
      s"retries(task-level)=$timeoutRetries/$connectionErrorRetries/$weaviateErrorRetries"

  /** Apply the write-side knobs to a prepared batch. */
  private[index] def applyTo(docs: DataFrame): DataFrame =
    if (numWorkers > 1) {
      val cur = docs.rdd.getNumPartitions
      if (cur < numWorkers) docs.repartition(numWorkers) else docs
    } else docs
}

/** Index configuration ≈ the reference's DEFAULT_SCHEMA + client config
  * (weaviate.py:23-27,60-73). `overwriteIndex` mirrors `overwrite_index`
  * (weaviate.py:68): true → existing index is dropped and recreated;
  * false → warn and reuse the existing one. `packed` stores vectors as
  * fixed-width binary blobs instead of `array<float>` — ~3× faster
  * scans (see BASELINE.md scale probe); scores are bitwise identical.
  * `batch` carries the reference's client batch knobs ([[BatchConfig]]). */
case class IndexConfig(
    className: String = "Document",
    distance: String = "cosine",
    overwriteIndex: Boolean = true,
    packed: Boolean = false,
    batch: BatchConfig = BatchConfig())

object IndexSchema {

  /** The engine-managed core fields of every index. */
  val core: StructType = StructType(Seq(
    StructField("docid", LongType, nullable = false),
    StructField("uid", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false),
      nullable = false),
    StructField("tags", StringType, nullable = true)))

  /** Port of `_is_valid_schema` (weaviate.py:97-110): a `docid` property
    * of integral type must exist and the distance metric must be exactly
    * `cosine` — any other metric is rejected
    * (test_weaviate.py:75-85,116-125). */
  def validate(schema: StructType, distance: String): Unit = {
    if (distance != "cosine")
      throw new SchemaValidationException(
        s"Invalid distance metric '$distance': only 'cosine' is supported")
    val docid = schema.fields.find(_.name == "docid").getOrElse(
      throw new SchemaValidationException(
        "Invalid schema: required property 'docid' (integer) is missing"))
    docid.dataType match {
      case LongType | IntegerType => ()
      case other => throw new SchemaValidationException(
        s"Invalid schema: 'docid' must be an integer type, got ${other.simpleString}")
    }
  }
}

/** A persistent vector index: an immutable columnar Parquet table of
  * `(docid, uid, vector, tags, …props)` rows, with the reference's ANN
  * contract (`index/append/delete/search/count/save/load`,
  * weaviate.py:132-224) re-expressed as DataFrame transforms.
  *
  * Unlike the reference — where state lives only in a Weaviate server and
  * `save`/`load` are warning no-ops (weaviate.py:208-224) — the Parquet
  * path IS the index: save/load are real, and every mutation is a
  * set-oriented rewrite (delete = anti-join, one pass for any id-list
  * size, vs the reference's 2-HTTP-round-trips-per-id loop,
  * weaviate.py:167-173).
  */
class VectorIndex private (
    val spark: SparkSession,
    val path: String,
    val config: IndexConfig) extends Logging {

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- versioned storage layout -----------------------------------
  // Destructive ops (index/delete/upsert/compact) never rewrite in
  // place: each writes a fresh `data_v{N}` directory and then flips the
  // `_latest` pointer — in-flight readers of the previous version keep
  // their file list and finish cleanly (delete-and-rename of a live
  // directory would fail them mid-scan). Appends are additive and go
  // into the current version directly. Old versions remain readable
  // (`dfAt`) until `vacuum()`.

  private def metaPath = new Path(path, "_index_meta.json")

  /** Latest committed version, if any. A version is committed by the
    * atomic creation of an empty `_commit_v{N}` marker — there is no
    * pointer file to half-write or truncate, so readers can never
    * observe a torn commit (they see either N or N+1, nothing else). */
  def currentVersion: Option[Long] =
    (try fs.listStatus(new Path(path)).toSeq
    catch { case _: FileNotFoundException => Nil })
      .map(_.getPath.getName)
      .collect { case CommitMarker(v) => v.toLong }
      .maxOption

  private val CommitMarker = "_commit_v(\\d+)".r
  private def markerPath(v: Long) = new Path(path, s"_commit_v$v")
  private def versionPath(v: Long) = new Path(path, s"data_v$v")

  private def dataPath: Path =
    currentVersion.map(versionPath).getOrElse(versionPath(0L))

  /** Current data directory (tests/tools). */
  def dataDir: String = dataPath.toString

  private def commitVersion(v: Long): Unit =
    fs.create(markerPath(v), false).close()

  /** Persist the config next to the data so a later [[VectorIndex.load]]
    * recovers className/distance/layout without the caller knowing them
    * (the reference keeps this in the server-side class schema,
    * weaviate.py:112-130). */
  private[index] def writeMeta(): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      s"""{"className":"${esc(config.className)}","distance":"${esc(config.distance)}",
         |"packed":${config.packed}}""".stripMargin.replace("\n", "")
    val out = fs.create(metaPath, true)
    out.write(json.getBytes("UTF-8")); out.close()
  }

  /** The current version's data directory and its file listing (one
    * listing of the root, one of the directory), or None when the index
    * has no data. */
  private def listing: Option[(Path, Array[FileStatus])] = {
    val dir = versionPath(currentVersion.getOrElse(0L))
    try Some((dir, fs.listStatus(dir)))
    catch { case _: FileNotFoundException => None }
  }

  def exists: Boolean = listing.isDefined

  /** The current version as a DataFrame, or None when there is none. */
  private def current: Option[DataFrame] = listing.map { case (dir, files) =>
    val key = (dir.getName, files.toVector
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sorted)
    Snapshots.resolve(spark, path, key)(
      DriverParquet.reader(spark, DriverParquet.dataFiles(files).headOption)
        .parquet(dir.toString))
  }

  private def snapshot(op: String): DataFrame =
    current.getOrElse(throw new IndexNotFoundException(
      s"Index '${config.className}' at $path does not exist (op: $op)"))

  /** The index contents as a DataFrame. The current version is resolved
    * once and the DataFrame reused ([[Snapshots]]) while the version
    * directory's listing (file names, lengths and mtimes) is unchanged:
    * a destructive op commits a new `data_vN` directory and an append
    * adds files to the live one, so either one changes the key and the
    * next call resolves afresh. A DataFrame taken earlier keeps the file
    * list it was resolved with. */
  def df: DataFrame = snapshot("read")

  /** Next docid = dense count so far (reference `config["offset"]`,
    * weaviate.py:67,149; observable postcondition test_weaviate.py:141). */
  def offset: Long = current.fold(0L)(offsetOf)

  private def offsetOf(data: DataFrame): Long =
    data.agg(coalesce(max("docid") + 1, lit(0L))).head().getLong(0)

  def count(): Long = snapshot("count").count()

  /** Full rebuild: docids start at 0 (weaviate.py:132-133). Input:
    * (uid, vector, …props) — docid is engine-assigned, dense by uid. */
  def index(docs: DataFrame): VectorIndex =
    writeRows(docs, 0L, config.packed, overwrite = true)

  /** Append: docids continue from the current offset (weaviate.py:135-149). */
  def append(docs: DataFrame): VectorIndex = {
    val data = snapshot("append")
    writeRows(docs, offsetOf(data), isPacked(data), overwrite = false)
  }

  /** Whether the STORED vectors are packed: incoming vectors land in the
    * stored layout, so an index opened with a mismatched config can't
    * mix layouts in one directory. */
  private def isPacked(data: DataFrame): Boolean =
    data.schema("vector").dataType == BinaryType

  /** Conform `docs`' vector column to the target layout. */
  private def conformLayout(docs: DataFrame, packed: Boolean): DataFrame =
    if (!docs.schema.fieldNames.contains("vector")) docs
    else (packed,
      docs.schema("vector").dataType == org.apache.spark.sql.types.BinaryType) match {
      case (true, false) =>
        docs.withColumn("vector", graft.Graft.packVector(col("vector")))
      case (false, true) =>
        docs.withColumn("vector", graft.Graft.unpackVector(col("vector")))
      case _ => docs
    }

  /** Total order for docid assignment: uid first, remaining columns as
    * deterministic tiebreakers (withDenseId requires a total order —
    * duplicate uids in one batch would otherwise get run-dependent
    * docids, and upsert's last-wins would keep a different row each run). */
  private def idOrder(docs: DataFrame) =
    col("uid") +: docs.columns.filter(_ != "uid").sorted.toIndexedSeq.map(col)

  private def writeRows(docs: DataFrame, base: Long, packed: Boolean,
      overwrite: Boolean): VectorIndex = {
    val packedDocs = conformLayout(docs, packed)
    val withId = Ids.withDenseId(
      packedDocs, "docid", idOrder(packedDocs), offset = base)
    val cols = col("docid") +: packedDocs.columns.toIndexedSeq.map(col)
    val out = config.batch.applyTo(withId.select(cols: _*))
    if (overwrite) replaceData(out)
    else {
      val w = out.write.mode("append")
      config.batch.batchSize
        .foreach(n => w.option("maxRecordsPerFile", n))
      w.parquet(dataPath.toString)
    }
    this
  }

  /** Delete by docid: one anti-join pass, any id-list size — the
    * set-oriented fix for the reference's N+1 loop (weaviate.py:167-173,
    * TODO at :170-171 wishing for an `IN` operator). */
  def delete(ids: Seq[Long]): VectorIndex = {
    val data = snapshot("delete")
    import spark.implicits._
    val idsDf = ids.toDF("docid")
    replaceData(data.join(broadcast(idsDf), Seq("docid"), "left_anti"))
    this
  }

  /** Delete by uid (the id space txtai exposes to users). */
  def deleteUids(uids: Seq[String]): VectorIndex = {
    val data = snapshot("delete")
    import spark.implicits._
    replaceData(data.join(broadcast(uids.toDF("uid")), Seq("uid"), "left_anti"))
    this
  }

  /** Upsert: last-wins per uid (txtai-layer semantics,
    * test_weaviate.py:254-317 — after upsert the new row is searchable;
    * deleting the uid removes it entirely). New rows get fresh docids
    * continuing from the current offset. */
  def upsert(docs: DataFrame): VectorIndex = {
    val data = snapshot("upsert")
    val conformed = conformLayout(docs, isPacked(data))
    val incoming = Ids.withDenseId(conformed, "docid", idOrder(conformed),
        offset = offsetOf(data))
      .select((col("docid") +: conformed.columns.toIndexedSeq.map(col)): _*)
    val unioned = data.unionByName(incoming, allowMissingColumns = true)
    val w = Window.partitionBy("uid").orderBy(desc("docid"))
    replaceData(
      unioned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    this
  }

  /** Top-k cosine search (weaviate.py:175-201) — scores are txtai
    * similarity (1 - cosine distance) in [-1, 1]. Dispatches on the
    * stored layout: packed-binary indexes score via the packed kernel
    * (same math, no array assembly). */
  def search(queryVec: Array[Float], k: Int): DataFrame = {
    val data = snapshot("search")
    if (isPacked(data)) {
      data
        .withColumn("score",
          graft.Graft.cosineSimPacked(col("vector"),
            lit(graft.functions.PackedVectors.packFloats(queryVec))))
        .orderBy(desc("score"), col("docid").asc)
        .limit(k)
    } else Knn.search(data, "vector", "docid", queryVec, k)
  }

  /** Batch search — fixes the reference's queries[0]-only limitation
    * (weaviate.py:177). */
  def searchBatch(queries: DataFrame, qVecCol: String, qidCol: String, k: Int): DataFrame =
    Knn.searchBatch(snapshot("search"), "vector", "docid", queries, qVecCol, qidCol, k)

  /** Drop-in compat shape of the reference's `search(queries, limit)`
    * (weaviate.py:175-201): takes a list of query vectors but serves
    * ONLY `queries[0]`, returning a list-of-one result list of
    * (docid, similarity) — bug-for-bug faithful (SURVEY §7.4 risk 5).
    * Native callers should use [[search]]/[[searchBatch]]. */
  def searchCompat(
      queries: Seq[Array[Float]], limit: Int): Seq[Seq[(Long, Double)]] = {
    val hits = search(queries.head, limit)
      .select("docid", "score")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
    Seq(hits)
  }

  /** Real persistence (the reference warns and does nothing,
    * weaviate.py:208-224): copy the current version to another path as
    * a fresh v0 index (pointer + config metadata included). */
  def save(dest: String): Unit =
    new VectorIndex(spark, dest, config).replaceData(snapshot("save"))

  /** Compact the index's data files: every `append` adds a file set,
    * and at scale the accumulated small files dominate scan planning
    * (the classic small-files problem). One rewrite into
    * `ceil(count / rowsPerFile)` evenly-sized files; contents unchanged. */
  def compact(rowsPerFile: Long = 5000000L): VectorIndex = {
    val data = snapshot("compact")
    val files = math.max(1, math.ceil(data.count().toDouble / rowsPerFile).toInt)
    replaceData(data.repartition(files))
    this
  }

  /** Write the next version, then flip the pointer (readers of the old
    * version are undisturbed; Parquet also can't overwrite a path it is
    * lazily reading, which this sidesteps entirely). */
  private def replaceData(newData: DataFrame): Unit = {
    val next = currentVersion.map(_ + 1).getOrElse(0L)
    val w = newData.write.mode("overwrite")
    config.batch.batchSize.foreach(n => w.option("maxRecordsPerFile", n))
    w.parquet(versionPath(next).toString)
    commitVersion(next)
    writeMeta()
  }

  /** Read an older committed version (time travel across mutations). */
  def dfAt(version: Long): DataFrame = {
    val p = versionPath(version)
    if (!fs.exists(p)) throw new IndexNotFoundException(
      s"No version $version at $path")
    spark.read.parquet(p.toString)
  }

  /** Drop all versions except the newest `keepLast` (reclaims space;
    * run when no readers of old versions remain). Data dirs go first,
    * markers after — a crash mid-vacuum can't leave a marker pointing
    * at deleted data as the newest version. */
  def vacuum(keepLast: Int = 1): Unit = {
    require(keepLast >= 1)
    currentVersion.foreach { cur =>
      (0L until math.max(0L, cur - keepLast + 1)).foreach { v =>
        val p = versionPath(v)
        if (fs.exists(p)) fs.delete(p, true)
        val m = markerPath(v)
        if (fs.exists(m)) fs.delete(m, false)
      }
    }
  }

  def drop(): Unit = {
    if (exists) fs.delete(new Path(path), true)
    Snapshots.invalidate(path)
  }
}

object VectorIndex extends Logging {

  /** Create-or-open, port of `__init__` → `_create_schema`
    * (weaviate.py:60-73,112-130): validates the schema, and when an index
    * already exists either drops+recreates (`overwriteIndex=true`) or
    * warns and reuses it (test_weaviate.py:97-113). */
  def create(
      spark: SparkSession,
      path: String,
      schema: StructType = IndexSchema.core,
      config: IndexConfig = IndexConfig()): VectorIndex = {
    IndexSchema.validate(schema, config.distance)
    val idx = new VectorIndex(spark, path, config)
    if (idx.exists) {
      if (config.overwriteIndex) {
        logWarning(s"Index '${config.className}' at $path exists: overwriting")
        idx.drop()
      } else {
        logWarning(
          s"Index '${config.className}' at $path already exists: reusing")
      }
    }
    idx
  }

  /** Open an existing index (real `load`, vs weaviate.py:216-224 no-op).
    * Recovers the persisted config from `_index_meta.json` when
    * present; an explicit `config` argument overrides it. */
  def load(spark: SparkSession, path: String,
      config: Option[IndexConfig] = None): VectorIndex = {
    val cfg = config.orElse(readMeta(spark, path)).getOrElse(IndexConfig())
    val idx = new VectorIndex(spark, path, cfg)
    if (!idx.exists) throw new IndexNotFoundException(s"No index at $path")
    idx
  }

  private def readMeta(spark: SparkSession, path: String): Option[IndexConfig] = {
    val p = new Path(path, "_index_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      in.close()
      def str(k: String) =
        (s""""$k":"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(json)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      def bool(k: String) =
        s""""$k":(true|false)""".r.findFirstMatchIn(json).map(_.group(1).toBoolean)
      Some(IndexConfig(
        className = str("className").getOrElse("Document"),
        distance = str("distance").getOrElse("cosine"),
        packed = bool("packed").getOrElse(false)))
    }
  }
}
