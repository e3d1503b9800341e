package graft.index

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Driver-side reads of BOUNDED index metadata (single-row `_stats`
  * sidecars, k-row codebooks): every index load used to pay a full
  * Spark job per sidecar — file-listing, schema inference, plan,
  * schedule, one 1-task stage — to move a handful of longs to the
  * driver, and the index-routed query family pays several such loads
  * per construction (the r17 profile: ~10 sub-30 ms metadata jobs per
  * hybrid_index run, with the scheduling gaps between them costing
  * more than the jobs). Metadata this small is driver work by the
  * guide's own rule (§5: the driver should do no DATA work — these
  * are not data), so read it with parquet-hadoop's Group API
  * directly: footer + one page, no job, no plan.
  *
  * NOT a cache: every call re-reads the files, so maintenance stays
  * visible exactly as before. Callers assert boundedness — this must
  * never be pointed at corpus data. */
object DriverParquet {

  /** Every row of every `*.parquet` part under `dir`, in
    * deterministic (sorted part name, file order) row order. */
  def groups(spark: SparkSession, dir: String): Vector[Group] = {
    val p = new Path(dir)
    read(spark, dataFiles(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)))
  }

  /** Every row of `files`, in the given file order. */
  def read(spark: SparkSession, files: Seq[Path]): Vector[Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.iterator.flatMap { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), f)
        .withConf(conf)
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    }.toVector
  }

  /** The one row of a one-row sidecar (an index's `_stats`). Throws
    * `IllegalStateException` naming `dir` and the row count unless the
    * sidecar holds exactly one row: an empty or duplicated sidecar is a
    * broken index, never a row to pick. */
  def single(spark: SparkSession, dir: String): Group =
    groups(spark, dir) match {
      case Vector(g) => g
      case gs => throw new IllegalStateException(
        s"expected exactly one row in the sidecar $dir, found ${gs.size}")
    }

  /** The parquet data files of a directory listing, by name. */
  def dataFiles(listing: Array[FileStatus]): Seq[Path] =
    listing.toSeq.map(_.getPath)
      .filter { f =>
        val n = f.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getName)

  /** A parquet reader whose schema is read on the driver from
    * `sample`'s footer, with Spark's own footer conversion — the schema
    * a plain read infers from one file (`mergeSchema` off), without the
    * Spark job that inference runs. Partition columns are still
    * discovered from the paths. Without a sample file it is a plain
    * reader. */
  def reader(spark: SparkSession, sample: Option[Path]): DataFrameReader =
    sample.fold(spark.read) { f =>
      val conf = spark.sparkContext.hadoopConfiguration
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
        new Footer(f, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }

  /** A float-array column (Spark's 3-level LIST encoding:
    * `optional group f (LIST) { repeated group list
    * { optional float element } }`). */
  def floatArray(g: Group, field: String): Array[Float] = {
    val list = g.getGroup(field, 0)
    val n = list.getFieldRepetitionCount(0)
    Array.tabulate(n)(i => list.getGroup(0, i).getFloat(0, 0))
  }
}
