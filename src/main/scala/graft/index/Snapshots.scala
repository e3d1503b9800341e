package graft.index

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The resolved DataFrame of each index path's current snapshot,
  * reused while that snapshot is unchanged. Resolving a snapshot costs
  * a file listing, a parquet schema inference (one Spark job) and an
  * analysis; a warm read pays none of them, so it is exactly the one
  * job of its own action.
  *
  * Each family supplies the `key` that identifies its snapshot:
  * [[Manifests.dataFrame]] the committed manifest plus the manifest
  * file's length and mtime (its generations are write-once), and
  * [[VectorIndex.df]] the current `data_vN` directory's file listing
  * (`append` writes into the live directory). A lookup whose key
  * differs resolves afresh and replaces the entry; a DataFrame handed
  * out earlier keeps reading the snapshot it pinned.
  *
  * One entry per path, serving only the session that resolved it: a
  * read from another session replaces the entry, so a path never holds
  * more than one session's plan, and entries of stopped SparkContexts
  * are dropped at the next miss. Writers that replace a path's storage
  * wholesale call [[invalidate]]. */
private[graft] object Snapshots {

  private final case class Entry(key: Any, df: DataFrame)

  private val entries = new ConcurrentHashMap[String, Entry]()

  /** The cached snapshot of `path` when it was resolved by `spark`
    * under an equal `key`, else `read` (which then becomes the entry). */
  def resolve(spark: SparkSession, path: String, key: Any)(
      read: => DataFrame): DataFrame = {
    val hit = entries.get(path)
    if (hit != null && (hit.df.sparkSession eq spark) && hit.key == key)
      hit.df
    else {
      val df = read
      entries.values.removeIf(_.df.sparkSession.sparkContext.isStopped)
      entries.put(path, Entry(key, df))
      df
    }
  }

  /** Forget `path`'s snapshot. */
  def invalidate(path: String): Unit = { entries.remove(path); () }

  /** The session `path`'s entry serves (tests). */
  private[index] def sessionOf(path: String): Option[SparkSession] =
    Option(entries.get(path)).map(_.df.sparkSession)
}
