package graft.streaming

import graft.model.VersionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one snapshot-store commit protocol, shared by every foreachBatch
  * writer (WeeklyFeed's insert-only feed; Cdc uses the bucketed sibling):
  * read the current snapshot if one exists, combine it with the batch,
  * then commit through [[VersionedStore]] — the new version directory is
  * written FULLY before the `_LATEST` pointer swaps, so a crash
  * mid-commit leaves the previous snapshot live and an unreferenced
  * directory to garbage-collect, never a half-written store (the batch
  * analog of the reference's single-transaction commit,
  * load-hhs.py:28-33). `VersionedStore.compact` bounds file counts for
  * trickle feeds. */
object SnapshotStore {

  /** Apply `combine(existing, batch-aligned-to-existing-columns)` when a
    * snapshot exists, else seed the store with the batch. */
  def commit(batch: DataFrame, storeDir: String)(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val merged =
      if (VersionedStore.latestVersion(storeDir) >= 1) {
        val existing = VersionedStore.read(spark, storeDir)
        combine(existing, batch.select(existing.columns.map(col): _*))
      } else batch
    VersionedStore.commit(merged, storeDir)
    ()
  }

  /** Current snapshot (the version the pointer names). */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    VersionedStore.read(spark, storeDir)
}
