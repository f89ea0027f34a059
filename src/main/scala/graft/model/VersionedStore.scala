package graft.model

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet store: S6's version-and-swap commit grown into the
  * capabilities a snapshot store needs at scale — linear history with
  * time travel, O(1) rollback, and small-file compaction.
  *
  * Layout: `<root>/v=<n>/` parquet per version plus a one-line `_LATEST`
  * pointer file. A commit writes the new version directory FULLY, then
  * swaps the pointer — readers either see the old pointer or the new
  * one, never a half-written directory. Rollback is a pointer swap to an
  * older version; nothing is rewritten, and the next commit allocates
  * 1 + the highest version DIRECTORY on disk (not the pointer), so
  * committing after a rollback creates a new version instead of
  * clobbering the rolled-past history.
  *
  * All metadata IO goes through the Hadoop FileSystem / FileContext API,
  * so the store works against any Hadoop-supported filesystem
  * (`file://`, `hdfs://`, object stores with an FS connector) — the same
  * paths `df.write.parquet` accepts. The pointer swap is a [[MetaFile]]
  * write: tmp file, then an atomic rename-overwrite.
  *
  * Scale notes: the pointer file is the only mutable object; version
  * data is immutable-once-written, so concurrent readers never block
  * and object-store eventual consistency on the data files is harmless.
  * Compaction rewrites one version's data into `ceil(rows/target)`
  * files as a NEW version — history stays intact.
  *
  * Reference behavior being replaced: the remote Postgres store the
  * reference loads into (credentials.py:1, helper_load_hhs.py:10-28) —
  * this is the engine's durable-store analog. */
object VersionedStore {

  private def hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  private def latestPath(root: String) = new Path(root, "_LATEST")

  private def versionDir(root: String, v: Int) = s"$root/v=$v"

  /** Current pointer target, 0 if the store is empty / unborn. */
  def latestVersion(root: String): Int =
    MetaFile.read(SparkSession.active, latestPath(root)).fold(0)(_.trim.toInt)

  /** Highest `v=<n>` directory present on disk — the version-allocation
    * watermark. Distinct from `latestVersion` after a rollback: the
    * pointer moves back, the directories stay. */
  private def highestVersionDir(root: String): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hadoopConf)
    if (!fs.exists(rootPath)) 0
    else
      fs.listStatus(rootPath).iterator.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v=")) n.drop(2).toIntOption else None
      }.foldLeft(0)(math.max)
  }

  /** Commit `df` as the next version and swap the pointer; returns the
    * new version number (always a FRESH directory — see class doc on
    * post-rollback allocation). */
  def commit(df: DataFrame, root: String): Int = {
    val next = highestVersionDir(root) + 1
    df.write.mode("overwrite").parquet(versionDir(root, next))
    setLatest(root, next)
    next
  }

  /** Read the latest version, or an explicit one (time travel). */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(root))
    require(v >= 1, s"empty store at $root")
    spark.read.parquet(versionDir(root, v))
  }

  /** Roll the pointer back to an existing older version — O(1), no data
    * movement; later versions remain readable by explicit time travel. */
  def rollback(root: String, toVersion: Int): Unit = {
    val dir = new Path(versionDir(root, toVersion))
    require(dir.getFileSystem(hadoopConf).exists(dir),
      s"version $toVersion does not exist under $root")
    setLatest(root, toVersion)
  }

  /** Rewrite the latest version's data into ~`targetRowsPerFile` chunks
    * as a new version — the small-file compaction a long-running
    * micro-batch writer needs (every commit of a trickle feed otherwise
    * adds a file, and 10k tiny files turn scan planning into the
    * bottleneck long before data volume does).
    *
    * `zorderBy` (≥ 2 columns) additionally clusters the rewrite on the
    * Morton code of those columns — compaction is exactly when a store
    * should fix its layout, since the data is being rewritten anyway
    * (the OPTIMIZE ZORDER lifecycle of the table formats): each output
    * file then owns a small box of the named value space, so later
    * multi-dimensional predicates prune row groups by min/max stats. */
  def compact(spark: SparkSession, root: String, targetRowsPerFile: Long,
      zorderBy: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.{count, lit, min, max, col}
    val df = read(spark, root)
    if (zorderBy.isEmpty) {
      val n = df.count()
      val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
      commit(df.repartition(files), root)
    } else {
      // ONE stats pass for row count AND z-bounds (compaction already
      // needs the count; a separate min/max aggregate inside zOrderedBy
      // would re-scan the version it is about to rewrite). The bounds
      // ride into the layout as plan-time constants.
      val aggs = count(lit(1)) +: zorderBy.flatMap(c => Seq(min(col(c)), max(col(c))))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getLong(0)
      val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
      // No bounds exist on an empty version OR when some z-dimension has
      // no non-NULL values (min/max skip nulls) — fall back to the plain
      // rewrite rather than NPE on a null bound.
      val boundsMissing = n == 0 ||
        (1 to 2 * zorderBy.size).exists(r.isNullAt)
      val shaped =
        if (boundsMissing) df.repartition(files)
        else graft.ext.Layout.zOrderedBy(df, zorderBy, files,
          zorderBy.indices.map(i => (r.getAs[Number](1 + 2 * i).longValue(),
            r.getAs[Number](2 + 2 * i).longValue())))
      commit(shaped, root)
    }
  }

  /** Delete version directories older than the `keepLast` most recent
    * ones that are ≤ the pointer (rolled-past higher versions are kept —
    * they are un-garbage-collectable history until rolled forward past).
    * The streaming stores commit every micro-batch, so unbounded history
    * is unbounded storage; vacuum is the retention knob, exactly like a
    * table format's VACUUM. Returns the deleted version numbers. */
  def vacuum(root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val live = latestVersion(root)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hadoopConf)
    if (!fs.exists(rootPath)) return Seq.empty
    val versions = fs.listStatus(rootPath).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=")) n.drop(2).toIntOption else None
    }.toSeq.sorted
    val keep = versions.filter(_ <= live).takeRight(keepLast).toSet
    val doomed = versions.filter(v => v <= live && !keep(v))
    doomed.foreach(v => fs.delete(new Path(versionDir(root, v)), true))
    doomed
  }

  private def setLatest(root: String, v: Int): Unit =
    MetaFile.write(SparkSession.active, latestPath(root), v.toString)
}
