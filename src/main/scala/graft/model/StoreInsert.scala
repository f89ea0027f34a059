package graft.model

import graft.etl.Etl
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import scala.util.{Failure, Try}

/** Insert-if-absent into the four-table parquet store: the reference's
  * `INSERT … ON CONFLICT DO NOTHING` (load-hhs.py:21-33,
  * load-quality.py:139-155). A load writes only the rows whose key the
  * table lacks, so its cost follows the batch, not the store; existing
  * data files are never rewritten.
  *
  * Protocol, per load:
  *  1. Stage. Each table's new rows — the batch anti-joined against the
  *     table's existing keys — are written to `<table>/_staging/<load-id>/`.
  *     Spark readers and `*.parquet` globs skip that directory (a leading
  *     `_` marks it hidden). The tables stage concurrently, because a
  *     load is bound by per-job driver overhead, not by data.
  *  2. Publish, once every table has staged: the staged part files are
  *     renamed into `<table>/`, table by table in the order given, which
  *     callers make the FK order (parents first). A table that gained no
  *     rows gets no file, and no zero-row file is published, except one
  *     empty file that gives a table created by this load its schema.
  *  3. If any table fails to stage, nothing is published and every
  *     staging directory of the load is deleted.
  *
  * A crash mid-publish leaves a prefix of the tables (and of one table's
  * files) published: a subset of the new rows, each row whole and no child
  * row ahead of its parent. Re-running the load publishes the rest, since
  * the anti-join skips what is already there.
  *
  * One writer per store: two loads running at once would both miss each
  * other's keys. */
object StoreInsert {

  /** One table's share of a load: `rows`, unique on `keys`. */
  final case class Batch(table: String, rows: DataFrame, keys: Seq[String])

  private final case class Staged(table: String, dir: Path, created: Boolean,
      before: Long, parts: Seq[(Path, Long)])

  /** Insert every batch's new rows into `storeDir`; returns each table's
    * total row count after the load, summed from parquet footers (file
    * metadata, no Spark job). */
  def apply(storeDir: String, batches: Seq[Batch]): Map[String, Long] = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(batches.head.rows.sparkSession.sparkContext.hadoopConfiguration)
    val loadId = java.util.UUID.randomUUID().toString
    // Threads created here, by the caller's thread, inherit its Spark
    // local properties: the jobs they submit carry the caller's job group
    // and description. A pool created earlier would not. Every table is
    // waited for, failed or not, so no write still running can recreate
    // a staging directory after `discard`.
    val pool = Executors.newFixedThreadPool(batches.size)
    val staged = try {
      val running = batches.map(b => CompletableFuture.supplyAsync(
        () => stage(fs, new Path(root, b.table), loadId, b), pool))
      running.map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
    } finally pool.shutdown()
    // `_.get` over every table first: one failure publishes nothing
    try staged.map(_.get).map(publish(fs, _)).toMap
    finally batches.foreach(b => discard(fs, new Path(root, b.table), loadId))
  }

  private def stage(fs: FileSystem, dir: Path, loadId: String, b: Batch): Staged = {
    val existing = dataFiles(fs, dir)
    val fresh =
      if (existing.isEmpty) b.rows
      else Etl.newRows(b.rows.sparkSession.read.parquet(dir.toString), b.rows, b.keys)
    val out = new Path(dir, s"_staging/$loadId")
    fresh.write.parquet(out.toString)
    Staged(b.table, dir, existing.isEmpty, existing.map(rowCount(fs, _)).sum,
      dataFiles(fs, out).map(p => p -> rowCount(fs, p)))
  }

  private def publish(fs: FileSystem, s: Staged): (String, Long) = {
    val rows = s.parts.filter(_._2 > 0)
    val keep = if (rows.isEmpty && s.created) s.parts.take(1) else rows
    keep.foreach { case (p, _) =>
      val to = new Path(s.dir, p.getName)
      if (!fs.rename(p, to)) throw new java.io.IOException(s"could not publish $p as $to")
    }
    s.table -> (s.before + rows.map(_._2).sum)
  }

  /** Delete this load's staging directory, then `_staging` and the table
    * directory if that left them empty (a table this load failed to
    * create). */
  private def discard(fs: FileSystem, dir: Path, loadId: String): Unit = {
    val staging = new Path(dir, "_staging")
    fs.delete(new Path(staging, loadId), true)
    Seq(staging, dir).foreach { d =>
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
    }
  }

  /** The table's data files: every file not hidden by a `_` or `.` prefix. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  /** Row count from the parquet footer, without a Spark job. */
  private def rowCount(fs: FileSystem, file: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, fs.getConf))
    try r.getRecordCount finally r.close()
  }
}
