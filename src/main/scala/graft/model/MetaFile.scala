package graft.model

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** The stores' small metadata files — `VersionedStore`'s `_LATEST`
  * pointer, `BucketStore`'s `_BUCKETS` pin and `_MANIFEST`, and the
  * feeds' batch stamps — read and written whole through the Hadoop
  * FileSystem API, so they work on any filesystem `df.write.parquet`
  * accepts.
  *
  * A write lands in `<name>.tmp` first and is then renamed over the
  * target with `FileContext.rename(…, Options.Rename.OVERWRITE)`: atomic
  * on HDFS and POSIX, so a reader sees the old content or the new, never
  * an empty or torn file. On S3-style stores the connector maps the
  * rename to copy+delete, and a conditional-put object is the documented
  * hardening. */
object MetaFile {

  /** The file's content, or `None` when it does not exist. */
  def read(spark: SparkSession, p: Path): Option[String] = {
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** Replace the file's content atomically (see object doc). */
  def write(spark: SparkSession, p: Path, text: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(fs.getUri, conf).rename(
      fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.OVERWRITE)
  }
}
