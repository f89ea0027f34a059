package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The release contract of [[Materialize]]: an iteration holds one
  * generation at a time, not one per round, and nothing in `src/main`
  * materializes around it. */
class MaterializeSpec extends SparkSuite {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDD ids of the materializations a frame reads. */
  private def blocks(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("ccLabels keeps only the returned generation of a 5-round loop") {
    // A 5-node path: the min label needs 4 rounds to reach node 5, and a
    // 5th round finds no change; a loop that kept its superseded rounds
    // would hold 5 generations here.
    val edges = Materialize(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("u", "v"))
    val before = persisted
    val labels = ext.Dedup.ccLabels(edges)
    val added = persisted -- before
    assert(added === blocks(labels), s"new materializations $added")
    assert(added.size === 1)
    assert(labels.as[(Long, Long)].collect().sorted.toSeq ===
      (1L to 5L).map(v => (v, 1L)))
    Materialize.release(edges)
    added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
  }

  test("fixpoint: a run that hits its cap reports the cap, one generation held") {
    val seed = Materialize(spark.range(4).toDF("x"))
    val before = persisted
    val (last, rounds) = Materialize.fixpoint(seed, 3)(
      (gen, _) => gen.select((col("x") + 1).as("x")))
    assert(rounds === 3)
    assert(last.as[Long].collect().sorted.toSeq === Seq(3L, 4L, 5L, 6L))
    // the seed was superseded, so it is gone too
    assert(persisted -- before === blocks(last))
    assert((persisted & blocks(seed)).isEmpty)
    Materialize.release(last)
  }

  test("fixpoint stops at the first generation done holds for") {
    val (last, rounds) = Materialize.fixpoint(spark.range(1).toDF("x"), 10,
      (_, next) => next.head().getLong(0) >= 2)((gen, _) => gen.select((col("x") + 1).as("x")))
    assert(rounds === 2)
    assert(last.head().getLong(0) === 2L)
    Materialize.release(last)
  }

  test("release frees a materialization and skips a view over one") {
    val m = Materialize(spark.range(3).toDF("x"))
    Materialize.release(m.filter(col("x") > 0))
    assert(blocks(m).subsetOf(persisted))
    Materialize.release(m)
    assert((persisted & blocks(m)).isEmpty)
  }

  /** Source with comments blanked out (newlines kept, so line numbers
    * hold). String literals are skipped over whole, so a `//` inside one
    * (DuckDB integer division in an oracle) does not start a comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: String, from: Int): Int = {
      val e = src.indexOf(end, from)
      if (e < 0) src.length else e + end.length
    }
    while (i < src.length) {
      val stop =
        if (src.startsWith("//", i)) { val e = src.indexOf('\n', i); if (e < 0) src.length else e }
        else if (src.startsWith("/*", i)) skipTo("*/", i + 2)
        else if (src.startsWith("\"\"\"", i)) skipTo("\"\"\"", i + 3)
        else if (src(i) == '"') {
          var j = i + 1
          while (j < src.length && src(j) != '"' && src(j) != '\n')
            j += (if (src(j) == '\\') 2 else 1)
          math.min(j + 1, src.length)
        } else i + 1
      val piece = src.substring(i, stop)
      out ++= (if (src.startsWith("//", i) || src.startsWith("/*", i))
        piece.filter(_ == '\n') else piece)
      i = stop
    }
    out.toString
  }

  /** `file:line` of every `.localCheckpoint(` in code under `root`,
    * outside Materialize.scala. */
  private def rawCheckpoints(root: Path): Seq[String] =
    Files.walk(root).iterator().asScala.toSeq.sorted
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Materialize.scala")
      .flatMap { p =>
        code(Files.readString(p)).split("\n", -1).zipWithIndex.collect {
          case (line, i) if line.contains(".localCheckpoint(") => s"$p:${i + 1}"
        }
      }

  test("source guard: only Materialize.scala calls localCheckpoint in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val offenders = rawCheckpoints(root)
    assert(offenders.isEmpty,
      s"raw localCheckpoint outside graft.Materialize:\n${offenders.mkString("\n")}")
  }

  test("source guard: comments and strings do not count, code does") {
    assert(code("a // x.localCheckpoint()\n/* y.localCheckpoint()\n */ b") === "a \n\n b")
    assert(code("val s = \"1 // 2\"; df.localCheckpoint()").contains(".localCheckpoint("))
  }
}
