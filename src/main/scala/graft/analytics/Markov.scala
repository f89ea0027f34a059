package graft.analytics

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** First-order Markov transition matrix over per-user event sequences —
  * the "what happens next" primitive behind session modeling and
  * next-event prediction features. The only event-grain work is ONE
  * user-keyed window (lead over (epoch-µs, event_id) order) producing
  * (from, to) adjacencies; everything after runs at |event types|² grain,
  * which is contractually tiny. Transition probabilities are a SINGLE
  * IEEE division of two exact integers (count / row total), computed by
  * the same expression shape in both engines, so even the float column
  * hash-matches.
  */
object Markov {

  private val transitionsOracle: String =
    s"""WITH seq AS MATERIALIZED (
       |  SELECT event_type AS src,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS dst
       |  FROM events),
       |cnt AS MATERIALIZED (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2)
       |SELECT src, dst, n,
       |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
       |FROM cnt ORDER BY src, dst""".stripMargin

  /** x62: event-type transition counts + row-normalized probabilities;
    * one user-keyed window at event grain, then type²-grain aggregation. */
  val transitions = Q.withOracle(
    "x62_markov_transitions",
    "x62: first-order Markov transition matrix over per-user event sequences",
    transitionsOracle) { (s, dir) =>
    val seq = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("src"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("dst", lead(col("src"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .filter(col("dst").isNotNull)
    val cnt = seq.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("n"))
    cnt
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("src"))))
      .orderBy(col("src"), col("dst"))
  }

  // ---- x75: top-k event paths ---------------------------------------

  /** Paths reported. */
  private val PathK = 25

  private def pathsOracle: String =
    s"""WITH per AS MATERIALIZED (
       |  SELECT user_id,
       |    list_transform(list_sort(list({'us': epoch_us(ts),
       |      'eid': event_id, 't': event_type})), r -> r.t) AS seq
       |  FROM events GROUP BY user_id),
       |tri AS MATERIALIZED (
       |  SELECT unnest(list_transform(generate_series(1, len(seq) - 2),
       |    i -> seq[i] || ' ' || seq[i+1] || ' ' || seq[i+2])) AS path
       |  FROM per)
       |SELECT path, CAST(COUNT(*) AS BIGINT) AS n
       |FROM tri GROUP BY path ORDER BY n DESC, path LIMIT $PathK""".stripMargin

  /** x75: most common 3-event paths — the sequence-mining step up from
    * x62's 1-step matrix (path analysis: which JOURNEYS dominate, not
    * just which transition). Per-user ordered sequences fold out their
    * consecutive type trigrams via the same codegen'd `shingle_str3`
    * the text family uses; counts aggregate on the path key.
    *
    * Scale shape: one user-keyed shuffle (per-user state = the ordered
    * event list, x57's documented contract), then one path-keyed hash
    * agg with map-side partials and a bounded top-k — no self-joins at
    * any path length (k-grams generalize by swapping the gram arity,
    * not by adding joins). */
  val topPaths = Q.withOracle(
    "x75_top_paths",
    s"x75: top-$PathK 3-event user paths (sequence mining over ordered event types)",
    pathsOracle) { (s, dir) =>
    val paths = Tables.events(s, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("event_type").as("t")).as("e"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(explode(graft.functions.ShingleStr3.shingleStr3(
        transform(col("es"), e => e.getField("t")))).as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("path")).limit(PathK)
  }

  val all: Seq[Q] = Seq(transitions, topPaths)
}
