package graft.ext

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x186 — a TRAINED discriminative quality filter (r14 verdict board #3):
  * the GPT-3/LLaMA recipe's other half to x177's generative importance
  * ratios ("a classifier scores pages by similarity to a high-quality
  * reference corpus" — Brown et al. 2020 §A; Touvron et al. 2023). A
  * linear model over hashed bigram features, trained against a
  * deterministic label proxy (lang = en ∧ the registered x176 C4-keep
  * verdict), then applied as one per-row dot product at scan speed.
  *
  * Trainer: the AVERAGED PERCEPTRON (Freund & Schapire 1999) run
  * [[Classifier.Epochs]] epochs in PINNED doc order (ascending doc_id)
  * over a BOUNDED pinned training sample — the [[Classifier.TrainN]]
  * smallest doc_ids. Every update is integer (counts × ±1), the running
  * weight sum is accumulated after every example, and the shipped model
  * is that sum (the average scaled by the step count — same sign, still
  * integer), so the DuckDB oracle replays the ENTIRE sequential training
  * run bit-exactly as a recursive CTE over a LIST-typed weight state
  * (K·N single-row iterations), then scores the corpus with the same
  * integer dot product.
  *
  * Why a bounded sample, not the corpus: the sequential perceptron is
  * inherently order-dependent — distributing its updates changes the
  * model (McDonald et al. 2010, "Distributed Training Strategies for
  * the Structured Perceptron"), and the batch-synchronous variant that
  * DOES distribute was measured here collapsing to the majority class
  * under label imbalance (epoch-summed updates oscillate). Production
  * does the same thing this operator does: the GPT-3 quality classifier
  * trained on a BOUNDED curated-vs-sampled-crawl set, single-node, and
  * only INFERENCE runs over the full crawl. So training state is a
  * bounded driver-side loop (TrainN is a constant — the collected
  * sample is the same size at any corpus scale, the centroid-table
  * collect class), and inference is the distributed part: the trained
  * 1024-long weight vector travels as a literal into one scan-speed
  * map + per-doc hash agg. At 100 TB nothing but the fixed sample ever
  * leaves the executors.
  *
  * Separation quality is pinned on crafted separable corpora in
  * ClassifierSpec; on the synthetic test corpus the lang half of the
  * label is textually invisible (all five langs share one 31-word
  * vocabulary), so holdout agreement sits near the data's information
  * ceiling — a property of the corpus, not the operator. */
object Classifier {

  /** Hashed-feature space. x177's md5 recipe, 4× wider (256 buckets
    * measurably under-separates: the 31-word vocab's ~900 bigrams
    * collide every bucket across classes; 1024 keeps the literal
    * weight array trivially broadcastable). */
  private val Buckets = 1024

  /** Training epochs over the pinned sample. */
  private[graft] val Epochs = 4

  /** Bounded training-sample size: the TrainN smallest doc_ids. A
    * CONSTANT — the collect below is bounded by it at every corpus
    * scale (the production recipe's curated reference set). */
  private[graft] val TrainN = 400

  /** (doc_id, b, c): per-doc hashed-bigram bucket counts — the one
    * corpus-scale explode, shared by sample extraction and inference. */
  private def featFrame(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    docs.select(col("doc_id"), explode(
        filter(zip_with(t, slice(t, lit(2), size(t)),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
          p => p.getField("w2").isNotNull)).as("p"))
      .select(col("doc_id"),
        (conv(substring(md5(concat_ws(" ", col("p.w1"), col("p.w2"))), 1, 15),
          16, 10).cast("long") % Buckets).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** Label frame (doc_id, y ∈ {+1, −1}): en ∧ x176-keep → +1. */
  private def labelFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(TextStats.c4KeepFlags(docs), "doc_id")
      .select(col("doc_id"),
        when(col("lang") === "en" && col("keep") === 1L, 1L)
          .otherwise(-1L).as("y"))

  /** Driver-side averaged-perceptron training over the pinned sample:
    * returns (sample doc_ids ascending, epoch-step-summed weights,
    * summed bias). Exactly the loop the recursive-CTE oracle replays. */
  private[ext] def train(spark: SparkSession, l: DataFrame,
      f: DataFrame): (Array[Long], Array[Long], Long) = {
    import spark.implicits._
    val sampRows = l.orderBy(col("doc_id")).limit(TrainN).collect() // bounded: TrainN
    val sampIds = sampRows.map(_.getLong(0))
    val ys = sampRows.map(_.getLong(1))
    val idIdx = sampIds.zipWithIndex.toMap
    val sampDf = sampIds.toSeq.toDF("doc_id")
    // sample docs' sparse features — bounded: ≤ TrainN × doc length
    val xs = Array.fill(sampIds.length)(
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long)])
    f.join(broadcast(sampDf), "doc_id").collect().foreach { r =>
      xs(idIdx(r.getLong(0))) += ((r.getLong(1).toInt, r.getLong(2)))
    }
    val w = Array.fill(Buckets)(0L)
    var bb = 0L
    val ws = Array.fill(Buckets)(0L)
    var bs = 0L
    for (_ <- 1 to Epochs; i <- sampIds.indices) {
      var s = bb
      xs(i).foreach { case (b, c) => s += w(b) * c }
      if (ys(i) * s <= 0L) {
        xs(i).foreach { case (b, c) => w(b) += ys(i) * c }
        bb += ys(i)
      }
      var j = 0
      while (j < Buckets) { ws(j) += w(j); j += 1 } // running average, per step
      bs += bb
    }
    (sampIds, ws, bs)
  }

  /** The training-replay oracle CTE prefix ending in `csc` (one row per
    * doc: doc_id, y, the trained integer score) — shared by x186, x186b,
    * and x191's 5-signal panel (r15 advice: consumers compose this CTE
    * chain instead of string-editing the full oracle). Must be opened
    * with `WITH RECURSIVE`. */
  private[graft] def clfOracleCtes: String =
    s"""${TextStats.c4KeepCtes},
       |f AS MATERIALIZED (
       |  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(ts[i] || ' ' || ts[i+1]), 1, 15))::BIGINT % $Buckets AS b
       |    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |          FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)))
       |  GROUP BY 1, 2),
       |l AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CASE WHEN d.lang = 'en' AND k.keep = 1 THEN 1 ELSE -1 END AS y
       |  FROM documents d JOIN c4k k ON d.doc_id = k.doc_id),
       |samp AS MATERIALIZED (
       |  SELECT doc_id, y, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS sidx
       |  FROM l ORDER BY doc_id LIMIT $TrainN),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM samp),
       |dv AS MATERIALIZED (
       |  SELECT s.sidx, s.y,
       |    list_transform(generate_series(1, $Buckets),
       |      i -> CAST(COALESCE(map_extract(fm.m, i - 1)[1], 0) AS BIGINT)) AS x
       |  FROM samp s LEFT JOIN (
       |    SELECT doc_id, map_from_entries(list({'k': b, 'v': c})) AS m
       |    FROM f GROUP BY doc_id) fm ON s.doc_id = fm.doc_id),
       |rec AS (
       |  SELECT CAST(0 AS BIGINT) AS t,
       |    list_transform(generate_series(1, $Buckets), i -> CAST(0 AS BIGINT)) AS w,
       |    CAST(0 AS BIGINT) AS bb,
       |    list_transform(generate_series(1, $Buckets), i -> CAST(0 AS BIGINT)) AS ws,
       |    CAST(0 AS BIGINT) AS bs
       |  UNION ALL
       |  SELECT t + 1,
       |    list_transform(generate_series(1, $Buckets), i -> w[i] + m * y * x[i]),
       |    bb + m * y,
       |    list_transform(generate_series(1, $Buckets), i -> ws[i] + w[i] + m * y * x[i]),
       |    bs + bb + m * y
       |  FROM (
       |    SELECT rec.*, dv.x, dv.y,
       |      CASE WHEN dv.y * (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(generate_series(1, $Buckets), i -> rec.w[i] * dv.x[i])),
       |          (a, c) -> a + c) + rec.bb) <= 0 THEN 1 ELSE 0 END AS m
       |    FROM rec JOIN dv ON dv.sidx = rec.t % (SELECT n FROM nn)
       |    WHERE rec.t < $Epochs * (SELECT n FROM nn))),
       |fin AS MATERIALIZED (
       |  SELECT ws, bs FROM rec WHERE t = $Epochs * (SELECT n FROM nn)),
       |wt AS MATERIALIZED (
       |  SELECT i AS bi, fin.ws[i] AS w
       |  FROM fin, (SELECT unnest(generate_series(1, $Buckets)) AS i) g),
       |fs AS MATERIALIZED (
       |  SELECT f.doc_id, SUM(wt.w * f.c) AS s
       |  FROM f JOIN wt ON f.b = wt.bi - 1 GROUP BY 1),
       |csc AS MATERIALIZED (
       |  SELECT l.doc_id, l.y,
       |    CAST(COALESCE(fs.s, 0) + (SELECT bs FROM fin) AS BIGINT) AS score
       |  FROM l LEFT JOIN fs ON l.doc_id = fs.doc_id)""".stripMargin

  private def oracle: String =
    s"""WITH RECURSIVE $clfOracleCtes
       |SELECT doc_id, CAST(y AS BIGINT) AS label, score,
       |  CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
       |  CAST(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE -1 END) = y
       |    THEN 1 ELSE 0 END AS BIGINT) AS agree,
       |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM samp)
       |    THEN 1 ELSE 0 END AS BIGINT) AS in_train
       |FROM csc
       |ORDER BY doc_id""".stripMargin

  /** The per-doc trained-score frame (doc_id, label, score, in_train),
    * unordered — train on the pinned bounded sample, then score the
    * corpus with the weight vector riding as a LITERAL into the scan
    * (one map-side product + per-doc hash agg, no weight-table join).
    * Shared by x186 and by [[SignalCorr]]'s 5-signal panel, the Spark
    * twin of the `csc` CTE in [[clfOracleCtes]]. */
  private[graft] def scoredFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val f = Materialize(featFrame(docs)) // slim (doc, bucket) frame
    val l = Materialize(labelFrame(docs))
    val (sampIds, ws, bs) = train(s, l, f)
    val wlit = typedlit(ws.toSeq)
    val fs = f.select(col("doc_id"),
        (element_at(wlit, (col("b") + 1).cast("int")) * col("c")).as("t"))
      .groupBy(col("doc_id")).agg(sum(col("t")).cast("long").as("s"))
    l.join(fs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y").as("label"),
        (coalesce(col("s"), lit(0L)) + lit(bs)).cast("long").as("score"),
        when(col("doc_id").isInCollection(sampIds), 1L).otherwise(0L)
          .as("in_train"))
  }

  val qualityClassifier: Q = Q.withOracle(
    "x186_quality_classifier",
    "x186: averaged-perceptron quality classifier (pinned bounded sample, scan-speed inference)",
    oracle) { (s, dir) =>
    scoredFrame(s, dir)
      .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
      .withColumn("agree", when(col("pred") === col("label"), 1L).otherwise(0L))
      .select(col("doc_id"), col("label"), col("score"), col("pred"),
        col("agree"), col("in_train"))
      .orderBy(col("doc_id"))
  }

  /** x186b: the classifier-vs-DSIR agreement census (the x181 ablation
    * treatment applied to the two SELECTORS): both keep-sets' sizes,
    * intersection, union, and Jaccard, plus the corpus size — one row.
    * The discriminative (x186 pred = +1) and generative (x177
    * selected = 1) recipes run on the SAME corpus and the same hashed
    * md5 feature recipe; this is the number a curation team reads to
    * decide whether the trained filter adds signal over importance
    * ratios or merely reproduces them. Composes the two registered
    * queries — two slim per-doc frames joined on doc_id, one 1-row
    * agg. */
  val clfVsDsir: Q = Q.withOracle(
    "x186b_clf_vs_dsir",
    "x186b: agreement census between the trained classifier and DSIR selection",
    s"""WITH RECURSIVE $clfOracleCtes,
       |c AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN score > 0 THEN 1 ELSE 0 END AS ck FROM csc),
       |ds AS MATERIALIZED (
       |  SELECT doc_id, selected AS dk
       |  FROM (WITH ${Dsir.dsirSelectCtes} SELECT doc_id, selected FROM dsel))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(c.ck) AS BIGINT) AS n_clf,
       |  CAST(SUM(ds.dk) AS BIGINT) AS n_dsir,
       |  CAST(SUM(c.ck * ds.dk) AS BIGINT) AS n_both,
       |  CAST(SUM(c.ck) + SUM(ds.dk) - SUM(c.ck * ds.dk) AS BIGINT) AS n_union,
       |  CASE WHEN SUM(c.ck) + SUM(ds.dk) - SUM(c.ck * ds.dk) = 0 THEN NULL
       |    ELSE CAST(SUM(c.ck * ds.dk) AS DOUBLE)
       |      / (SUM(c.ck) + SUM(ds.dk) - SUM(c.ck * ds.dk)) END AS jaccard
       |FROM c JOIN ds ON c.doc_id = ds.doc_id""".stripMargin) { (s, dir) =>
    val clf = scoredFrame(s, dir)
      .select(col("doc_id"),
        when(col("score") > 0L, 1L).otherwise(0L).as("ck"))
    val dsir = Dsir.dsirSelect.fn(s, dir)
      .select(col("doc_id"), col("selected").as("dk"))
    clf.join(dsir, "doc_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ck")).cast("long").as("n_clf"),
        sum(col("dk")).cast("long").as("n_dsir"),
        sum(col("ck") * col("dk")).cast("long").as("n_both"))
      .select(col("n_docs"), col("n_clf"), col("n_dsir"), col("n_both"),
        (col("n_clf") + col("n_dsir") - col("n_both")).cast("long").as("n_union"),
        when(col("n_clf") + col("n_dsir") - col("n_both") === 0, lit(null))
          .otherwise(col("n_both").cast("double") /
            (col("n_clf") + col("n_dsir") - col("n_both")).cast("double"))
          .as("jaccard"))
  }

  val all: Seq[Q] = Seq(qualityClassifier, clfVsDsir)
}
