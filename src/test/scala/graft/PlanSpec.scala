package graft


/** Physical-plan audits — the 100 TB story. Correct results with a bad
  * plan (no pushdown, shuffled dim joins, no codegen) would collapse at
  * scale; these assertions pin the plan shapes we designed for. */
class PlanSpec extends SparkSuite {

  private def planOf(q: Q): String = {
    val df = q.fn(spark, sf)
    df.queryExecution.executedPlan.toString()
  }

  test("S3 scan: filter is pushed to parquet and columns are pruned") {
    val df = etl.Etl.s3.fn(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("PushedFilters"), s"no pushdown in: $scan")
    assert(scan.contains("GreaterThanOrEqual(l_quantity,45.0)"), s"filter not pushed: $scan")
    // only the 2 needed columns are read, not all 11
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned: $scan")
  }

  test("J3 dim chain: all three dim joins are broadcast, fact is never shuffled for a join") {
    val plan = planOf(analytics.Joins.j3)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$plan")
  }

  test("Q1 aggregate: partial (map-side) aggregation precedes the shuffle, inside codegen") {
    val df = analytics.Reports.q1.fn(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_sum"), s"no map-side combine:\n$plan")
    // executedPlan renders WholeStageCodegen spans as "*(n)" prefixes
    assert(plan.contains("*("), s"no codegen span:\n$plan")
  }

  test("T2 top-k: order-by-limit plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(analytics.Reports.t2)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("J1: the 5-row derived table is broadcast against the fact") {
    val plan = planOf(analytics.Joins.j1)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("x23 packing: bucket offsets broadcast; the only global window is the bucket table") {
    val df = ext.Curation.packSequences.fn(spark, sf)
    df.collect()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "bucket-offset join is not a broadcast")
    // every Window over the full doc table must be bucket-partitioned; an
    // un-partitioned window may only run over the tiny bucket-totals table
    val unpartitioned = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    // the bucket-totals window outputs (bkt, bt, …); the raw doc axis would
    // show doc_id/n instead
    assert(unpartitioned.forall(_.output.exists(_.name == "bt")),
      s"global window over non-bucket data:\n${unpartitioned.mkString("\n")}")
  }

  test("x170 composition: one corpus scan (final plan rides checkpoints); stages equal the standalone queries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = ext.Dedup.mixDesign.fn(spark, sf)
    // single-scan claim, structurally: the corpus parquet is read once
    // into the checkpointed slim frame during construction, so the
    // FINAL plan (savings + attribution + reweigh + weights, all
    // composed downstream) contains NO file scan at all — every stage
    // rides the checkpoint instead of rescanning documents
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"composed stages rescan the corpus:\n${scans.mkString("\n")}")
    // composition claim: the x169 columns of the composed report equal
    // the standalone x169 query's rows exactly
    val composed = df
      .select($"source", $"n_docs", $"n_kept", $"chars_total", $"chars_kept",
        $"savings")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val standalone = ext.Dedup.dedupSavings.fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(composed === standalone)
    // and the resampled mass is x44's acceptance applied to the deduped
    // corpus: per-source accepted chars recomputed independently
    val surv = Tables.documents(spark, sf)
      .groupBy(md5($"text").as("h")).agg(min($"doc_id").as("keep"))
    val keptDocs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"n_chars", md5($"text").as("h"))
      .join(surv, "h").filter($"doc_id" === $"keep")
    val accepted = ext.Sampling.temperaturePipeline(keptDocs)
      .filter($"kept")
      .join(keptDocs.select($"doc_id", $"source", $"n_chars"), "doc_id")
      .groupBy($"source").agg(sum($"n_chars").cast("long").as("chars_resampled"))
      .as[(String, Long)].collect().toMap
    val reported = df.select($"source", $"chars_resampled")
      .as[(String, Long)].collect().toMap
    reported.foreach { case (src, chars) =>
      assert(chars === accepted.getOrElse(src, 0L), s"source $src")
    }
  }

  test("x187 composition: one corpus scan (all later stages read the checkpointed slim frame)") {
    val df = ext.Frontend.pretrainFrontend.fn(spark, sf)
    // the slim frame (gates + md5 + qscore + token array) is projected
    // out of ONE documents read and checkpointed; the trigram, bigram,
    // dedup, mix, and curriculum stages all consume checkpoints — so the
    // final composed plan contains no file scan at all (x170b's pin)
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"composed front-end rescans the corpus:\n${scans.mkString("\n")}")
  }

  test("x170b composition: one corpus scan (gate computed in the md5 projection); x170 columns unchanged") {
    import spark.implicits._
    val df = ext.Dedup.mixDesignGated.fn(spark, sf)
    // the gate is a per-row array expression inside the SAME projection
    // that md5's the text, so the final composed plan still contains no
    // file scan — exactly x170's single-scan structure
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"gated composition rescans the corpus:\n${scans.mkString("\n")}")
    // adding the gate must not move any x170 column: dedup/attribution
    // precede the gate, and on this corpus the gate passes everything
    // (docs_gated == 0), so the resample columns must also be identical
    val common = Seq("source", "n_docs", "n_kept", "chars_total",
      "chars_kept", "dup_within", "dup_cross", "docs_resampled",
      "chars_resampled", "savings", "mix_weight")
    val gated = df.select(common.head, common.tail: _*).collect().toSeq
    val plain = ext.Dedup.mixDesign.fn(spark, sf)
      .select(common.head, common.tail: _*).collect().toSeq
    assert(gated === plain)
    assert(df.agg(org.apache.spark.sql.functions.sum($"docs_gated"))
      .as[Long].head === 0L,
      "synthetic corpus unexpectedly trips the dup-line gate")
  }

  test("x21/x22: no shuffle ever carries the raw text column") {
    Seq(ext.Curation.repetition, ext.Curation.decontaminate).foreach { q =>
      val df = q.fn(spark, sf)
      df.collect()
      val wide = flattenPlan(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.output.exists(_.name == "text") => e
      }
      assert(wide.isEmpty, s"${q.name} shuffles raw text:\n${wide.mkString("\n")}")
    }
  }
}
