package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Corpus REWRITE operators: dedup stages that don't just measure or
  * flag duplication (x1/x2/x42) but produce the cleaned corpus itself.
  *
  * x42 reports how much of each document sits inside cross-document
  * repeated spans; x43 is the stage a pipeline runs next — remove the
  * repeated material and emit the surviving text (the line/span-level
  * dedup of CCNet / RefinedWeb: reference pipelines drop duplicated
  * lines before model training rather than whole near-dup documents,
  * cf. reference repo weekly-report.py's whole-row dedup being the only
  * grain it needs at relational scale; at corpus scale the grain is the
  * span).
  *
  * Scale shape (x43): block extraction is a pure map (no shuffle —
  * blocks are built array-side per row and exploded); "globally first
  * occurrence" is a min over one packed long per block-content
  * partition, computed as a WINDOW over the content key — so the whole
  * operator is ONE corpus scan and exactly TWO shuffles (content key,
  * then doc id), with totals, kept counts, and the reconstruction all
  * coming out of the same per-doc aggregate. (A first formulation
  * aggregated firsts then equi-joined them back — same semantics, but
  * three scans of the exploded corpus and three shuffles; the window
  * form measures ~30% faster at every probe factor.) Nothing is
  * quadratic, nothing is
  * collected; both shuffle keys are content hashes or doc ids — the
  * plan runs unchanged on a 1000-executor cluster.
  */
object Rewrite {

  /** Block geometry: non-overlapping 10-token blocks — the "line" unit
    * of the rewrite (the synthetic corpus has no newlines; production
    * would split on '\n' and the plan shape is identical). */
  private val BlockTokens = 10

  /** Block-index bits in the packed first-occurrence long. Blocks per
    * doc is bounded by doc length / BlockTokens — 2^20 blocks ≈ 10M
    * tokens per document, far above any real doc; doc_id keeps the top
    * 43 bits (sign excluded), enough for 8.8e12 documents. */
  private val BlkBits = 20

  private val blockDedupOracle: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |blk0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(0, (len(t) - 1) // $BlockTokens),
       |      i -> {'blk': i,
       |            'btxt': array_to_string(
       |              t[(i * $BlockTokens + 1):(i * $BlockTokens + $BlockTokens)], ' ')})) AS u
       |  FROM toks),
       |blk AS MATERIALIZED (
       |  SELECT doc_id, (u).blk AS blk, (u).btxt AS btxt FROM blk0),
       |first AS MATERIALIZED (
       |  SELECT btxt, MIN(doc_id * ${1L << BlkBits} + blk) AS mp
       |  FROM blk GROUP BY btxt),
       |kept AS MATERIALIZED (
       |  SELECT b.doc_id, b.blk, b.btxt
       |  FROM blk b JOIN first f ON b.btxt = f.btxt
       |  WHERE b.doc_id * ${1L << BlkBits} + b.blk = f.mp),
       |agg AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS kept_n,
       |    string_agg(btxt, ' ' ORDER BY blk) AS new_text
       |  FROM kept GROUP BY doc_id),
       |tot AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n FROM blk GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(tot.n AS BIGINT) AS n_blocks,
       |  CAST(COALESCE(agg.kept_n, 0) AS BIGINT) AS kept_blocks,
       |  COALESCE(agg.new_text, '') AS new_text
       |FROM documents d
       |JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** x43: span-level dedup REWRITE — chunk every document into
    * non-overlapping [[BlockTokens]]-token blocks, keep only the
    * globally FIRST occurrence of each distinct block content (ordered
    * by (doc_id, position) — within-doc repeats drop too), and emit the
    * surviving text per document. One row per doc (kept and fully-
    * gutted alike), so output is linear and the removal rate directly
    * readable.
    *
    * Determinism: "first" is an arithmetic min over doc_id·2^20+blk —
    * integer-exact on both engines; reconstruction order is the block
    * index. No floats anywhere. */
  val blockDedup = Q.withOracle(
    "x43_block_dedup_rewrite",
    "x43: keep-first block-level dedup with per-doc text reconstruction",
    blockDedupOracle) { (s, dir) =>
    pipeline(Tables.documents(s, dir))
  }

  /** The full rewrite over an arbitrary (doc_id, text) frame — shared
    * by the registered query (bound to the documents table) and the
    * RewriteSpec invariants (planted duplicates, idempotence). */
  /** (doc_id, blk, btxt) block explosion of a (doc_id, text) frame —
    * shared with the streaming incremental form
    * ([[graft.streaming.BlockDedupFeed]]). */
  private[graft] def blockFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    val lastBlk = floor((size(toks) - 1) / lit(BlockTokens)).cast("int")
    docs.select(col("doc_id"), posexplode(transform(
        sequence(lit(0), lastBlk),
        i => array_join(slice(toks, i * BlockTokens + 1, lit(BlockTokens)), " "))))
      .select(col("doc_id"), col("pos").as("blk"), col("col").as("btxt"))
  }

  /** The (doc_id, blk) occurrence order, packed into one long so firsts
    * are a plain integer min. */
  private[graft] def packedCol: org.apache.spark.sql.Column =
    shiftleft(col("doc_id"), BlkBits).bitwiseOR(col("blk").cast("long"))

  /** Per-doc regroup of a flagged block frame (doc_id, blk, btxt, keep):
    * totals, kept counts, and the reconstructed text in one aggregate. */
  private[graft] def reassemble(flagged: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept_blocks"),
        // collect_list skips NULLs, so the unkept blocks drop out here
        array_join(
          transform(array_sort(collect_list(
            when(col("keep"), struct(col("blk"), col("btxt"))))),
            x => x.getField("btxt")), " ").as("new_text"))
      .orderBy(col("doc_id"))

  private[graft] def pipeline(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val blocks = blockFrame(docs)
    val packed = packedCol
    // Keep-flag via window-min over the content key: the min runs over
    // one packed long per content partition, and totals + kept counts +
    // reconstruction all come out of the same per-doc aggregate.
    val keep = packed === min(packed).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("btxt")))
    reassemble(blocks.withColumn("keep", keep))
  }

  private val spanDedupOracle: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(t) - 2),
       |      i -> {'pos': i, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]})) AS u
       |  FROM toks),
       |ge AS MATERIALIZED (SELECT doc_id, (u).pos AS pos, (u).g AS g FROM g),
       |st AS MATERIALIZED (
       |  SELECT g, MIN(doc_id * ${1L << BlkBits} + pos) AS mp,
       |    CASE WHEN MIN(doc_id) < MAX(doc_id) THEN 1 ELSE 0 END AS rep
       |  FROM ge GROUP BY g),
       |drp AS MATERIALIZED (
       |  SELECT DISTINCT ge.doc_id, ge.pos + o AS p
       |  FROM ge JOIN st USING (g) CROSS JOIN generate_series(0, 2) z(o)
       |  WHERE st.rep = 1 AND ge.doc_id * ${1L << BlkBits} + ge.pos <> st.mp),
       |per AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd,
       |    list_sort(list(p)) AS dl
       |  FROM drp GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(per.nd, 0) AS BIGINT) AS n_dropped,
       |  COALESCE(array_to_string(list_transform(
       |    list_filter(generate_series(1, len(t.t)),
       |      i -> per.dl IS NULL OR NOT list_contains(per.dl, i)),
       |    i -> t.t[i]), ' '), '') AS new_text
       |FROM toks t LEFT JOIN per USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** x43b: sliding-span dedup REWRITE (r15 verdict board #3) — the
    * action half of x42's arbitrary-offset coverage, Lee et al. 2022's
    * ExactSubstr semantics at this repo's 3-gram grain: every token
    * position covered by a NON-FIRST occurrence of a cross-document
    * repeated 3-gram is dropped; the globally first occurrence (min of
    * the packed (doc_id, position) long — x43's arithmetic) keeps its
    * positions. This closes the x42↔x43 gap: a duplicate span shifted by
    * one token slips through x43's aligned 10-token blocks but is
    * counted by x42 — and is now removed here (RewriteSpec pins the
    * shifted-duplicate case and re-clean idempotence on a crafted
    * corpus, x182b's invariant).
    *
    * Scale shape: x42's exact plan prefix (map-only native gram explode,
    * ONE gram-keyed shuffle carrying the window min/max/min-packed — no
    * agg + join-back re-scan), then the dropped-position explode flows
    * into one (doc, position) distinct and one per-doc aggregate, and
    * the reconstruction is a map over (token array, sorted drop list)
    * projected as attributes (the r14 HOF rule). Both shuffle keys are
    * gram content or doc id; nothing is quadratic or collected. The gram
    * KEY is the literal string — x42's collision-free posture. */
  val spanDedup = Q.withOracle(
    "x43b_span_dedup_rewrite",
    "x43b: drop positions covered by non-first occurrences of cross-doc repeated 3-grams (sliding-span ExactSubstr rewrite)",
    spanDedupOracle) { (s, dir) =>
    spanPipeline(Tables.documents(s, dir))
  }

  /** The x43b rewrite over an arbitrary (doc_id, text) frame — shared by
    * the registered query and RewriteSpec's planted-duplicate /
    * idempotence invariants. Requires [[graft.functions.ShingleStr3]]
    * registered on the session. */
  private[graft] def spanPipeline(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleStr3.shingleStr3(toks)))
      .select(col("doc_id"), col("pos"), col("col").as("g"))
    // one gram-keyed shuffle carries repeatedness AND the first
    // occurrence (min over the packed (doc_id, pos) long) — the x42
    // window form, extended with the min-packed the rewrite needs
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val packed = shiftleft(col("doc_id"), BlkBits).bitwiseOR(col("pos").cast("long"))
    val dropped = grams
      .withColumn("pk", packed)
      .withColumn("rep", min(col("doc_id")).over(w) < max(col("doc_id")).over(w))
      .withColumn("mp", min(col("pk")).over(w))
      .filter(col("rep") && col("pk") =!= col("mp"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(2))).as("p"))
      .distinct()
    val per = dropped.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("nd"),
        sort_array(collect_list(col("p"))).as("dl"))
    docs.select(col("doc_id"), toks.as("ts"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"),
        array_join(filter(col("ts"),
          (_, i) => !array_contains(coalesce(col("dl"), lit(Array.empty[Int])), i)),
          " ").as("new_text"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(blockDedup, spanDedup)
}
