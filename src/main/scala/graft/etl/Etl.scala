package graft.etl

import graft.{Parity, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ETL core re-expressed Spark-first (SURVEY.md §2.1-2.3):
  * scans, projections, sentinel/NULL normalization, dedup, surrogate keys,
  * insert-if-absent upserts, FK resolution, pick-first lookups, grain
  * checks, and the two value parsers (rating + boolean).
  *
  * Design stance vs the reference:
  * - ON CONFLICT DO NOTHING (helper_load_hhs.py:92-99 etc.) becomes a
  *   left-anti join + append — the only write path, idempotent by
  *   construction (re-running a load is a no-op).
  * - SERIAL surrogate keys (Phase1_updated.ipynb cells 4/10/13) become
  *   deterministic hashes of the natural key — unlike
  *   monotonically_increasing_id this is stable across retries, partition
  *   counts, and cluster sizes, which is what 100 TB re-runs need.
  * - The positional-zip FK resolution (helper_load_hhs.py:139,154-156) is
  *   a bug-shaped pattern; we implement the intended semantics as an
  *   explicit equi-join on the natural key (SURVEY.md §7.3.5).
  * - "Keep first" dedup (helper_load_hhs.py:65) gets an explicit
  *   deterministic ORDER BY — Spark partition order is not stable, so
  *   dropDuplicates alone would be nondeterministic (SURVEY.md §7.3.4).
  */
object Etl {
  import Parity._

  /** S1/S3: projected+filtered columnar scan. The test suite asserts the
    * physical plan shows PushedFilters + a 3-column ReadSchema. */
  val s3 = Q.withOracle(
    "s3_pruned_scan",
    "S1/S3: scan with column pruning + predicate pushdown",
    s"""SELECT l_orderkey, ${sql.dsum("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_quantity >= 45
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 45)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  /** S5/S6: snapshot upsert — read existing, anti-join incoming, union,
    * (re)write. The merge result here is returned as a rollup so the
    * oracle can verify it; the write path itself is exercised in tests.
    * Ref: helper_load_hhs.py:245-256, load-hhs.py:28-33. */
  val s5 = Q.withOracle(
    "s5_snapshot_upsert",
    "S5/S6: existing ∪ (incoming ⟕̸ existing) snapshot merge",
    s"""WITH existing AS (
       |  SELECT * FROM orders WHERE ${sql.day("o_orderdate")} < DATE '2000-01-01'),
       |incoming AS (
       |  SELECT * FROM orders WHERE ${sql.day("o_orderdate")} >= DATE '1999-06-01'),
       |merged AS (
       |  SELECT * FROM existing
       |  UNION ALL
       |  SELECT * FROM incoming i WHERE NOT EXISTS
       |    (SELECT 1 FROM existing e WHERE e.o_orderkey = i.o_orderkey))
       |SELECT o_orderstatus, COUNT(*) AS n_orders, ${sql.dsum("o_totalprice")} AS sum_price
       |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val existing = o.filter(day(col("o_orderdate")) < lit(java.sql.Date.valueOf("2000-01-01")))
    val incoming = o.filter(day(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1999-06-01")))
    val merged = existing.unionAll(
      incoming.join(existing.select(col("o_orderkey").as("ek")),
        col("o_orderkey") === col("ek"), "left_anti"))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** P1: keep-k-of-n column projection. Ref: helper_load_hhs.py:46-52. */
  val p1 = Q.withOracle(
    "p1_projection",
    "P1: narrow column projection",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** P2 + F6/F7: field extraction by name with rename + parse. JSON-ish
    * `props` plays the untyped CSV dict (load-quality.py:106-114). */
  val p2 = Q.withOracle(
    "p2_field_extract",
    "P2/F6/F7: named-field extraction, trim/upper, guarded int parse",
    """SELECT event_id, upper(trim(event_type)) AS etype,
      |  CAST(ts AS DATE) AS event_day,
      |  TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) AS k
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        upper(trim(col("event_type"))).as("etype"),
        col("ts").cast("date").as("event_day"),
        tryInt(regexp_extract(col("props"), "([0-9]+)", 1)).as("k"))
      .orderBy(col("event_id"))
  }

  /** P3: sentinel → NULL (the reference's -999999, helper_load_hhs.py:58;
    * here discount=0 plays the sentinel). */
  val p3 = Q.withOracle(
    "p3_sentinel_null",
    "P3: sentinel value to NULL, counted per group",
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  COUNT(CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END) AS n_nonsentinel,
       |  CAST(SUM(CASE WHEN l_discount = 0 THEN NULL ELSE ${sql.dec("l_discount")} END) AS DOUBLE) AS sum_disc
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val cleaned = when(col("l_discount") === 0, lit(null)).otherwise(col("l_discount"))
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        count(cleaned).as("n_nonsentinel"),
        sum(dec(cleaned)).cast("double").as("sum_disc"))
      .orderBy(col("l_returnflag"))
  }

  /** P4+P8: NULL normalization then drop — parse failures become NULL,
    * na.drop removes them. Ref: helper_load_hhs.py:55-56, report:69. */
  val p4 = Q.withOracle(
    "p4_null_normalize_drop",
    "P4/P8: normalize unparseable to NULL, then drop",
    """SELECT etype, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT lower(event_type) AS etype,
      |        TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
      |      FROM events)
      |WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(lower(col("event_type")).as("etype"),
        tryInt(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)).as("k"))
      .na.drop(Seq("k"))
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("etype"))
  }

  /** P5: date-range filter. Ref: weekly-report.py:293. */
  val p5 = Q.withOracle(
    "p5_date_range_filter",
    "P5: civil-date range predicate",
    s"""SELECT l_returnflag, COUNT(*) AS n_lines, ${sql.dsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE ${sql.day("l_shipdate")} BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(day(col("l_shipdate")).between(
        lit(java.sql.Date.valueOf("1997-01-01")), lit(java.sql.Date.valueOf("1997-12-31"))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** P6: equality filter against a computed max — rows of the latest week.
    * Ref: weekly-report.py:327-329. */
  val p6 = Q.withOracle(
    "p6_latest_week_rows",
    "P6: rows at max(date) ≤ cutoff",
    s"""SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS qty
       |FROM lineitem
       |WHERE ${sql.week("l_shipdate")} =
       |  (SELECT MAX(${sql.week("l_shipdate")}) FROM lineitem
       |   WHERE ${sql.day("l_shipdate")} <= DATE '2001-06-30')
       |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val mx = li.filter(day(col("l_shipdate")) <= lit(java.sql.Date.valueOf("2001-06-30")))
      .agg(max(week(col("l_shipdate"))).as("max_wk"))
    li.join(broadcast(mx), week(col("l_shipdate")) === col("max_wk"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("double").as("qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** P7: membership filter. Ref: weekly-report.py:284. */
  val p7 = Q.withOracle(
    "p7_membership_filter",
    "P7: IN-list predicate",
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |WHERE l_returnflag IN ('A', 'R') GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("A", "R"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** P8: not-NULL/not-NaN + threshold filter. Ref: weekly-report.py:209-216. */
  val p8 = Q.withOracle(
    "p8_notnull_threshold",
    "P8: null-safe numeric filter",
    s"""SELECT event_type, COUNT(*) AS n, ${sql.dsum("value")} AS sum_value
       |FROM events
       |WHERE value IS NOT NULL AND NOT isnan(value) AND value > 100
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .filter(col("value").isNotNull && !isnan(col("value")) && col("value") > 100)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** D1: dedup-by-key with deterministic survivor (first line per order).
    * Ref: helper_load_hhs.py:65 — made deterministic per SURVEY §7.3.4.
    * (l_orderkey, l_linenumber) is NOT unique in this testdata, so the
    * survivor order must be a total order — exactly the trap §7.3.4 warns
    * about; tie-break through the remaining columns. */
  val d1 = Q.withOracle(
    "d1_dedup_keep_first",
    "D1: one row per key, deterministic survivor",
    """SELECT l_orderkey, l_linenumber, l_partkey
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
      |      FROM lineitem)
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    // The survivor ordering is bit-packed into ONE comparable long so
    // min() keeps a mutable (LongType) buffer and the aggregate runs in
    // HashAggregateExec with map-side partials — the shuffle carries one
    // row per key per partition. min(struct(...)) does NOT get this: a
    // struct buffer is immutable, so Spark silently falls back to
    // SortAggregate on both partial and final sides, i.e. a full sort of
    // the corpus at 100 TB. Two facts make the pack sound:
    //  - the output projects only (orderkey, linenumber, partkey), so the
    //    suppkey/quantity tie-breakers of the total order are droppable
    //    here (rows tying on the packed pair are output-identical);
    //  - l_linenumber ∈ 1..7 by TPC-H spec at every SF (4 bits) and
    //    l_partkey = 200000×SF < 2^59 for any reachable SF, both
    //    non-negative, so (ln << 59) | pk preserves lexicographic order.
    // The generic any-column form stays in dedupFirst.
    val pkBits = 59
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(min(shiftleft(col("l_linenumber").cast("long"), pkBits)
        .bitwiseOR(col("l_partkey"))).as("packed"))
      .select(col("l_orderkey"),
        shiftright(col("packed"), pkBits).cast("int").as("l_linenumber"),
        col("packed").bitwiseAND(lit((1L << pkBits) - 1)).as("l_partkey"))
      .orderBy(col("l_orderkey"))
  }

  /** D2: deterministic surrogate keys from the natural key — md5 here for
    * oracle parity; xxhash64 (cheaper, no string round-trip) is the scale
    * variant, exercised in tests. Ref: SERIAL ids, nb cells 4/10/13. */
  val d2 = Q.withOracle(
    "d2_surrogate_keys",
    "D2: hash-of-natural-key surrogate ids",
    """SELECT md5(concat_ws('|', c_nationkey, c_mktsegment)) AS loc_id,
      |  c_nationkey, c_mktsegment
      |FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment")).distinct()
      .select(md5(concat_ws("|", col("c_nationkey"), col("c_mktsegment"))).as("loc_id"),
        col("c_nationkey"), col("c_mktsegment"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** D3: dimension insert-if-absent (ON CONFLICT DO NOTHING on the natural
    * key). Ref: helper_load_hhs.py:92-99. */
  val d3 = Q.withOracle(
    "d3_dim_upsert_new_rows",
    "D3: anti-join = rows a dim upsert would insert",
    """WITH existing AS (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |  WHERE c_custkey <= 300),
      |incoming AS (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
      |SELECT i.c_mktsegment, i.c_nationkey FROM incoming i
      |WHERE NOT EXISTS (SELECT 1 FROM existing e
      |  WHERE e.c_mktsegment = i.c_mktsegment AND e.c_nationkey = i.c_nationkey)
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val existing = c.filter(col("c_custkey") <= 300)
      .select(col("c_mktsegment"), col("c_nationkey")).distinct()
    val incoming = c.select(col("c_mktsegment"), col("c_nationkey")).distinct()
    incoming.join(existing, Seq("c_mktsegment", "c_nationkey"), "left_anti")
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  /** D4: natural-PK entity insert-if-absent. Ref: helper_load_hhs.py:159-166. */
  val d4 = Q.withOracle(
    "d4_entity_upsert_new_rows",
    "D4: anti-join on natural PK",
    """WITH existing AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
      |incoming AS (SELECT * FROM customer WHERE c_custkey % 3 = 0)
      |SELECT i.c_custkey, i.c_name FROM incoming i
      |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.c_custkey = i.c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val existing = c.filter(col("c_custkey") % 2 === 0).select(col("c_custkey").as("ek"))
    c.filter(col("c_custkey") % 3 === 0)
      .join(existing, col("c_custkey") === col("ek"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** D5: fact insert-if-absent on composite grain key.
    * Ref: load-quality.py:149-155. */
  val d5 = Q.withOracle(
    "d5_fact_upsert_new_rows",
    "D5: anti-join on composite (entity, date) grain",
    s"""WITH existing AS (SELECT o_custkey, ${sql.day("o_orderdate")} AS d FROM orders
       |  WHERE ${sql.day("o_orderdate")} < DATE '2001-04-01'),
       |incoming AS (SELECT o_orderkey, o_custkey, ${sql.day("o_orderdate")} AS d FROM orders
       |  WHERE ${sql.day("o_orderdate")} >= DATE '2001-01-01')
       |SELECT i.o_orderkey, i.o_custkey, i.d AS order_day FROM incoming i
       |WHERE NOT EXISTS (SELECT 1 FROM existing e
       |  WHERE e.o_custkey = i.o_custkey AND e.d = i.d)
       |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir).withColumn("d", day(col("o_orderdate")))
    val existing = o.filter(col("d") < lit(java.sql.Date.valueOf("2001-04-01")))
      .select(col("o_custkey").as("ec"), col("d").as("ed"))
    o.filter(col("d") >= lit(java.sql.Date.valueOf("2001-01-01")))
      .join(existing, col("o_custkey") === col("ec") && col("d") === col("ed"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"), col("d").as("order_day"))
      .orderBy(col("o_orderkey"))
  }

  /** D6: uniqueness-grain violation check (the UNIQUE constraint as a
    * query). lineitem's true grain is (orderkey, linenumber); checking
    * orderkey alone must therefore report violations. Ref: nb cell 13. */
  val d6 = Q.withOracle(
    "d6_grain_violations",
    "D6: grain-uniqueness assertion as a query",
    """SELECT l_orderkey, COUNT(*) AS n
      |FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy(col("l_orderkey"))
  }

  /** D7: FK resolution — the array-shipping bulk lookup
    * (helper_load_hhs.py:114-139) becomes a plain equi-join on the
    * natural key returning the surrogate id. */
  val d7 = Q.withOracle(
    "d7_fk_resolution",
    "D7: natural-key join resolving surrogate ids",
    """WITH dim AS (
      |  SELECT md5(concat_ws('|', c_nationkey, c_mktsegment)) AS loc_id,
      |    c_nationkey AS nk, c_mktsegment AS seg
      |  FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer))
      |SELECT c_custkey, loc_id FROM customer
      |JOIN dim ON c_nationkey = nk AND c_mktsegment = seg
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val dim = c.select(col("c_nationkey"), col("c_mktsegment")).distinct()
      .select(md5(concat_ws("|", col("c_nationkey"), col("c_mktsegment"))).as("loc_id"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
    c.join(broadcast(dim), col("c_nationkey") === col("nk") && col("c_mktsegment") === col("seg"))
      .select(col("c_custkey"), col("loc_id"))
      .orderBy(col("c_custkey"))
  }

  /** D8: correlated pick-first lookup (`ORDER BY id LIMIT 1` per key,
    * load-quality.py:141-145) as a deterministic window dedup. */
  val d8 = Q.withOracle(
    "d8_pick_first_per_key",
    "D8: deterministic first-match per group",
    """SELECT c_nationkey, c_custkey, c_name
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |        ORDER BY c_custkey) AS rn FROM customer)
      |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
    Tables.customer(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"))
      .orderBy(col("c_nationkey"))
  }

  /** V1: domain-checked parse — out-of-range and unparseable both → NULL.
    * Ref: load-quality.py:158-174 (rating ∈ [1,5] ∨ NULL). */
  val v1 = Q.withOracle(
    "v1_rating_parse",
    "V1: guarded parse + CHECK-range validation to NULL",
    """SELECT etype, COUNT(*) AS n_total, COUNT(rating) AS n_valid,
      |  MIN(rating) AS min_r, MAX(rating) AS max_r
      |FROM (SELECT event_type AS etype,
      |        CASE WHEN TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER)
      |               BETWEEN 1 AND 5
      |             THEN TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER)
      |        END AS rating
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // The extract is hoisted into its own projection so the regex over
    // the long props string runs ONCE per row: inlining `parsed` into
    // when(parsed.between(1,5), parsed) expands to SIX regexp_extract
    // calls in the optimized plan (3 refs × rlike+cast), and even
    // tryInt's own guard doubles it. CollapseProject only re-inlines
    // cheap expressions, so the staged form survives optimization
    // (SemanticsSpec pins the plan at exactly one extract) and measures
    // ~20% faster at sf0.1.
    Tables.events(s, dir)
      .select(col("event_type").as("etype"),
        regexp_extract(col("props"), "([0-9]+)", 1).as("digits"))
      .select(col("etype"), tryInt(col("digits")).as("parsed"))
      .select(col("etype"),
        when(col("parsed").between(1, 5), col("parsed")).as("rating"))
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n_total"), count(col("rating")).as("n_valid"),
        min(col("rating")).as("min_r"), max(col("rating")).as("max_r"))
      .orderBy(col("etype"))
  }

  /** V2: case-insensitive boolean parse with NULL→false.
    * Ref: load-quality.py:177-189. */
  val v2 = Q.withOracle(
    "v2_boolean_parse",
    "V2: 'yes'-style boolean parse, NULL maps to false",
    """SELECT COALESCE(lower(trim(event_type)) = 'purchase', FALSE) AS is_purchase,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(coalesce(lower(trim(col("event_type"))) === "purchase", lit(false)).as("is_purchase"))
      .groupBy(col("is_purchase"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("is_purchase"))
  }

  /** S5b: MERGE-style mutable upsert — the industrial (Delta MERGE)
    * sibling of the insert-only snapshot upsert (s5): matched keys take
    * the update row's values, unmatched update rows insert, every other
    * current row is retained. Exercised over customer with a third of the
    * keys updated and a disjoint batch inserted. */
  val s5b = Q.withOracle(
    "s5b_merge_upsert",
    "S5b: MERGE upsert (update matched, insert new, retain rest)",
    """WITH cur AS (
      |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS acctbal
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey, 'RESEGMENTED' AS c_mktsegment,
      |    CAST(c_acctbal + 100 AS DOUBLE) AS acctbal
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_mktsegment, CAST(0.0 AS DOUBLE)
      |  FROM customer WHERE c_custkey % 5 = 0)
      |SELECT COALESCE(u.c_custkey, c.c_custkey) AS c_custkey,
      |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
      |       ELSE c.c_mktsegment END AS c_mktsegment,
      |  CASE WHEN u.c_custkey IS NOT NULL THEN u.acctbal
      |       ELSE c.acctbal END AS acctbal
      |FROM cur c FULL OUTER JOIN upd u ON c.c_custkey = u.c_custkey
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val cur = cust.select(col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal").cast("double").as("acctbal"))
    val upd = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), lit("RESEGMENTED").as("c_mktsegment"),
        (col("c_acctbal") + 100).cast("double").as("acctbal"))
      .unionByName(cust.filter(col("c_custkey") % 5 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          col("c_mktsegment"), lit(0.0).as("acctbal")))
    merge(cur, upd, Seq("c_custkey")).orderBy(col("c_custkey"))
  }

  /** D10: SCD Type-2 dimension history — the version-tracking upsert a
    * warehouse migration expects next to plain MERGE: a quarter of the
    * customers change segment (old version closes, new one opens), the
    * rest re-deliver unchanged (no-op), and a disjoint key batch inserts
    * fresh open versions. */
  val d10 = Q.withOracle(
    "d10_scd2_history",
    "D10: SCD2 apply (close changed, retain unchanged, insert new keys)",
    """WITH hist AS (
      |  SELECT c_custkey, c_mktsegment,
      |    DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 4 = 0 THEN 'MOVED' ELSE c_mktsegment END
      |      AS c_mktsegment,
      |    DATE '1996-06-01' AS ts
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 10000000, 'NEWKEY', DATE '1996-06-01'
      |  FROM customer WHERE c_custkey % 7 = 0),
      |changed AS (
      |  SELECT u.c_custkey, u.c_mktsegment, u.ts
      |  FROM upd u JOIN hist h ON u.c_custkey = h.c_custkey
      |  WHERE h.valid_to IS NULL AND u.c_mktsegment <> h.c_mktsegment),
      |newkeys AS (
      |  SELECT u.c_custkey, u.c_mktsegment, u.ts FROM upd u
      |  WHERE NOT EXISTS (SELECT 1 FROM hist h
      |    WHERE h.c_custkey = u.c_custkey AND h.valid_to IS NULL))
      |,applied AS (
      |  SELECT h.c_custkey, h.c_mktsegment, h.valid_from, c.ts AS valid_to
      |  FROM hist h JOIN changed c ON h.c_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT h.c_custkey, h.c_mktsegment, h.valid_from, h.valid_to
      |  FROM hist h WHERE NOT EXISTS
      |    (SELECT 1 FROM changed c WHERE c.c_custkey = h.c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, ts, CAST(NULL AS DATE) FROM changed
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, ts, CAST(NULL AS DATE) FROM newkeys)
      |SELECT c_custkey, c_mktsegment, valid_from,
      |  COALESCE(valid_to, DATE '9999-12-31') AS valid_to
      |FROM applied ORDER BY c_custkey, valid_from""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val hist = cust.select(col("c_custkey"), col("c_mktsegment"),
      lit(java.sql.Date.valueOf("1995-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_to"))
    val upd = cust.select(col("c_custkey"),
        when(col("c_custkey") % 4 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        lit(java.sql.Date.valueOf("1996-06-01")).as("ts"))
      .unionByName(cust.filter(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          lit("NEWKEY").as("c_mktsegment"),
          lit(java.sql.Date.valueOf("1996-06-01")).as("ts")))
    // open versions surface as the conventional high date: the driver's
    // value compare treats NULL-vs-NULL dates as unequal (NaT semantics),
    // and the sentinel is the standard warehouse encoding anyway
    scd2Apply(hist, upd, Seq("c_custkey"), "ts")
      .withColumn("valid_to",
        coalesce(col("valid_to"), lit(java.sql.Date.valueOf("9999-12-31"))))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  val all: Seq[Q] = Seq(s3, s5, s5b, p1, p2, p3, p4, p5, p6, p7, p8,
    d1, d2, d3, d4, d5, d6, d7, d8, d10, v1, v2)

  // ---- reusable building blocks (used by streaming + tests) ----

  /** Rows of `incoming` whose key is absent from `existing`: the rows an
    * insert-if-absent (ON CONFLICT DO NOTHING) adds. A left-anti join
    * against the distinct existing keys, matched null-safely: a NULL key
    * (e.g. a failed to_date parse) must still match its stored copy, or
    * re-runs would re-append it forever and break idempotence. The key
    * side is renamed before the join so chained upserts (existing derived
    * from incoming) don't trip Spark's self-join attribute ambiguity. */
  def newRows(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val exKeys = existing.select(keys.map(col): _*).distinct()
      .toDF(keys.map(k => s"__ex_$k"): _*)
    val cond = keys.map(k => incoming(k) <=> exKeys(s"__ex_$k")).reduce(_ && _)
    incoming.join(exKeys, cond, "left_anti")
  }

  /** Generic snapshot upsert: `existing` plus the `newRows` of `incoming`.
    * Idempotent: applying the same incoming twice yields the same result. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(newRows(existing, incoming, keys))

  /** MERGE-style upsert (UPDATE matched + INSERT unmatched in one pass):
    * every data column of a matched key takes the update row's value;
    * update rows with no current match insert; current rows with no
    * update survive unchanged. One keyed full-outer join — at scale both
    * sides shuffle once on the key (AQE broadcasts a small update side).
    * Update-side columns are renamed before the join so updates derived
    * from `current` itself (the common backfill) cannot trip Spark's
    * self-join attribute ambiguity. Keys are matched null-safely, like
    * `upsert`. */
  def merge(current: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val dataCols = current.columns.filterNot(keys.contains).toSeq
    val u = updates.select(
      keys.map(k => col(k).as(s"__u_$k")) ++
        dataCols.map(c => col(c).as(s"__u_$c")) :+ lit(true).as("__upd"): _*)
    val cond = keys.map(k => col(k) <=> col(s"__u_$k")).reduce(_ && _)
    current.join(u, cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"__u_$k"), col(k)).as(k)) ++
        dataCols.map(c =>
          when(col("__upd"), col(s"__u_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** SCD Type-2 apply: version history maintenance for a dimension.
    * `history` carries (keys, attrs..., valid_from, valid_to) with
    * valid_to NULL marking the open version; `updates` carries (keys,
    * attrs..., tsCol). For each update whose attributes differ from the
    * open version (null-safely, any column), the open version closes at
    * the update timestamp and a new open version begins there; updates
    * identical to the open version are no-ops (idempotent re-delivery);
    * keys with no open version insert a fresh open row. Closed history
    * passes through untouched.
    *
    * Scale shape: one keyed left join (open × updates) + one keyed
    * anti join (new keys) + unions — every shuffle on the dimension key,
    * closed history never joined at all. */
  def scd2Apply(history: DataFrame, updates: DataFrame, keys: Seq[String],
      tsCol: String): DataFrame = {
    val attrs = history.columns.toSeq
      .filterNot(c => keys.contains(c) || c == "valid_from" || c == "valid_to")
    val vtType = history.schema("valid_to").dataType
    val open = history.filter(col("valid_to").isNull)
    val closed = history.filter(col("valid_to").isNotNull)
    val u = updates.select(
      keys.map(k => col(k).as(s"__u_$k")) ++
        attrs.map(a => col(a).as(s"__u_$a")) :+ col(tsCol).as("__u_ts"): _*)
    val joinCond = keys.map(k => col(k) <=> col(s"__u_$k")).reduce(_ && _)
    val j = open.join(u, joinCond, "left")
    val differs = attrs.map(a => !(col(a) <=> col(s"__u_$a"))).reduce(_ || _)
    val changed = col("__u_ts").isNotNull && differs
    val outCols = (keys ++ attrs).map(col)
    val closedNow = j.filter(changed)
      .select(outCols :+ col("valid_from") :+ col("__u_ts").as("valid_to"): _*)
    val stillOpen = j.filter(!changed)
      .select(outCols :+ col("valid_from") :+ lit(null).cast(vtType).as("valid_to"): _*)
    val newVersions = j.filter(changed).select(
      keys.map(k => col(s"__u_$k").as(k)) ++ attrs.map(a => col(s"__u_$a").as(a)) :+
        col("__u_ts").as("valid_from") :+ lit(null).cast(vtType).as("valid_to"): _*)
    val openKeys = open.select(keys.map(k => col(k).as(s"__o_$k")): _*)
    val newKeys = u.join(openKeys,
        keys.map(k => col(s"__u_$k") <=> col(s"__o_$k")).reduce(_ && _), "left_anti")
      .select(keys.map(k => col(s"__u_$k").as(k)) ++ attrs.map(a => col(s"__u_$a").as(a)) :+
        col("__u_ts").as("valid_from") :+ lit(null).cast(vtType).as("valid_to"): _*)
    closed.select(outCols :+ col("valid_from") :+ col("valid_to"): _*)
      .unionByName(closedNow).unionByName(stillOpen)
      .unionByName(newVersions).unionByName(newKeys)
  }

  /** Deterministic keep-first dedup. */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Scale-variant surrogate key: 64-bit hash of the natural key columns
    * (no string materialization). Collision-checked in tests. */
  def surrogateKey(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    xxhash64(cols: _*)
}
