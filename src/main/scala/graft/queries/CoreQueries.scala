package graft.queries

import graft.Catalog
import graft.Catalog.{table => t}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core SQL (SURVEY.md §2.11): scans, projections/filters, joins
  * (broadcast, star, semi/anti, range, theta, lateral), aggregations
  * (rollup/cube/grouping sets, percentiles, ordered and boolean
  * aggregates, pivot/unpivot), window functions and frames, top-k,
  * set operations, subqueries, a recursive CTE, and the scalar
  * string/regex/JSON/variant/base64/date/null/cast families. Each row
  * cites the reference behavior it generalizes. Plans are
  * DataFrame-API-first so Catalyst owns pushdown/pruning/join
  * selection; the SQL-surface rows (grouping sets, fractional RANGE
  * frames, EXISTS, LATERAL, correlated subqueries) go through s.sql.
  */
object CoreQueries {

  /** Order-independent exact sum for money/qty doubles: accumulate in
    * DECIMAL(18,6) (exact, associative) then back to DOUBLE. The DuckDB
    * oracles use the same cast so both engines agree bit-for-bit.
    * The accumulator is the native 128-bit unscaled sum
    * (plans/MoneySum) — value-identical to Spark's decimal Sum, but
    * three long ops per row in codegen instead of per-row Decimal
    * allocation (~2x on the sf1 money-agg shapes, and no GC churn).
    */
  private def dsum(c: Column, scale: Int = 2): Column =
    round(graft.plans.MoneySum.sumDec128(c.cast(DecimalType(18, 6))), scale)
      .cast("double")

  val defs: Seq[QueryDef] = Seq(

    // S1/S12/O1 — point scan with deterministic order (registry order,
    // master/master.ino:155,216).
    QueryDef(
      "q01_scan_ordered",
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
      // so every output column joins the sort key to keep order total.
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity")
          .limit(100)),

    // P3/P4 — missing-value + confirmation predicates
    // (master/master.ino:156-165,253-258).
    QueryDef(
      "q02_filter_predicates",
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE l_returnflag = 'R' AND l_quantity > 0
              ORDER BY l_orderkey, l_linenumber"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R" && col("l_quantity") > 0)
          .select("l_orderkey", "l_linenumber")
          .orderBy("l_orderkey", "l_linenumber")),

    // P1/F6 — calibrate + rectify: fabs(x - zero_factor)
    // (slave/slave.ino:22,141).
    QueryDef(
      "q03_calibrate_abs",
      Some("""SELECT event_id, ROUND(ABS(value - 0.5), 3) AS calibrated
              FROM events ORDER BY event_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            round(abs(col("value") - 0.5), 3).as("calibrated"))
          .orderBy("event_id")),

    // P2/F7/F20 — kg→g integer upscale: ceil(w*1000)
    // (master/master.ino:474).
    QueryDef(
      "q04_unit_upscale",
      Some("""SELECT l_orderkey, l_linenumber,
              CAST(CEIL(l_quantity * 1000) AS BIGINT) AS grams
              FROM lineitem
              ORDER BY l_orderkey, l_linenumber, grams LIMIT 500"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            ceil(col("l_quantity") * 1000).cast("long").as("grams"))
          .orderBy("l_orderkey", "l_linenumber", "grams")
          .limit(500)),

    // J1/P7/F19 — broadcast dim join + route-by-tag CASE
    // (master/master.ino:23-26; gateway/gateway.ino:69-75).
    QueryDef(
      "q05_broadcast_join_case",
      Some("""SELECT n.n_name,
              CASE WHEN r.r_name = 'ASIA' THEN 'D' ELSE 'E' END AS tag
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
              ORDER BY n.n_name"""),
      (s, dir) => {
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .select(col("n_name"),
            when(col("r_name") === "ASIA", "D").otherwise("E").as("tag"))
          .orderBy("n_name")
      }),

    // J8/J1 — multi-way star join with group aggregate
    // (keyed gather generalized; master/master.ino:216-271).
    QueryDef(
      "q06_star_join",
      Some("""SELECT r.r_name, n.n_name, COUNT(*) AS cnt,
              CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2)
                   AS DOUBLE) AS total
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name"""),
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
          .orderBy("r_name", "n_name")
      }),

    // J4/U1 — anti-join pending set: registry minus responded
    // (master/master.ino:156-168).
    QueryDef(
      "q07_anti_join",
      Some("""SELECT c.c_custkey FROM customer c
              ANTI JOIN orders o ON c.c_custkey = o.o_custkey
              ORDER BY c.c_custkey"""),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey").orderBy("c_custkey")
      }),

    // J5 — semi-join: any-response-present gate
    // (master/master.ino:233-244).
    QueryDef(
      "q08_semi_join",
      Some("""SELECT c.c_custkey FROM customer c
              SEMI JOIN orders o ON c.c_custkey = o.o_custkey
              ORDER BY c.c_custkey"""),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey").orderBy("c_custkey")
      }),

    // A1/A4/A7 — aggregate suite + filtered agg (TPC-H Q1 shape; the
    // "aggregate all hive readings per round" analog,
    // hx711_calibration/hx711_calibration.ino:23; master/master.ino:555-574).
    QueryDef(
      "q09_agg_suite",
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2)
                   AS DOUBLE) AS sum_qty,
              ROUND(AVG(l_extendedprice), 2) AS avg_price,
              ROUND(MIN(l_discount), 2) AS min_disc,
              ROUND(MAX(l_tax), 2) AS max_tax,
              COUNT(*) FILTER (WHERE l_quantity > 25) AS big_cnt
              FROM lineitem GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            dsum(col("l_quantity")).as("sum_qty"),
            round(avg("l_extendedprice"), 2).as("avg_price"),
            round(min("l_discount"), 2).as("min_disc"),
            round(max("l_tax"), 2).as("max_tax"),
            count(when(col("l_quantity") > 25, 1)).as("big_cnt"))
          .orderBy("l_returnflag", "l_linestatus")),

    // A2/A5 — exact distinct count + all-present barrier
    // (master/master.ino:151-168 readingsDone conjunction).
    QueryDef(
      "q10_distinct_barrier",
      Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS nd_cust,
              CAST(MIN(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END)
                   AS INT) AS all_present
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            countDistinct(col("o_custkey")).as("nd_cust"),
            min(when(col("o_totalprice").isNotNull, 1).otherwise(0))
              .cast("int").as("all_present"))
          .orderBy("o_orderstatus")),

    // A6 — rollup (Catalyst Expand).
    QueryDef(
      "q11_rollup",
      Some("""SELECT r_name, n_name, COUNT(*) AS cnt
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY ROLLUP(r_name, n_name)
              ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""),
      (s, dir) => {
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      }),

    // A6 — cube.
    QueryDef(
      "q12_cube",
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
              FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus NULLS FIRST,
                       o_orderpriority NULLS FIRST"""),
      (s, dir) =>
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)),

    // A6 — grouping sets (SQL surface; Spark SQL dialect).
    QueryDef(
      "q13_grouping_sets",
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
              FROM orders
              GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              ORDER BY o_orderstatus NULLS FIRST,
                       o_orderpriority NULLS FIRST"""),
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
                 FROM orders
                 GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                 ORDER BY o_orderstatus NULLS FIRST,
                          o_orderpriority NULLS FIRST""")
      }),

    // W2/A3/J6 — latest-per-key (keyed slot overwrite,
    // master/master.ino:32,253-258).
    QueryDef(
      "q14_latest_per_key",
      Some("""SELECT user_id, event_id FROM (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) WHERE rn = 1 ORDER BY user_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_id")
          .orderBy("user_id")
      }),

    // W1/W6 — rank/ntile/wraparound sequence numbering
    // (tx/tx.ino:93-100 counter mod 10).
    QueryDef(
      "q15_rank_ntile_seq",
      Some("""SELECT event_id,
              CAST(RANK() OVER (PARTITION BY event_type
                           ORDER BY value DESC, event_id) AS INT) AS rk,
              CAST(NTILE(4) OVER (PARTITION BY event_type
                             ORDER BY value DESC, event_id) AS INT) AS qtile,
              CAST((ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) - 1) % 10 AS INT) AS seq
              FROM events ORDER BY event_id"""),
      (s, dir) => {
        val byVal = Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))
        val byTs = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("event_id"),
            rank().over(byVal).as("rk"),
            ntile(4).over(byVal).as("qtile"),
            ((row_number().over(byTs) - 1) % 10).cast("int").as("seq"))
          .orderBy("event_id")
      }),

    // W3/W5 — delta vs previous + running total (the domain purpose:
    // weight change between rounds).
    QueryDef(
      "q16_lag_running",
      Some("""SELECT event_id,
              ROUND(value - LAG(value) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id), 3) AS delta,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
                   AS DOUBLE) AS running
              FROM events ORDER BY event_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .select(col("event_id"),
            round(col("value") - lag("value", 1).over(w), 3).as("delta"),
            round(graft.plans.MoneySum.sumDec128(
                col("value").cast(DecimalType(18, 6))).over(frame), 3)
              .cast("double").as("running"))
          .orderBy("event_id")
      }),

    // S2/W4 — 3-sample moving average (prototype_1/prototype_1.ino:35).
    QueryDef(
      "q17_moving_avg",
      Some("""SELECT event_id,
              ROUND(AVG(value) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS smooth3
              FROM events ORDER BY event_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-2, Window.currentRow)
        t(s, dir, "events")
          .select(col("event_id"),
            round(avg("value").over(w), 3).as("smooth3"))
          .orderBy("event_id")
      }),

    // O2/O3 — top-k (TakeOrderedAndProject physical op).
    QueryDef(
      "q18_topk",
      Some("""SELECT o_orderkey, ROUND(o_totalprice, 2) AS p FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("p"),
            col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .select("o_orderkey", "p")),

    // U1/U2/U3 — set ops: ((A INTERSECT B) UNION ALL C) EXCEPT D
    // (pending-set difference, master/master.ino:156-168; telemetry
    // union, gateway/gateway.ino:69-75).
    QueryDef(
      "q19_set_ops",
      Some("""SELECT k FROM (
                (SELECT c_nationkey AS k FROM customer
                 INTERSECT SELECT s_nationkey FROM supplier)
                UNION ALL SELECT n_nationkey FROM nation
                EXCEPT SELECT r_regionkey FROM region)
              ORDER BY k"""),
      (s, dir) => {
        val cust = t(s, dir, "customer").select(col("c_nationkey").as("k"))
        val supp = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
        val nat = t(s, dir, "nation").select(col("n_nationkey").as("k"))
        val reg = t(s, dir, "region").select(col("r_regionkey").as("k"))
        cust.intersect(supp).unionAll(nat).except(reg).orderBy("k")
      }),

    // F1-F5/P5/P6/S11 — string build/probe/format surface
    // (JSON assembly master/master.ino:465-480; strstr AT matching
    // master/master.ino:378; display padding prototype_1:35-36).
    QueryDef(
      "q20_string_funcs",
      Some("""SELECT doc_id,
              CONCAT(lang, ':', SUBSTRING(source, 1, 3)) AS tag,
              CAST(LENGTH(text) AS BIGINT) AS len,
              CAST(STRPOS(text, 'e') AS BIGINT) AS epos,
              UPPER(lang) AS lang_u,
              LPAD(lang, 5, ' ') AS padded
              FROM documents ORDER BY doc_id LIMIT 200"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("lang"), lit(":"), substring(col("source"), 1, 3))
              .as("tag"),
            length(col("text")).cast("long").as("len"),
            instr(col("text"), "e").cast("long").as("epos"),
            upper(col("lang")).as("lang_u"),
            lpad(col("lang"), 5, " ").as("padded"))
          .orderBy("doc_id")
          .limit(200)),

    // F13 — JSON extract from the opaque props payload (gateway
    // forwards opaque JSON, gateway/gateway.ino:83).
    QueryDef(
      "q23_json_extract",
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS k
              FROM events ORDER BY event_id LIMIT 500"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").as("k"))
          .orderBy("event_id")
          .limit(500)),

    // F14 — base64 transport encoding (gateway/gateway.ino:83-84).
    QueryDef(
      "q25_base64",
      Some("""SELECT doc_id, to_base64(encode(SUBSTRING(text, 1, 16))) AS b64
              FROM documents ORDER BY doc_id LIMIT 200"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            base64(substring(col("text"), 1, 16).cast("binary")).as("b64"))
          .orderBy("doc_id")
          .limit(200)),

    // F17/X3 — explode to words + count (telemetry map relationalized;
    // master/master.ino:465-480 shape).
    QueryDef(
      "q31_word_count",
      Some("""SELECT w AS word, COUNT(*) AS cnt FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents) t
              WHERE w <> '' GROUP BY w ORDER BY cnt DESC, word LIMIT 20"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ", -1)).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word"))
          .limit(20)),

    // J7 — range join: events within 7 days of each order
    // (interval matching; BASELINE.json north_star).
    QueryDef(
      "q33_range_join",
      Some("""SELECT o.o_orderkey, COUNT(e.event_id) AS ev
              FROM orders o LEFT JOIN events e
                ON e.ts::TIMESTAMP >= o.o_orderdate
                AND e.ts::TIMESTAMP < o.o_orderdate + INTERVAL 7 DAY
              GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 500"""),
      (s, dir) => {
        // Range-join bucketing: a pure range predicate would plan as a
        // BroadcastNestedLoopJoin (O(|orders|·|events|) — 15G pairs at
        // sf0.1, unusable at 100 TB). Exploding each order into its 8
        // covering day-buckets turns it into an equi-join on the
        // bucket date + residual range filter; each event matches
        // exactly one bucket so counts are unchanged.
        val o = t(s, dir, "orders")
          .withColumn("o_end", col("o_orderdate") + expr("INTERVAL 7 DAY"))
        val e = t(s, dir, "events")
          .withColumn("bucket", to_date(col("ts")))
        val ob = o.withColumn("bucket",
          explode(sequence(to_date(col("o_orderdate")), to_date(col("o_end")))))
        ob.join(e,
            ob("bucket") === e("bucket") &&
              e("ts") >= ob("o_orderdate") && e("ts") < ob("o_end"),
            "left")
          .groupBy("o_orderkey")
          .agg(count(e("event_id")).as("ev"))
          .orderBy("o_orderkey")
          .limit(500)
      }),

    // J7 — theta join (inequality pairing).
    QueryDef(
      "q34_theta_join",
      Some("""SELECT a.r_regionkey AS rk_a, b.r_regionkey AS rk_b
              FROM region a JOIN region b
                ON a.r_regionkey < b.r_regionkey
              ORDER BY rk_a, rk_b"""),
      (s, dir) => {
        val a = t(s, dir, "region").alias("a")
        val b = t(s, dir, "region").alias("b")
        a.join(b, col("a.r_regionkey") < col("b.r_regionkey"))
          .select(col("a.r_regionkey").as("rk_a"),
            col("b.r_regionkey").as("rk_b"))
          .orderBy("rk_a", "rk_b")
      }),

    // A-family extra: exact interpolated median + p90 per group
    // (distribution analytics over the weight-reading analog).
    QueryDef(
      "q36_median_percentile",
      Some("""SELECT event_type,
              ROUND(quantile_cont(value, 0.5), 4) AS med,
              ROUND(quantile_cont(value, 0.9), 4) AS p90
              FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(
            round(expr("percentile(value, 0.5)"), 4).as("med"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"))
          .orderBy("event_type")),

    // F-family extra: edit distance as a near-dup gate (string
    // similarity tier below shingle Jaccard).
    QueryDef(
      "q37_levenshtein",
      Some("""SELECT a.doc_id,
              CAST(levenshtein(SUBSTRING(a.text, 1, 30),
                               SUBSTRING(b.text, 1, 30)) AS BIGINT) AS dist
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
              ORDER BY a.doc_id LIMIT 200"""),
      (s, dir) => {
        val a = t(s, dir, "documents").alias("a")
        val b = t(s, dir, "documents").alias("b")
        a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("doc_id"),
            levenshtein(substring(col("a.text"), 1, 30),
              substring(col("b.text"), 1, 30)).cast("long").as("dist"))
          .orderBy("doc_id")
          .limit(200)
      }),

    // §4 — correlated scalar subquery (Catalyst decorrelation;
    // RewriteCorrelatedScalarSubquery).
    QueryDef(
      "q35_correlated_subquery",
      Some("""SELECT o_orderkey FROM orders o
              WHERE o_totalprice > (SELECT AVG(o2.o_totalprice)
                                    FROM orders o2
                                    WHERE o2.o_custkey = o.o_custkey)
              ORDER BY o_orderkey"""),
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT o_orderkey FROM orders o
                 WHERE o_totalprice > (SELECT AVG(o2.o_totalprice)
                                       FROM orders o2
                                       WHERE o2.o_custkey = o.o_custkey)
                 ORDER BY o_orderkey""")
      }),

    // EXISTS / NOT IN predicate subqueries (planned as semi/anti joins)
    QueryDef(
      "q38_exists_subquery",
      Some("""SELECT s_suppkey FROM supplier s
              WHERE EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = s.s_nationkey
                              AND n.n_regionkey = 0)
              ORDER BY s_suppkey"""),
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT s_suppkey FROM supplier s
                 WHERE EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey
                                 AND n.n_regionkey = 0)
                 ORDER BY s_suppkey""")
      }),

    // RANGE interval frame: sum of value over [value-0.1, value] per type
    QueryDef(
      "q39_range_frame",
      Some("""SELECT event_id,
              CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY value
                   RANGE BETWEEN 0.1 PRECEDING AND CURRENT ROW) AS BIGINT)
                AS n_near
              FROM events ORDER BY event_id"""),
      (s, dir) => {
        // DataFrame rangeBetween only takes Long bounds; fractional
        // RANGE frames are a SQL-surface feature
        Catalog.registerAll(s, dir)
        s.sql("""SELECT event_id,
                 CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY value
                      RANGE BETWEEN 0.1 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS n_near
                 FROM events ORDER BY event_id""")
      }),

    // first_value / last_value / nth_value window functions
    QueryDef(
      "q40_first_last_value",
      Some("""SELECT event_id,
              FIRST_VALUE(event_id) OVER w AS first_id,
              LAST_VALUE(event_id) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS last_id,
              NTH_VALUE(event_id, 2) OVER w AS second_id
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              ORDER BY event_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wAll = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        t(s, dir, "events")
          .select(col("event_id"),
            first("event_id").over(w).as("first_id"),
            last("event_id").over(wAll).as("last_id"),
            nth_value(col("event_id"), 2).over(w).as("second_id"))
          .orderBy("event_id")
      }),

    // ordered array aggregation (relational → array, deterministic).
    // The array is built and sorted as a real array<string>; the
    // output serializes it (array_to_string) plus its cardinality
    // because the driver's pandas comparator cannot hash raw array
    // columns (round-1 q41 red, VERDICT.md item 2).
    QueryDef(
      "q41_array_agg",
      Some("""SELECT n_regionkey,
              array_to_string(list_sort(list(n_name)), ',') AS names,
              CAST(len(list(n_name)) AS BIGINT) AS n_names
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""),
      (s, dir) =>
        t(s, dir, "nation")
          .groupBy("n_regionkey")
          .agg(
            array_join(array_sort(collect_list("n_name")), ",")
              .as("names"),
            // count(col) ≡ len(list(col)) (both skip nulls) without a
            // second collect_list buffer per group
            count("n_name").as("n_names"))
          .orderBy("n_regionkey")),

    // ordered string aggregation
    QueryDef(
      "q42_string_agg",
      Some("""SELECT n_regionkey,
              array_to_string(list_sort(list(n_name)), ',') AS all_names
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""),
      (s, dir) =>
        t(s, dir, "nation")
          .groupBy("n_regionkey")
          .agg(concat_ws(",", array_sort(collect_list("n_name")))
            .as("all_names"))
          .orderBy("n_regionkey")),

    // regex extraction with capture group (F-family; gateway's
    // substring routing generalized)
    QueryDef(
      "q43_regex_extract",
      Some("""SELECT doc_id,
              regexp_extract(source, 'src([0-9]+)', 1) AS src_num,
              CASE WHEN regexp_matches(text, 'spark') THEN 1 ELSE 0 END
                AS has_spark
              FROM documents ORDER BY doc_id LIMIT 200"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            regexp_extract(col("source"), "src([0-9]+)", 1).as("src_num"),
            when(col("text").rlike("spark"), 1).otherwise(0).as("has_spark"))
          .orderBy("doc_id")
          .limit(200)),

    // W6 completion: percent_rank / cume_dist distribution analytics
    QueryDef(
      "q50_percent_rank",
      Some("""SELECT event_id,
              ROUND(PERCENT_RANK() OVER (PARTITION BY event_type
                    ORDER BY value, event_id), 6) AS pr,
              ROUND(CUME_DIST() OVER (PARTITION BY event_type
                    ORDER BY value, event_id), 6) AS cd
              FROM events ORDER BY event_id LIMIT 500"""),
      (s, dir) => {
        val w = Window.partitionBy("event_type").orderBy("value", "event_id")
        t(s, dir, "events")
          .select(col("event_id"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("event_id")
          .limit(500)
      }),

    // F20 completion: chr/ascii character codec round-trip
    QueryDef(
      "q51_chr_ascii",
      Some("""SELECT doc_id,
              CAST(ascii(SUBSTRING(lang, 1, 1)) AS INT) AS a,
              chr(CAST(65 + doc_id % 26 AS INT)) AS c
              FROM documents ORDER BY doc_id LIMIT 200"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            ascii(substring(col("lang"), 1, 1)).cast("int").as("a"),
            expr("char(65 + doc_id % 26)").as("c"))
          .orderBy("doc_id")
          .limit(200)),

    // pivot: event counts per user across the five event types
    // (groupBy().pivot() → conditional-agg oracle)
    QueryDef(
      "q48_pivot",
      Some("""SELECT user_id,
              COUNT(*) FILTER (WHERE event_type = 'click') AS click,
              COUNT(*) FILTER (WHERE event_type = 'error') AS error,
              COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
              COUNT(*) FILTER (WHERE event_type = 'view') AS view
              FROM events GROUP BY user_id ORDER BY user_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("user_id")
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .count()
          .na.fill(0L)
          .orderBy("user_id")),

    // unpivot: wide metrics back to (key, metric, value) rows
    QueryDef(
      "q49_unpivot",
      Some("""SELECT c_custkey, metric,
              CAST(ROUND(val, 2) AS DOUBLE) AS val FROM (
                SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val
                FROM customer
                UNION ALL
                SELECT c_custkey, 'nationkey', c_nationkey::DOUBLE
                FROM customer)
              ORDER BY c_custkey, metric"""),
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"),
            col("c_nationkey").cast("double"))
          .unpivot(Array(col("c_custkey")),
            Array(col("c_acctbal").as("acctbal"),
              col("c_nationkey").as("nationkey")),
            "metric", "raw")
          .select(col("c_custkey"), col("metric"),
            round(col("raw"), 2).cast("double").as("val"))
          .orderBy("c_custkey", "metric")),

    // null-handling scalar family: coalesce / nullif / nvl2-style
    QueryDef(
      "q44_null_funcs",
      Some("""SELECT event_id,
              COALESCE(NULLIF(event_type, 'click'), 'filtered') AS et,
              CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                   THEN 'has_k' ELSE 'no_k' END AS k_state
              FROM events ORDER BY event_id LIMIT 500"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            coalesce(nullif(col("event_type"), lit("click")), lit("filtered"))
              .as("et"),
            when(get_json_object(col("props"), "$.k").isNotNull, "has_k")
              .otherwise("no_k").as("k_state"))
          .orderBy("event_id")
          .limit(500)),

    // Ingest hygiene: error-safe casts — dirty fields become NULL
    // instead of failing the job (the only sane semantics when one
    // malformed row in 100 TB must not kill a pipeline).
    QueryDef(
      "q58_try_cast",
      Some("""SELECT doc_id,
              TRY_CAST(regexp_extract(source, '[0-9]+', 0) AS BIGINT)
                AS src_num,
              TRY_CAST(lang AS BIGINT) AS not_a_number,
              TRY_CAST(n_chars AS SMALLINT) AS maybe_small
              FROM documents ORDER BY doc_id LIMIT 500"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            expr("try_cast(regexp_extract(source, '[0-9]+', 0) AS BIGINT)")
              .as("src_num"),
            expr("try_cast(lang AS BIGINT)").as("not_a_number"),
            expr("try_cast(n_chars AS SMALLINT)").as("maybe_small"))
          .orderBy("doc_id")
          .limit(500)),

    // F9-F11 completeness: calendar arithmetic (truncation, month-end
    // clamping, day arithmetic) over the order dates.
    QueryDef(
      "q56_date_funcs",
      Some("""SELECT o_orderkey,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
              last_day(o_orderdate) AS mend,
              CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
              CAST(date_diff('day', DATE '1995-01-01', o_orderdate)
                   AS BIGINT) AS d_from_95
              FROM orders ORDER BY o_orderkey LIMIT 500"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
            last_day(col("o_orderdate")).as("mend"),
            add_months(col("o_orderdate"), 2).as("plus2m"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
              .cast("long").as("d_from_95"))
          .orderBy("o_orderkey")
          .limit(500)),

    // A-family completeness: boolean aggregates (the all-present
    // barrier generalized: bool_and ≡ "every device reported").
    QueryDef(
      "q57_bool_agg",
      Some("""SELECT o_orderstatus,
              bool_and(o_totalprice > 1000) AS all_over_1k,
              bool_or(o_totalprice > 400000) AS any_jumbo,
              CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
                AS n_large
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
            bool_or(col("o_totalprice") > 400000).as("any_jumbo"),
            count(when(col("o_totalprice") > 200000, 1)).as("n_large"))
          .orderBy("o_orderstatus")),

    // U-family multiset forms: INTERSECT ALL / EXCEPT ALL preserve
    // duplicate cardinality (q19 covers the distinct variants).
    QueryDef(
      "q54_set_ops_all",
      Some("""SELECT k FROM (
                (SELECT c_nationkey AS k FROM customer
                 INTERSECT ALL SELECT s_nationkey FROM supplier)
                EXCEPT ALL SELECT n_nationkey FROM nation)
              ORDER BY k"""),
      (s, dir) => {
        val cust = t(s, dir, "customer").select(col("c_nationkey").as("k"))
        val supp = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
        val nat = t(s, dir, "nation").select(col("n_nationkey").as("k"))
        cust.intersectAll(supp).exceptAll(nat).orderBy("k")
      }),

    // A6 companion: GROUPING() disambiguates rollup-generated NULLs
    // from data NULLs (the standard report-total marker).
    QueryDef(
      "q55_grouping_id",
      Some("""SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
              CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
              CAST(COUNT(*) AS BIGINT) AS cnt
              FROM orders
              GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus NULLS FIRST,
                       o_orderpriority NULLS FIRST, g_status, g_prio"""),
      (s, dir) =>
        t(s, dir, "orders")
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(grouping("o_orderstatus").cast("int").as("g_status"),
            grouping("o_orderpriority").cast("int").as("g_prio"),
            count(lit(1)).as("cnt"))
          .select(col("o_orderstatus"), col("o_orderpriority"),
            col("g_status"), col("g_prio"), col("cnt"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first,
            col("g_status"), col("g_prio"))),

    // §4 SQL surface: correlated LATERAL subquery with per-row top-k
    // (Catalyst DecorrelateInnerQuery; the "top-2 per group" shape a
    // report engine serves constantly).
    QueryDef(
      "q53_lateral_topk",
      Some("""SELECT r.r_name, l.c_name, l.bal FROM region r,
              LATERAL (SELECT c.c_name, ROUND(c.c_acctbal, 2) bal
                       FROM customer c JOIN nation n
                         ON c.c_nationkey = n.n_nationkey
                       WHERE n.n_regionkey = r.r_regionkey
                       ORDER BY c.c_acctbal DESC, c.c_name LIMIT 2) l
              ORDER BY r.r_name, bal DESC, c_name"""),
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT r.r_name, l.c_name, l.bal FROM region r,
                 LATERAL (SELECT c.c_name, ROUND(c.c_acctbal, 2) bal
                          FROM customer c JOIN nation n
                            ON c.c_nationkey = n.n_nationkey
                          WHERE n.n_regionkey = r.r_regionkey
                          ORDER BY c.c_acctbal DESC, c.c_name LIMIT 2) l
                 ORDER BY r.r_name, bal DESC, c_name""")
      }),

    // O3 extension — grouped top-k via the CUSTOM physical operator
    // (graft.plans.TopKPerKeyExec): bounded k-row heap per key
    // instead of the window form's full per-key sort. The oracle IS
    // the declarative window form — the custom plan must reproduce it
    // exactly (ties broken by the total (value DESC, event_id) order).
    QueryDef(
      "q66_topk_per_key",
      Some("""SELECT user_id, event_id, value FROM (
                SELECT user_id, event_id, value, ROW_NUMBER() OVER (
                  PARTITION BY user_id
                  ORDER BY value DESC, event_id) rn
                FROM events WHERE user_id IS NOT NULL) t
              WHERE rn <= 3 ORDER BY user_id, event_id"""),
      (s, dir) =>
        graft.operators.TopK.perKey(
            t(s, dir, "events").filter(col("user_id").isNotNull)
              .select("user_id", "event_id", "value"),
            Seq("user_id"), Seq(col("value").desc, col("event_id")), 3)
          .orderBy("user_id", "event_id")),

    // F13 extension — semi-structured VARIANT path: parse_json into
    // Spark's binary variant encoding and extract a TYPED field
    // (vs q23's string-out get_json_object). At scale variant columns
    // are the schema-on-read lane: parse once at ingest, typed
    // extraction pushes into codegen.
    QueryDef(
      "q62_variant_json",
      Some("""SELECT event_id, json_extract(props, '$.k')::BIGINT AS k
              FROM events ORDER BY event_id LIMIT 500"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
          .orderBy("event_id")
          .limit(500)),

    // Recursive CTE (Spark 4 WITH RECURSIVE) — a date spine unrolled
    // by recursion joined against the fact: the canonical
    // calendar-dimension construction where no table provides the
    // spine. Bounded recursion (30 days), deterministic.
    QueryDef(
      "q63_recursive_cte",
      Some("""WITH RECURSIVE days(d) AS (
                SELECT DATE '2024-01-01'
                UNION ALL SELECT d + 1 FROM days WHERE d < DATE '2024-01-30')
              SELECT CAST(dy.d AS VARCHAR) AS day,
                COUNT(e.event_id)::BIGINT AS cnt
              FROM days dy LEFT JOIN events e
                ON CAST(e.ts::TIMESTAMP AS DATE) = dy.d
              GROUP BY dy.d ORDER BY day"""),
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("graft_rcte_events")
        s.sql("""WITH RECURSIVE days(d) AS (
                   SELECT DATE'2024-01-01'
                   UNION ALL SELECT date_add(d, 1) FROM days
                   WHERE d < DATE'2024-01-30')
                 SELECT CAST(dy.d AS STRING) AS day,
                   CAST(COUNT(e.event_id) AS BIGINT) AS cnt
                 FROM days dy LEFT JOIN graft_rcte_events e
                   ON CAST(e.ts AS DATE) = dy.d
                 GROUP BY dy.d ORDER BY day""")
      }),

    // A-family extension — max_by/arg_max dedup: keep each user's
    // HIGHEST-VALUE event (latest event_id on ties) in one aggregate,
    // no window, no self-join — the single-shuffle "best row per key"
    // that q14's row_number form pays a sort for.
    QueryDef(
      "q67_argmax_dedup",
      // DuckDB's arg_max has no composite-key form — the oracle uses
      // the equivalent window pick (max_by over struct(value, id) ==
      // first row under ORDER BY value DESC, id DESC)
      Some("""SELECT user_id, event_id AS best_event FROM (
                SELECT user_id, event_id, ROW_NUMBER() OVER (
                  PARTITION BY user_id
                  ORDER BY value DESC, event_id DESC) rn
                FROM events WHERE user_id IS NOT NULL) t
              WHERE rn = 1 ORDER BY user_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(max_by(col("event_id"),
            struct(col("value"), col("event_id"))).as("best_event"))
          .orderBy("user_id")),

    // Profiling companion — fixed-width value histogram per event
    // type: the distribution view an operator reads next to the
    // ns_profile_stats summary (bucket = floor(value/width), one
    // groupBy, linear).
    QueryDef(
      "q68_histogram",
      Some("""SELECT event_type,
                CAST(FLOOR(value / 0.1) AS BIGINT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL
              GROUP BY 1, 2 ORDER BY event_type, bucket"""),
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("value").isNotNull)
          .groupBy(col("event_type"),
            floor(col("value") / 0.1).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "bucket")),
  )
}
