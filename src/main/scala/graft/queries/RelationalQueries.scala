package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Relational operator surface (SURVEY §2.1-2.6, §2.8): scans, filters,
  * joins, aggregations, windows, sort/limit/set ops — each as a catalogued,
  * DuckDB-oracle-checked query over the TPC-H-style fixtures.
  *
  * Scale notes (100 TB):
  *  - dimension sides (nation/region/supplier) are `broadcast()` so fact
  *    scans never shuffle for lookups (J1);
  *  - money aggregates go through DECIMAL(18,4) so partial/final aggregation
  *    order can't perturb the result (exact arithmetic — and the oracle
  *    matches bit-for-bit after the final cast to double);
  *  - top-k is expressed orderBy+limit so TakeOrderedAndProject fires
  *    (no global sort);
  *  - global sorts only appear where the operator IS a total sort (O1).
  */
object RelationalQueries {

  /** SQL-front-end detour for the rollup/cube entries whose DataFrame form
    * trips the analyzer (see a10_rollup's note): registers a
    * COLLISION-SAFE temp view, runs the SQL (analysis is eager, so the
    * returned frame no longer needs the view), and drops it — a fixed
    * global name would silently clobber a user's same-named view and leave
    * a stale fixture-backed replacement in the session catalog (review r9).
    */
  private def viaTempView(s: SparkSession, df: DataFrame, base: String)
                         (sql: String => String): DataFrame = {
    val name = s"${base}_${ProcessNonce.value}"
    df.createOrReplaceTempView(name)
    try s.sql(sql(name)) finally s.catalog.dropTempView(name)
  }


  /** Exact money aggregate: sum in decimal, surface as double. */
  private def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  val defs: Seq[QueryDef] = Seq(

    // S1: in-memory scan — the reference's 5-row UserTransaction dataset
    // (chapter1/SparkRDDAPITest.scala:12-18).
    QueryDef.sql(
      "s1_inmemory_scan",
      """SELECT * FROM (VALUES ('A', 1001), ('B', 1002), ('A', 1003), ('C', 1004), ('D', 1005))
        |  AS t(user_id, amount) ORDER BY amount""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq(("A", 1001), ("B", 1002), ("A", 1003), ("C", 1004), ("D", 1005))
        .toDF("user_id", "amount").orderBy("amount")
    },

    // S2: parquet scan with pushdown + pruning (explain-checked in tests).
    QueryDef.sql(
      "s2_parquet_scan",
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 = 0 ORDER BY c_custkey") {
      (s, d) =>
        Tables.customer(s, d).where(col("c_custkey") % 10 === 0)
          .select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")
    },

    // S3: text corpus scan (documents stands in for the file-per-review dirs).
    QueryDef.sql(
      "s3_text_corpus_scan",
      "SELECT doc_id, lang, source, n_chars, length(text) AS text_len FROM documents ORDER BY doc_id") {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            length(col("text")).cast("long").as("text_len"))
          .orderBy("doc_id")
    },

    // P1: string-predicate filter (chapter1/SparkRDDAPITest.scala:22).
    QueryDef.sql(
      "p1_filter",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment LIKE '%BUILD%' ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment").contains("BUILD"))
        .select("c_custkey", "c_name", "c_mktsegment").orderBy("c_custkey")
    },

    // P2: keyBy (chapter1/SparkRDDAPITest.scala:23) — key column extraction.
    QueryDef.sql(
      "p2_keyby",
      "SELECT c_mktsegment AS k, c_custkey, c_acctbal FROM customer ORDER BY c_custkey") { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_mktsegment").as("k"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_custkey")
    },

    // P3: projection/map (chapter1/SparkRDDAPITest.scala:24).
    QueryDef.sql(
      "p3_project",
      """SELECT l_orderkey, l_linenumber, l_quantity + l_tax + l_discount AS row_sum
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") + col("l_tax") + col("l_discount")).as("row_sum"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P4: per-partition map (chapter1/SparkRDDAPITest.scala:35,74) —
    // mapPartitions computes partial (count, sum) pairs; the final agg
    // reduces them. Quantities are integral so double partials are exact.
    QueryDef.sql(
      "p4_mappartitions",
      "SELECT count(*) AS total_rows, sum(l_quantity) AS total_qty FROM lineitem") { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d).select(col("l_quantity")).as[Double]
        .mapPartitions { it =>
          var n = 0L; var t = 0.0
          it.foreach { q => n += 1; t += q }
          Iterator((n, t))
        }
        .toDF("part_rows", "part_qty")
        .agg(sum("part_rows").as("total_rows"), sum("part_qty").as("total_qty"))
    },

    // P6: null-skip on lookup miss
    // (chapter2/Word2VecTransformingIterator.java:251-253): left join against
    // a restricted lookup side, keep only hits.
    QueryDef.sql(
      "p6_null_skip",
      """SELECT o_orderkey, c_name FROM orders
        |LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000) c
        |  ON o_custkey = c_custkey
        |WHERE c_name IS NOT NULL ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val rich = Tables.customer(s, d).where(col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
      Tables.orders(s, d)
        .join(broadcast(rich), col("o_custkey") === col("c_custkey"), "left")
        .where(col("c_name").isNotNull)
        .select("o_orderkey", "c_name").orderBy("o_orderkey")
    },

    // J1: broadcast hash equi-join lookup chain (word→vector generalized):
    // fact scan joins two broadcast dims, no shuffle on the fact side until
    // the final (small) aggregation.
    QueryDef.sql(
      "j1_broadcast_lookup",
      """SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // J2: left-semi join — customers that have orders.
    QueryDef.sql(
      "j2_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // J3: left-anti join — customers without any URGENT order (the
    // dropped-token-set complement; every customer has SOME order in the
    // fixtures, so the anti side is restricted to stay non-vacuous).
    QueryDef.sql(
      "j3_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // J4: hash-partitioned group lookup (listsByDigit routing —
    // chapter3/MNISTAnomalyDetector.java:184-198) as groupBy.
    QueryDef.sql(
      "j4_group_lookup",
      "SELECT label, count(*) AS n, min(vec_id) AS first_id FROM embeddings GROUP BY label ORDER BY label") {
      (s, d) =>
        Tables.embeddings(s, d).groupBy("label")
          .agg(count(lit(1)).as("n"), min("vec_id").as("first_id"))
          .orderBy("label")
    },

    // J5: zip/positional join via a scalable total-order index (range
    // partition + zipWithIndex — NOT a single-partition window, and stable
    // unlike monotonically_increasing_id) — parallel-array semantics of
    // chapter_5/NetworkTrainedToSumNumbersUsingRegression.java:87-94.
    QueryDef.sql(
      "j5_zip_join",
      """SELECT a.rn AS rn, a.c_custkey, b.s_suppkey
        |FROM (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer) a
        |JOIN (SELECT s_suppkey, row_number() OVER (ORDER BY s_suppkey) AS rn FROM supplier) b
        |  USING (rn) ORDER BY rn""".stripMargin) { (s, d) =>
      val a = graft.operators.Ranking.stableRowNumber(
        Tables.customer(s, d).select("c_custkey"), Seq(col("c_custkey")), "rn")
      val b = graft.operators.Ranking.stableRowNumber(
        Tables.supplier(s, d).select("s_suppkey"), Seq(col("s_suppkey")), "rn")
      a.join(b, "rn").select("rn", "c_custkey", "s_suppkey").orderBy("rn")
    },

    // J6a: multiway star join (TPC-H Q5 shape) — SMJ/BHJ mix under AQE.
    QueryDef.sql(
      "j6_multiway_join",
      """SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      val asia = broadcast(Tables.region(s, d).where(col("r_name") === "ASIA"))
      val nat = broadcast(Tables.nation(s, d)
        .join(asia, col("n_regionkey") === col("r_regionkey")))
      val sup = broadcast(Tables.supplier(s, d)
        .join(nat, col("s_nationkey") === col("n_nationkey")))
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= QueryDef.ts("1996-01-01") &&
          col("o_orderdate") < QueryDef.ts("1997-01-01"))
      Tables.lineitem(s, d)
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    },

    // J6b: equi+range join — lineitems shipped within 30 days of order date.
    QueryDef.sql(
      "j6_range_join",
      """SELECT o_orderkey, count(l_orderkey) AS n_quick
        |FROM orders LEFT JOIN lineitem
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left")
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("n_quick"))
        .orderBy("o_orderkey")
    },

    // A1: count (chapter1/SparkRDDAPITest.scala:32) — grouped counts.
    QueryDef.sql(
      "a1_count",
      "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment") {
      (s, d) =>
        Tables.customer(s, d).groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
          .orderBy("c_mktsegment")
    },

    // A1b: conditional aggregates (filtered count, boolean any/all).
    QueryDef.sql(
      "a1_conditional_agg",
      """SELECT c_mktsegment,
        |       count(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
        |       bool_or(c_acctbal < 0) AS has_debtor,
        |       bool_and(c_acctbal > -1000) AS all_above_floor
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d).groupBy("c_mktsegment")
        .agg(count(when(col("c_acctbal") > 5000, 1)).as("n_rich"),
          expr("bool_or(c_acctbal < 0)").as("has_debtor"),
          expr("bool_and(c_acctbal > -1000)").as("all_above_floor"))
        .orderBy("c_mktsegment")
    },

    // A2: max/min (chapter1/SparkRDDAPITest.scala:36-37) per nation.
    QueryDef.sql(
      "a2_max_min",
      """SELECT c_nationkey, max(c_acctbal) AS max_bal, min(c_acctbal) AS min_bal, count(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).groupBy("c_nationkey")
        .agg(max("c_acctbal").as("max_bal"), min("c_acctbal").as("min_bal"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },

    // A4: per-group collect_list, order-stabilized by sorting in the array
    // (chapter3/MNISTAnomalyDetector.java:196-197).
    QueryDef.sql(
      "a4_collect_list",
      """SELECT label, string_agg(vec_id, ',' ORDER BY vec_id) AS ids
        |FROM (SELECT label, vec_id FROM embeddings WHERE vec_id < 100)
        |GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).where(col("vec_id") < 100)
        .groupBy("label")
        .agg(concat_ws(",", sort_array(collect_list(col("vec_id")))).as("ids"))
        .orderBy("label")
    },

    // A7: confusion-matrix query over a deterministic prediction rule
    // (chapter_4/MnistClassification.java:82-83).
    QueryDef.sql(
      "a7_confusion_matrix",
      """SELECT label, CAST(vec_id % 10 AS INT) AS pred, count(*) AS n
        |FROM embeddings GROUP BY label, pred ORDER BY label, pred""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), pmod(col("vec_id"), lit(10)).cast("int").as("pred"))
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    },

    // A10-flagship: the TPC-H Q1 pricing summary — the canonical wide
    // aggregate. Money flows through DECIMAL (18,2 raw / 18,6 for the
    // 2- and 3-factor products, which have at most 6 exact decimals) so
    // partial/final order never perturbs results; averages divide the
    // exact decimal sum as double and round to 6 dp.
    QueryDef.sql(
      "q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |       round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
        |       round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val charge = disc * (lit(1) + col("l_tax"))
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= QueryDef.ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum(disc.cast(DecimalType(18, 6))).cast("double").as("sum_disc_price"),
          sum(charge.cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
          round(sum("l_quantity") / count(lit(1)), 6).as("avg_qty"),
          round(sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") / count(lit(1)), 6).as("avg_price"),
          round(sum(col("l_discount").cast(DecimalType(18, 2))).cast("double") / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A10c: cube — all grouping-set combinations with exact sums.
    QueryDef.sql(
      "a10_cube",
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      viaTempView(s, Tables.orders(s, d)
          .select("o_orderstatus", "o_orderpriority", "o_totalprice"),
        "graft_orders_cube") { v =>
        s"""SELECT o_orderstatus, o_orderpriority,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n
           |FROM $v
           |GROUP BY CUBE(o_orderstatus, o_orderpriority)
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
      }
    },

    // W6b: range-frame window — sum over a VALUE range (all orders within
    // 5000 of the current price for the same customer), not a row count.
    QueryDef.sql(
      "w6_range_frame",
      """SELECT o_orderkey, o_custkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |         (PARTITION BY o_custkey ORDER BY o_totalprice
        |          RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS DOUBLE) AS near_total
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
        .rangeBetween(-5000, 5000)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double").as("near_total"))
        .orderBy("o_orderkey")
    },

    // A10a: rollup with exact decimal money sums.
    QueryDef.sql(
      "a10_rollup",
      """SELECT r_name, n_name, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |       count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
      // DataFrame `.rollup(...).agg(...)` trips Spark's ambiguous-self-join
      // detector on joined grouping columns (analyzer false positive), so
      // this one goes through the SQL front end — same Catalyst plan.
      viaTempView(s, Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name", "c_acctbal"),
        "graft_cust_geo") { v =>
        s"""SELECT r_name, n_name,
           |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           |       count(*) AS n
           |FROM $v
           |GROUP BY ROLLUP(r_name, n_name)
           |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin
      }
    },

    // A10e: explicit GROUPING SETS (the general form behind rollup/cube).
    QueryDef.sql(
      "a10_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      viaTempView(s, Tables.orders(s, d)
          .select("o_orderstatus", "o_orderpriority"),
        "graft_orders_gs") { v =>
        s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n
           |FROM $v
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
      }
    },

    // A10f: exact percentiles (median + p90, linear interpolation — both
    // engines interpolate identically over the same doubles).
    QueryDef.sql(
      "a10_percentiles",
      """SELECT c_mktsegment,
        |       round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
        |       round(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal,
        |       count(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d).groupBy("c_mktsegment")
        .agg(round(expr("percentile(c_acctbal, 0.5)"), 6).as("median_bal"),
          round(expr("percentile(c_acctbal, 0.9)"), 6).as("p90_bal"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // A10g: summary statistics with ORDER-INVARIANT moments: mean/std/var
    // derive from exact decimal sums (x and x^2 have <= 2/4 decimals), so
    // unlike naive float stddev the result is identical at any parallelism
    // — and matches the oracle bit-for-bit after rounding.
    QueryDef.sql(
      "a10_summary_stats",
      """SELECT c_mktsegment, count(*) AS n,
        |       round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS mean_bal,
        |       round(sqrt((CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(24,4))) AS DOUBLE)
        |                   - CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                     * CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        |                  / (count(*) - 1)), 6) AS std_bal,
        |       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val sumB = sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
      val sumSq = sum((col("c_acctbal") * col("c_acctbal")).cast(DecimalType(24, 4))).cast("double")
      val n = count(lit(1))
      Tables.customer(s, d).groupBy("c_mktsegment")
        .agg(n.as("n"),
          round(sumB / n, 6).as("mean_bal"),
          round(sqrt((sumSq - sumB * sumB / n) / (n - 1)), 6).as("std_bal"),
          min("c_acctbal").as("min_bal"), max("c_acctbal").as("max_bal"))
        .orderBy("c_mktsegment")
    },

    // A10h: correlation from exact cross-moments, order-invariant. Pearson
    // is scale-invariant, so both monetary columns are first scaled to
    // integer cents: the first moments and qx*qx sum as plain longs (the
    // qx*qx sum only overflows past ~3.7e11 rows), while the two products
    // that reach ~1e14 per row accumulate as DECIMAL(38,0). Integer/decimal
    // sums are exact in any partition order, and scaled-long math is 3-5x
    // cheaper per row than the all-DECIMAL formulation it replaces.
    QueryDef.sql(
      "a10_correlation",
      """WITH c AS (
        |  SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qx,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS px
        |  FROM lineitem
        |),
        |m AS (
        |  SELECT count(*) AS n,
        |         CAST(SUM(qx) AS DOUBLE) AS sx,
        |         CAST(SUM(px) AS DOUBLE) AS sy,
        |         CAST(SUM(qx * qx) AS DOUBLE) AS sxx,
        |         CAST(SUM(px * px) AS DOUBLE) AS syy,
        |         CAST(SUM(qx * px) AS DOUBLE) AS sxy
        |  FROM c
        |)
        |SELECT n, round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
        |FROM m""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      // floor(x+0.5) rather than round(): Spark's ROUND on doubles routes
      // through BigDecimal per row; floor stays a primitive double op. Both
      // engines evaluate the identical IEEE expression, and the inputs are
      // non-negative, so the results agree exactly.
      val qx = floor(col("l_quantity") * 100 + 0.5).cast("long")
      val px = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val agg = li.select(qx.as("qx"), px.as("px")).agg(
        count(lit(1)).as("n"),
        sum(col("qx")).cast("double").as("sx"),
        sum(col("px")).cast("double").as("sy"),
        sum(col("qx") * col("qx")).cast("double").as("sxx"),
        // per-row products fit a long (<= ~1e14); the SUM would overflow a
        // long past ~92k rows, so accumulate exactly in decimal (DuckDB's
        // BIGINT sums accumulate in HUGEINT and are exact by construction)
        sum((col("px") * col("px")).cast(DecimalType(38, 0))).cast("double").as("syy"),
        sum((col("qx") * col("px")).cast(DecimalType(38, 0))).cast("double").as("sxy"))
      agg.select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qty_price"))
    },

    // A10i: histogram via explicit floor-bucketing (portable: identical
    // arithmetic both engines, no width_bucket dialect differences).
    QueryDef.sql(
      "a10_histogram",
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS bucket_mean
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / count(lit(1)), 6)
            .as("bucket_mean"))
        .orderBy("bucket")
    },

    // A10b: grouped distinct count.
    QueryDef.sql(
      "a10_count_distinct",
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    // A10 (sketch variant): HyperLogLog++ approximate distinct — the form
    // you actually run at 100 TB. Exact count(DISTINCT) shuffles every
    // distinct key; the sketch shuffles a few KB per group at a declared
    // relative error. DuckDB's approx_count_distinct is a DIFFERENT HLL
    // implementation (values legitimately differ), but Spark's HLL++ is
    // fully deterministic AND partition-invariant (register merge is a
    // commutative max), so the oracle pins a committed golden
    // (graft.GoldenGen) — the ≤5% relative-error gate vs the exact counts
    // stays asserted in FunctionsSpec.
    QueryDef.pinnedSql(
      "a10_approx_distinct",
      Golden.sql("a10_approx_distinct",
        "o_orderpriority, n_cust_approx, n_orders", "o_orderpriority")) { (s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02).as("n_cust_approx"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    // W2: global top-k as orderBy+limit → TakeOrderedAndProject (no global
    // sort) — chapter1/SparkRDDAPITest.scala:38 takeOrdered.
    QueryDef.sql(
      "w2_global_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },

    // W3: deterministic first (chapter1/SparkRDDAPITest.scala:33).
    QueryDef.sql(
      "w3_first",
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 1") { (s, d) =>
      Tables.customer(s, d).select("c_custkey", "c_name").orderBy("c_custkey").limit(1)
    },

    // W6: analytic window kit — rank/dense_rank/lag/lead/ntile + running sum.
    QueryDef.sql(
      "w6_window_kit",
      """SELECT o_orderkey, o_custkey,
        |       rank() OVER w AS rk, dense_rank() OVER w AS drk,
        |       lag(o_orderkey) OVER w AS prev_ok, lead(o_orderkey) OVER w AS next_ok,
        |       ntile(4) OVER w AS quartile,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
        |         AS DOUBLE) AS run_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        rank().over(w).cast("long").as("rk"), dense_rank().over(w).cast("long").as("drk"),
        lag("o_orderkey", 1).over(w).as("prev_ok"),
        lead("o_orderkey", 1).over(w).as("next_ok"),
        ntile(4).over(w).cast("long").as("quartile"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wRun).cast("double").as("run_total"))
        .orderBy("o_custkey", "rk")
    },

    // O1: total sort, with the order materialized as a rank column so the
    // oracle checks the order itself (chapter3/MNISTAnomalyDetector.java:201-206).
    // Rank comes from the scalable range-partitioned index, not a
    // single-partition window.
    QueryDef.sql(
      "o1_total_sort",
      """SELECT c_custkey, c_acctbal,
        |       row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS pos
        |FROM customer ORDER BY pos""".stripMargin) { (s, d) =>
      graft.operators.Ranking.stableRowNumber(
        Tables.customer(s, d).select("c_custkey", "c_acctbal"),
        Seq(col("c_acctbal").desc, col("c_custkey")), "pos")
        .select("c_custkey", "c_acctbal", "pos")
        .orderBy("pos")
    },

    // O5: interleaved (round-robin) union of two classes —
    // chapter2/Word2VecTransformingIterator.java:74-89.
    QueryDef.sql(
      "o5_interleave",
      """SELECT 2 * (rn - 1) AS pos, c_custkey FROM
        |  (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
        |   FROM customer WHERE c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 2 * (rn - 1) + 1 AS pos, c_custkey FROM
        |  (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
        |   FROM customer WHERE c_mktsegment = 'MACHINERY')
        |ORDER BY pos""".stripMargin) { (s, d) =>
      def ranked(seg: String, off: Int) =
        graft.operators.Ranking.stableRowNumber(
          Tables.customer(s, d).where(col("c_mktsegment") === seg).select("c_custkey"),
          Seq(col("c_custkey")), "rn")
          .select((lit(2) * (col("rn") - 1) + off).cast("long").as("pos"), col("c_custkey"))
      ranked("BUILDING", 0).union(ranked("MACHINERY", 1)).orderBy("pos")
    },

    // O7a/b/c: set operations.
    QueryDef.sql(
      "o7_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      def cust(y0: String, y1: String) = Tables.orders(s, d)
        .where(col("o_orderdate") >= QueryDef.ts(y0) &&
          col("o_orderdate") < QueryDef.ts(y1))
        .select("o_custkey")
      cust("1995-01-01", "1996-01-01").intersect(cust("1996-01-01", "1997-01-01"))
        .orderBy("o_custkey")
    },

    QueryDef.sql(
      "o7_except",
      """SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      def cust(y0: String, y1: String) = Tables.orders(s, d)
        .where(col("o_orderdate") >= QueryDef.ts(y0) &&
          col("o_orderdate") < QueryDef.ts(y1))
        .select("o_custkey")
      cust("1995-01-01", "1996-01-01").except(cust("1996-01-01", "1997-01-01"))
        .orderBy("o_custkey")
    },

    QueryDef.sql(
      "o7_union_distinct",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val a = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = Tables.customer(s, d).where(col("c_acctbal") > 9000).select("c_custkey")
      a.union(b).distinct().orderBy("c_custkey")
    },

    // O11 (r8, VERDICT task 8): the small-files MAINTENANCE path under the
    // same per-round bench+oracle discipline as the query entries. A
    // 64-way fragmented parquet directory (the micro-batch-ingest shape)
    // is compacted by Sink.compactParquet; the emitted row pins the
    // partition-invariant facts a valid compaction must satisfy — the row
    // multiset survives (count + orderkey checksum against the SOURCE
    // relation, which the DuckDB oracle replays directly) and the file
    // count actually fell to the byte-derived target. A lost/duplicated
    // row or a no-op rewrite flips a boolean and breaks the round's
    // correctness gate. Scratch dir is deterministic per sfDir and
    // rebuilt every run (compaction mutates it, so it cannot be cached).
    QueryDef.sql(
      "o11_compact",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS multiset_ok,
        |       true AS files_reduced
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 7 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      // fixture tag + PER-PROCESS nonce: two concurrent JVMs on the same
      // sfDir (an overlapping Verify + Bench subset) must not race one
      // scratch dir — the unconditional delete below would corrupt the
      // other run mid-compaction (review r9); the dir is rebuilt per run,
      // stale siblings swept + exit-hook cleanup via scratchDir (advice r9)
      val dir = ProcessNonce.scratchDir("graft_o11_compact",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      src.repartition(64).write.mode("overwrite").parquet(dir)
      def stat() = {
        val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        (files.length, files.map(_.getLen).sum)
      }
      val (filesBefore, bytes) = stat()
      // target ~4 outputs so the merge is a real many-to-few rewrite
      graft.sources.Sink.compactParquet(s, dir, math.max(1L, bytes / 4))
      val (filesAfter, _) = stat()
      val (nExp, sumExp) = src.agg(count(lit(1)), sum("o_orderkey"))
        .as[(Long, Option[Long])].head()
      val (nGot, sumGot) = s.read.parquet(dir)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, nGot == nExp && sumGot == sumExp, filesAfter < filesBefore))
        .toDF("n_rows", "multiset_ok", "files_reduced")
    },

    // O12 (r9): the OBJECT-STORE maintenance path — the manifest-committed
    // table is the documented alternative wherever Sink.compactParquet's
    // atomic-rename contract does not hold (s3a/gs/wasb). The full
    // lifecycle runs every round: two appends (fragmented), a compaction
    // commit (rebase-safe), a vacuum of the superseded files; the emitted
    // row pins the invariants a correct log-structured table must satisfy —
    // the row multiset survives the whole cycle (count + orderkey checksum
    // against the SOURCE relation, replayed directly by the DuckDB
    // oracle), the compaction was a real many-to-few rewrite, and vacuum
    // dropped the superseded storage without touching the live snapshot.
    QueryDef.sql(
      "o12_manifest_table",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS multiset_ok,
        |       true AS files_reduced, true AS vacuum_ok
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 5 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o12_manifest",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      // two fragmented appends — the micro-batch ingest shape
      M.append(s, src.where(col("o_orderkey") % 2 === 0).repartition(32), root)
      M.append(s, src.where(col("o_orderkey") % 2 =!= 0).repartition(32), root)
      val snap = M.latestSnapshot(s, root).get
      val filesBefore = snap.files.size
      val bytes = snap.files.map(_.bytes).sum
      val (_, filesAfter, _) = M.compact(s, root, math.max(1L, bytes / 4))
      val dropped = M.vacuum(s, root, keepVersions = 1, minAgeMs = 0L)
      val (nExp, sumExp) = src.agg(count(lit(1)), sum("o_orderkey"))
        .as[(Long, Option[Long])].head()
      val (nGot, sumGot) = M.read(s, root)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, nGot == nExp && sumGot == sumExp, filesAfter < filesBefore,
        dropped >= 2 && nGot == nExp))
        .toDF("n_rows", "multiset_ok", "files_reduced", "vacuum_ok")
    },

    // O13 (r10): manifest DATA SKIPPING — per-file min/max stats ride the
    // manifest at append time (footer-only reads), and a pushed predicate
    // prunes the snapshot's file list BEFORE the scan plans. The emitted
    // row pins both halves of the contract: the pruned read answers
    // exactly like the unpruned one (count + checksum replayed by the
    // DuckDB oracle), and the selective predicate really did open fewer
    // files than the snapshot holds (the skipping itself, not just its
    // harmlessness). Layout is range-partitioned on the key — the tight-
    // bounds shape a time-ordered ingest gets for free (VERDICT r9 #1).
    QueryDef.sql(
      "o13_manifest_skipping",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS answer_parity,
        |       true AS files_pruned
        |FROM orders WHERE o_orderkey % 3 = 0
        |  AND o_orderkey >= (9 * (SELECT max(o_orderkey) FROM orders
        |                          WHERE o_orderkey % 3 = 0)) // 10""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o13_skipping",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, src.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root)
      // top-decile cut, integer floor in BOTH engines (Long division here,
      // // in the oracle) — one bounded scalar collect
      val cut = 9L * src.agg(max("o_orderkey")).as[Long].head() / 10L
      val pred = Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", cut))
      val snap = M.latestSnapshot(s, root).get
      val kept = M.prunedEntries(snap, pred)
      val filesPruned = kept.nonEmpty && kept.size < snap.files.size
      val (nGot, sumGot) = M.readWhere(s, root, pred)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.where(col("o_orderkey") >= cut)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, nGot == nExp && sumGot == sumExp, filesPruned))
        .toDF("n_rows", "answer_parity", "files_pruned")
    },

    // O14 (r10): PARTITIONED manifest table — hive-style partition values
    // ride each manifest entry, so equality on the partition column drops
    // whole batches before any file-level stats run; the full
    // append→compact→vacuum cycle preserves partition grouping (compaction
    // re-partitions its rewrite). Pins: partition-pruned read parity
    // against the source (count + checksum via the oracle), strict
    // file-list pruning both before AND after compaction, every compacted
    // file still carrying its partition value, and vacuum dropping exactly
    // the superseded batches (VERDICT r9 #2).
    QueryDef.sql(
      "o14_manifest_partitioned",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS multiset_ok,
        |       true AS part_pruned, true AS grouping_kept, true AS vacuum_ok
        |FROM orders WHERE o_orderkey % 7 = 1 AND o_custkey % 4 = 1""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 7 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_custkey") % 4).as("bucket"))
      val root = ProcessNonce.scratchDir("graft_o14_partitioned",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, src.where(col("o_orderkey") % 2 === 0).repartition(8), root,
        partitionBy = Seq("bucket"))
      M.append(s, src.where(col("o_orderkey") % 2 =!= 0).repartition(8), root,
        partitionBy = Seq("bucket"))
      val pred = Seq(org.apache.spark.sql.sources.EqualTo("bucket", 1L))
      val snap = M.latestSnapshot(s, root).get
      val keptPre = M.prunedEntries(snap, pred)
      val prunedPre = keptPre.nonEmpty && keptPre.size < snap.files.size
      val bytes = snap.files.map(_.bytes).sum
      val (fBefore, fAfter, _) = M.compact(s, root, math.max(1L, bytes / 4))
      val snap2 = M.latestSnapshot(s, root).get
      val kept2 = M.prunedEntries(snap2, pred)
      val groupingKept = fAfter < fBefore &&
        snap2.files.forall(_.partition.exists(_.contains("bucket"))) &&
        kept2.nonEmpty && kept2.size < snap2.files.size
      val dropped = M.vacuum(s, root, keepVersions = 1, minAgeMs = 0L)
      val (nGot, sumGot) = M.readWhere(s, root, pred)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.where(col("bucket") === 1L)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, nGot == nExp && sumGot == sumExp, prunedPre, groupingKept,
        dropped >= 2 && nGot == nExp))
        .toDF("n_rows", "multiset_ok", "part_pruned", "grouping_kept", "vacuum_ok")
    },

    // O16 (r10): copy-on-write row-level DELETE on the manifest table —
    // files that cannot match keep their identity (pinned: rewritten <
    // total), matching rows vanish exactly (count + checksum replayed by
    // the oracle as WHERE NOT(pred)), time travel still reads the
    // pre-delete snapshot. The Delta-class DELETE WHERE maintenance shape.
    QueryDef.sql(
      "o16_manifest_delete",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS delete_exact,
        |       true AS pruned_rewrite, true AS timetravel_ok
        |FROM orders WHERE o_orderkey % 11 = 3
        |  AND NOT (o_totalprice < 50000)""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 11 === 3)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o16_delete",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      // range layout on totalprice so the price-keyed delete prunes files
      M.append(s, src.repartitionByRange(16, col("o_totalprice"))
        .sortWithinPartitions("o_totalprice"), root)
      val before = M.latestSnapshot(s, root).get
      val (nDel, rewritten, _) = M.deleteWhere(s, root,
        Seq(org.apache.spark.sql.sources.LessThan("o_totalprice", 50000.0)))
      val expDel = src.where(col("o_totalprice") < 50000.0).count()
      val (nGot, sumGot) = M.read(s, root)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.where(!(col("o_totalprice") < 50000.0))
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val ttOk = M.readVersion(s, root, 1L).count() == src.count()
      Seq((nGot, nDel == expDel && nGot == nExp && sumGot == sumExp,
        rewritten < before.files.size, ttOk))
        .toDF("n_rows", "delete_exact", "pruned_rewrite", "timetravel_ok")
    },

    // O17 (r10): single-commit MERGE (upsert) on the manifest table —
    // matched keys' rows replaced, unmatched inserted, both in ONE
    // version; only the key-clustered slice rewrites (pinned: rewritten <
    // total). The integer checksum makes the replacement exact: updated
    // keys carry o_custkey + 1000000, so the oracle replays the post-merge
    // sum in pure integer arithmetic (no float ordering drift).
    QueryDef.sql(
      "o17_manifest_upsert",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
        |                     THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT)
        |         AS custkey_sum,
        |       true AS pruned_rewrite, true AS one_version
        |FROM orders WHERE o_orderkey % 13 = 4""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 13 === 4)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o17_upsert",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, src.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root)
      val before = M.latestSnapshot(s, root).get
      // the planned FINAL state: even keys carry custkey + 1M. Both
      // update sets derive from it, so the second (clustered) upsert is
      // content-preserving for rows the first already updated
      val expected = src.withColumn("o_custkey",
        when(col("o_orderkey") % 2 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")))
      // upsert 1: a clustered key RANGE (the top eighth) against the
      // pristine range layout — the pruning pin: an interleaved key set
      // touches every file, a clustered one cannot
      val cut = src.agg(max("o_orderkey")).as[Long].head() * 7L / 8L
      val (_, rewritten1, v1) = M.upsertByKey(s, root,
        expected.where(col("o_orderkey") >= cut), Seq("o_orderkey"),
        maxProbeKeys = 1000000)
      // upsert 2: the interleaved even-keyed half (replacement volume;
      // rows upsert 1 already updated are replaced content-identically)
      val (_, _, v2) = M.upsertByKey(s, root,
        expected.where(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        maxProbeKeys = 1000000)
      val (nGot, sumGot) = M.read(s, root)
        .agg(count(lit(1)), sum("o_custkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = expected
        .agg(count(lit(1)), sum("o_custkey")).as[(Long, Option[Long])].head()
      Seq((nGot, sumGot.getOrElse(0L),
        rewritten1 < before.files.size && nGot == nExp && sumGot == sumExp,
        v2 == v1 + 1))
        .toDF("n_rows", "custkey_sum", "pruned_rewrite", "one_version")
    },

    // O18 (r11): the graft-manifest FORMAT — the IDIOMATIC read
    // (`spark.read.format("graft-manifest").load(root).where(...)`) gets
    // exactly the file skipping readWhere's library ADT does, THROUGH THE
    // PLANNER: the relation is a HadoopFsRelation over ManifestFileIndex,
    // Catalyst's partition/data filters translate into sources.Filters and
    // route into prunedEntries at planning time, and the scan stays
    // Spark's native vectorized parquet path (VERDICT r10 #1). Pins:
    // oracle-replayed count + key sum through the idiomatic read, answer
    // parity with readWhere, files OPENED (the scan's own numFiles metric,
    // not a library-side count) strictly below the live file count, and
    // the predicate landing in the scan (PushedFilters + ManifestFileIndex
    // location).
    QueryDef.sql(
      "o18_manifest_format",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       true AS answer_parity, true AS files_pruned, true AS pushed_scan
        |FROM orders WHERE o_orderkey % 3 = 1
        |  AND o_orderkey >= (9 * (SELECT max(o_orderkey) FROM orders
        |                          WHERE o_orderkey % 3 = 1)) // 10""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 3 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o18_format",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, src.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root)
      val snap = M.latestSnapshot(s, root).get
      val cut = 9L * src.agg(max("o_orderkey")).as[Long].head() / 10L
      // the idiomatic read — no hand-built Filter ADT anywhere
      val df = s.read.format("graft-manifest").load(root)
        .where(col("o_orderkey") >= cut)
      // collect df ITSELF (not a derived projection): the numFiles metric
      // lives on this queryExecution's executed scan
      val rows = df.collect()
      val (nGot, sumGot) =
        (rows.length.toLong, rows.map(_.getAs[Long]("o_orderkey")).sum)
      // files OPENED, from the executed scan's own metric
      val scans = df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }
      val opened = scans.map(_.metrics("numFiles").value).sum
      val filesPruned = scans.nonEmpty && opened > 0 && opened < snap.files.size
      val pushedScan = scans.exists(sc => sc.toString.contains("ManifestFileIndex") &&
        sc.toString.contains(s"GreaterThanOrEqual(o_orderkey,$cut)"))
      // parity with the library path
      val (nLib, sumLib) = M.readWhere(s, root,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", cut)))
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, sumGot, nGot == nLib && sumLib.contains(sumGot),
        filesPruned, pushedScan))
        .toDF("n_rows", "key_sum", "answer_parity", "files_pruned", "pushed_scan")
    },

    // O19 (r11): DECIMAL data skipping — per-file min/max stats now cover
    // DecimalType (INT32/INT64/FIXED_LEN_BYTE_ARRAY physicals, rendered in
    // the chunk's own annotation scale, compared via BigDecimal), so the
    // money-typed columns SURVEY §1.2 declares prune like any other key
    // (VERDICT r10 #4). The price column is integral-valued by design
    // (key % 1000 cast to DECIMAL(12,2)) so the oracle replays in exact
    // integer arithmetic — no double→decimal rounding-boundary hazard
    // between engines. Pins: decimal-pruned read parity (count + key sum),
    // strict file pruning, and a decimal-keyed copy-on-write DELETE that
    // rewrites strictly fewer files than the table holds.
    QueryDef.sql(
      "o19_manifest_decimal",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS delete_exact,
        |       true AS files_pruned, true AS pruned_rewrite
        |FROM orders WHERE o_orderkey % 11 = 5
        |  AND NOT ((o_orderkey % 1000) < 250)""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 11 === 5)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 1000).cast("decimal(12,2)").as("price"))
      val root = ProcessNonce.scratchDir("graft_o19_decimal",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      // range layout on price → tight per-file decimal bounds
      M.append(s, src.repartitionByRange(16, col("price"))
        .sortWithinPartitions("price"), root)
      val before = M.latestSnapshot(s, root).get
      val statsOn = before.files.forall(_.stats.contains("price"))
      val cut = new java.math.BigDecimal("250.00")
      val pred = Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("price", cut))
      val kept = M.prunedEntries(before, pred)
      // decimal-pruned read parity against the source
      val (nP, sP) = M.readWhere(s, root, pred)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nPe, sPe) = src.where(col("price") >= cut)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val filesPruned = statsOn && kept.nonEmpty && kept.size < before.files.size &&
        nP == nPe && sP == sPe
      // decimal-keyed copy-on-write DELETE: only the low-price slice rewrites
      val (nDel, rewritten, _) = M.deleteWhere(s, root,
        Seq(org.apache.spark.sql.sources.LessThan("price", cut)))
      val expDel = src.where(col("price") < cut).count()
      val (nGot, sumGot) = M.read(s, root)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.where(!(col("price") < cut))
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, nDel == expDel && nGot == nExp && sumGot == sumExp,
        filesPruned, rewritten > 0 && rewritten < before.files.size))
        .toDF("n_rows", "delete_exact", "files_pruned", "pruned_rewrite")
    },

    // O20 (r11): MERGE-ON-READ delete (deletion vectors) — a DELETE costs
    // O(matched rows) in tiny position files while every data file keeps
    // BYTE IDENTITY (pinned: paths+sizes unchanged, strictly fewer files
    // tagged than the table holds); reads apply the vectors exactly
    // (count + key sum replayed by the oracle as WHERE NOT pred); an
    // overlapping second delete MERGES vectors and counts only LIVE
    // matches. At 100 TB this is the compliance-erasure shape: kilobytes
    // of dv writes instead of terabytes of parquet rewrite.
    QueryDef.sql(
      "o20_manifest_mor_delete",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       true AS delete_exact, true AS byte_identity, true AS merged_exact
        |FROM orders WHERE o_orderkey % 11 = 7
        |  AND NOT (o_totalprice < 100000)""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 11 === 7)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o20_mor",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, src.repartitionByRange(16, col("o_totalprice"))
        .sortWithinPartitions("o_totalprice"), root)
      val before = M.latestSnapshot(s, root).get
      // first MoR delete: the low-price slice
      val (n1, tagged1, _) = M.deleteWhereMergeOnRead(s, root,
        Seq(org.apache.spark.sql.sources.LessThan("o_totalprice", 50000.0)))
      val exp1 = src.where(col("o_totalprice") < 50000.0).count()
      val after1 = M.latestSnapshot(s, root).get
      val byteIdentity = tagged1 > 0 && tagged1 < before.files.size &&
        after1.files.map(e => (e.path, e.bytes)).toSet ==
          before.files.map(e => (e.path, e.bytes)).toSet
      // overlapping second delete: merges vectors, counts LIVE rows only
      val (n2, _, _) = M.deleteWhereMergeOnRead(s, root,
        Seq(org.apache.spark.sql.sources.LessThan("o_totalprice", 100000.0)))
      val exp2 = src.where(col("o_totalprice") >= 50000.0 &&
        col("o_totalprice") < 100000.0).count()
      val dvTotal = M.latestSnapshot(s, root).get.files.flatMap(_.dv).map(_.rows).sum
      val (nGot, sumGot) = M.read(s, root)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.where(!(col("o_totalprice") < 100000.0))
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      Seq((nGot, sumGot.getOrElse(0L),
        n1 == exp1 && nGot == nExp && sumGot == sumExp,
        byteIdentity,
        n2 == exp2 && dvTotal == exp1 + exp2))
        .toDF("n_rows", "key_sum", "delete_exact", "byte_identity", "merged_exact")
    },

    // O22 (r11): MERGE-ON-READ upsert — the o17 MERGE contract (matched
    // keys replaced, unmatched inserted, one atomic version) expressed as
    // deletion vectors + an appended updates batch: every pre-existing
    // data file keeps BYTE IDENTITY (pinned), the clustered first merge
    // tags strictly fewer files than the table holds, and the overlapping
    // interleaved second merge replaces through dv MERGING (re-pointed
    // vectors, still no rewrite). Same integer checksum as o17, so the
    // oracle replays the post-merge sum exactly.
    QueryDef.sql(
      "o22_manifest_mor_upsert",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
        |                     THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT)
        |         AS custkey_sum,
        |       true AS byte_identity, true AS one_version
        |FROM orders WHERE o_orderkey % 13 = 6""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 13 === 6)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o22_mor_upsert",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, src.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root)
      val before = M.latestSnapshot(s, root).get
      val expected = src.withColumn("o_custkey",
        when(col("o_orderkey") % 2 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")))
      // merge 1: a clustered key range (top eighth) — tags one slice
      val cut = src.agg(max("o_orderkey")).as[Long].head() * 7L / 8L
      val (_, tagged1, v1) = M.upsertByKeyMergeOnRead(s, root,
        expected.where(col("o_orderkey") >= cut), Seq("o_orderkey"),
        maxProbeKeys = 1000000)
      // merge 2: the interleaved even-keyed half — dv merge, no rewrite
      val (_, _, v2) = M.upsertByKeyMergeOnRead(s, root,
        expected.where(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        maxProbeKeys = 1000000)
      val after = M.latestSnapshot(s, root).get
      val byteIdentity = tagged1 > 0 && tagged1 < before.files.size &&
        before.files.map(e => (e.path, e.bytes)).toSet.subsetOf(
          after.files.map(e => (e.path, e.bytes)).toSet)
      val (nGot, sumGot) = M.read(s, root)
        .agg(count(lit(1)), sum("o_custkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = expected
        .agg(count(lit(1)), sum("o_custkey")).as[(Long, Option[Long])].head()
      Seq((nGot, sumGot.getOrElse(0L),
        byteIdentity && nGot == nExp && sumGot == sumExp, v2 == v1 + 1))
        .toDF("n_rows", "custkey_sum", "byte_identity", "one_version")
    },

    // O23 (r12): the SQL WRITE idiom (VERDICT r11 #5) — a manifest table
    // created by the WRITER path (df.write.format("graft-manifest")
    // .mode("append")), registered in the catalog, then grown by SQL
    // INSERT INTO: each INSERT lands as exactly ONE committed manifest
    // version through the append protocol (ManifestInsertRewrite), no
    // bare parquet ever appears at the table root (the failure shape the
    // rewrite exists to prevent — unreferenced files invisible to every
    // reader), and the merged multiset is replayed by the oracle.
    QueryDef.sql(
      "o23_manifest_sql_insert",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
        |       true AS one_version_each, true AS no_bare_files
        |FROM orders WHERE o_orderkey % 7 = 5""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 7 === 5)
        .select("o_orderkey", "o_custkey")
      val root = ProcessNonce.scratchDir("graft_o23_insert",
        Integer.toHexString(d.hashCode))
      val rootP = new org.apache.hadoop.fs.Path(root)
      val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(rootP, true)
      s.sql("DROP TABLE IF EXISTS graft_o23")
      val M = graft.sources.ManifestStore
      // table born through the writer idiom (even keys)...
      src.where(col("o_orderkey") % 2 === 0)
        .write.format("graft-manifest").mode("append").save(root)
      s.sql(s"CREATE TABLE graft_o23 USING `graft-manifest` OPTIONS (path '$root')")
      val v1 = M.latestSnapshot(s, root).get.version
      // ...grown through SQL (odd keys)
      src.where(col("o_orderkey") % 2 =!= 0)
        .createOrReplaceTempView("graft_o23_src")
      s.sql("INSERT INTO graft_o23 SELECT * FROM graft_o23_src")
      val v2 = M.latestSnapshot(s, root).get.version
      // NO manual REFRESH: the INSERT command invalidates the catalog's
      // relation cache itself (r12) — this SELECT seeing the new rows IS
      // the regression pin
      val (nGot, sumGot) = s.sql(
        "SELECT count(*), sum(o_custkey) FROM graft_o23")
        .as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.agg(count(lit(1)), sum("o_custkey"))
        .as[(Long, Option[Long])].head()
      val bare = fs.listStatus(rootP).exists(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      s.sql("DROP TABLE IF EXISTS graft_o23")
      Seq((nGot, sumGot.getOrElse(0L),
        nGot == nExp && sumGot == sumExp && v2 == v1 + 1, !bare))
        .toDF("n_rows", "cust_sum", "one_version_each", "no_bare_files")
    },

    // O24 (r12): dv-aware CHANGE FEED (VERDICT r11 #6) — a merge-on-read
    // UPSERT between two versions is read back as exact row-level changes:
    // the updates batch as `insert` rows, the matched keys' OLD rows as
    // `delete` rows at exactly the positions the deletion vector grew by
    // (new bitmap minus old bitmap; content from the byte-identical data
    // files). The oracle replays the whole change stream in pure SQL
    // against the source table — inserts carry the NEW values, deletes
    // the OLD ones.
    QueryDef.sql(
      "o24_manifest_change_feed",
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, 'x' || lang AS lang,
        |       n_chars, 'insert' AS _change_type
        |FROM documents WHERE doc_id % 6 = 0 OR doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete' AS _change_type
        |FROM documents WHERE doc_id % 6 = 0""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.concat
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val base = docs.where(col("doc_id") % 3 === 0)
      val updates = docs.where(col("doc_id") % 6 === 0 || col("doc_id") % 3 === 1)
        .withColumn("lang", concat(lit("x"), col("lang")))
      val root = ProcessNonce.scratchDir("graft_o24_changes",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, base.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"), root)
      val v1 = M.latestSnapshot(s, root).get.version
      val (_, _, v2) = M.upsertByKeyMergeOnRead(s, root, updates,
        Seq("doc_id"), maxProbeKeys = 1000000)
      require(v2 > v1, s"MoR upsert did not commit: $v2")
      val (vGot, changes) = M.readChangesSince(s, root, v1)
      require(vGot == v2)
      changes
    },

    // O25 (r12): TRUE STRUCTURED STREAMING over a manifest table
    // (VERDICT r11 #7) — a real StreamingQuery (engine triggers, offset
    // checkpointing) tails the source in changeFeed mode into a manifest
    // SINK, across a RESTART with a merge-on-read upsert in between:
    // run 1 delivers the full snapshot as `insert`, run 2 the exact
    // row-level changes; an idle third run must commit nothing (the
    // exactly-once pin). The oracle replays the accrued change log in
    // pure SQL against the source table.
    QueryDef.sql(
      "o25_manifest_stream",
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, n_chars,
        |       'insert' AS _change_type
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'x' || lang, n_chars, 'insert' FROM documents
        |WHERE doc_id % 6 = 0 OR doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete' FROM documents
        |WHERE doc_id % 6 = 0""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.concat
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val base = docs.where(col("doc_id") % 3 === 0)
      val updates = docs.where(col("doc_id") % 6 === 0 || col("doc_id") % 3 === 1)
        .withColumn("lang", concat(lit("x"), col("lang")))
      val tag = Integer.toHexString(d.hashCode)
      val src = ProcessNonce.scratchDir("graft_o25_src", tag)
      val dst = ProcessNonce.scratchDir("graft_o25_dst", tag)
      val ckpt = ProcessNonce.scratchDir("graft_o25_ckpt", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(src, dst, ckpt).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      def runOnce(): Unit = {
        val q = s.readStream.format("graft-manifest")
          .option("changeFeed", "true").load(src)
          .writeStream.format("graft-manifest")
          .option("appId", "o25").option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(dst)
        q.awaitTermination()
      }
      M.append(s, base.repartition(4, col("doc_id")), src)
      runOnce() // full snapshot as inserts
      M.upsertByKeyMergeOnRead(s, src, updates, Seq("doc_id"),
        maxProbeKeys = 1000000)
      runOnce() // restart: the MoR upsert streams as insert+delete changes
      val vAfter = M.latestSnapshot(s, dst).get.version
      // a compaction (materializes the upsert's vectors) is PHYSICAL —
      // the restarted stream must see NO changes from it (r12), and
      // exactly-once means no new destination commit either
      M.compact(s, src)
      runOnce() // idle restart across maintenance: nothing arrives
      require(M.latestSnapshot(s, dst).get.version == vAfter,
        "a compaction must be change-invisible and idle restarts must not commit")
      M.table(s, dst).select("doc_id", "lang", "n_chars", M.ChangeTypeCol)
    },

    // O26 (r12): INCREMENTAL VIEW MAINTENANCE — a materialized per-lang
    // (count, sum) table advanced EXACTLY-ONCE from the change feed:
    // tick 1 seeds from the full snapshot, tick 2 folds a MoR upsert
    // (its deletes retract, its inserts add) plus a fresh append, and a
    // tick across a compaction commits nothing (physical = invisible).
    // Per tick the source side scans only the CHANGED files and the
    // destination side touches only the |groups|-sized table — never the
    // accumulated corpus. The oracle recomputes the aggregate from the
    // source's replayed end state in pure SQL.
    QueryDef.sql(
      "o26_manifest_ivm",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM (
        |  SELECT lang, n_chars + 7 AS n_chars FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 6 <> 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 1
        |) GROUP BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val tag = Integer.toHexString(d.hashCode)
      val src = ProcessNonce.scratchDir("graft_o26_src", tag)
      val dst = ProcessNonce.scratchDir("graft_o26_dst", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(src, dst).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      val IVM = graft.sources.Materialized
      M.append(s, docs.where(col("doc_id") % 3 === 0)
        .repartition(4, col("doc_id")), src)
      IVM.maintainSums(s, src, dst, keys = Seq("lang"), sumCols = Seq("n_chars"))
      // a MoR upsert (retract + add) and a fresh append fold in one tick
      val updates = docs.where(col("doc_id") % 6 === 0)
        .withColumn("n_chars", col("n_chars") + 7)
      M.upsertByKeyMergeOnRead(s, src, updates, Seq("doc_id"),
        maxProbeKeys = 1000000)
      M.append(s, docs.where(col("doc_id") % 3 === 1), src)
      IVM.maintainSums(s, src, dst, keys = Seq("lang"), sumCols = Seq("n_chars"))
      // a compaction is physical: the next tick must commit NOTHING
      val vAfter = M.latestSnapshot(s, dst).get.version
      M.compact(s, src)
      IVM.maintainSums(s, src, dst, keys = Seq("lang"), sumCols = Seq("n_chars"))
      require(M.latestSnapshot(s, dst).get.version == vAfter,
        "a compaction tick must not commit to the maintained table")
      M.table(s, dst).where(col("n") > 0)
        .select(col("lang"), col("n"), col("sum_n_chars"))
    },

    // O27 (r13, VERDICT r12 #3): SQL row-level DML — DELETE FROM, UPDATE
    // and the canonical MERGE INTO on a REGISTERED graft-manifest table,
    // each landing as exactly ONE merge-on-read commit
    // (ManifestDmlRewrite): deletion vectors + update batches, the base
    // data files byte-identical throughout, and the final SELECT read
    // through the CATALOG (the planner applies the live vectors —
    // ManifestDvApplyRule). The change feed over the MERGE commit counts
    // its exact row-level changes. The oracle replays the whole DML
    // sequence in pure SQL.
    QueryDef.sql(
      "o27_manifest_sql_dml",
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
        |              FROM orders WHERE o_orderkey % 5 = 0),
        |     afterdel AS (SELECT * FROM base WHERE NOT (o_orderkey % 3 = 0)),
        |     afterupd AS (SELECT o_orderkey,
        |                         CASE WHEN o_orderkey % 3 = 1
        |                              THEN o_custkey + 100000 ELSE o_custkey
        |                         END AS o_custkey,
        |                         o_totalprice FROM afterdel),
        |     src AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |             FROM orders WHERE o_orderkey % 7 = 3),
        |     final AS (SELECT * FROM afterupd
        |               WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |               UNION ALL SELECT * FROM src)
        |SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, o_totalprice
        |FROM final""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val orders = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val base = orders.where(col("o_orderkey") % 5 === 0)
      val root = ProcessNonce.scratchDir("graft_o27_dml",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      s.sql("DROP TABLE IF EXISTS graft_o27")
      val M = graft.sources.ManifestStore
      M.append(s, base.repartitionByRange(8, col("o_orderkey")), root)
      s.sql(s"CREATE TABLE graft_o27 USING `graft-manifest` OPTIONS (path '$root')")
      val v0 = M.latestSnapshot(s, root).get
      val basePaths = v0.files.map(_.path).toSet
      // DELETE: one mor-delete commit, num_affected_rows = the oracle's
      val nDel = s.sql("DELETE FROM graft_o27 WHERE o_orderkey % 3 = 0")
        .as[Long].head()
      val s1 = M.latestSnapshot(s, root).get
      require(s1.version == v0.version + 1 && s1.op == "mor-delete",
        s"DELETE must land as one mor-delete commit: v=${s1.version} op=${s1.op}")
      require(nDel == base.where(col("o_orderkey") % 3 === 0).count())
      // UPDATE: self-referencing assignment, one mor-update commit
      val nUpd = s.sql(
        "UPDATE graft_o27 SET o_custkey = o_custkey + 100000 WHERE o_orderkey % 3 = 1")
        .as[Long].head()
      val s2 = M.latestSnapshot(s, root).get
      require(s2.version == s1.version + 1 && s2.op == "mor-update",
        s"UPDATE must land as one mor-update commit: op=${s2.op}")
      require(nUpd == base.where(col("o_orderkey") % 3 === 1).count())
      // MERGE (canonical upsert): one mor-upsert commit; the change feed
      // over it reads exactly |matched| deletes + |source| inserts
      orders.where(col("o_orderkey") % 7 === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("graft_o27_src")
      val nMerge = s.sql(
        """MERGE INTO graft_o27 t USING graft_o27_src src ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).as[Long].head()
      val s3 = M.latestSnapshot(s, root).get
      require(s3.version == s2.version + 1 && s3.op == "mor-upsert",
        s"MERGE must land as one mor-upsert commit: op=${s3.op}")
      val (_, changes) = M.readChangesSince(s, root, s2.version)
      val byType = changes.groupBy(M.ChangeTypeCol).count()
        .as[(String, Long)].collect().toMap
      val srcN = s.table("graft_o27_src").count()
      require(byType.getOrElse("delete", 0L) == nMerge &&
        byType.getOrElse("insert", 0L) == srcN,
        s"change feed must read the MERGE exactly: $byType vs ($nMerge, $srcN)")
      // merge-on-read throughout: every base data file survives the DML
      require(basePaths.subsetOf(s3.files.map(_.path).toSet),
        "SQL DML must never rewrite the base data files (merge-on-read)")
      // catalog-read parity pin (planner-applied dvs), kept to one
      // driver-side aggregate — the full answer below goes through the
      // library read so it needs no collect and survives the DROP
      val catN = s.sql("SELECT count(*) FROM graft_o27").as[Long].head()
      s.sql("DROP TABLE IF EXISTS graft_o27")
      val out = M.table(s, root)
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice"))
      val libN = out.count()
      require(catN == libN,
        s"catalog read (planner dvs) and library read disagree: $catN vs $libN")
      out
    },

    // O28 (r13, VERDICT r12 #4): IVM MIN/MAX — the non-retractable
    // aggregates maintained by TOUCHED-GROUP recompute from the source at
    // the tick's own version: a MoR delete that removes one group's MAX
    // rows and an append that mints new group minima both fold in one
    // tick; the recompute semi-joins the broadcast delta keys against a
    // source read file-pruned by the keys' partition values (the source
    // is partitioned by the group key — delta-proportional, never a full
    // scan). The oracle recomputes every aggregate from the replayed end
    // state in pure SQL.
    QueryDef.sql(
      "o28_manifest_ivm_minmax",
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 3 = 0),
        |     ml AS (SELECT min(lang) AS l FROM base),
        |     mx AS (SELECT max(n_chars) AS m FROM base
        |            WHERE lang = (SELECT l FROM ml)),
        |     afterdel AS (SELECT * FROM base
        |                  WHERE NOT (lang = (SELECT l FROM ml)
        |                             AND n_chars >= (SELECT m FROM mx))),
        |     added AS (SELECT doc_id + 10000000 AS doc_id, lang,
        |                      CAST(-1 AS BIGINT) AS n_chars
        |               FROM base WHERE doc_id % 30 = 3),
        |     endstate AS (SELECT * FROM afterdel UNION ALL SELECT * FROM added)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        |       CAST(min(n_chars) AS BIGINT) AS min_n_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_n_chars
        |FROM endstate GROUP BY lang""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val base = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        .where(col("doc_id") % 3 === 0)
      val tag = Integer.toHexString(d.hashCode)
      val src = ProcessNonce.scratchDir("graft_o28_src", tag)
      val dst = ProcessNonce.scratchDir("graft_o28_dst", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(src, dst).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      val IVM = graft.sources.Materialized
      // source PARTITIONED by the group key: the min/max recompute's
      // In-pruning opens only the touched groups' partitions
      M.append(s, base, src, partitionBy = Seq("lang"))
      IVM.maintainSums(s, src, dst, keys = Seq("lang"),
        sumCols = Seq("n_chars"), minMaxCols = Seq("n_chars"))
      // retract the minimum lang's MAX rows (not foldable from the change)
      val minLang = base.agg(min("lang")).as[String].head()
      val mx = base.where(col("lang") === minLang)
        .agg(max("n_chars")).as[Long].head()
      val (nDel, _, _) = M.deleteWhereMergeOnRead(s, src,
        Seq(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.EqualTo("lang", minLang),
          org.apache.spark.sql.sources.GreaterThanOrEqual("n_chars", mx))))
      require(nDel > 0, "the delete must retract at least the max row")
      // and mint new per-group minima in the same tick
      M.append(s, base.where(col("doc_id") % 30 === 3)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          lit(-1L).as("n_chars")), src, partitionBy = Seq("lang"))
      IVM.maintainSums(s, src, dst, keys = Seq("lang"),
        sumCols = Seq("n_chars"), minMaxCols = Seq("n_chars"))
      M.table(s, dst).where(col("n") > 0)
        .select(col("lang"), col("n"), col("sum_n_chars"),
          col("min_n_chars").cast("long").as("min_n_chars"),
          col("max_n_chars").cast("long").as("max_n_chars"))
    },

    // O29 (r13, VERDICT r12 #5): change-feed COMMIT ATTRIBUTION — every
    // change row carries `_commit_version`, the manifest version whose
    // commit produced it (the Delta-CDF column): appends attribute
    // per FILE through one batched scan (broadcast path→version map,
    // CommitVersionOf codegen), a MoR delete's rows attribute to the
    // delete's own commit via its exact dv diff, and a compaction in
    // range contributes NOTHING (physical, row-conserving). The oracle
    // replays the whole attributed stream in pure SQL.
    QueryDef.sql(
      "o29_manifest_cdf_versions",
      """SELECT doc_id, lang, 'insert' AS _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM documents WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT doc_id, lang, 'delete', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 8 = 0
        |UNION ALL
        |SELECT doc_id, lang, 'insert', CAST(5 AS BIGINT)
        |FROM documents WHERE doc_id % 4 = 2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang")
      val root = ProcessNonce.scratchDir("graft_o29_cdf",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, docs.where(col("doc_id") % 4 === 0)
        .repartition(4, col("doc_id")), root)                          // v1
      M.append(s, docs.where(col("doc_id") % 4 === 1)
        .repartition(4, col("doc_id")), root)                          // v2
      M.deleteMorExpr(s, root, M.latestSnapshot(s, root).get,          // v3
        pruning = Seq.empty, cond = pmod(col("doc_id"), lit(8)) === 0)
      M.compact(s, root)                                               // v4 (physical)
      M.append(s, docs.where(col("doc_id") % 4 === 2)
        .repartition(4, col("doc_id")), root)                          // v5
      val (v, changes) = M.readChangesSinceVersioned(s, root, 1L)
      require(v == 5L, s"expected five versions, got $v")
      changes.select(col("doc_id"), col("lang"),
        col(M.ChangeTypeCol), col(M.CommitVersionCol))
    },

    // O30 (r13): CDC REPLICATION — a keyed MIRROR maintained exactly-once
    // from the versioned change feed (Materialized.replicate →
    // applyByKeyMergeOnRead): per tick the source side scans only the
    // changed files, each key reduces to its FINAL state (present iff an
    // insert exists at its max _commit_version), and ONE txn-watermarked
    // MoR commit both replaces and removes. The oracle replays the
    // source's end state in pure SQL — mirror == source row-for-row is
    // the query's own answer.
    QueryDef.sql(
      "o30_manifest_replicate",
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 3 = 0),
        |     added AS (SELECT doc_id, lang, n_chars FROM documents
        |               WHERE doc_id % 3 = 1),
        |     allr AS (SELECT * FROM base UNION ALL SELECT * FROM added),
        |     upd AS (SELECT doc_id, 'x' || lang AS lang, n_chars
        |             FROM documents WHERE doc_id % 6 = 0),
        |     merged AS (SELECT * FROM allr
        |                WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |                UNION ALL SELECT * FROM upd)
        |SELECT doc_id, lang, n_chars FROM merged
        |WHERE NOT (doc_id % 9 = 2)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.concat
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val tag = Integer.toHexString(d.hashCode)
      val src = ProcessNonce.scratchDir("graft_o30_src", tag)
      val dst = ProcessNonce.scratchDir("graft_o30_dst", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(src, dst).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      M.append(s, docs.where(col("doc_id") % 3 === 0)
        .repartition(4, col("doc_id")), src)
      graft.sources.Materialized.replicate(s, src, dst, Seq("doc_id"))
      // one tick folds an append, a MoR upsert and a MoR delete
      M.append(s, docs.where(col("doc_id") % 3 === 1), src)
      M.upsertByKeyMergeOnRead(s, src,
        docs.where(col("doc_id") % 6 === 0)
          .withColumn("lang", concat(lit("x"), col("lang"))),
        Seq("doc_id"), maxProbeKeys = 1000000)
      M.deleteMorExpr(s, src, M.latestSnapshot(s, src).get,
        pruning = Seq.empty, cond = pmod(col("doc_id"), lit(9)) === 2)
      graft.sources.Materialized.replicate(s, src, dst, Seq("doc_id"))
      M.table(s, dst).select("doc_id", "lang", "n_chars")
    },

    // O31 (r14, VERDICT r13 #1): the SQL-ONLY table lifecycle — a table is
    // BORN in SQL (`CREATE TABLE ... AS SELECT` commits v1 through the
    // CreatableRelationProvider seam), extended (`INSERT INTO`),
    // restructured (`OPTIMIZE` = one physical bin-pack commit, rows
    // conserved by construction) and reclaimed (`VACUUM ... RETAIN 1
    // VERSIONS RETAIN 0 HOURS` drops the superseded pre-compaction
    // batches) — no library call needed at any step. `timestampAsOf` a
    // future instant resolves to the head (nearest-version-at-or-before by
    // commit mtime). The oracle replays the CTAS ∪ INSERT content in pure
    // SQL; every maintenance step is row-conserving, so the end state is
    // exactly that union.
    QueryDef.sql(
      "o31_sql_lifecycle",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val base = orders.where(col("o_orderkey") % 4 === 1)
      val root = ProcessNonce.scratchDir("graft_o31_life",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      s.sql("DROP TABLE IF EXISTS graft_o31")
      val M = graft.sources.ManifestStore
      // birth: CTAS commits version 1 (many small files, so OPTIMIZE bites)
      base.where(col("o_orderkey") % 3 === 0).repartition(8)
        .createOrReplaceTempView("graft_o31_seed")
      s.sql(s"CREATE TABLE graft_o31 USING `graft-manifest` " +
        s"OPTIONS (path '$root') AS SELECT * FROM graft_o31_seed")
      require(M.latestSnapshot(s, root).get.version == 1L,
        "CTAS must commit exactly one manifest version")
      // extend: INSERT INTO commits version 2
      base.where(col("o_orderkey") % 3 =!= 0).repartition(8)
        .createOrReplaceTempView("graft_o31_more")
      s.sql("INSERT INTO graft_o31 SELECT * FROM graft_o31_more")
      val afterInsert = M.latestSnapshot(s, root).get
      require(afterInsert.version == 2L, "INSERT must commit version 2")
      // restructure: OPTIMIZE = one physical compaction commit
      val opt = s.sql("OPTIMIZE graft_o31").collect().head
      require(opt.getLong(1) < opt.getLong(0),
        s"OPTIMIZE must reduce files: ${opt.getLong(0)} -> ${opt.getLong(1)}")
      require(M.latestSnapshot(s, root).get.op == "compact",
        "OPTIMIZE commits are PHYSICAL (change feeds stream through them)")
      // time travel by TIMESTAMP: a future instant lands on the head
      val headN = s.read.format("graft-manifest")
        .option("timestampAsOf",
          (System.currentTimeMillis() + 3600L * 1000).toString)
        .load(root).count()
      // reclaim: drop the pre-compaction batches; the table reads on
      val dropped = s.sql(
        s"VACUUM '$root' RETAIN 1 VERSIONS RETAIN 0 HOURS").as[Long].head()
      require(dropped >= 1L, s"vacuum must reclaim superseded batches: $dropped")
      val catN = s.sql("SELECT count(*) FROM graft_o31").as[Long].head()
      s.sql("DROP TABLE IF EXISTS graft_o31")
      val out = M.table(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      require(headN == catN,
        s"timestampAsOf(+1h) must resolve to the head: $headN vs $catN")
      out
    },

    // O33 (r14, VERDICT r13 #4): incrementally-maintained fact⋈dim JOIN
    // view — dst = SELECT region, count(*), sum(n_chars) FROM fact JOIN
    // dim USING (lang) GROUP BY region, advanced per tick from BOTH
    // tables' change feeds by the exact bilinear decomposition
    // ΔV = fact@old ⋈ Δdim + Δfact ⋈ dim@new (Materialized
    // .maintainJoinedSums): late-arriving dim keys fold old fact rows in
    // retroactively, a dim attribute upsert moves its group, a fact MoR
    // delete retracts — each tick ONE atomic commit carrying both source
    // watermarks. The oracle replays the end state in pure SQL.
    QueryDef.sql(
      "o33_ivm_join_view",
      """WITH fact AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 3 IN (0, 1) AND NOT (doc_id % 5 = 0)),
        |     dim AS (SELECT DISTINCT lang FROM documents),
        |     ml AS (SELECT min(lang) AS l FROM dim),
        |     dimf AS (SELECT lang,
        |                     CASE WHEN lang = (SELECT l FROM ml) THEN 'XX'
        |                          ELSE upper(lang) END AS region FROM dim)
        |SELECT region, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM fact JOIN dimf USING (lang) GROUP BY region""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val langs = docs.select("lang").distinct()
      val tag = Integer.toHexString(d.hashCode)
      val fact = ProcessNonce.scratchDir("graft_o33_fact", tag)
      val dim = ProcessNonce.scratchDir("graft_o33_dim", tag)
      val dst = ProcessNonce.scratchDir("graft_o33_dst", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(fact, dim, dst).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      val IVM = graft.sources.Materialized
      def tick(): Unit = IVM.maintainJoinedSums(s, fact, dim, dst,
        joinKeys = Seq("lang"), groupKeys = Seq("region"),
        sumCols = Seq("n_chars")): Unit
      // seed: fact slice 0, HALF the dim keys (even first-char codepoint)
      val evenLang = ascii(substring(col("lang"), 1, 1)) % 2 === 0
      M.append(s, docs.where(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id")), fact)
      M.append(s, langs.where(evenLang)
        .withColumn("region", upper(col("lang"))), dim)
      tick()
      // both sides advance: new fact slice + the LATE dim keys (old fact
      // rows matching them fold in retroactively — the fact@old ⋈ Δdim term)
      M.append(s, docs.where(col("doc_id") % 3 === 1), fact)
      M.append(s, langs.where(!evenLang)
        .withColumn("region", upper(col("lang"))), dim)
      tick()
      // dim attribute UPDATE (delete+insert in its feed): group moves
      val minLang = langs.agg(min("lang")).as[String].head()
      M.upsertByKeyMergeOnRead(s, dim,
        Seq((minLang, "XX")).toDF("lang", "region"), Seq("lang"),
        maxProbeKeys = 1000)
      tick()
      // fact retraction via MoR delete
      M.deleteMorExpr(s, fact, M.latestSnapshot(s, fact).get,
        pruning = Seq.empty, cond = pmod(col("doc_id"), lit(5)) === 0)
      tick()
      M.table(s, dst).where(col("n") > 0)
        .select(col("region"), col("n"), col("sum_n_chars"))
    },

    // O34 (r14, VERDICT r13 #4): maintained AVG — the retractable
    // (Σ sign·v, Σ sign·[v IS NOT NULL]) pair SQL AVG derives from,
    // advanced from the change feed and stored beside the derived avg_
    // column; the per-column NON-NULL denominator matches SQL AVG's
    // null-skipping exactly. Retractions adjust numerator and denominator
    // together. Oracle: a plain AVG recompute of the replayed end state.
    QueryDef.sql(
      "o34_ivm_avg",
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 2 = 0),
        |     endstate AS (SELECT * FROM base WHERE NOT (doc_id % 7 = 0))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       AVG(CAST(n_chars AS DOUBLE)) AS avg_n_chars
        |FROM endstate GROUP BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        .where(col("doc_id") % 2 === 0)
      val tag = Integer.toHexString(d.hashCode)
      val src = ProcessNonce.scratchDir("graft_o34_src", tag)
      val dst = ProcessNonce.scratchDir("graft_o34_dst", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(src, dst).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      val IVM = graft.sources.Materialized
      def tick(): Unit = IVM.maintainSums(s, src, dst, Seq("lang"),
        avgCols = Seq("n_chars")): Unit
      M.append(s, docs.where(col("doc_id") % 3 === 0)
        .repartition(4, col("doc_id")), src)
      tick() // seed
      M.append(s, docs.where(col("doc_id") % 3 =!= 0), src)
      tick() // append folds into both numerator and denominator
      M.deleteMorExpr(s, src, M.latestSnapshot(s, src).get,
        pruning = Seq.empty, cond = pmod(col("doc_id"), lit(7)) === 0)
      tick() // retraction adjusts the pair
      M.table(s, dst).where(col("n") > 0)
        .select(col("lang"), col("n"), col("avg_n_chars"))
    },

    // O37 (r14): the CDC TABLE-VALUED FUNCTION — graft_table_changes
    // ('<table-or-path>', from[, to]) reads the attributed change feed in
    // plain SQL (the Delta table_changes analog): v2's appended rows
    // surface as `insert` at commit 2, v3's MoR-deleted positions as
    // `delete` at commit 3, each tagged with its exact commit version.
    // The oracle replays the attribution with literal versions.
    QueryDef.sql(
      "o37_table_changes",
      """WITH ins AS (SELECT doc_id, 'insert' AS change_type,
        |                    CAST(2 AS BIGINT) AS commit_version
        |             FROM documents WHERE doc_id % 4 = 2),
        |     del AS (SELECT doc_id, 'delete' AS change_type,
        |                    CAST(3 AS BIGINT) AS commit_version
        |             FROM documents WHERE doc_id % 8 = 2)
        |SELECT * FROM ins UNION ALL SELECT * FROM del""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val root = ProcessNonce.scratchDir("graft_o37_tvf",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, docs.where(col("doc_id") % 4 === 0)
        .repartition(4, col("doc_id")), root) // v1
      M.append(s, docs.where(col("doc_id") % 4 === 2), root) // v2
      M.deleteMorExpr(s, root, M.latestSnapshot(s, root).get,
        pruning = Seq.empty, cond = pmod(col("doc_id"), lit(8)) === 2) // v3
      s.sql(s"SELECT doc_id, _change_type AS change_type, " +
        s"_commit_version AS commit_version FROM graft_table_changes('$root', 1)")
    },

    // O38 (r15, VERDICT r14 #1): WRITE-PATH CONSTRAINTS — NOT NULL and
    // CHECK carried as manifest `constraints=` lines and enforced INSIDE
    // the write pass of every seam (one distributed scan, no extra batch
    // read): a violating SQL INSERT refuses the WHOLE statement loudly
    // (no version commits, the offending row is rendered in the error),
    // so the oracle replays exactly the CTAS ∪ valid-INSERT content — the
    // refused batches are provably ABSENT. Constraints survive RENAME
    // (the CHECK expression re-renders under the new name) and show in
    // DESCRIBE DETAIL. At 100 TB: enforcement is an expression filter in
    // the batch write's codegen — cost O(increment), never a table scan;
    // only ADD CONSTRAINT pays one validation pass over existing data.
    QueryDef.sql(
      "o38_constraints",
      """SELECT o_orderkey, o_custkey AS buyer, o_totalprice FROM orders
        |WHERE o_orderkey % 4 = 2 AND o_orderkey % 3 IN (0, 1)""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .where(col("o_orderkey") % 4 === 2)
      val root = ProcessNonce.scratchDir("graft_o38_cons",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      s.sql("DROP TABLE IF EXISTS graft_o38")
      val M = graft.sources.ManifestStore
      base.where(col("o_orderkey") % 3 === 0).createOrReplaceTempView("graft_o38_seed")
      s.sql(s"CREATE TABLE graft_o38 USING `graft-manifest` " +
        s"OPTIONS (path '$root') AS SELECT * FROM graft_o38_seed")
      s.sql("ALTER TABLE graft_o38 ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)")
      s.sql("ALTER TABLE graft_o38 ALTER COLUMN o_custkey SET NOT NULL")
      val vBefore = M.latestSnapshot(s, root).get.version
      // a violating INSERT refuses loudly and commits NOTHING
      base.where(col("o_orderkey") % 3 === 2).createOrReplaceTempView("graft_o38_bad")
      val eCheck = try {
        s.sql("INSERT INTO graft_o38 SELECT o_orderkey, o_custkey, " +
          "-o_totalprice FROM graft_o38_bad"); ""
      } catch { case e: Exception => String.valueOf(e.getMessage) }
      require(eCheck.contains("price_pos"),
        s"violating INSERT must refuse naming the constraint: $eCheck")
      val eNull = try {
        s.sql("INSERT INTO graft_o38 SELECT o_orderkey, CAST(NULL AS BIGINT), " +
          "o_totalprice FROM graft_o38_bad"); ""
      } catch { case e: Exception => String.valueOf(e.getMessage) }
      require(eNull.contains("NOT NULL o_custkey"),
        s"null INSERT must refuse naming the column: $eNull")
      require(M.latestSnapshot(s, root).get.version == vBefore,
        "refused INSERTs must not commit versions")
      // a VALID insert lands under both constraints
      base.where(col("o_orderkey") % 3 === 1).createOrReplaceTempView("graft_o38_ok")
      s.sql("INSERT INTO graft_o38 SELECT * FROM graft_o38_ok")
      // constraints SURVIVE a rename: the CHECK re-renders, still enforced
      s.sql("ALTER TABLE graft_o38 RENAME COLUMN o_custkey TO buyer")
      val eRenamed = try {
        s.sql("INSERT INTO graft_o38 VALUES (999999999, NULL, 1.0)"); ""
      } catch { case e: Exception => String.valueOf(e.getMessage) }
      require(eRenamed.contains("NOT NULL buyer"),
        s"constraint must follow the rename: $eRenamed")
      val detail = s.sql("DESCRIBE DETAIL graft_o38").collect().head
      require(detail.getAs[scala.collection.Seq[String]]("constraints").size == 2,
        "DESCRIBE DETAIL must list both constraints")
      s.sql("DROP TABLE IF EXISTS graft_o38")
      M.table(s, root).select("o_orderkey", "buyer", "o_totalprice")
    },

    // O39 (r15, VERDICT r14 #2): TYPE WIDENING — `ALTER COLUMN ... TYPE`
    // as ONE metadata-only schema commit: files written int stay int on
    // disk and read under parquet's NATIVE promotion (no rewrite), the
    // widened column then accepts values past Int range from new batches,
    // stats pruning keeps biting (integral widenings share the canonical
    // "long" stats domain), and time travel replays v1 under its own
    // narrow schema. The oracle replays both halves in pure SQL with the
    // same BIGINT arithmetic. At 100 TB: a schema-evolution need that
    // would otherwise rewrite the full table costs O(one manifest).
    QueryDef.sql(
      "o39_widen_column",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS chars FROM documents
        |WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars + 3000000000 AS chars FROM documents
        |WHERE doc_id % 2 = 1""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val root = ProcessNonce.scratchDir("graft_o39_widen",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      s.sql("DROP TABLE IF EXISTS graft_o39")
      val M = graft.sources.ManifestStore
      // v1: the column is born INT (narrow on disk)
      M.append(s, docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars").cast("int").as("chars"))
        .repartitionByRange(4, col("doc_id")), root)
      require(M.latestSnapshot(s, root).get.schema.get("chars").dataType ==
        org.apache.spark.sql.types.IntegerType)
      s.sql(s"CREATE TABLE graft_o39 USING `graft-manifest` OPTIONS (path '$root')")
      // v2: ONE metadata-only widen; zero data entries change
      val before = M.latestSnapshot(s, root).get
      s.sql("ALTER TABLE graft_o39 ALTER COLUMN chars TYPE BIGINT")
      val snap = M.latestSnapshot(s, root).get
      require(snap.op == "widen-column" && snap.files == before.files,
        "widen must be metadata-only")
      // v3: the widened column accepts past-Int-range values
      docs.createOrReplaceTempView("graft_o39_src")
      s.sql("INSERT INTO graft_o39 SELECT doc_id, n_chars + 3000000000 " +
        "FROM graft_o39_src WHERE doc_id % 2 = 1")
      // time travel: v1 keeps its own narrow schema
      require(M.readVersion(s, root, 1L).schema("chars").dataType ==
        org.apache.spark.sql.types.IntegerType,
        "old versions must replay under their own type")
      val out = s.sql("SELECT doc_id, chars FROM graft_o39")
      s.sql("DROP TABLE IF EXISTS graft_o39")
      out
    },

    // O40 (r15, VERDICT r14 #6): per-file BLOOM SIDECAR point lookup —
    // the pruning tier z-order can't give on a non-clustered id. The
    // table is built ADVERSARIALLY for min/max stats: 8 stripes, each
    // holding o_orderkey ≡ i (mod 8), so every file's range straddles
    // every key and stats prune NOTHING; buildBloomIndex then registers
    // per-file filters in the manifest and the idiomatic format read's
    // EXECUTED scan must open ≤2 of 8 files (the numFiles metric — a
    // strict pin, fpp=0.01 makes a second survivor a rare false
    // positive). At 100 TB: the build reads each file once and shuffles
    // only filter bytes (~9.6 bits/row); a needle query then opens
    // ~fpp×files instead of every file of a 100 TB table whose stats
    // straddle the key.
    QueryDef.sql(
      "o40_bloom_lookup",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders
        |                    WHERE o_orderkey % 8 = 3
        |                      AND o_orderkey * 2 <= (SELECT max(o_orderkey)
        |                                             FROM orders))""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val root = ProcessNonce.scratchDir("graft_o40_bloom",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      for (i <- 0 until 8)
        M.append(s, base.where(col("o_orderkey") % 8 === i).coalesce(1), root)
      M.buildBloomIndex(s, root, Seq("o_orderkey"))
      val snap = M.latestSnapshot(s, root).get
      require(snap.files.size == 8 && snap.bloomIdx.isDefined)
      // a MID-RANGE key of stripe 3 (≤ half the global max): every
      // stripe's [min, max] straddles it, so min/max stats keep all 8
      // files and the observed skip is the bloom tier's alone
      val globalMax = base.agg(max("o_orderkey")).as[Long].head()
      val needle = base.where(col("o_orderkey") % 8 === 3 &&
          col("o_orderkey") * 2 <= globalMax)
        .agg(max("o_orderkey")).as[Long].head() // bounded scalar collects
      // stats alone keep every stripe — the layout really defeats min/max
      require(M.prunedEntries(snap,
        Seq(org.apache.spark.sql.sources.EqualTo("o_orderkey", needle))).size == 8,
        "the stripes must straddle the needle, or this pins nothing")
      val df = s.read.format("graft-manifest").load(root)
        .where(col("o_orderkey") === needle)
      val rows = df.collect()
      val opened = df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.sum
      require(opened >= 1 && opened <= 2,
        s"the bloom tier must open ~1 of 8 files, opened $opened")
      require(rows.length == 1 && rows.head.getLong(0) == needle,
        s"the needle row must come back exactly: ${rows.toSeq}")
      df
    },

    // O41 (r15): PREDICATE-SCOPED OVERWRITE — the Delta replaceWhere
    // shape (`mode(overwrite).option("replaceWhere", ...)`) plus SQL
    // `INSERT OVERWRITE` as DYNAMIC partition overwrite. Each is ONE
    // atomic commit: the matching slice's files leave, the recomputed
    // batch lands, untouched partitions keep byte identity (pinned),
    // readers see old or new, never a mix or a gap — the backfill idiom.
    // Rows outside the predicate refuse the whole commit (pinned). At
    // 100 TB: a backfill keyed on the partition column replaces only the
    // slice — zero survivor rewrite in the dynamic case, stats-pruned
    // rewrite in the predicate case; the table is never unreadable
    // mid-swap (unlike delete-then-write INSERT OVERWRITE on plain
    // parquet).
    QueryDef.sql(
      "o41_replace_where",
      """SELECT o_orderkey,
        |       CAST(o_orderkey % 4 AS INT) AS bucket,
        |       CASE WHEN o_orderkey % 4 = 2 THEN 'replaced'
        |            WHEN o_orderkey % 4 = 1 THEN 'ow'
        |            ELSE 'orig' END AS tag
        |FROM orders WHERE o_orderkey % 16 < 8""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 16 < 8)
        .select(col("o_orderkey"),
          (col("o_orderkey") % 4).cast("int").as("bucket"),
          lit("orig").as("tag"))
      val root = ProcessNonce.scratchDir("graft_o41_replace",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      s.sql("DROP TABLE IF EXISTS graft_o41")
      val M = graft.sources.ManifestStore
      M.append(s, src, root, partitionBy = Seq("bucket")) // v1
      val v1 = M.latestSnapshot(s, root).get
      val untouched = v1.files.filter(_.partition.exists(p =>
        p.get("bucket").contains(Some("0")) || p.get("bucket").contains(Some("3"))))
        .map(_.path).toSet
      // replaceWhere through the idiomatic writer surface: ONE commit
      src.where(col("bucket") === 2).withColumn("tag", lit("replaced"))
        .write.format("graft-manifest").mode("overwrite")
        .option("replaceWhere", "bucket = 2").save(root)
      require(M.latestSnapshot(s, root).get.version == v1.version + 1,
        "replaceWhere must be ONE commit")
      // a row OUTSIDE the predicate refuses everything
      val eOut = try {
        M.overwriteWhere(s, src.limit(1).withColumn("bucket", lit(3)), root,
          "bucket = 2"); ""
      } catch { case e: Exception => String.valueOf(e.getMessage) }
      require(eOut.contains("outside the replaced slice"),
        s"out-of-slice rows must refuse: $eOut")
      // SQL INSERT OVERWRITE = dynamic partition overwrite (catalog order
      // puts the partition column last: o_orderkey, tag, bucket)
      s.sql(s"CREATE TABLE graft_o41 USING `graft-manifest` OPTIONS (path '$root')")
      src.createOrReplaceTempView("graft_o41_src")
      s.sql("INSERT OVERWRITE graft_o41 SELECT o_orderkey, 'ow' AS tag, bucket " +
        "FROM graft_o41_src WHERE bucket = 1")
      val after = M.latestSnapshot(s, root).get
      require(after.version == v1.version + 2, "INSERT OVERWRITE must be ONE commit")
      require(untouched.subsetOf(after.files.map(_.path).toSet),
        "untouched partitions must keep byte identity through BOTH overwrites")
      // time travel: v1 is still the all-orig state
      require(M.readVersion(s, root, v1.version)
        .where(col("tag") =!= "orig").count() == 0L)
      val out = s.sql("SELECT o_orderkey, bucket, tag FROM graft_o41")
      s.sql("DROP TABLE IF EXISTS graft_o41")
      out
    },

    // O42 (r15): CONVERT TO MANIFEST — in-place adoption of an existing
    // plain-parquet directory (the Delta CONVERT shape). One
    // footer-metadata pass (no data reads) commits v1 referencing the
    // ORIGINAL files — zero bytes move (pinned by path identity), typed
    // hive partition columns survive inference, harvested stats prune
    // immediately, and the adopted table is instantly ACID (an append
    // lands as v2; time travel reads the as-converted state). At 100 TB
    // this is the onboarding path: a parquet lake prefix becomes a
    // transactional, skippable table for the cost of reading footers.
    QueryDef.sql(
      "o42_convert_parquet",
      """SELECT o_orderkey, CAST(o_orderkey % 4 AS INT) AS bucket, o_totalprice
        |FROM orders WHERE o_orderkey % 16 < 6""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 16 < 6)
        .select(col("o_orderkey"),
          (col("o_orderkey") % 4).cast("int").as("bucket"),
          col("o_totalprice"))
      val root = ProcessNonce.scratchDir("graft_o42_convert",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      // the pre-existing plain parquet lake prefix (hive-partitioned)
      src.write.partitionBy("bucket").parquet(root)
      val plainPaths = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
        val b = Set.newBuilder[String]
        while (it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet")) b += p.toString
        }
        b.result()
      }
      val M = graft.sources.ManifestStore
      val v = M.convertParquet(s, root)
      val snap = M.latestSnapshot(s, root).get
      require(v == 1L && snap.op == "convert" && snap.partCols == Seq("bucket"))
      require(snap.files.map(_.path).toSet == plainPaths,
        "convert must reference the ORIGINAL files — zero bytes move")
      require(snap.files.forall(_.stats.nonEmpty),
        "footer harvest must stock stats for pruning")
      // partition pruning engages immediately on the adopted table
      require(M.prunedEntries(snap,
        Seq(org.apache.spark.sql.sources.EqualTo("bucket", 1))).size <
        snap.files.size, "the adopted table must prune partitions")
      // and it is instantly ACID: an append commits v2, v1 stays exact
      M.append(s, src.limit(0), root, // empty append: version bump at most
        partitionBy = Seq("bucket"))
      require(M.readVersion(s, root, 1L).count() == src.count(),
        "v1 must stay the as-converted state")
      M.table(s, root).select("o_orderkey", "bucket", "o_totalprice")
    },

    // O36 (r14): RESTORE — durable time travel. A MoR delete removes rows
    // at v2; RESTORE TABLE ... VERSION AS OF 1 commits v3 whose live state
    // is exactly v1's (file+dv list identical, zero data bytes move, txn
    // watermarks kept), while v2 stays time-travelable. The oracle is the
    // ORIGINAL content — restore must round-trip the delete away exactly.
    QueryDef.sql(
      "o36_restore",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 4 = 2""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .where(col("o_orderkey") % 4 === 2)
      val root = ProcessNonce.scratchDir("graft_o36_restore",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, base.repartitionByRange(4, col("o_orderkey")), root) // v1
      val v1 = M.latestSnapshot(s, root).get
      val (nDel, _, v2) = M.deleteWhereMergeOnRead(s, root,
        Seq(org.apache.spark.sql.sources.GreaterThan("o_orderkey", 0L)))
      require(nDel > 0 && v2 == 2L, s"the delete must bite: $nDel @ v$v2")
      val v3 = M.restore(s, root, 1L)
      val snap = M.latestSnapshot(s, root).get
      require(v3 == 3L && snap.op == "restore")
      require(snap.files.map(f => f.path -> f.dv.map(_.path)) ==
        v1.files.map(f => f.path -> f.dv.map(_.path)),
        "restored state must be exactly v1's file+dv list")
      require(M.readVersion(s, root, 2L).count() == v1.files.map(_.rows).sum - nDel,
        "the deleted state must stay time-travelable")
      M.table(s, root)
    },

    // O35 (r14, VERDICT r13 #5): MULTI-TABLE consistent replication — two
    // mirrors advance under a two-phase VERSION-VECTOR pin (capture both
    // heads, then apply each mirror to exactly its pin), every apply
    // stamping a shared EPOCH watermark; consistentMirrorVersions returns
    // the newest epoch present on BOTH mirrors with each one's exact
    // version, and the answer JOINS the two mirrors AT those versions —
    // join-consistent time travel across tables (the documented posture:
    // exactly as consistent as the sources were at capture, since no
    // cross-table transaction exists to copy). Oracle: the end state
    // replayed in pure SQL.
    QueryDef.sql(
      "o35_multi_replicate",
      """WITH a AS (SELECT doc_id, lang FROM documents
        |           WHERE doc_id % 2 = 0 AND NOT (doc_id % 6 = 0)),
        |     b AS (SELECT doc_id, n_chars * 2 AS twice FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(twice) AS BIGINT) AS sum_twice
        |FROM a JOIN b USING (doc_id) GROUP BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tag = Integer.toHexString(d.hashCode)
      val srcA = ProcessNonce.scratchDir("graft_o35_srca", tag)
      val srcB = ProcessNonce.scratchDir("graft_o35_srcb", tag)
      val dstA = ProcessNonce.scratchDir("graft_o35_dsta", tag)
      val dstB = ProcessNonce.scratchDir("graft_o35_dstb", tag)
      val hc = s.sparkContext.hadoopConfiguration
      Seq(srcA, srcB, dstA, dstB).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).delete(hp, true): Unit
      }
      val M = graft.sources.ManifestStore
      val R = graft.sources.Materialized
      val tables = Seq((srcA, dstA, Seq("doc_id")), (srcB, dstB, Seq("doc_id")))
      M.append(s, docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "lang").repartition(4, col("doc_id")), srcA)
      M.append(s, docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), (col("n_chars") * 2).as("twice")), srcB)
      R.replicateConsistent(s, tables) // epoch 1
      // both sources advance DIFFERENTLY; the pin keeps the pair coherent
      M.deleteMorExpr(s, srcA, M.latestSnapshot(s, srcA).get,
        pruning = Seq.empty, cond = pmod(col("doc_id"), lit(6)) === 0)
      M.append(s, docs.where(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), (col("n_chars") * 2).as("twice")), srcB)
      R.replicateConsistent(s, tables) // epoch 2
      val (epoch, at) = R.consistentMirrorVersions(s, Seq(dstA, dstB)).getOrElse(
        sys.error("no complete epoch across the mirrors"))
      require(epoch == 2L, s"expected epoch 2, got $epoch")
      M.readVersion(s, dstA, at(dstA))
        .join(M.readVersion(s, dstB, at(dstB)), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("twice").as("sum_twice"))
    },

    // O32 (r14, VERDICT r13 #2): COLUMN MAPPING — RENAME COLUMN and DROP
    // COLUMN as METADATA-ONLY commits (files keep their immutable physical
    // names; the manifest carries the logical schema + logical→physical
    // map; the read path rewrites reader schemas/filters per file — the
    // Delta name-mapping architecture). Pinned here: zero data entries
    // change across both DDL commits, reads/filters/MoR-DML speak the new
    // logical names, stats pruning still bites through the mapping, and a
    // mapped table's manifests carry format v3 (pre-r14 readers refuse
    // loudly instead of serving physical columns under stale names). The
    // oracle replays the surviving rows with the renamed projection in
    // pure SQL.
    QueryDef.sql(
      "o32_column_mapping",
      """SELECT doc_id, n_chars AS chars
        |FROM documents WHERE doc_id % 5 = 2 AND NOT (doc_id % 3 = 0)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        .where(col("doc_id") % 5 === 2)
      val root = ProcessNonce.scratchDir("graft_o32_colmap",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      M.append(s, docs.repartitionByRange(8, col("doc_id")), root)
      val before = M.latestSnapshot(s, root).get
      // two metadata-only DDL commits: rename + drop move ZERO data bytes
      M.renameColumn(s, root, "n_chars", "chars")
      M.dropColumn(s, root, "lang")
      val snap = M.latestSnapshot(s, root).get
      require(snap.files == before.files,
        "rename/drop must be metadata-only (no data entry may change)")
      require(snap.colMap == Map("chars" -> "n_chars") &&
        snap.droppedPhys == Seq("lang"),
        s"mapping state: ${snap.colMap} / ${snap.droppedPhys}")
      // stats pruning maps the LOGICAL filter onto the physical stats key
      val probe = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val kept = M.prunedEntries(snap,
        Seq(org.apache.spark.sql.sources.GreaterThan("doc_id", probe)))
      require(kept.nonEmpty && kept.size < snap.files.size,
        s"range-laid-out table must still prune through the mapping: " +
          s"${kept.size}/${snap.files.size}")
      // MoR delete keyed on the ORIGINAL column name via its NEW name —
      // one dv commit, the mapped read applies it
      M.deleteMorExpr(s, root, snap, pruning = Seq.empty,
        cond = pmod(col("doc_id"), lit(3)) === 0)
      M.table(s, root).select(col("doc_id"), col("chars"))
    },

    // O21 (r11): NESTED data skipping — struct leaves carry min/max stats
    // under parquet's dotted path (VERDICT r10 missing #4's second half),
    // so a `meta.custkey` predicate prunes files exactly like a flat one,
    // through the library Filter ADT AND the planner-integrated format
    // (GetStructField translation). Pins: nested-pruned read parity
    // (count + key sum, replayed flat by the oracle), strict file
    // pruning, and format-read parity with the library path.
    QueryDef.sql(
      "o21_manifest_nested",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       true AS answer_parity, true AS files_pruned
        |FROM orders WHERE o_orderkey % 3 = 2
        |  AND o_custkey >= (9 * (SELECT max(o_custkey) FROM orders
        |                         WHERE o_orderkey % 3 = 2)) // 10""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"),
          struct(col("o_custkey").as("custkey"),
            col("o_totalprice").as("price")).as("meta"))
      val root = ProcessNonce.scratchDir("graft_o21_nested",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      // range layout on the NESTED key → tight per-file meta.custkey bounds
      M.append(s, src.repartitionByRange(16, col("meta.custkey"))
        .sortWithinPartitions(col("meta.custkey")), root)
      val snap = M.latestSnapshot(s, root).get
      val cut = 9L * src.agg(max(col("meta.custkey"))).as[Long].head() / 10L
      val pred = Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("meta.custkey", cut))
      val kept = M.prunedEntries(snap, pred)
      val (nGot, sumGot) = M.readWhere(s, root, pred)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      val (nExp, sumExp) = src.where(col("meta.custkey") >= cut)
        .agg(count(lit(1)), sum("o_orderkey")).as[(Long, Option[Long])].head()
      // the planner path answers identically (GetStructField → dotted key)
      val fmtN = s.read.format("graft-manifest").load(root)
        .where(col("meta.custkey") >= cut).count()
      val filesPruned = snap.files.forall(_.stats.contains("meta.custkey")) &&
        kept.nonEmpty && kept.size < snap.files.size
      Seq((nGot, sumGot.getOrElse(0L),
        nGot == nExp && sumGot == sumExp && fmtN == nExp, filesPruned))
        .toDF("n_rows", "key_sum", "answer_parity", "files_pruned")
    },

    // O15 (r10): manifest SCHEMA EVOLUTION — a later batch ADDS a nullable
    // column (the table schema travels in the manifest, so old files
    // null-fill it on read), while time travel replays the schema each
    // version actually had. Pins: total multiset survival, the exact
    // null-filled row count (replayed by the oracle as the old-batch
    // count), the widened column list, and the old version's narrower one
    // (VERDICT r9 #3).
    QueryDef.sql(
      "o15_manifest_evolution",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS n_nullfilled,
        |       true AS widened, true AS timetravel_ok
        |FROM orders WHERE o_orderkey % 9 = 2""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val src = Tables.orders(s, d).where(col("o_orderkey") % 9 === 2)
      val root = ProcessNonce.scratchDir("graft_o15_evolution",
        Integer.toHexString(d.hashCode))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val M = graft.sources.ManifestStore
      val narrowCols = Seq("o_orderkey", "o_totalprice")
      M.append(s, src.where(col("o_orderkey") % 2 === 0)
        .select(narrowCols.map(col): _*), root)
      M.append(s, src.where(col("o_orderkey") % 2 =!= 0)
        .select((narrowCols :+ "o_orderpriority").map(col): _*), root)
      val full = M.read(s, root)
      val widened = full.columns.toSeq == Seq("o_orderkey", "o_totalprice", "o_orderpriority")
      val timetravelOk =
        M.readVersion(s, root, 1L).columns.toSeq == narrowCols
      val nRows = full.count()
      val nNullfilled = full.where(col("o_orderpriority").isNull).count()
      Seq((nRows, nNullfilled, widened, timetravelOk))
        .toDF("n_rows", "n_nullfilled", "widened", "timetravel_ok")
    },

    // J6c: TPC-H Q3 shape — shipping-priority top-10 (join + agg + top-k).
    QueryDef.sql(
      "q3_shipping_priority",
      """SELECT l_orderkey,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |       epoch_ms(o_orderdate) AS orderdate_ms, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val cust = broadcast(Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey"))
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") < QueryDef.ts("1998-01-01"))
      Tables.lineitem(s, d)
        .where(col("l_shipdate") > QueryDef.ts("1998-01-01"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          // the parquet column reads as TIMESTAMP_NTZ; under the UTC session
          // the LTZ cast is instant-preserving and matches epoch_ms
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    // J6d: TPC-H Q10 shape — returned-item reporting. Distinct from the Q5
    // shape (j6_multiway_join): the group key is HIGH-cardinality
    // (customer), so the aggregate genuinely shuffles on it and the top-20
    // rides TakeOrderedAndProject over a customer-sized intermediate; the
    // date window prunes orders before the fact-fact join and the returnflag
    // filter pushes into the lineitem scan.
    QueryDef.sql(
      "q10_returned_items",
      """SELECT c_custkey, c_name, n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val nat = broadcast(Tables.nation(s, d).select("n_nationkey", "n_name"))
      // no broadcast hint on customer: it is SF-proportional, so at scale
      // this join must be free to shuffle — AQE broadcasts it at small SF
      // on its own
      val cust = Tables.customer(s, d)
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name")
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= QueryDef.ts("1996-01-01") &&
          col("o_orderdate") < QueryDef.ts("1996-07-01"))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // A10d: TPC-H Q6 shape — pure pushdown filter + single aggregate.
    QueryDef.sql(
      "q6_forecast_revenue",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= QueryDef.ts("1996-01-01") &&
          col("l_shipdate") < QueryDef.ts("1997-01-01") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast(DecimalType(18, 6)))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },

    // O7d/e: bag-semantics set ops (EXCEPT ALL / INTERSECT ALL preserve
    // duplicate multiplicity, unlike their DISTINCT forms).
    QueryDef.sql(
      "o7_except_all",
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      def side(p: String) = Tables.orders(s, d)
        .where(col("o_orderpriority") === p).select("o_custkey")
      side("1-URGENT").exceptAll(side("2-HIGH")).orderBy("o_custkey")
    },

    QueryDef.sql(
      "o7_intersect_all",
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      def side(p: String) = Tables.orders(s, d)
        .where(col("o_orderpriority") === p).select("o_custkey")
      side("1-URGENT").intersectAll(side("2-HIGH")).orderBy("o_custkey")
    },

    // O9: Z-order (Morton) clustering key — the multi-dimensional layout
    // story (see operators.Layout): interleaving (l_partkey, l_suppkey)
    // bits into one sort key keeps parquet min/max stats tight in BOTH
    // columns, so two-dimensional predicates skip files. The curve value
    // is pure integer bit arithmetic — fully oracle-replayable; the
    // file-skipping effect itself is asserted in ScaleOpsSpec.
    QueryDef.sql(
      "o9_zorder_curve",
      s"""SELECT l_orderkey, l_linenumber,
         |  ${graft.operators.Layout.duckZValue(Seq("l_partkey", "l_suppkey"))} AS z
         |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.zValue(Seq(col("l_partkey"), col("l_suppkey"))).as("z"))
    },

    // O10: skew-mitigated aggregate (operators.Skew) — lineitem's
    // l_returnflag holds 3 values over the whole table, the degenerate
    // hot-key shape where every row of a 100 TB fact lands on 3 reducers.
    // saltedSum pre-aggregates on (key, salt-from-row-content) so the hot
    // keys spread across `salts` reducers, then combines the partials —
    // exact for sums (associative + commutative), and exactly replayable
    // because the value is summed as DECIMAL (FP addition order would
    // otherwise differ between the salted and plain plans). Plan shape
    // (two-phase partial on (key, __salt)) pinned in PlanSpec.
    QueryDef.sql(
      "o10_salted_agg",
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      graft.operators.Skew.saltedSum(Tables.lineitem(s, d), Seq("l_returnflag"),
          col("l_quantity").cast(DecimalType(18, 2)))
        .select(col("l_returnflag"), col("total").cast("double").as("total_qty"))
        .orderBy("l_returnflag")
    },

    // X1: cache/persist parity (chapter1/SparkRDDAPITest.scala:63) — a cached
    // aggregate consumed twice must equal its recomputed twin.
    QueryDef.sql(
      "x1_cache_reuse",
      """WITH agg AS (SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment)
        |SELECT 'a' AS branch, c_mktsegment, n FROM agg
        |UNION ALL
        |SELECT 'b' AS branch, c_mktsegment, n FROM agg
        |ORDER BY branch, c_mktsegment""".stripMargin) { (s, d) =>
      // Pinned, not raw .cache(): the documented release lifecycle must
      // reclaim this too (review r9 — same class as the x3/x4 fix)
      val agg = graft.operators.Pinned.pin(
        Tables.customer(s, d).groupBy("c_mktsegment").agg(count(lit(1)).as("n")))
      agg.select(lit("a").as("branch"), col("c_mktsegment"), col("n"))
        .union(agg.select(lit("b").as("branch"), col("c_mktsegment"), col("n")))
        .orderBy("branch", "c_mktsegment")
    },

    // J2b: TPC-H Q4 shape — EXISTS-driven priority report. The subquery is
    // a left-semi join: the quarter window prunes orders before the probe,
    // and the lineitem side never projects more than the join key, so at
    // 100 TB the semi-join shuffles (orderkey, nothing else) and the
    // aggregate runs over the quarter's orders only.
    QueryDef.sql(
      "q4_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val flagged = Tables.lineitem(s, d)
        .where(col("l_returnflag") === "R").select("l_orderkey")
      Tables.orders(s, d)
        .where(col("o_orderdate") >= QueryDef.ts("1996-01-01") &&
          col("o_orderdate") < QueryDef.ts("1996-04-01"))
        .join(flagged, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // A10e: TPC-H Q14 shape — conditional aggregate ratio over a fact-dim
    // join (promo revenue share). part is the broadcast dimension; both
    // sums run in DECIMAL so partial-aggregation order is immaterial, and
    // the ratio surfaces as a rounded double.
    QueryDef.sql(
      "q14_promo_revenue",
      """SELECT round((100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE))
        |             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS promo_pct,
        |       count(*) AS n
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-03-01'""".stripMargin) { (s, d) =>
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 6))
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= QueryDef.ts("1996-01-01") &&
          col("l_shipdate") < QueryDef.ts("1996-03-01"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round((lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double"))
            / sum(rev).cast("double"), 6).as("promo_pct"),
          count(lit(1)).as("n"))
    },

    // J6e/A10f: TPC-H Q18 shape — large-order customers: a HAVING filter on
    // a fact-wide aggregate feeds a join chain. The lineitem aggregate
    // pre-reduces map-side (sum of per-order quantities), the surviving
    // "big orders" set is selective so AQE broadcasts it into the orders
    // join, and the top-100 rides TakeOrderedAndProject. l_quantity values
    // are integral, so the double sum is exact in any order.
    QueryDef.sql(
      "q18_large_orders",
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 140
        |)
        |SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS orderdate_ms,
        |       o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey").agg(sum("l_quantity").as("sum_qty"))
        .where(col("sum_qty") > 140)
      big
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },

    // J6f: TPC-H Q19 shape — disjunctive join predicate (OR of brand/size/
    // quantity conjunctions). Catalyst extracts the per-side implications of
    // the DNF (part rows outside every brand/size window, and lineitem rows
    // outside every quantity window, are filtered BEFORE the join), so the
    // disjunction does not force a full fact-dim product even though no
    // single conjunct is a join-wide filter.
    QueryDef.sql(
      "q19_disjunctive_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |      (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30))""".stripMargin) { (s, d) =>
      val disj =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 30))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .where(disj)
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }
  )
}
