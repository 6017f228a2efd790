package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.core.{Persisted, Tables}

/** Relational operator inventory (SURVEY.md §2.1–§2.8) demonstrated on
  * the harness tables, each with a DuckDB-checkable oracle.
  *
  * Oracle-parity conventions used throughout:
  *  - money/double SUM/AVG go through DecimalType(18,4) so the result is
  *    order-independent (double summation is not associative; decimal is
  *    exact), then cast back to double — both engines produce identical
  *    bits;
  *  - every computed column is aliased identically in the Spark code and
  *    the oracle SQL (the driver compares columns by name);
  *  - nondeterministic "keep first" dedup is made deterministic with an
  *    explicit row_number tiebreak.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Exact, order-independent sum of a double column. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)
  /** Exact average: decimal-exact sum divided by count, in double. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))
  /** Epoch seconds (with fraction) — matches DuckDB epoch(ts). Parquet
    * ms-timestamps arrive as TIMESTAMP_NTZ, which has no direct double
    * cast; route through TIMESTAMP (identity under the UTC session TZ). */
  def epochs(c: Column): Column = c.cast("timestamp").cast(DoubleType)

  val queries: Map[String, Q] = Map(
    // ---- §2.4 A-class: the flagship pricing-summary aggregation -------
    "q1_agg" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integer-valued doubles: exact
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    "q5_local_supplier" -> ((s, dir) => {
      // TPC-H Q5-shaped showcase: revenue from LOCAL fulfilment
      // (supplier and customer share a nation) per nation of one
      // region, one year. Written as declarative joins and left to
      // Catalyst: the dim chain (region→nation) broadcasts, the date
      // filter pushes to the orders scan, and the c_nationkey =
      // s_nationkey correlation rides the two fact joins as a post-
      // join filter — exactly the plan a hand scheduler would pick,
      // for free. Revenue is decimal-summed (order-independent).
      val t = Tables(s, dir)
      t.region.filter(col("r_name") === "ASIA")
        .join(t.nation, col("n_regionkey") === col("r_regionkey"))
        .join(t.supplier, col("s_nationkey") === col("n_nationkey"))
        .join(t.lineitem, col("l_suppkey") === col("s_suppkey"))
        .join(t.orders.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t.customer, col("c_custkey") === col("o_custkey")
            && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---- §2.1 scans / sinks --------------------------------------------
    "s3_full_scan" -> ((s, dir) => Tables(s, dir).region),
    "s5_incremental_scan" -> ((s, dir) => {
      // incremental extract with the predicate pushed to the parquet
      // scan: the events file stores ts as TIMESTAMP(NANOS) (read as
      // Long ns), so `to_date(converted_ts) >= D` is rewritten to the
      // equivalent raw-unit bound ns >= epochNanos(D 00:00 UTC) and
      // applied BELOW the conversion — PushedFilters then carries the
      // range instead of a post-scan filter over every row.
      val t = Tables(s, dir)
      val raw = t.eventsRaw
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
        val cutoffNs = java.time.LocalDate.parse("2024-01-30")
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
        raw.filter(col("ts") >= lit(cutoffNs))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .select("event_id", "ts", "user_id", "event_type", "value")
      } else
        t.events
          .filter(to_date(col("ts")) >= lit("2024-01-30").cast("date"))
          .select("event_id", "ts", "user_id", "event_type", "value")
    }),
    "s8_upsert" -> ((s, dir) => {
      // MERGE-equivalent without Delta: union(base, updates) then keep the
      // newest row per key (updates win). Pure shuffle-on-key; scales.
      val t = Tables(s, dir)
      val base = t.part.withColumn("_src", lit(0))
      val updates = t.part
        .filter(col("p_partkey") % 10 === 0)
        .withColumn("p_retailprice", round(col("p_retailprice") * 1.1, 2))
        .withColumn("_src", lit(1))
      val w = Window.partitionBy(col("p_partkey")).orderBy(col("_src").desc)
      base.unionByName(updates)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_src")
    }),
    "s9_keyed_delete" -> ((s, dir) => {
      // keyed DELETE as a left_anti join (S9): drop parts ever returned.
      val t = Tables(s, dir)
      val returned = t.lineitem.filter(col("l_returnflag") === "R")
        .select(col("l_partkey").as("p_partkey")).distinct()
      t.part.join(returned, Seq("p_partkey"), "left_anti")
    }),

    // ---- §2.2 projections / filters / null handling ---------------------
    "p1_projection" -> ((s, dir) =>
      Tables(s, dir).customer.select("c_custkey", "c_mktsegment")),
    "p5_null_fill" -> ((s, dir) =>
      // P5/P6: constant null-fill + cast (nullif manufactures the nulls —
      // the harness tables are fully populated).
      Tables(s, dir).documents.select(
        col("doc_id"),
        coalesce(nullif(col("lang"), lit("en")), lit("unknown")).as("lang_filled"),
        coalesce(nullif(col("n_chars"), lit(0L)), lit(1L)).cast("int").as("n_chars_i"))),
    "p7_dedup_key" -> ((s, dir) => {
      // dedup on a key subset keeping a deterministic "first" (earliest
      // ts, then event_id): the order-stabilized form of P7.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select("user_id", "event_id", "ts", "event_type")
    }),
    "p9_distinct" -> ((s, dir) =>
      Tables(s, dir).lineitem.select("l_returnflag", "l_linestatus").distinct()),
    "p10_date_predicate" -> ((s, dir) =>
      Tables(s, dir).orders
        .filter(to_date(col("o_orderdate")) >= lit("2000-01-01").cast("date"))
        .select("o_orderkey", "o_orderdate")),

    "p13_json_extract" -> ((s, dir) =>
      // semi-structured extraction: schema'd from_json parse of the
      // props payload (declared schema → codegen'd JsonToStructs, no
      // per-row inference; at corpus scale inference is a second scan).
      Tables(s, dir).events.select(
        col("event_id"), col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_val"))),

    "p14_unpivot" -> ((s, dir) => {
      // wide → long reshape (melt): per-nation entity counts unpivoted
      // to (nation, metric, value) rows. `stack` is a codegen'd
      // projection — the reshape itself adds NO shuffle on top of the
      // two counting aggs, unlike the naive N-scan UNION ALL the
      // oracle spells out (fine for DuckDB; at scale one scan must
      // feed all output rows, which is exactly what stack does).
      val t = Tables(s, dir)
      val cust = t.customer.groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      val supp = t.supplier.groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"))
      cust.join(supp, Seq("nationkey"), "full")
        .select(col("nationkey"),
          expr("""stack(2, 'n_customers', coalesce(n_customers, 0L),
                 |         'n_suppliers', coalesce(n_suppliers, 0L))
                 |  AS (metric, value)""".stripMargin))
    }),

    // ---- §2.3 joins ------------------------------------------------------
    "j1_left_join_broadcast" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.nation.join(broadcast(t.region),
          t.nation("n_regionkey") === t.region("r_regionkey"), "left")
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
    }),
    "j2_fact_join_chain" -> ((s, dir) => {
      // The fact-build join chain (J2): orders ⟕ lineitem (1:N grain
      // explosion) ⟕ customer projection (N:1), with the reference's
      // derivations: total amount (M0) and fractional-day latency (D2).
      val t = Tables(s, dir)
      val custProj = t.customer.select("c_custkey", "c_mktsegment")
      t.orders
        .join(t.lineitem, t.orders("o_orderkey") === t.lineitem("l_orderkey"), "left")
        .join(custProj, t.orders("o_custkey") === custProj("c_custkey"), "left")
        .select(
          col("o_orderkey"), col("l_linenumber"), col("c_mktsegment"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_amount"),
          ((epochs(col("l_shipdate")) - epochs(col("o_orderdate"))) / 86400.0)
            .as("ship_latency_days"))
    }),
    "j3_inner_join_agg" -> ((s, dir) => {
      // the reference's exemplar ad-hoc query (postgres_reader.py:290-295):
      // COUNT + AVG over an order ⋈ payment-like join.
      val t = Tables(s, dir)
      t.orders.join(t.lineitem,
          t.orders("o_orderkey") === t.lineitem("l_orderkey"))
        .agg(count(lit(1)).as("total_rows"),
             davg(col("l_extendedprice")).as("avg_price"))
    }),
    "j4_semi_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.join(
          t.orders.select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    "j5_anti_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.join(
          t.orders.select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "j7_band_join" -> ((s, dir) => {
      // band (range) join without a cartesian: bucket the band column
      // at the tolerance width, probe own + neighbor buckets, verify
      // the exact predicate. LOSSLESS for |diff| <= W when bucket
      // width = W: any qualifying pair is at most one bucket apart.
      // Equi-join on (nation, bucket) = one shuffle; the naive theta
      // join is |customer| x |supplier-per-nation|.
      val W = 100.0
      val t = Tables(s, dir)
      val sup = t.supplier
        .select(col("s_suppkey"), col("s_nationkey").as("nation"), col("s_acctbal"))
        .withColumn("bucket", floor(col("s_acctbal") / W))
      val cust = t.customer
        .select(col("c_custkey"), col("c_nationkey").as("nation"), col("c_acctbal"))
        .withColumn("b0", floor(col("c_acctbal") / W))
        .withColumn("bucket", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      cust.join(sup, Seq("nation", "bucket"))
        .filter(abs(col("c_acctbal") - col("s_acctbal")) <= W)
        .select("c_custkey", "s_suppkey", "nation", "c_acctbal", "s_acctbal")
    }),
    "j6_asof_join" -> ((s, dir) => {
      // point-in-time enrichment: each event gets the key of the most
      // recent order its user placed at-or-before the event time
      // (union/carry-forward formulation — one shuffle, no range-join
      // row explosion; see operators.AsofJoin). Orders are deduped to
      // one row per (custkey, orderdate) as as-of semantics require.
      val t = Tables(s, dir)
      val ev = t.events.select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("_tus", unix_micros(col("ts")))
      val ord = t.orders
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("asof_orderkey"))
        .withColumn("_tus", unix_micros(col("o_orderdate").cast("timestamp")))
      graft.operators.AsofJoin
        .asofJoin(ev, "user_id", "_tus", ord, "o_custkey", "_tus", Seq("asof_orderkey"))
        .select("event_id", "user_id", "ts", "asof_orderkey")
    }),

    // ---- §2.4 aggregations ----------------------------------------------
    "a1_count" -> ((s, dir) =>
      Tables(s, dir).lineitem.agg(count(lit(1)).as("n_rows"))),
    "a3_collect_set" -> ((s, dir) =>
      // rendered as a sorted CSV string: the driver's pandas comparator
      // can't hash array cells, so the checked projection is scalar.
      Tables(s, dir).lineitem.groupBy(col("l_orderkey"))
        .agg(concat_ws(",", array_sort(collect_set(col("l_returnflag")))).as("flags"))),
    "a4_summary_stats" -> ((s, dir) => {
      // df.describe() semantics, computed from exact sums so the oracle
      // matches bit-for-bit (l_quantity is integer-valued).
      Tables(s, dir).lineitem.agg(
        count(col("l_quantity")).as("cnt"),
        davg(col("l_quantity")).as("mean"),
        min(col("l_quantity")).as("min_q"),
        max(col("l_quantity")).as("max_q"),
        dsum(col("l_quantity") * col("l_quantity")).as("sum_sq"))
    }),
    "a5_null_counts" -> ((s, dir) => {
      val t = Tables(s, dir).events
      t.agg(
        sum(col("user_id").isNull.cast("int")).as("null_user_id"),
        sum(col("event_type").isNull.cast("int")).as("null_event_type"),
        sum(col("value").isNull.cast("int")).as("null_value"),
        sum(col("props").isNull.cast("int")).as("null_props"))
    }),
    "a6_distinct_count" -> ((s, dir) =>
      Tables(s, dir).lineitem.agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))),
    "a11_rollup" -> ((s, dir) =>
      // hierarchical subtotals in ONE pass (partial-agg friendly) —
      // vs re-aggregating per level. Beyond the reference's surface;
      // decimal sums keep every level order-independent.
      Tables(s, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice")).as("sum_price"))),
    "a12_pivot" -> ((s, dir) =>
      // pivot to one column per order status (explicit value list so
      // the plan is a single pass with no distinct-values pre-query).
      Tables(s, dir).orders
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        // empty pivot cells are null in Spark, 0 under the oracle's
        // COUNT(*) FILTER — normalize so every scale factor matches
        .na.fill(0L, Seq("n_f", "n_o", "n_p"))),
    "a10_salted_agg" -> ((s, dir) =>
      // two-phase salted aggregation — the skew-safe shape for
      // heavy-hitter group keys: partials over (key, salt) spread one
      // hot key across the cluster; the final combine only touches
      // n_keys × n_salts rows. Decimal partials make the result
      // independent of the combine order, so the oracle (a plain
      // GROUP BY) matches bit-for-bit.
      Tables(s, dir).events
        .withColumn("_salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("_salt"))
        .agg(count(lit(1)).as("_n"),
             sum(col("value").cast(DecimalType(18, 4))).as("_v"))
        .groupBy("event_type")
        .agg(sum(col("_n")).as("n_events"),
             sum(col("_v")).cast(DoubleType).as("sum_value"))),

    // ---- §2.5 window functions --------------------------------------------
    "w1_surrogate_key" -> ((s, dir) =>
      // dense 1..n surrogate key by natural-key order (W1). Single-window
      // global sort: fine at dimension scale; zipWithIndex at fact scale.
      Tables(s, dir).customer
        .withColumn("customer_key", row_number().over(Window.orderBy(col("c_custkey"))))
        .select("customer_key", "c_custkey", "c_name")),
    "w2_dense_code" -> ((s, dir) =>
      // categorical dense coding (W2): alphabetical dense_rank, the exact
      // semantics of pandas .astype('category').cat.codes + 1. The
      // distinct runs BEFORE the unpartitioned window: dense_rank over
      // the distinct values assigns the same (value, code) pairs as
      // dense_rank over every row (ties share a rank; distinct-after
      // kept one pair per value anyway), but the single-partition
      // window then sees one row per category instead of the whole
      // orders table — the map-side partial distinct is what crosses
      // the exchange. Same rows, same schema, oracle untouched.
      Tables(s, dir).orders
        .select("o_orderpriority").distinct()
        .withColumn("priority_key", dense_rank().over(Window.orderBy(col("o_orderpriority"))))
        .select("o_orderpriority", "priority_key")),
    "w5_distribution" -> ((s, dir) => {
      // distribution analytics: quartile bucketing + cumulative/percent
      // rank over account balance (deterministic tie-break on key).
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      Tables(s, dir).customer.select(
        col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cume"),
        percent_rank().over(w).as("prank"))
    }),
    "w4_analytics" -> ((s, dir) => {
      // beyond-reference window analytics: lag + moving aggregate.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events.select(
        col("user_id"), col("event_id"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("event_seq"))
    }),

    // ---- §2.6 sorts / limits / top-k ---------------------------------------
    "t1_order_by" -> ((s, dir) =>
      Tables(s, dir).region.orderBy(col("r_name"))),
    "t3_topk" -> ((s, dir) =>
      Tables(s, dir).orders
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")),
    "t4_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      Tables(s, dir).lineitem
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("l_suppkey", "rk", "l_orderkey", "l_linenumber", "l_extendedprice")
    }),
    "t5_topk_agg" -> ((s, dir) =>
      // per-group top-k via the custom TypedImperativeAggregate
      // (topk_scores, GraftExtensions): bounded per-group heaps merge
      // map-side, so only k rows per group per partition reach the
      // exchange — vs t4's window formulation which shuffles and sorts
      // every row. Identical output to the window form (unique items).
      Tables(s, dir).lineitem
        .select(col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("item"),
          col("l_extendedprice").as("score"))
        .groupBy("l_suppkey")
        .agg(expr("topk_scores(item, score, 3)").as("topk"))
        .select(col("l_suppkey"), posexplode(col("topk")))
        .select(col("l_suppkey"), (col("pos") + 1).as("rk"),
          col("col.item").as("item"), col("col.score").as("score"))),
    "t6_deterministic_sample" -> ((s, dir) =>
      // scalable deterministic sampler (key-mod) standing in for the
      // reference's seeded random sampling (T6) — reproducible across
      // engines and cluster sizes, unlike rand(seed).
      Tables(s, dir).orders
        .filter(col("o_orderkey") % 37 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    "t7_argmax" -> ((s, dir) =>
      // np.argmax analog (SURVEY §2.6 T7): single max row, ties broken
      // on the natural key so both engines select the same row. A
      // LIMIT-1 TakeOrdered never sorts more than 1 row per partition.
      Tables(s, dir).lineitem
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")),

    // ---- §2.7 set operations ------------------------------------------------
    "u1_union" -> ((s, dir) => {
      val t = Tables(s, dir)
      val a = t.orders.filter(col("o_orderstatus") === "F").select("o_orderkey")
      val b = t.orders.filter(col("o_totalprice") > 400000.0).select("o_orderkey")
      a.unionByName(b).distinct()
    }),
    "u2_intersect" -> ((s, dir) => {
      val t = Tables(s, dir)
      val building = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val with2000 = t.orders.filter(year(col("o_orderdate")) === 2000)
        .select(col("o_custkey").as("custkey")).distinct()
      building.intersect(with2000)
    }),
    "u3_except" -> ((s, dir) => {
      val t = Tables(s, dir)
      val all = t.customer.select(col("c_custkey").as("custkey"))
      val building = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      all.except(building)
    }),

    // ---- §2.8 scalar functions -------------------------------------------
    "f_string_funcs" -> ((s, dir) =>
      // F1-F6: casts, zfill (lpad), title-case, upper/lower, concat.
      Tables(s, dir).supplier.select(
        col("s_suppkey"),
        lpad(col("s_suppkey").cast("string"), 5, "0").as("zip5"),
        initcap(lower(col("s_name"))).as("name_title"),
        upper(col("s_name")).as("name_upper"),
        lower(col("s_name")).as("name_lower"),
        concat(col("s_name"), lit("/"), col("s_suppkey").cast("string")).as("tagged"))),
    "d_date_funcs" -> ((s, dir) =>
      // D1-D8 on real data: parse/extract/derive date parts.
      Tables(s, dir).orders.select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        ((dayofweek(col("o_orderdate")) + 5) % 7).as("dow_mon0"),
        date_format(col("o_orderdate"), "EEEE").as("day_name"),
        dayofweek(col("o_orderdate")).isin(1, 7).as("is_weekend"))),
    "d4_calendar_dim" -> ((s, dir) =>
      // dim_dates (D4-D8): generated calendar 2016-01-01..2025-12-31.
      s.sql(
        """SELECT date_key,
          |       day(date_key)                        AS day,
          |       month(date_key)                      AS month,
          |       year(date_key)                       AS year,
          |       quarter(date_key)                    AS quarter,
          |       (dayofweek(date_key) + 5) % 7        AS day_of_week,
          |       date_format(date_key, 'EEEE')        AS day_name,
          |       date_format(date_key, 'MMMM')        AS month_name,
          |       dayofweek(date_key) IN (1, 7)        AS is_weekend
          |FROM (SELECT explode(sequence(to_date('2016-01-01'),
          |                              to_date('2025-12-31'),
          |                              interval 1 day)) AS date_key)
          |""".stripMargin)),
    "d10_gapfill" -> ((s, dir) => {
      // time-series densification: every (customer, month) cell over
      // the whole order span, zero-filled where no orders exist — what
      // every trend/retention chart needs before it can plot. Scale
      // shape: the month spine is O(months) — broadcast it; the only
      // shuffle is the per-(customer, month) count. Never the naive
      // custs × months × orders triple join.
      val ord = Tables(s, dir).orders
        .select(col("o_custkey"), trunc(to_date(col("o_orderdate")), "month").as("month"))
      val spine = ord.agg(min(col("month")).as("mn"), max(col("month")).as("mx"))
        .select(explode(expr("sequence(mn, mx, interval 1 month)")).as("month"))
      val counts = ord.groupBy(col("o_custkey"), col("month"))
        .agg(count(lit(1)).as("n"))
      ord.select("o_custkey").distinct()
        .crossJoin(broadcast(spine))
        .join(counts, Seq("o_custkey", "month"), "left")
        .select(col("o_custkey"), col("month"),
          coalesce(col("n"), lit(0L)).as("n_orders"))
    }),
    "w9_funnel" -> ((s, dir) => {
      // ordered conversion funnel — view → click → purchase, each step
      // only counting if it happens AT OR AFTER the user's previous
      // step (the ordering is what separates a funnel from three
      // independent counts). Three window passes over ONE shuffle on
      // user_id (same partitioning, Spark reuses the exchange), then a
      // global one-row rollup. Microsecond ticks for engine-identical
      // step boundaries.
      val w = Window.partitionBy(col("user_id"))
      Tables(s, dir).events
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
        .withColumn("mv", min(when(col("event_type") === "view", col("tus"))).over(w))
        .withColumn("mc", min(when(col("event_type") === "click" &&
          col("tus") >= col("mv"), col("tus"))).over(w))
        .withColumn("mp", min(when(col("event_type") === "purchase" &&
          col("tus") >= col("mc"), col("tus"))).over(w))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("mv").isNotNull, col("user_id"))).as("n_viewed"),
          countDistinct(when(col("mc").isNotNull, col("user_id"))).as("n_clicked_after_view"),
          countDistinct(when(col("mp").isNotNull, col("user_id"))).as("n_purchased_after_click"))
    }),
    "w8_sessionize_batch" -> ((s, dir) => {
      // batch sessionization (the offline twin of st_sessionize): a new
      // session starts when the silence EXCEEDS 30 min. The boundary is
      // session_window's: Spark merges adjacent session windows, so an
      // event landing exactly 30:00 after its predecessor still merges
      // (SessionBoundarySpec pins all three sessionizers to this rule
      // on exact-boundary fixtures). Session id = running count of
      // session starts per user. One shuffle on user_id; both window
      // passes share its sort. Microsecond ticks so every engine cuts
      // on the same boundary.
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      Tables(s, dir).events
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
        .withColumn("new_sess",
          when(col("tus") - lag(col("tus"), 1).over(byUser) > 1800000000L, 1)
            .otherwise(when(lag(col("tus"), 1).over(byUser).isNull, 1).otherwise(0)))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("tus")).as("start_us"),
             max(col("tus")).as("end_us"))
    }),
    "w10_attribution" -> ((s, dir) => {
      // last-touch attribution — every purchase is credited to the
      // user's most recent click/view AT OR BEFORE the purchase, but
      // only within a 7-day lookback (stale touches don't convert).
      // Expressed as the as-of join (union/carry-forward, one shuffle
      // on user_id, zero row multiplication — see operators.AsofJoin)
      // with the lookback applied as a projection on the carried
      // touch; the naive range-join builds |purchases| × |touches/
      // user| rows before pruning, which detonates on active users at
      // warehouse scale. Touches are deduped to one row per (user,
      // tick) with the max-event_id winner, as as-of semantics
      // require; microsecond ticks keep both engines on the same
      // boundary.
      val ev = Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), unix_micros(col("ts")).as("_tus"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("_tus"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"), col("_tus"))
        .agg(max(col("event_id")).as("t_id"),
             expr("max_by(event_type, event_id)").as("t_type"))
        .withColumn("t_tus", col("_tus"))
      val lookbackUs = 7L * 24 * 3600 * 1000000
      graft.operators.AsofJoin
        .asofJoin(purchases, "user_id", "_tus",
          touches, "user_id", "_tus", Seq("t_id", "t_type", "t_tus"))
        .withColumn("_fresh",
          col("t_tus").isNotNull && col("t_tus") >= col("_tus") - lookbackUs)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("_fresh"), col("t_id")).as("touch_event_id"),
          when(col("_fresh"), col("t_type")).as("touch_type"),
          col("_fresh").as("attributed"))
    }),
    "w11_market_basket" -> ((s, dir) => Persisted.scoped { p =>
      // market-basket pair mining — support/lift for parts co-ordered
      // in the same order, the association-rule core of an e-commerce
      // "bought together" feature. The scale discipline is apriori
      // pruning BEFORE pairing: an item in fewer than minsup orders
      // can't be in a frequent pair, so it never enters the self-join
      // (on a power-law catalog this drops most of the long tail
      // before the quadratic step). Pairs per order are bounded by
      // basket size, so the self-join on okey is linear in baskets ×
      // basket²; the pair agg is one shuffle on the pair key. Lift is
      // one IEEE division of exactly-representable integer products
      // (< 2^53) — bit-identical in any engine.
      val minSup = 2
      val items = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      val freq = items.groupBy(col("pk"))
        .agg(count(lit(1)).as("n_item"))
        .filter(col("n_item") >= minSup)
      val fi = p.keep(items.join(freq, Seq("pk")))
      val nOrders = items.select(countDistinct(col("okey")).as("n_orders"))
      val pairs = fi.select(col("okey"), col("pk").as("part_a"), col("n_item").as("n_a"))
        .join(fi.select(col("okey"), col("pk").as("part_b"), col("n_item").as("n_b")),
          Seq("okey"))
        .filter(col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("n_a"), col("part_b"), col("n_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minSup)
      pairs.crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          ((col("n_ab") * col("n_orders")).cast(DoubleType) /
            (col("n_a") * col("n_b")).cast(DoubleType)).as("lift"))
    }),
    "w12_peak_backlog" -> ((s, dir) => {
      // per-supplier peak backlog: the most line items simultaneously
      // open (ordered but not yet shipped, order date → ship date
      // inclusive) — interval concurrency WITHOUT the interval
      // self-join. The sweep-line form: +1 at the order date, -1 the
      // day after shipment, collapse to one net row per (supplier,
      // day), then a running sum ordered by day; the peak is the max
      // prefix. One join + one shuffle on supplier + one sort vs the
      // naive overlaps-self-join whose output is quadratic in the
      // per-key interval count (rush-season suppliers detonate it).
      // Placing the -1 at day+1 makes within-day ordering irrelevant,
      // so the result is engine-independent with no tie rule at all.
      val t = Tables(s, dir)
      val li = t.lineitem
        .select(col("l_orderkey"), col("l_suppkey").as("s_suppkey"),
          to_date(col("l_shipdate")).as("d2"))
        .join(t.orders.select(col("o_orderkey").as("l_orderkey"),
          to_date(col("o_orderdate")).as("d1")), Seq("l_orderkey"))
      // explode both endpoints from ONE pass over the join output — a
      // union of two selects over `li` would re-run the join per branch
      val deltas = li
        .select(col("s_suppkey"), explode(array(
          struct(col("d1").as("day"), lit(1L).as("delta")),
          struct(date_add(col("d2"), 1).as("day"), lit(-1L).as("delta")))).as("e"))
        .select(col("s_suppkey"), col("e.day").as("day"), col("e.delta").as("delta"))
        .groupBy(col("s_suppkey"), col("day"))
        .agg(sum(col("delta")).as("net"))
      deltas
        .withColumn("active", sum(col("net"))
          .over(Window.partitionBy(col("s_suppkey")).orderBy(col("day"))))
        .groupBy(col("s_suppkey"))
        .agg(max(col("active")).as("peak_backlog"))
    }),
    "w13_rfm" -> ((s, dir) => Persisted.scoped { p =>
      // RFM segmentation (recency / frequency / monetary quintiles) —
      // the classic e-commerce customer scoring. The trap at scale is
      // the textbook `ntile(5) OVER (ORDER BY metric)`: a global
      // window with no PARTITION BY collapses every customer into ONE
      // task. Instead each metric gets a distributed exact rank —
      // range-partition on (metric, key), local sort, zipWithIndex —
      // the same machinery as the fact-scale surrogate key (w1b);
      // quintile = closed-form `(rank-1)*5 div n + 1`, reproduced
      // verbatim in the oracle from row_number(), so no engine's
      // ntile tie rules are in play. Monetary sums are decimal-exact
      // (order-independent), ranks tie-break on the key: fully
      // deterministic end to end.
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val base = p.keep(Tables(s, dir).orders
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
             count(lit(1)).as("n_orders"),
             dsum(col("o_totalprice")).as("monetary")))
      def ranked(metric: String, rankName: String): DataFrame = {
        val ordered = base.select(col("c_custkey"), col(metric))
          .repartitionByRange(s.sparkContext.defaultParallelism,
            col(metric), col("c_custkey"))
          .sortWithinPartitions(metric, "c_custkey")
        val schema = StructType(Seq(
          StructField("c_custkey", LongType, nullable = false),
          StructField(rankName, LongType, nullable = false)))
        s.createDataFrame(
          ordered.rdd.zipWithIndex().map { case (row, i) =>
            Row(row.getLong(0), i + 1)
          }, schema)
      }
      val n = base.select(count(lit(1)).as("n_cust"))
      base
        .join(ranked("last_order", "rr"), Seq("c_custkey"))
        .join(ranked("n_orders", "fr"), Seq("c_custkey"))
        .join(ranked("monetary", "mr"), Seq("c_custkey"))
        .crossJoin(broadcast(n))
        .select(col("c_custkey"), col("last_order"), col("n_orders"), col("monetary"),
          expr("(rr - 1) * 5 div n_cust + 1").as("r_score"),
          expr("(fr - 1) * 5 div n_cust + 1").as("f_score"),
          expr("(mr - 1) * 5 div n_cust + 1").as("m_score"))
        .withColumn("rfm_code",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
    }),
    "w16_mom_growth" -> ((s, dir) => {
      // month-over-month revenue growth per nation — the dashboard
      // staple, kept engine-exact: revenue in integer 1e-4 currency
      // units (decimal-summed), growth as a ×10⁴ integer quotient of
      // (cur − prev) over prev with the sign applied OUTSIDE the
      // division (w14's truncate-vs-floor rule). One shuffle for the
      // (nation, month) agg; the lag window rides the same nation
      // partitioning — bounded per-nation partitions.
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val monthly = t.orders
        .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 4))) * 10000)
          .cast("long").as("rev_e4"))
      monthly.withColumn("prev_e4", lag(col("rev_e4"), 1).over(
          Window.partitionBy(col("n_name")).orderBy(col("month"))))
        .filter(col("prev_e4").isNotNull)
        .withColumn("growth_x1e4",
          expr("CASE WHEN rev_e4 < prev_e4 THEN -1L ELSE 1L END" +
            " * ((10000 * abs(rev_e4 - prev_e4)) div prev_e4)"))
    }),
    "w15_gaps_islands" -> ((s, dir) => {
      // gaps-and-islands: each user's runs of CONSECUTIVE active days
      // (the streak/churn-gap primitive behind retention and engagement
      // metrics). The classic rewrite: day − row_number(day) is
      // constant exactly within a consecutive run, so one per-user
      // window + one groupBy finds every island — no self-join, no
      // iteration. Scale shape: both the window and the agg partition
      // by user (same key, one shuffle), and the window's per-user
      // partitions are bounded by calendar days.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir).events
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      ev.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("day"))))
        .withColumn("grp", date_sub(col("day"), col("rn")))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("island_start"),
          max(col("day")).as("island_end"),
          count(lit(1)).as("n_days"))
        .drop("grp")
    }),
    "w14_trend" -> ((s, dir) => {
      // per-nation revenue trend: EXACT least-squares slope over
      // monthly revenue, as a rational. Floating-point regression
      // (regr_slope) is order-dependent and drifts across engines, so
      // the slope ships as integer numerator/denominator from the
      // closed form n·Σxy − Σx·Σy over n·Σx² − (Σx)²: x = months
      // since 1992-01 (bounded by the calendar), y = monthly revenue
      // in exact 1e-4 currency units (decimal-summed, then an
      // integer-valued cast). The scaled quotient applies the sign
      // OUTSIDE the division — Spark `div` truncates toward zero,
      // DuckDB `//` floors, and they only agree on non-negatives.
      // Scale shape: one fact join (co-partitionable on custkey), a
      // two-level partial agg (month grain then nation grain — the
      // regression state per group is 5 numbers, a classic mergeable
      // aggregate), nation dim broadcast. Magnitudes fit BIGINT up to
      // ~1000× this data; past that the sums swap to DECIMAL(38,0).
      val t = Tables(s, dir)
      val monthly = t.orders
        .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          ((year(col("o_orderdate")) - 1992) * 12
            + month(col("o_orderdate")) - 1).cast("long").as("x"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev"))
        .select(col("n_name"), col("x"),
          (col("rev") * 10000).cast("long").as("y"))
      // slope arithmetic in DECIMAL(38,0), not BIGINT: at sf10 the
      // products n·Σxy and 100·|slope_num| sit at ~2.4e18-2.4e20 —
      // past the 9.2e18 long ceiling (caught by the round-13 sf10
      // sweep as an ANSI ARITHMETIC_OVERFLOW). Decimal(38,0) buys
      // ~1e19 more decades of headroom; the per-row x·y product and
      // the monthly y stay long (x is calendar-bounded, y hits the
      // long wall only past ~1e5× this data — and errs loudly in
      // BOTH engines there, same as before). DuckDB mirrors with
      // HUGEINT internally. The EMITTED slope_num/slope_den are cast
      // to DOUBLE: the driver comparator materializes Spark
      // DECIMAL(38,0) as Python Decimal but DuckDB's as float64 —
      // value-equal, dtype-mismatched (round-13 regression; same
      // class as the HUGEINT note below). Both engines round the
      // same exact integer to nearest-double, so the compare stays
      // deterministic; slope_x100 (the actual answer) is computed
      // from the exact decimal form BEFORE the cast and stays
      // BIGINT-exact. Rule of thumb: driver-visible output columns
      // come from the comparator-stable set {BIGINT, DOUBLE,
      // VARCHAR, DATE/TIMESTAMP, BOOLEAN} only.
      val d38 = DecimalType(38, 0)
      monthly.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_months"),
          sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"))
        .select(col("n_name"), col("n_months"),
          (col("n_months").cast(d38) * col("sxy") - col("sx") * col("sy"))
            .cast(d38).as("num38"),
          (col("n_months").cast(d38) * col("sxx") - col("sx") * col("sx"))
            .cast(d38).as("den38"))
        // a single-month nation has zero x-variance (slope_den = 0,
        // slope undefined) — excluded rather than emitting a silent
        // NULL from the division
        .filter(col("n_months") >= 2)
        .select(col("n_name"), col("n_months"),
          col("num38").cast("double").as("slope_num"),
          col("den38").cast("double").as("slope_den"),
          expr("CASE WHEN num38 < 0 THEN -1L ELSE 1L END" +
            " * ((100 * abs(num38)) div den38)").as("slope_x100"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "s3_full_scan" -> "SELECT * FROM region",
    "s5_incremental_scan" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-30'""".stripMargin,
    "s8_upsert" ->
      """WITH updates AS (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |         ROUND(p_retailprice * 1.1, 2) AS p_retailprice
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type, p.p_size,
        |       COALESCE(u.p_retailprice, p.p_retailprice) AS p_retailprice
        |FROM part p LEFT JOIN updates u USING (p_partkey)""".stripMargin,
    "s9_keyed_delete" ->
      """SELECT * FROM part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')""".stripMargin,
    "p1_projection" -> "SELECT c_custkey, c_mktsegment FROM customer",
    "p5_null_fill" ->
      """SELECT doc_id,
        |       COALESCE(NULLIF(lang, 'en'), 'unknown') AS lang_filled,
        |       CAST(COALESCE(NULLIF(n_chars, 0), 1) AS INTEGER) AS n_chars_i
        |FROM documents""".stripMargin,
    "p7_dedup_key" ->
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "p9_distinct" -> "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "p10_date_predicate" ->
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'""".stripMargin,
    "p13_json_extract" ->
      """SELECT event_id, event_type,
        |       CAST(props->>'k' AS INTEGER) AS k_val
        |FROM events""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "p14_unpivot" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
        |           FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
        |      FROM supplier GROUP BY 1),
        |w AS (SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |             coalesce(n_customers, 0) AS n_customers,
        |             coalesce(n_suppliers, 0) AS n_suppliers
        |      FROM c FULL JOIN s ON c.nationkey = s.nationkey)
        |SELECT nationkey, 'n_customers' AS metric,
        |       CAST(n_customers AS BIGINT) AS value FROM w
        |UNION ALL
        |SELECT nationkey, 'n_suppliers', CAST(n_suppliers AS BIGINT) FROM w""".stripMargin,
    "w5_distribution" ->
      """SELECT c_custkey, c_acctbal,
        |       NTILE(4) OVER w AS quartile,
        |       CUME_DIST() OVER w AS cume,
        |       PERCENT_RANK() OVER w AS prank
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)""".stripMargin,
    "j1_left_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "j2_fact_join_chain" ->
      """SELECT o_orderkey, l_linenumber, c_mktsegment,
        |       l_extendedprice * (1.0 - l_discount) AS net_amount,
        |       (epoch(l_shipdate) - epoch(o_orderdate)) / 86400.0 AS ship_latency_days
        |FROM orders
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j3_inner_join_agg" ->
      """SELECT COUNT(*) AS total_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,
    "j4_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin,
    "j5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "j7_band_join" ->
      """SELECT c_custkey, s_suppkey, c_nationkey AS nation, c_acctbal, s_acctbal
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey
        |WHERE abs(c_acctbal - s_acctbal) <= 100.0""".stripMargin,
    "w10_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts, MAX(event_id) AS t_id,
        |         arg_max(event_type, event_id) AS t_type
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |       CASE WHEN t.ts >= p.ts - INTERVAL 7 DAY THEN t.t_id END
        |         AS touch_event_id,
        |       CASE WHEN t.ts >= p.ts - INTERVAL 7 DAY THEN t.t_type END
        |         AS touch_type,
        |       coalesce(t.ts >= p.ts - INTERVAL 7 DAY, FALSE) AS attributed
        |FROM p ASOF LEFT JOIN t
        |  ON p.user_id = t.user_id AND p.ts >= t.ts""".stripMargin,
    "w11_market_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |f AS (SELECT pk, COUNT(*) AS n_item FROM items
        |      GROUP BY pk HAVING COUNT(*) >= 2),
        |fi AS (SELECT okey, i.pk, n_item FROM items i JOIN f USING (pk)),
        |n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
        |p AS (SELECT a.pk AS part_a, a.n_item AS n_a,
        |             b.pk AS part_b, b.n_item AS n_b, COUNT(*) AS n_ab
        |      FROM fi a JOIN fi b ON a.okey = b.okey AND a.pk < b.pk
        |      GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2)
        |SELECT part_a, part_b, n_ab, n_a, n_b,
        |       CAST(n_ab * n_orders AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS lift
        |FROM p, n""".stripMargin,
    "w12_peak_backlog" ->
      """WITH iv AS (
        |  SELECT l_suppkey AS s_suppkey,
        |         CAST(o_orderdate AS DATE) AS d1, CAST(l_shipdate AS DATE) AS d2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (
        |  SELECT s_suppkey, d1 AS day, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT s_suppkey, d2 + 1, -1 FROM iv),
        |b AS (SELECT s_suppkey, day, SUM(delta) AS net FROM e GROUP BY 1, 2),
        |a AS (SELECT s_suppkey,
        |             SUM(net) OVER (PARTITION BY s_suppkey ORDER BY day) AS active
        |      FROM b)
        |SELECT s_suppkey, CAST(MAX(active) AS BIGINT) AS peak_backlog FROM a GROUP BY 1""".stripMargin,
    "w13_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey AS c_custkey, MAX(o_orderdate) AS last_order,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |r AS (SELECT c_custkey,
        |             row_number() OVER (ORDER BY last_order, c_custkey) AS rr
        |      FROM base),
        |f AS (SELECT c_custkey,
        |             row_number() OVER (ORDER BY n_orders, c_custkey) AS fr
        |      FROM base),
        |m AS (SELECT c_custkey,
        |             row_number() OVER (ORDER BY monetary, c_custkey) AS mr
        |      FROM base),
        |n AS (SELECT COUNT(*) AS n_cust FROM base)
        |SELECT b.c_custkey, b.last_order, b.n_orders, b.monetary,
        |       (rr - 1) * 5 // n_cust + 1 AS r_score,
        |       (fr - 1) * 5 // n_cust + 1 AS f_score,
        |       (mr - 1) * 5 // n_cust + 1 AS m_score,
        |       ((rr - 1) * 5 // n_cust + 1) * 100
        |         + ((fr - 1) * 5 // n_cust + 1) * 10
        |         + ((mr - 1) * 5 // n_cust + 1) AS rfm_code
        |FROM base b
        |JOIN r USING (c_custkey) JOIN f USING (c_custkey)
        |JOIN m USING (c_custkey), n""".stripMargin,
    "w16_mom_growth" ->
      """WITH monthly AS (
        |  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 10000
        |              AS BIGINT) AS rev_e4
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |lagged AS (
        |  SELECT n_name, month, rev_e4,
        |         lag(rev_e4) OVER (PARTITION BY n_name ORDER BY month)
        |           AS prev_e4
        |  FROM monthly)
        |SELECT n_name, month, rev_e4, prev_e4,
        |       (CASE WHEN rev_e4 < prev_e4 THEN -1 ELSE 1 END)
        |         * ((10000 * abs(rev_e4 - prev_e4)) // prev_e4)
        |         AS growth_x1e4
        |FROM lagged WHERE prev_e4 IS NOT NULL""".stripMargin,
    "w15_gaps_islands" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |         day - CAST(row_number() OVER (PARTITION BY user_id
        |                    ORDER BY day) AS INTEGER) AS grp
        |  FROM ev)
        |SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
        |       COUNT(*) AS n_days
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "w14_trend" ->
      """WITH monthly AS (
        |  SELECT n_name,
        |         CAST((year(o_orderdate) - 1992) * 12
        |              + month(o_orderdate) - 1 AS BIGINT) AS x,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 10000
        |              AS BIGINT) AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT n_name, COUNT(*) AS n_months,
        |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |         SUM(CAST(x * y AS HUGEINT)) AS sxy,
        |         SUM(CAST(x * x AS HUGEINT)) AS sxx
        |  FROM monthly GROUP BY 1)
        |SELECT n_name, n_months,
        |       CAST(n_months * sxy - sx * sy AS DOUBLE) AS slope_num,
        |       CAST(n_months * sxx - sx * sx AS DOUBLE) AS slope_den,
        |       CAST((CASE WHEN n_months * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
        |         * ((100 * abs(n_months * sxy - sx * sy))
        |            // (n_months * sxx - sx * sx)) AS BIGINT) AS slope_x100
        |FROM s WHERE n_months >= 2""".stripMargin,
    "j6_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS asof_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, e.ts, r.asof_orderkey
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin,
    "a1_count" -> "SELECT COUNT(*) AS n_rows FROM lineitem",
    "a3_collect_set" ->
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "a4_summary_stats" ->
      """SELECT COUNT(l_quantity) AS cnt,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean,
        |       MIN(l_quantity) AS min_q,
        |       MAX(l_quantity) AS max_q,
        |       CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_sq
        |FROM lineitem""".stripMargin,
    // CAST ... AS BIGINT: DuckDB types SUM(int) as HUGEINT, which the
    // driver comparator materializes as float64 vs Spark's int64 —
    // value-equal but dtype-mismatched (round-1 hash_match:false).
    "a5_null_counts" ->
      """SELECT CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
        |       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
        |       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props
        |FROM events""".stripMargin,
    "a6_distinct_count" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin,
    "a10_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "a11_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "a12_pivot" ->
      """SELECT o_orderpriority,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "w1_surrogate_key" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key,
        |       c_custkey, c_name FROM customer""".stripMargin,
    "w2_dense_code" ->
      """SELECT DISTINCT o_orderpriority,
        |       DENSE_RANK() OVER (ORDER BY o_orderpriority) AS priority_key
        |FROM orders""".stripMargin,
    "w4_analytics" ->
      """SELECT user_id, event_id,
        |       LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS event_seq
        |FROM events""".stripMargin,
    "t1_order_by" -> "SELECT * FROM region ORDER BY r_name",
    "t3_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "t4_topk_per_group" ->
      """SELECT l_suppkey, rk, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
        |  FROM lineitem) WHERE rk <= 3""".stripMargin,
    "t5_topk_agg" ->
      """SELECT l_suppkey, rk, item, score FROM (
        |  SELECT l_suppkey,
        |         l_orderkey * 10 + l_linenumber AS item,
        |         l_extendedprice AS score,
        |         ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS rk
        |  FROM lineitem) WHERE rk <= 3""".stripMargin,
    "t6_deterministic_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 37 = 0""".stripMargin,
    "t7_argmax" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 1""".stripMargin,
    "u1_union" ->
      """SELECT DISTINCT o_orderkey FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin,
    "u2_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 2000""".stripMargin,
    "u3_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "f_string_funcs" ->
      """SELECT s_suppkey,
        |       LPAD(CAST(s_suppkey AS VARCHAR), 5, '0') AS zip5,
        |       UPPER(SUBSTR(s_name, 1, 1)) || LOWER(SUBSTR(s_name, 2)) AS name_title,
        |       UPPER(s_name) AS name_upper,
        |       LOWER(s_name) AS name_lower,
        |       s_name || '/' || CAST(s_suppkey AS VARCHAR) AS tagged
        |FROM supplier""".stripMargin,
    "d_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) AS order_date,
        |       year(o_orderdate) AS yr,
        |       quarter(o_orderdate) AS qtr,
        |       month(o_orderdate) AS mo,
        |       day(o_orderdate) AS dom,
        |       (dayofweek(o_orderdate) + 6) % 7 AS dow_mon0,
        |       dayname(o_orderdate) AS day_name,
        |       dayofweek(o_orderdate) IN (0, 6) AS is_weekend
        |FROM orders""".stripMargin,
    "d4_calendar_dim" ->
      """SELECT CAST(gs AS DATE) AS date_key,
        |       day(gs) AS day, month(gs) AS month, year(gs) AS year,
        |       quarter(gs) AS quarter,
        |       (dayofweek(gs) + 6) % 7 AS day_of_week,
        |       dayname(gs) AS day_name,
        |       monthname(gs) AS month_name,
        |       dayofweek(gs) IN (0, 6) AS is_weekend
        |FROM generate_series(DATE '2016-01-01', DATE '2025-12-31', INTERVAL 1 DAY) t(gs)""".stripMargin,
    "d10_gapfill" ->
      """WITH span AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS mn,
        |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mx
        |  FROM orders),
        |months AS (
        |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM span),
        |counts AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT c.o_custkey, m.month, COALESCE(ct.n, 0) AS n_orders
        |FROM (SELECT DISTINCT o_custkey FROM orders) c
        |CROSS JOIN months m
        |LEFT JOIN counts ct ON ct.o_custkey = c.o_custkey AND ct.month = m.month""".stripMargin,
    "w9_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN tus END)
        |                  OVER (PARTITION BY user_id) AS mv FROM e),
        |c AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND tus >= mv THEN tus END)
        |                  OVER (PARTITION BY user_id) AS mc FROM v),
        |p AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tus >= mc THEN tus END)
        |                  OVER (PARTITION BY user_id) AS mp FROM c)
        |SELECT COUNT(DISTINCT user_id) AS n_users,
        |       COUNT(DISTINCT CASE WHEN mv IS NOT NULL THEN user_id END) AS n_viewed,
        |       COUNT(DISTINCT CASE WHEN mc IS NOT NULL THEN user_id END) AS n_clicked_after_view,
        |       COUNT(DISTINCT CASE WHEN mp IS NOT NULL THEN user_id END) AS n_purchased_after_click
        |FROM p""".stripMargin,
    "w8_sessionize_batch" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |f AS (SELECT user_id, event_id, tus,
        |             CASE WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
        |                  WHEN LAG(tus) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |g AS (SELECT user_id, event_id, tus,
        |             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(tus) AS start_us, MAX(tus) AS end_us
        |FROM g GROUP BY 1, 2""".stripMargin
  )
}
