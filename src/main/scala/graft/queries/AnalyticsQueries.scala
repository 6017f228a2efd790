package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analytics.Analytics
import graft.core.{Persisted, Tables}

/** Ad-hoc SQL / catalog / export surface (S12–S15) plus the remaining
  * §2 inventory gaps: W3 label encoding and T2 pagination. */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // S15: the reference's exemplar ad-hoc query through spark.sql
    // (postgres_reader.py:290-295), over registered temp views.
    "an_adhoc_sql" -> ((s, dir) => Analytics.runSql(s, dir,
      """SELECT o_orderstatus,
        |       COUNT(*) AS total_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |         AS avg_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),
    "an_catalog_tables" -> ((s, dir) => Analytics.listTables(s, dir)),
    "an_describe_table" -> ((s, dir) => Analytics.describeTable(s, dir, "lineitem")),
    "an_csv_roundtrip" -> ((s, dir) => Analytics.csvRoundTrip(s, dir, "region")),
    "an_json_roundtrip" -> ((s, dir) => Analytics.jsonRoundTrip(s, dir, "nation")),
    "an_orc_roundtrip" -> ((s, dir) => Analytics.orcRoundTrip(s, dir, "supplier")),
    // W3: label encoding — frequency-desc dense codes (StringIndexer
    // semantics: most frequent value gets 0, ties alphabetical).
    "w3_label_encoding" -> ((s, dir) => {
      val counts = Tables(s, dir).customer
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      counts.withColumn("label_idx",
          dense_rank().over(Window.orderBy(col("n").desc, col("c_mktsegment"))) - 1)
        .select("c_mktsegment", "n", "label_idx")
    }),
    // data-quality constraint suite (the dbt-test / Great-Expectations
    // capability a warehouse load gates on): each constraint is one
    // aggregate over the table it audits — uniqueness of the order
    // key, referential integrity orders→customer (an anti-join
    // count), a domain-range check, and not-null checks — emitted as
    // (constraint, n_violations, passed) so the load can fail fast
    // AND report what broke. Every check is a partial-agg scan or one
    // slim anti-join; nothing materializes violating ROWS unless a
    // human asks (the counts are the gate).
    "an_profile" -> ((s, dir) => {
      // one-pass column profiling (the Deequ/analyze-table shape a DQ
      // platform runs on every new partition): per column, null count
      // + exact distinct count, computed in a SINGLE agg over one scan
      // (Catalyst plans the multi-distinct via one Expand — rows grow
      // ×columns map-side, partial-agg friendly, never a scan per
      // column) and reshaped to one row per column with stack. All
      // metrics are integers, so the profile is engine-exact.
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_nd")))
      val wide = Tables(s, dir).orders.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c => s"'$c', ${c}_nulls, ${c}_nd").mkString(", ")
      wide.select(col("n_rows"),
          expr(s"stack(${cols.length}, $stackArgs) AS (column_name, n_nulls, n_distinct)"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
    }),
    "an_dq_checks" -> ((s, dir) => {
      val t = Tables(s, dir)
      def row(name: String, violations: DataFrame): DataFrame =
        violations.select(lit(name).as("constraint_name"),
          col("n").cast("long").as("n_violations"),
          (col("n") === 0).as("passed"))
      val dupKeys = t.orders.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n"))
      val orphans = t.orders.join(t.customer,
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val qtyRange = t.lineitem
        .filter(col("l_quantity") < 1 || col("l_quantity") > 50)
        .agg(count(lit(1)).as("n"))
      val nullBal = t.customer.filter(col("c_acctbal").isNull)
        .agg(count(lit(1)).as("n"))
      row("orders_pk_unique", dupKeys)
        .unionByName(row("orders_custkey_fk", orphans))
        .unionByName(row("lineitem_qty_range", qtyRange))
        .unionByName(row("customer_acctbal_not_null", nullBal))
    }),
    // T2: LIMIT/OFFSET pagination (page 3 of 100, stable order).
    "t2_pagination" -> ((s, dir) =>
      Tables(s, dir).orders
        .orderBy(col("o_orderkey"))
        .offset(200).limit(100)
        .select("o_orderkey", "o_totalprice")),
    // Cost-based-optimizer statistics surface: ANALYZE TABLE writes
    // table-level (row count, size) and column-level (HLL-approximate
    // NDV) statistics to the catalog; with CBO on, the optimizer uses
    // them for join reordering and build-side selection — the stats
    // pass that makes multi-join plans survive 100 TB. The emitted row
    // carries the OPTIMIZER-VISIBLE row count (exact, oracle-checked)
    // and a15-style 10%-error-bound contracts for the approximate NDVs (ANALYZE uses a coarser default HLL precision than approx_count_distinct).
    // CBO is enabled on a child session so the flag can't leak.
    "an_analyze_stats" -> ((s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.cbo.enabled", "true")
      val tn = graft.core.GraftSession.scratchTable(s, "stats", dir)
      Tables(ss, dir).orders.write.mode("overwrite").saveAsTable(tn)
      ss.sql(s"ANALYZE TABLE $tn COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderstatus")
      // plan-level statistics read SQLConf.get from the thread's ACTIVE
      // session — pin it to the CBO-enabled child for the read, then
      // restore, so the stats visitor actually runs in CBO mode
      org.apache.spark.sql.SparkSession.setActiveSession(ss)
      val stats = try ss.table(tn).queryExecution.optimizedPlan.stats
                  finally org.apache.spark.sql.SparkSession.setActiveSession(s)
      val rowCount = stats.rowCount.map(_.toLong).getOrElse(-1L)
      val ndv = stats.attributeStats.map { case (a, st) =>
        a.name -> st.distinctCount.map(_.toLong).getOrElse(-1L) }
      val exact = ss.table(tn)
        .agg(countDistinct(col("o_orderkey")), countDistinct(col("o_orderstatus"))).head()
      val (ek, es) = (exact.getLong(0), exact.getLong(1))
      ss.sql(s"DROP TABLE $tn")
      import s.implicits._
      Seq((rowCount,
        stats.sizeInBytes > 0,
        math.abs(ndv("o_orderkey") - ek) <= (ek * 0.10).toLong,
        math.abs(ndv("o_orderstatus") - es) <= math.max(1L, (es * 0.10).toLong)))
        .toDF("row_count", "size_known",
          "ndv_orderkey_within_10pct", "ndv_status_within_10pct")
    }),
    // malformed-input handling — the ingest reality at 100 TB: feeds
    // always contain broken lines, and the mode choice (fail / keep +
    // quarantine / drop) must be explicit, not incidental. PERMISSIVE
    // parses good rows and captures broken lines in a corrupt-record
    // column (the quarantine pattern: bad rows land in a side table
    // for reprocessing, the pipeline keeps moving); DROPMALFORMED
    // silently discards. The emitted row carries all three observed
    // counts, every one oracle-stated.
    "an_badrecords" -> ((s, dir) => Persisted.scoped { p =>
      val out = graft.core.GraftSession.scratchDir(s, "badrec", dir)
      val t = Tables(s, dir)
      t.nation.toJSON.write.mode("overwrite").text(out)
      // append a file of known-broken lines (truncated JSON, plain
      // text, bare bracket) — the shapes real feeds break in
      import s.implicits._
      Seq("""{"n_nationkey": 991, "n_name": "TRUNCATED""",
          "not json at all",
          "[")
        .toDF("value").coalesce(1).write.mode("append").text(out)
      val schema = org.apache.spark.sql.types.StructType(
        t.nation.schema.fields :+
          org.apache.spark.sql.types.StructField("_bad",
            org.apache.spark.sql.types.StringType))
      // Spark disallows filtering on ONLY the corrupt column straight
      // off the raw scan (it would be pruned away) — materialize the
      // parse once, then split good/quarantined from the cached frame
      val permissive = p.keep(s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out))
      val dropped = s.read.schema(org.apache.spark.sql.types.StructType(schema.dropRight(1)))
        .option("mode", "DROPMALFORMED").json(out)
      Seq((permissive.filter(col("_bad").isNull).count(),
           permissive.filter(col("_bad").isNotNull).count(),
           dropped.count()))
        .toDF("n_good", "n_quarantined", "n_after_drop")
    }),
    // schema evolution — the lake's tables grow columns over years;
    // mergeSchema unions the per-file schemas at read time so old
    // files surface NULL for columns they predate. The emitted row
    // pins both generation counts and the null accounting of the
    // late-added column.
    "s16_schema_evolution" -> ((s, dir) => {
      val out = graft.core.GraftSession.scratchDir(s, "schevo", dir)
      val t = Tables(s, dir)
      t.region.select("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      t.region.select(col("r_regionkey"), col("r_name"),
          upper(col("r_name")).as("r_name_upper"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      val merged = s.read.option("mergeSchema", "true").parquet(out)
      import s.implicits._
      Seq((merged.count(),
           merged.filter(col("r_name_upper").isNull).count(),
           merged.filter(col("gen") === 1 && col("r_name_upper").isNotNull).count(),
           merged.columns.sorted.mkString(",")))
        .toDF("n_rows", "n_null_new_col", "n_old_gen_with_new_col", "merged_columns")
    }),
    // cohort retention — the e-commerce analytics staple the reference's
    // dashboards gesture at (README.md:63-66 "customer behavior"): bucket
    // every customer by first-order month, then count distinct returning
    // customers and revenue at each month-age. One shuffle for the
    // per-customer window min, one for the cohort × age aggregate; no
    // self-join (the classic formulation joins orders to itself).
    "w7_cohort_retention" -> ((s, dir) => {
      val m = trunc(to_date(col("o_orderdate")), "month")
      val perCust = Window.partitionBy(col("o_custkey"))
      Tables(s, dir).orders
        .select(col("o_custkey"), m.as("order_month"), col("o_totalprice"))
        .withColumn("cohort_month", min(col("order_month")).over(perCust))
        .withColumn("month_age",
          months_between(col("order_month"), col("cohort_month")).cast("bigint"))
        .groupBy(col("cohort_month"), col("month_age"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
             Relational.dsum(col("o_totalprice")).as("revenue"))
    }))

  val oracles: Map[String, String] = Map(
    "an_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS column_name,
           |       (SELECT COUNT(*) FROM orders) AS n_rows,
           |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_nulls,
           |       COUNT(DISTINCT $c) AS n_distinct
           |FROM orders""".stripMargin).mkString("\nUNION ALL\n")
    },
    "an_dq_checks" ->
      """SELECT 'orders_pk_unique' AS constraint_name,
        |       CAST((SELECT COUNT(*) FROM (
        |          SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
        |         AS BIGINT) AS n_violations,
        |       (SELECT COUNT(*) FROM (
        |          SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)) = 0
        |         AS passed
        |UNION ALL
        |SELECT 'orders_custkey_fk',
        |       CAST((SELECT COUNT(*) FROM orders o
        |             WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |       (SELECT COUNT(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = o.o_custkey)) = 0
        |UNION ALL
        |SELECT 'lineitem_qty_range',
        |       CAST((SELECT COUNT(*) FROM lineitem
        |             WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
        |       (SELECT COUNT(*) FROM lineitem
        |        WHERE l_quantity < 1 OR l_quantity > 50) = 0
        |UNION ALL
        |SELECT 'customer_acctbal_not_null',
        |       CAST((SELECT COUNT(*) FROM customer
        |             WHERE c_acctbal IS NULL) AS BIGINT),
        |       (SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL) = 0""".stripMargin,
    "an_adhoc_sql" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS total_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |         AS avg_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "an_catalog_tables" ->
      """SELECT unnest(['customer','documents','embeddings','events','lineitem',
        |               'nation','orders','part','region','supplier']) AS table_name""".stripMargin,
    "an_describe_table" ->
      """SELECT unnest(['l_orderkey','l_partkey','l_suppkey','l_linenumber',
        |               'l_quantity','l_extendedprice','l_discount','l_tax',
        |               'l_returnflag','l_linestatus','l_shipdate']) AS column_name,
        |       unnest(['bigint','bigint','bigint','int','double','double',
        |               'double','double','string','string','timestamp_ntz']) AS data_type,
        |       unnest(range(1, 12)) AS ordinal_position""".stripMargin,
    "an_csv_roundtrip" -> "SELECT * FROM region",
    "an_json_roundtrip" -> "SELECT * FROM nation",
    "an_orc_roundtrip" -> "SELECT * FROM supplier",
    "w3_label_encoding" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |       DENSE_RANK() OVER (ORDER BY COUNT(*) DESC, c_mktsegment) - 1 AS label_idx
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "t2_pagination" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 100 OFFSET 200""".stripMargin,
    "an_analyze_stats" ->
      """SELECT COUNT(*) AS row_count, TRUE AS size_known,
        |       TRUE AS ndv_orderkey_within_10pct, TRUE AS ndv_status_within_10pct
        |FROM orders""".stripMargin,
    "an_badrecords" ->
      """SELECT (SELECT COUNT(*) FROM nation) AS n_good,
        |       CAST(3 AS BIGINT) AS n_quarantined,
        |       (SELECT COUNT(*) FROM nation) AS n_after_drop""".stripMargin,
    "s16_schema_evolution" ->
      """SELECT (SELECT COUNT(*) * 2 FROM region) AS n_rows,
        |       (SELECT COUNT(*) FROM region) AS n_null_new_col,
        |       CAST(0 AS BIGINT) AS n_old_gen_with_new_col,
        |       'gen,r_name,r_name_upper,r_regionkey' AS merged_columns""".stripMargin,
    "w7_cohort_retention" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        |         o_totalprice,
        |         MIN(CAST(date_trunc('month', o_orderdate) AS DATE))
        |           OVER (PARTITION BY o_custkey) AS cohort_month
        |  FROM orders)
        |SELECT cohort_month,
        |       date_diff('month', cohort_month, order_month) AS month_age,
        |       COUNT(DISTINCT o_custkey) AS n_customers,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM o GROUP BY 1, 2""".stripMargin)
}
