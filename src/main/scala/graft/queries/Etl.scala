package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.etl.{Pipeline, Warehouse}

/** Warehouse ETL surface (SURVEY.md §1.1.3, §7.1.4-5): each star-schema
  * table as an oracle-checked query, plus the full pipeline run as a
  * rows-only entry.
  *
  * DuckDB-oracle notes: DuckDB lacks `initcap`; the harness names are
  * single-token so `UPPER(SUBSTR(x,1,1)) || LOWER(SUBSTR(x,2))` is an
  * exact emulation (verified against the data).
  */
object Etl {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "etl_dim_customer" -> ((s, dir) => Warehouse.dimCustomer(Tables(s, dir))),
    "etl_dim_supplier" -> ((s, dir) => Warehouse.dimSupplier(Tables(s, dir))),
    "etl_dim_part"     -> ((s, dir) => Warehouse.dimPart(Tables(s, dir))),
    "etl_dim_geo"      -> ((s, dir) => Warehouse.dimGeo(Tables(s, dir))),
    "etl_dim_dates"    -> ((s, dir) => Warehouse.dimDates(Tables(s, dir))),
    "etl_dim_payments" -> ((s, dir) => Warehouse.dimPayments(Tables(s, dir))),
    "etl_fact_orders"  -> ((s, dir) => Warehouse.factOrders(Tables(s, dir))),
    // the reference fact grain is order × order-item × PAYMENT — two
    // consecutive 1:N left joins whose row multiplication is the #1
    // parity hazard (transform_fact_orders.py:15-16: merge on
    // order_items, then merge on payments, both how='left'). This
    // entry pins exactly that: per order, the joined frame must hold
    // max(n_items, 1) × n_payments rows — the count the oracle
    // re-derives from first principles. Counts only (no summed
    // measures), so the multiplication itself is what's hashed.
    "etl_fact_grain" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val t = Tables(s, dir)
      val pay = Warehouse.stagePayments(t)
      t.orders.select("o_orderkey")
        .join(t.lineitem.select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber")), Seq("o_orderkey"), "left")
        .join(pay.select(col("o_orderkey"), col("pay_seq")),
          Seq("o_orderkey"), "left")
        .groupBy(col("o_orderkey"))
        .agg(
          countDistinct(col("l_linenumber")).as("n_items"),
          countDistinct(col("pay_seq")).as("n_payments"),
          count(lit(1)).as("n_fact_rows"))
    }),
    // full DAG-equivalent rebuild; returns the per-stage summary.
    // The summary is deterministic (stage names + row counts), so it
    // gets a real oracle; the per-table oracles above cover content.
    "etl_pipeline" -> ((s, dir) => {
      // app-scoped like every other scratch output (a fixed path
      // would let concurrent Verify and Bench rebuilds overwrite each
      // other mid-read); dropScratch cleans it at main exit
      val out = graft.core.GraftSession.scratchDir(s, "warehouse", dir)
      val results = Pipeline.run(s, dir, out)
      import s.implicits._
      results.map(r => (r.name, r.rows, r.ok)).toDF("stage", "rows", "ok")
    }),
    "etl_wap" -> ((s, dir) => {
      // write-audit-publish — the Iceberg-era deploy discipline for
      // data: the candidate snapshot is STAGED to its own files, the
      // audits run against the staged files (never the live table),
      // and PUBLISH is one atomic metadata write (a manifest listing
      // the staged files) that only happens when every audit is
      // green — a bad load can therefore never be half-visible.
      // Serving reads THROUGH the manifest. Audits here: no null
      // keys, no duplicate keys, row floor. All emitted facts are
      // integers/booleans — engine-exact.
      import org.apache.spark.sql.functions._
      val root = graft.core.GraftSession.scratchDir(s, "wap", dir)
      // each run stages into its OWN directory and never deletes a
      // prior run's: committed manifest versions reference staged part
      // files by absolute path, so reusing (and overwriting) one
      // staged/ dir would break every already-published version —
      // exactly the repeatable-pinned-reader guarantee the ledger
      // makes. Old snapshots are reclaimed by vacuum against the
      // ledger (s19's discipline), never by the writer.
      val staged = s"$root/staged-${java.util.UUID.randomUUID}"
      val monthly = Tables(s, dir).orders
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"))
      monthly.write.mode("overwrite").parquet(staged)
      // read-backs take the schema of the frame written: no inference job
      val st = s.read.schema(monthly.schema).parquet(staged)
      // all three audits in ONE pass over the staged files: per-key
      // counts, then a single fold over that (bounded) frame
      val audit = st.groupBy(col("month")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
          coalesce(sum(when(col("month").isNull, col("c"))
            .otherwise(0L)), lit(0L)).as("nulls"),
          coalesce(max(col("c")), lit(0L)).as("maxc"))
        .head()
      val (nRows, nullKeys, maxPerKey) =
        (audit.getLong(0), audit.getLong(1), audit.getLong(2))
      val pass = nullKeys == 0 && maxPerKey <= 1 && nRows >= 1
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val conf = s.sparkContext.hadoopConfiguration
      val ledger = s"$root/ledger"
      if (pass) {
        val files = fs.listStatus(new org.apache.hadoop.fs.Path(staged))
          .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted.toSeq
        // PUBLISH is a CAS commit on the manifest ledger — a racing
        // writer forces a rebase + retry instead of a lost update
        // (WapConcurrencySpec pins the two-writer race)
        graft.etl.ManifestLedger.commitWithRetry(ledger, conf)(_ => files)
      }
      // serve through the ledger head; if nothing was EVER published
      // (failed audit on a fresh table), the serving table is empty —
      // report that honestly instead of crashing on an empty ledger
      val head = graft.etl.ManifestLedger.currentVersion(ledger, conf)
      val facts =
        if (head > 0) {
          val published = graft.etl.ManifestLedger.read(ledger, head, conf)
          s.read.schema(monthly.schema).parquet(published: _*)
            .agg(count(lit(1)).as("n_months"),
              coalesce(sum(col("n_orders")), lit(0L)).as("total_orders"))
        } else {
          import s.implicits._
          Seq((0L, 0L)).toDF("n_months", "total_orders")
        }
      facts.select(col("n_months"), col("total_orders"),
          lit(nullKeys == 0).as("audit_nonnull_ok"),
          lit(maxPerKey <= 1).as("audit_unique_ok"),
          lit(nRows >= 1).as("audit_rowcount_ok"),
          lit(pass).as("published"))
    }),
    "etl_backfill" -> ((s, dir) => {
      // incremental partition backfill — the op that replaces "rerun
      // the whole DAG" when one day of a 100 TB warehouse changes.
      // Change detection is a per-partition content fingerprint
      // (bit_xor of xxhash64 over the business columns: order- and
      // partitioning-independent, one scan, no sort); only partitions
      // whose fingerprint moved are rebuilt, through DYNAMIC partition
      // overwrite so untouched partition directories are never
      // rewritten. The build stamps each output partition with the
      // build generation, so "only 1997 was recomputed" is visible in
      // the result (and pinned by the oracle), not just asserted.
      import org.apache.spark.sql.functions._
      import graft.queries.Relational.dsum
      val root = graft.core.GraftSession.scratchDir(s, "bkf", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // replayable end to end: the op's effect IS its output state
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      def src(version: Int): DataFrame = {
        val o = Tables(s, dir).orders
          // NULL order dates land in an explicit default partition
          // (yr = -1), the warehouse convention — a NULL partition key
          // would otherwise crash the driver-side fingerprint map and
          // be unaddressable by the dynamic-overwrite rebuild
          .select(col("o_orderkey"), col("o_totalprice"),
            coalesce(year(to_date(col("o_orderdate"))), lit(-1)).as("yr"))
        // v1 = late-arriving corrections land for fiscal 1997
        if (version == 0) o
        else o.withColumn("o_totalprice",
          when(col("yr") === 1997, col("o_totalprice") + lit(BigDecimal("10.00")))
            .otherwise(col("o_totalprice")))
      }
      def fingerprints(df: DataFrame): Map[Int, Long] =
        df.groupBy(col("yr"))
          .agg(expr("bit_xor(xxhash64(o_orderkey, o_totalprice))").as("fp"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // O(partitions)
      def build(df: DataFrame, gen: Int): DataFrame =
        df.groupBy(col("yr"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_total"))
          .withColumn("build_version", lit(gen))
      // initial build: all partitions at generation 0 (bound once —
      // the read-back below reuses its schema, so writer and reader
      // stay coupled by construction)
      val built0 = build(src(0), gen = 0)
      built0.repartition(col("yr"))
        .write.partitionBy("yr").mode("overwrite").parquet(s"$root/agg")
      val fp0 = fingerprints(src(0))
      // backfill: diff fingerprints, rebuild ONLY the moved partitions
      val fp1 = fingerprints(src(1))
      val changed = fp1.filter { case (yr, fp) => fp0.get(yr) != Some(fp) }.keys.toSeq
      build(src(1).filter(col("yr").isin(changed: _*)), gen = 1)
        .repartition(col("yr"))
        .write.partitionBy("yr").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$root/agg")
      // read back with the build's own schema: no footer inference at
      // plan time, and an empty source (no orders at all → zero
      // partition dirs written) reads as an empty backfill state
      // instead of an unable-to-infer error
      s.read.schema(built0.schema).parquet(s"$root/agg")
        .select(col("yr").cast("int").as("yr"), col("n_orders"),
          col("sum_total"), col("build_version"))
    }))

  private def initcapSql(col: String) =
    s"UPPER(SUBSTR($col, 1, 1)) || LOWER(SUBSTR($col, 2))"

  val oracles: Map[String, String] = Map(
    "etl_wap" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT COUNT(*) AS n_months, CAST(SUM(n) AS BIGINT) AS total_orders,
        |       TRUE AS audit_nonnull_ok, TRUE AS audit_unique_ok,
        |       TRUE AS audit_rowcount_ok, TRUE AS published
        |FROM m""".stripMargin,
    // per-stage (name, row-count, ok): every count is derivable from the
    // source tables — dims are 1:1 with their source (unique-key left
    // joins), dim_dates is the fixed 2016-2025 calendar, fact grain is
    // the DOUBLE 1:N multiplication max(n_items,1) × n_payments per
    // order (orders ⟕ lineitem ⟕ payments — the reference's grain).
    "etl_pipeline" ->
      """SELECT 'dim_customer' AS stage, (SELECT COUNT(*) FROM customer) AS "rows", true AS ok
        |UNION ALL SELECT 'dim_supplier', (SELECT COUNT(*) FROM supplier), true
        |UNION ALL SELECT 'dim_part', (SELECT COUNT(*) FROM part), true
        |UNION ALL SELECT 'dim_geo', (SELECT COUNT(*) FROM nation), true
        |UNION ALL SELECT 'dim_dates', CAST(3653 AS BIGINT), true
        |UNION ALL SELECT 'dim_payments',
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT LOWER(o_orderpriority),
        |     1 + o_orderkey % 3 FROM orders)), true
        |UNION ALL SELECT 'fact_orders',
        |  (SELECT CAST(SUM((CASE WHEN c.n IS NULL THEN 1 ELSE c.n END)
        |                   * (1 + o.o_orderkey % 3)) AS BIGINT)
        |   FROM orders o LEFT JOIN (
        |     SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1) c
        |   ON o.o_orderkey = c.l_orderkey),
        |  true""".stripMargin,
    "etl_dim_payments" ->
      """WITH pay AS (
        |  SELECT DISTINCT LOWER(o_orderpriority) AS payment_type,
        |         CAST(1 + o_orderkey % 3 AS INTEGER) AS payment_installments
        |  FROM orders)
        |SELECT ROW_NUMBER() OVER (ORDER BY payment_type, payment_installments)
        |         AS payment_key,
        |       payment_type, payment_installments
        |FROM pay""".stripMargin,
    "etl_fact_grain" ->
      """WITH pay AS (
        |  SELECT o_orderkey,
        |         unnest(generate_series(1, CAST(1 + o_orderkey % 3 AS INTEGER)))
        |           AS pay_seq
        |  FROM orders),
        |f AS (
        |  SELECT o.o_orderkey, l.l_linenumber, p.pay_seq
        |  FROM orders o
        |  LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  LEFT JOIN pay p ON o.o_orderkey = p.o_orderkey)
        |SELECT o_orderkey,
        |       CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS n_items,
        |       CAST(COUNT(DISTINCT pay_seq) AS BIGINT) AS n_payments,
        |       COUNT(*) AS n_fact_rows
        |FROM f GROUP BY o_orderkey""".stripMargin,
    // the backfill's end state: v1 aggregates everywhere, but only the
    // changed partition (1997, the synthesized late-correction year)
    // carries build generation 1 — pinning both the rebuild's values
    // AND that no other partition was touched.
    "etl_backfill" ->
      """WITH src AS (
        |  SELECT COALESCE(year(o_orderdate), -1) AS yr,
        |         CASE WHEN year(o_orderdate) = 1997
        |              THEN o_totalprice + 10.0 ELSE o_totalprice END AS p
        |  FROM orders)
        |SELECT CAST(yr AS INTEGER) AS yr, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
        |       CAST(CASE WHEN yr = 1997 THEN 1 ELSE 0 END AS INTEGER)
        |         AS build_version
        |FROM src GROUP BY yr""".stripMargin,
    "etl_dim_customer" ->
      s"""SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key,
         |       c_custkey,
         |       ${initcapSql("c_name")} AS customer_name,
         |       LPAD(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') AS zip5,
         |       ${initcapSql("n_name")} AS nation_name,
         |       UPPER(r_name) AS region_name,
         |       c_mktsegment, c_acctbal, TRUE AS is_current
         |FROM customer
         |LEFT JOIN nation ON c_nationkey = n_nationkey
         |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "etl_dim_supplier" ->
      s"""SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS supplier_key,
         |       s_suppkey,
         |       ${initcapSql("s_name")} AS supplier_name,
         |       LPAD(CAST(s_suppkey % 100000 AS VARCHAR), 5, '0') AS zip5,
         |       ${initcapSql("n_name")} AS nation_name,
         |       s_acctbal
         |FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    "etl_dim_part" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY p_partkey) AS part_key,
        |       p_partkey, p_name,
        |       COALESCE('BRAND/' || UPPER(p_brand), 'Unknown') AS brand_label,
        |       p_type,
        |       COALESCE(p_size, 0) AS p_size,
        |       COALESCE(p_retailprice, 0.0) AS p_retailprice
        |FROM part""".stripMargin,
    "etl_dim_geo" ->
      s"""SELECT ROW_NUMBER() OVER (ORDER BY n_nationkey) AS geo_key,
         |       n_nationkey,
         |       ${initcapSql("n_name")} AS nation_name,
         |       UPPER(r_name) AS region_name
         |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "etl_dim_dates" ->
      """SELECT CAST(gs AS DATE) AS date_key,
        |       day(gs) AS day, month(gs) AS month, year(gs) AS year,
        |       quarter(gs) AS quarter,
        |       (dayofweek(gs) + 6) % 7 AS day_of_week,
        |       dayname(gs) AS day_name,
        |       monthname(gs) AS month_name,
        |       dayofweek(gs) IN (0, 6) AS is_weekend
        |FROM generate_series(DATE '2016-01-01', DATE '2025-12-31', INTERVAL 1 DAY) t(gs)""".stripMargin,
    "etl_fact_orders" ->
      """WITH pk AS (
        |  SELECT o_orderpriority,
        |         DENSE_RANK() OVER (ORDER BY o_orderpriority) AS priority_key
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders)),
        |pd AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY payment_type, payment_installments)
        |           AS payment_key, payment_type, payment_installments
        |  FROM (SELECT DISTINCT LOWER(o_orderpriority) AS payment_type,
        |          CAST(1 + o_orderkey % 3 AS INTEGER) AS payment_installments
        |        FROM orders)),
        |pay AS (
        |  SELECT o_orderkey,
        |         unnest(generate_series(1, CAST(1 + o_orderkey % 3 AS INTEGER)))
        |           AS pay_seq
        |  FROM orders)
        |SELECT o.o_orderkey, l.l_linenumber,
        |       o.o_custkey AS customer_key,
        |       l.l_partkey AS part_key,
        |       l.l_suppkey AS supplier_key,
        |       pk.priority_key,
        |       LOWER(o.o_orderstatus) AS order_status,
        |       CAST(o.o_orderdate AS DATE) AS order_date_key,
        |       c.c_mktsegment,
        |       l.l_quantity,
        |       l.l_extendedprice * (1.0 - l.l_discount) AS net_amount,
        |       l.l_extendedprice * (1.0 - l.l_discount) * (1.0 + l.l_tax) AS gross_amount,
        |       (epoch(l.l_shipdate) - epoch(o.o_orderdate)) / 86400.0 AS ship_latency_days,
        |       pd.payment_key, p.pay_seq
        |FROM orders o
        |LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN pk ON o.o_orderpriority = pk.o_orderpriority
        |LEFT JOIN pay p ON o.o_orderkey = p.o_orderkey
        |LEFT JOIN pd ON LOWER(o.o_orderpriority) = pd.payment_type
        |            AND 1 + o.o_orderkey % 3 = pd.payment_installments""".stripMargin)
}
