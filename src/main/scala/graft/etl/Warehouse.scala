package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Star-schema warehouse builders — the reference's dimension/fact
  * transformations (dags/transform_dim_*.py, transform_fact_orders.py)
  * re-expressed over the harness tables as declarative Spark plans.
  *
  * Scale notes (the parts that must survive 1000 executors):
  *  - surrogate keys are `row_number` over a global order — a
  *    single-partition sort that is fine at dimension cardinality
  *    (≤ millions of rows) and documented as the cutoff; fact-scale
  *    sequences would use zipWithIndex instead (never needed here:
  *    the reference only keys dimensions this way);
  *  - dense categorical codes (transform_fact_orders.py:48) are NOT a
  *    global window over the fact — we dense-rank the *distinct* values
  *    (tiny) and broadcast-join the code back, so the fact table never
  *    sorts globally;
  *  - all dim-enrichment joins are broadcast (dims ≪ 10 MB);
  *  - the fact build shuffles once on the join key, and every
  *    derivation is a codegen'd column expression.
  */
object Warehouse {

  /** Dense 1..n surrogate key by natural-key order (transform_dim_customers.py:19). */
  def surrogateKey(df: DataFrame, keyName: String, naturalOrder: Column*): DataFrame =
    df.withColumn(keyName, row_number().over(Window.orderBy(naturalOrder: _*)))

  /** Fact-scale dense surrogate keys (SURVEY.md §4.3.3): the same
    * ROW_NUMBER-by-natural-key contract as [[surrogateKey]] without its
    * single-partition sort. `repartitionByRange` makes the partitions
    * ordered and disjoint in the key, `sortWithinPartitions` orders
    * inside each, so `zipWithIndex` — which numbers rows in partition
    * order, contiguously, with one extra count job and NO data movement
    * — yields exactly the global dense rank. Range-sampling boundaries
    * may vary between runs, but with a UNIQUE natural key the assigned
    * ranks cannot: any ordered disjoint partitioning gives the same
    * global order. Scales to any row count and cluster size. */
  def surrogateKeyScale(df: DataFrame, keyName: String, naturalKey: String,
                        partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    val ordered = df.repartitionByRange(n, col(naturalKey))
      .sortWithinPartitions(naturalKey)
    val schema = ordered.schema.add(keyName,
      org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = ordered.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** zfill(5) on a code column (transform_dim_customers.py:14). */
  def zfill5(c: Column): Column = lpad(c.cast("string"), 5, "0")

  /** dim_customer: customer enriched with nation/region (broadcast),
    * reference string normalizations (initcap name / upper region,
    * transform_dim_customers.py:13-16), surrogate key + is_current flag. */
  def dimCustomer(t: Tables): DataFrame = {
    val enriched = t.customer
      .join(broadcast(t.nation), t.customer("c_nationkey") === t.nation("n_nationkey"), "left")
      .join(broadcast(t.region), t.nation("n_regionkey") === t.region("r_regionkey"), "left")
      .select(
        col("c_custkey"),
        initcap(lower(col("c_name"))).as("customer_name"),
        zfill5(col("c_custkey") % 100000).as("zip5"),
        initcap(lower(col("n_name"))).as("nation_name"),
        upper(col("r_name")).as("region_name"),
        col("c_mktsegment"),
        col("c_acctbal"),
        lit(true).as("is_current"))
    surrogateKey(enriched, "customer_key", col("c_custkey"))
      .select("customer_key", "c_custkey", "customer_name", "zip5",
        "nation_name", "region_name", "c_mktsegment", "c_acctbal", "is_current")
  }

  /** dim_supplier (transform_dim_sellers.py): nation enrichment + surrogate. */
  def dimSupplier(t: Tables): DataFrame = {
    val enriched = t.supplier
      .join(broadcast(t.nation), t.supplier("s_nationkey") === t.nation("n_nationkey"), "left")
      .select(
        col("s_suppkey"),
        initcap(lower(col("s_name"))).as("supplier_name"),
        zfill5(col("s_suppkey") % 100000).as("zip5"),
        initcap(lower(col("n_name"))).as("nation_name"),
        col("s_acctbal"))
    surrogateKey(enriched, "supplier_key", col("s_suppkey"))
      .select("supplier_key", "s_suppkey", "supplier_name", "zip5", "nation_name", "s_acctbal")
  }

  /** dim_part (transform_dim_products.py): left-join to a small derived
    * category translation (stands in for prod_cate_name_trans), null
    * fills, surrogate key. The translation side is built from distinct
    * p_brand values (73-row-ish) and broadcast. */
  def dimPart(t: Tables): DataFrame = {
    val brandDim = t.part.select(col("p_brand")).distinct()
      .withColumn("brand_label", concat(lit("BRAND/"), upper(col("p_brand"))))
    val enriched = t.part
      .join(broadcast(brandDim), Seq("p_brand"), "left")
      .select(
        col("p_partkey"),
        col("p_name"),
        coalesce(col("brand_label"), lit("Unknown")).as("brand_label"),
        col("p_type"),
        coalesce(col("p_size"), lit(0)).as("p_size"),
        coalesce(col("p_retailprice"), lit(0.0)).as("p_retailprice"))
    surrogateKey(enriched, "part_key", col("p_partkey"))
      .select("part_key", "p_partkey", "p_name", "brand_label", "p_type", "p_size", "p_retailprice")
  }

  /** dim_geo (transform_dim_geolocation.py): dedup to one row per
    * (nation, region) with deterministic keep-first, surrogate key. */
  def dimGeo(t: Tables): DataFrame = {
    val joined = t.nation
      .join(broadcast(t.region), t.nation("n_regionkey") === t.region("r_regionkey"), "left")
      .select(
        col("n_nationkey"),
        initcap(lower(col("n_name"))).as("nation_name"),
        upper(col("r_name")).as("region_name"))
    surrogateKey(joined, "geo_key", col("n_nationkey"))
      .select("geo_key", "n_nationkey", "nation_name", "region_name")
  }

  /** dim_dates (transform_dim_dates.py): generated calendar — NOT
    * extracted from source. Mon=0 day-of-week per the reference. */
  def dimDates(t: Tables): DataFrame =
    t.spark.sql(
      """SELECT date_key,
        |       day(date_key)                 AS day,
        |       month(date_key)               AS month,
        |       year(date_key)                AS year,
        |       quarter(date_key)             AS quarter,
        |       (dayofweek(date_key) + 5) % 7 AS day_of_week,
        |       date_format(date_key, 'EEEE') AS day_name,
        |       date_format(date_key, 'MMMM') AS month_name,
        |       dayofweek(date_key) IN (1, 7) AS is_weekend
        |FROM (SELECT explode(sequence(to_date('2016-01-01'),
        |                              to_date('2025-12-31'),
        |                              interval 1 day)) AS date_key)""".stripMargin)

  /** fact_orders (transform_fact_orders.py): the J2 join chain — orders
    * ⟕ lineitem (1:N grain explosion) ⟕ customer projection (N:1)
    * ⟕ payments (the SECOND 1:N leg, transform_fact_orders.py:16, with
    * payment_key carried as the FK, :48,52) — plus the reference's
    * derivations: money math (M0), fractional-day latency (D2), date
    * key (D3), lower-cased status (F5), and the dense categorical code
    * (W2) via broadcast-joined code table. Keys carry NATURAL ids (the
    * reference's star-schema quirk, SURVEY.md §7.4.5) except
    * payment_key, which the reference itself resolves through
    * dim_payments — reproduced faithfully. The fact grain is therefore
    * order × item × payment (max(n_items,1) × n_payments rows per
    * order — the multiplication etl_fact_grain pins).
    *
    * Scale shape of the payments leg: stagePayments is itself a
    * deterministic projection of orders, so rather than shuffle-join
    * it back on o_orderkey, the leg is derived IN-PLACE on the joined
    * frame and exploded LAST (after every join has moved the narrow
    * pre-multiplication rows); payment_key resolves via a broadcast
    * join against the ≤15-row dim BEFORE the explode. explode_outer
    * mirrors the reference's how='left': an order whose installment
    * count is null (degenerate inputs) keeps one row with a null
    * payment rather than vanishing. */
  /** Payments-like staging frame, derived DETERMINISTICALLY from
    * orders (the harness has no payments table; the reference reads
    * staging.stg_payments — transform_fact_orders.py:12): one row per
    * installment, n_installments = 1 + o_orderkey % 3, payment_type =
    * lower(o_orderpriority) (the reference lowercases payment_type,
    * transform_dim_payments.py:12). Shared by dimPayments and the
    * fact-grain entry so the dim and the fact multiply over the SAME
    * staging rows — a projection over orders, no shuffle. */
  def stagePayments(t: Tables): DataFrame =
    t.orders.select(
        col("o_orderkey"),
        lower(col("o_orderpriority")).as("payment_type"),
        (lit(1) + pmod(col("o_orderkey"), lit(3))).cast("int")
          .as("payment_installments"))
      .withColumn("pay_seq",
        explode(sequence(lit(1), col("payment_installments"))))

  /** dim_payments (transform_dim_payments.py:11-18,21-26): the 2-col
    * dedup on (payment_type, payment_installments) + dense surrogate —
    * the reference's sixth dimension. Dedup lands on the distinct of a
    * 2-column projection (map-side partial agg, a handful of rows),
    * surrogate by natural-key order like every other dim.
    *
    * DELIBERATE key-semantics divergence: the reference assigns
    * payment_key = staging row index + 1 BEFORE drop_duplicates
    * (transform_dim_payments.py:15,18), yielding non-dense
    * first-occurrence keys that depend on the staging file's physical
    * row order — unreproducible here (the harness has no payments
    * source; stagePayments is synthesized). This repo's repo-wide
    * dense natural-key surrogate convention is used instead; joins
    * through the key are unaffected because the (type, installments)
    * natural key is what resolves the FK on both sides. */
  def dimPayments(t: Tables): DataFrame = {
    val dedup = stagePayments(t)
      .select(col("payment_type"), col("payment_installments")).distinct()
    surrogateKey(dedup, "payment_key",
        col("payment_type"), col("payment_installments"))
      .select("payment_key", "payment_type", "payment_installments")
  }

  def factOrders(t: Tables): DataFrame = {
    val custProj = t.customer.select("c_custkey", "c_mktsegment")
    val priorityCodes = t.orders.select(col("o_orderpriority")).distinct()
      .withColumn("priority_key", dense_rank().over(Window.orderBy(col("o_orderpriority"))))
    val ep: Column => Column = c => c.cast("timestamp").cast("double")
    t.orders
      .join(t.lineitem, t.orders("o_orderkey") === t.lineitem("l_orderkey"), "left")
      .join(custProj, t.orders("o_custkey") === custProj("c_custkey"), "left")
      .join(broadcast(priorityCodes), Seq("o_orderpriority"), "left")
      .select(
        col("o_orderkey"),
        col("l_linenumber"),
        col("o_custkey").as("customer_key"),
        col("l_partkey").as("part_key"),
        col("l_suppkey").as("supplier_key"),
        col("priority_key"),
        lower(col("o_orderstatus")).as("order_status"),
        to_date(col("o_orderdate")).as("order_date_key"),
        col("c_mktsegment"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_amount"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .as("gross_amount"),
        ((ep(col("l_shipdate")) - ep(col("o_orderdate"))) / 86400.0).as("ship_latency_days"),
        // payments leg, same derivation as stagePayments (one source
        // of truth for the synthetic staging rule — see its doc)
        lower(col("o_orderpriority")).as("payment_type"),
        (lit(1) + pmod(col("o_orderkey"), lit(3))).cast("int")
          .as("payment_installments"))
      .join(broadcast(dimPayments(t)
          .select("payment_key", "payment_type", "payment_installments")),
        Seq("payment_type", "payment_installments"), "left")
      .withColumn("pay_seq",
        explode_outer(sequence(lit(1), col("payment_installments"))))
      .drop("payment_type", "payment_installments")
  }
}
