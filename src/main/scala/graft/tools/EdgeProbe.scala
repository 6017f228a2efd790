package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.graftbridge.CacheBridge
import graft.SparkEntry

/** Degenerate-input robustness sweep over the full query surface.
  *
  * Production corpora hit every operator with empty partitions, empty
  * sources, and single-row tables long before they hit interesting
  * data — a filter chain that matches nothing, a backfill window with
  * no orders, a tenant with one document. All three of round 9's
  * external review findings were exactly this class (NULL-source group
  * in the cap fit, empty touched-file compaction, torn-ledger cleanup),
  * so this tool makes the class checkable wholesale: it materializes
  * `empty` (0-row) and `one` (1-row-per-table) variants of the harness
  * tables — schemas intact, written through the same parquet path the
  * real data uses — and runs EVERY `SparkEntry.queries` entry against
  * them, forcing full evaluation with a parquet write (a `count()`
  * would let Catalyst prune the projected expressions this probe
  * exists to exercise). An entry whose write leaves a CacheManager
  * entry behind fails too (queries release their caches: `Persisted`).
  *
  * Referential integrity is deliberately NOT preserved in `one` mode
  * (one orders row won't match the one customer row): joins returning
  * zero rows downstream of non-empty scans is itself a degenerate
  * shape worth probing — it is how a selective filter behaves at scale.
  *
  * A third mode, `nulls`, NULLs every non-key column on half the rows
  * (alternating by key hash) — the shape of a real corpus with partial
  * records — to flush typed-get and NULL-propagation crashes that
  * empty tables cannot reach.
  *
  * Usage: runMain graft.tools.EdgeProbe <srcSfDir> <workDir> [mode...]
  *   modes default to "empty one"; probe outputs land under
  *   <workDir>/out_<mode> and table variants under <workDir>/<mode>.
  * Exits 1 if any query throws or leaks a cache entry. Driver-side
  * tooling, not library API.
  */
object EdgeProbe {
  /** Join/identity keys that stay intact in `nulls` mode: NULLing a
    * key models a different (broken-upstream) failure than the
    * partial-record shape this mode probes. */
  private[graft] val keyCols = Set(
    "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey", "c_nationkey",
    "s_suppkey", "s_nationkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "event_id", "user_id", "doc_id", "vec_id")

  /** The `nulls`-mode transform: every non-key column NULLed on
    * alternating rows (keyed on the first key column so the pattern is
    * deterministic). ONE definition, shared with EmptyInputSpec so the
    * pinned shape cannot drift from the probe's. */
  private[graft] def nullsVariant(full: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val keyed = full.schema.fieldNames.find(keyCols.contains)
      .map(k => pmod(xxhash64(col(k)), lit(2)) === 0)
      .getOrElse(lit(false))
    full.select(full.schema.fields.map { f =>
      if (keyCols.contains(f.name)) col(f.name)
      else when(keyed, lit(null).cast(f.dataType))
        .otherwise(col(f.name)).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** The sweep core, callable from BOTH the hand-run main and the CI
    * spec (EdgeSweepSpec) — one definition so the pinned-in-CI sweep
    * can never drift from the tool's. Returns the failure list
    * ((mode, name, message) per query that threw or left a cache
    * entry), empty when clean. */
  private[graft] def sweep(spark: org.apache.spark.sql.SparkSession,
                           src: String, work: String,
                           modes: Seq[String]): List[(String, String, String)] = {
    var failures = List.empty[(String, String, String)]
    for (mode <- modes) {
      val dataDir = s"$work/$mode"
      graft.core.Tables.names.foreach { t =>
        val full = spark.read.parquet(s"$src/$t.parquet")
        val variant = mode match {
          case "empty" => full.limit(0)
          case "one"   => full.limit(1)
          case "nulls" => nullsVariant(full)
          case "dup" =>
            // ingest-replay shape: every row delivered twice (at-least-
            // once sources, retried batches) — keys collide with
            // IDENTICAL attributes, probing map-literal builds, pivot
            // keys, and grain assumptions
            full.unionAll(full)
          case other => sys.error(s"unknown probe mode: $other")
        }
        variant.repartition(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$dataDir/$t.parquet")
      }
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val cached = CacheBridge.entries(spark)
        val failure = try {
          fn(spark, dataDir).write.mode(SaveMode.Overwrite)
            .parquet(s"$work/out_$mode/$name")
          val left = CacheBridge.entries(spark) - cached
          if (left == 0) None else Some(s"left $left CacheManager entries behind")
        } catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
        failure match {
          case None =>
            println(f"[probe] $mode%-5s OK    $name%-28s ${(System.nanoTime() - t0) / 1e9}%.1fs")
          case Some(msg) =>
            println(s"[probe] $mode FAIL  $name: ${msg.linesIterator.take(3).mkString(" | ")}")
            failures ::= (mode, name, msg)
        }
      }
    }
    failures.reverse
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val modes = if (args.length > 2) args.drop(2).toSeq else Seq("empty", "one")
    val spark = graft.core.GraftSession.local("graft-edgeprobe")
    val failures = sweep(spark, src, work, modes)
    println(s"\n[probe] ${failures.size} failures over ${modes.size} mode(s)")
    failures.foreach { case (m, n, _) => println(s"[probe]   $m/$n") }
    graft.core.GraftSession.dropScratch(spark)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
