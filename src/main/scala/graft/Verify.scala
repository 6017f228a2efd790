package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Comparator-type contract: the driver hashes rows after materializing
    * Spark parquet through pandas and the oracle through DuckDB→pandas.
    * Types outside the stable set can be VALUE-equal yet dtype-different
    * across the two paths (round-13 `w14_trend`: Spark DECIMAL(38,0) →
    * Python Decimal objects, DuckDB DECIMAL(38,0) → float64 →
    * hash_match:false with identical values; same class as DuckDB
    * HUGEINT). Stable set: BOOLEAN, integer family ≤ BIGINT, DOUBLE,
    * DECIMAL ≤ 18 digits (both paths keep 64-bit-backed decimals exact
    * and same-typed), VARCHAR, DATE/TIMESTAMP, BINARY, and containers
    * of those. Returns "col: offendingType" strings; empty = clean.
    * Wide-decimal/HUGEINT arithmetic is fine INTERNALLY — only the
    * emitted schema is checked. */
  def unstableColumns(schema: StructType): Seq[String] = {
    def bad(dt: DataType): Option[String] = dt match {
      case d: DecimalType if d.precision > 18 => Some(d.sql)
      case FloatType => Some("FLOAT (float32 vs DuckDB float64)")
      case a: ArrayType => bad(a.elementType)
      case m: MapType => bad(m.keyType).orElse(bad(m.valueType))
      case s: StructType =>
        s.fields.flatMap(f => bad(f.dataType)).headOption
      case _ => None
    }
    schema.fields.toSeq.flatMap(f => bad(f.dataType).map(t => s"${f.name}: $t"))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name prefixes to run
    // (local iteration aid; the driver always passes exactly 2 args).
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = graft.core.GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    selected.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): both give the single output
      // file the compare wants, but coalesce collapses the final
      // narrow stage onto one task — a query whose expensive work sits
      // AFTER its last exchange (dd_chargram_pairs' intersection
      // verify) ran 300 s single-threaded at sf1 vs ~25 s parallel.
      // repartition inserts a shuffle boundary so upstream keeps full
      // parallelism; the extra exchange moves only the final result.
      try {
        val df = fn(spark, sfDir)
        val offenders = unstableColumns(df.schema)
        if (offenders.nonEmpty)
          // loud but non-fatal: the compare itself is the gate; this
          // catches the authoring mistake before the driver round does
          System.err.println(s"[verify][TYPE-GUARD] $name emits " +
            s"comparator-unstable output types [${offenders.mkString("; ")}]" +
            " — cast to BIGINT/DOUBLE/VARCHAR/DATE/TIMESTAMP/BOOLEAN" +
            " (see Verify.unstableColumns)")
        df.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
      }
      // the finished query's blocks must not squeeze the next one's memory
      graft.core.GraftSession.reclaimFinished()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.core.GraftSession.dropScratch(spark)
    spark.stop()
  }
}
