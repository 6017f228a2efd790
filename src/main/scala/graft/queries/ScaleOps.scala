package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.queries.Relational.dsum

/** Scale-path operators beyond the reference's surface: multi-level
  * aggregation in one pass (cube / grouping sets), sketch-based
  * approximation (HLL distinct, t-digest-style quantiles), stratified
  * sampling, SCD Type-2 dimension history, partition-pruned layout,
  * and bucketed co-located joins.
  *
  * These are the operators a 100 TB warehouse build actually leans on:
  * cube/grouping-sets replace k re-aggregation passes with one; HLL
  * bounds a distinct-count's memory at KBs per group where exact
  * distinct shuffles every value; partitioned layout turns a full scan
  * into a directory prune; bucketing removes the per-query shuffle
  * from the hottest join in the schema.
  *
  * Sketch queries are verified by construction: the query emits the
  * EXACT value (oracle-checkable) alongside a boolean asserting the
  * sketch landed within its documented error bound — so the oracle
  * validates both the exact plan and the sketch's contract without
  * requiring bit-equality between two engines' HLL implementations.
  */
object ScaleOps {
  type Q = (SparkSession, String) => DataFrame

  /** Builds (idempotently, per scratch root) the two copy-on-write
    * snapshots the table-format queries (s17 time travel, s18 change
    * feed, s19 vacuum) operate on: v0 = customer in a 10-bucket
    * layout, v1 = bucket 0 rewritten with +100 on every balance, each
    * version a manifest (sorted data-file list) under `root`. Returns
    * (m0, m1) file lists. All manifest work is O(files) driver-side
    * metadata — the scan-planner shape of a real table format. */
  private def buildCowSnapshots(s: SparkSession, dir: String,
                                root: String): (Seq[String], Seq[String]) = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def manifestPath(v: Int) = new org.apache.hadoop.fs.Path(root, s"m$v.txt")
    def listDataFiles(p: String): Seq[String] = {
      val base = new org.apache.hadoop.fs.Path(p)
      fs.listStatus(base).toSeq.filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("part-")).map(_.toString))
    }
    def writeManifest(v: Int, files: Seq[String]): Unit = {
      val out = fs.create(manifestPath(v), true)
      out.write(files.sorted.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
    def readManifest(v: Int): Seq[String] = {
      val in = fs.open(manifestPath(v))
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      in.close()
      txt.split("\n").toSeq.filter(_.nonEmpty)
    }
    if (!fs.exists(manifestPath(1))) {
      val cust = Tables(s, dir).customer.select(col("c_custkey"),
        col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          .as("bal"))
        .withColumn("bk", pmod(col("c_custkey"), lit(10)))
      cust.repartition(10, col("bk"))
        .write.partitionBy("bk").mode("overwrite").parquet(s"$root/v0")
      val v0Files = listDataFiles(s"$root/v0")
      writeManifest(0, v0Files)
      // copy-on-write update: only bucket 0's file is rewritten
      // cast back: decimal + literal widens to (19,4), which parquet
      // stores as FIXED_LEN_BYTE_ARRAY vs (18,4)'s INT64 — the mixed
      // layout would break the manifest scan
      cust.filter(col("bk") === 0)
        .withColumn("bal", (col("bal") + lit(100))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .repartition(1)
        .write.partitionBy("bk").mode("overwrite").parquet(s"$root/v1")
      val untouched = v0Files.filterNot(_.contains("bk=0"))
      writeManifest(1, untouched ++ listDataFiles(s"$root/v1"))
    }
    (readManifest(0), readManifest(1))
  }

  /** Schema of the copy-on-write snapshot DATA files: the bucket
    * column `bk` lives in directory names, not in the files, so a
    * manifest read (individual part files) sees exactly these two
    * columns. Derived from the same projection the writer uses. */
  private def cowDataSchema(s: SparkSession, dir: String) =
    Tables(s, dir).customer.select(col("c_custkey"),
      col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4))
        .as("bal")).schema

  /** Read a manifest's data-file list with its KNOWN schema: explicit
    * schema skips footer inference at planning time (pure metadata
    * win at 100 TB file counts), and an empty manifest — a committed
    * version of an empty table — reads as an empty relation instead
    * of parquet's unable-to-infer-schema error. */
  private def readSnapshot(s: SparkSession, dir: String,
                           files: Seq[String]): DataFrame = {
    val sch = cowDataSchema(s, dir)
    if (files.isEmpty)
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
    else s.read.schema(sch).parquet(files: _*)
  }

  val queries: Map[String, Q] = Map(
    // ---- exact order statistics without a global sort --------------------
    "t9_exact_median" -> ((s, dir) => {
      // exact median by iterative histogram narrowing — the classic
      // distributed selection algorithm. Each level scans the surviving
      // rows and builds a B-bucket count histogram (one shuffle of B
      // rows, B-row driver collect — bounded), narrowing to the bucket
      // holding the target rank; the final selection sorts only the
      // surviving sliver. O(log_B) scans total vs the naive
      // `orderBy.limit(n/2)` whose single-task sort is unrunnable at
      // 100 TB. Both middle ranks are selected so even counts average
      // exactly like the oracle (same two order statistics, same one
      // IEEE add + halve).
      //
      // Membership is tracked as a COMPOSED PREDICATE over the exact
      // bucket expressions used to build each level's histogram — never
      // as an independently recomputed value range. floor((x-l)/width)
      // and `x >= l + bi*width` can disagree by one ulp at bucket
      // boundaries under IEEE rounding, which would silently shift the
      // selected order statistic; reusing the bucketing expression
      // itself makes bookkeeping and filtering agree by construction.
      // SQL median semantics: NULL values carry no rank — excluded
      // from both the count and the selection (a NULL row would
      // otherwise crash the histogram's typed gets AND shift the
      // selected order statistic on partial-record data)
      val v = Tables(s, dir).lineitem
        .select(col("l_extendedprice").cast("double").as("x"))
        .filter(col("x").isNotNull)
      val h0 = v.agg(count(lit(1)).as("n"), min(col("x")), max(col("x"))).head()
      val n = h0.getLong(0)
      // empty input: min/max above are NULL — mirror SQL's
      // aggregate-over-empty shape (count 0, NULL order statistics)
      // instead of crashing on the typed get.
      if (n == 0) {
        val nd = lit(null).cast("double")
        s.range(1).select(lit(0L).as("n"), nd.as("med_lo"),
          nd.as("med_hi"), nd.as("median"))
      } else {
      val (gLo, gHi) = (h0.getDouble(1), h0.getDouble(2))
      val B = 4096
      def orderStat(k: Long): Double = {
        var (l, h, kk) = (gLo, gHi, k)
        var pred: org.apache.spark.sql.Column = lit(true)
        var rows = n
        var level = 0
        while (rows > 100000 && l < h && level < 8) {
          val width = (h - l) / B
          if (width <= 0 || !java.lang.Double.isFinite(width)) {
            // range narrower than double resolution — final selection
            level = 8
          } else {
          // clamp to [0, B-1]: surviving rows sit in [l, h] only up to
          // boundary rounding, so a row one ulp outside must still land
          // in an edge bucket rather than out of the histogram
          val bucket = greatest(
            least(floor((col("x") - lit(l)) / lit(width)), lit(B - 1)),
            lit(0)).cast("int")
          val hist = v.filter(pred)
            .select(bucket.as("b"))
            .groupBy(col("b")).agg(count(lit(1)).as("c"))
            .collect() // ≤ B rows — bounded by construction
          val counts = Array.fill(B)(0L)
          hist.foreach(r => counts(r.getInt(0)) = r.getLong(1))
          var acc = 0L
          var bi = 0
          while (acc + counts(bi) < kk) { acc += counts(bi); bi += 1 }
          kk -= acc
          rows = counts(bi)
          val nl = l + bi * width
          val nh = if (bi == B - 1) h else l + (bi + 1) * width
          // duplicates piled on a boundary can stall the narrowing —
          // bail to the final selection rather than loop forever
          if (nl == l && nh == h) level = 8
          else {
            // filter with the SAME expression the histogram used; the
            // (nl, nh) range only sizes the next level's buckets
            pred = pred && (bucket === bi)
            l = math.max(nl, l); h = math.min(nh, h); level += 1
          }
          }
        }
        if (rows == 0 || (l == h && level == 0)) l
        else v.filter(pred).orderBy(col("x"))
          .limit(kk.toInt).agg(max(col("x"))).head().getDouble(0)
      }
      val medLo = orderStat((n + 1) / 2)
      val medHi = if (n % 2 == 0) orderStat(n / 2 + 1) else medLo
      s.range(1).select(lit(n).as("n"),
        lit(medLo).as("med_lo"), lit(medHi).as("med_hi"),
        lit((medLo + medHi) / 2).as("median"))
      }
    }),

    // ---- one-pass multi-level aggregation --------------------------------
    "a13_cube" -> ((s, dir) =>
      // CUBE = all 2^n grouping combinations in ONE shuffle (partial
      // aggs expand rows map-side); vs 4 separate GROUP BYs = 4 scans.
      Tables(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice")).as("sum_price"))),
    "a14_grouping_sets" -> ((s, dir) =>
      // explicit grouping-set list with grouping() markers — the
      // markers distinguish "NULL because subtotal" from "NULL in
      // data", which any warehouse rollup report needs.
      Tables(s, dir).lineitem
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
             grouping(col("l_linestatus")).cast("int").as("g_status"),
             count(lit(1)).as("n"),
             dsum(col("l_extendedprice")).as("sum_price"))),

    // ---- sketches (bounded-memory approximation) -------------------------
    "a15_approx_distinct" -> ((s, dir) =>
      // HyperLogLog++ distinct at rsd=1%: fixed ~KB state per group vs
      // exact distinct's shuffle of every key — the only viable
      // distinct-count shape at 100 TB. The exact value is emitted for
      // the oracle; the boolean asserts HLL's error contract held.
      Tables(s, dir).lineitem
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
             approx_count_distinct(col("l_partkey"), 0.01).as("_approx"))
        .select(col("exact_parts"),
          (abs(col("_approx") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("approx_within_5pct"))),
    "a16_approx_quantile" -> ((s, dir) =>
      // percentile sketch (Greenwald-Khanna in Spark) vs the exact
      // sort-based percentile; at scale the sketch is a single pass
      // with bounded memory, the exact form is a full sort.
      Tables(s, dir).orders
        .agg(count(lit(1)).as("n_rows"),
             expr("percentile(o_totalprice, array(0.5, 0.95))").as("_exact"),
             expr("approx_percentile(o_totalprice, array(0.5, 0.95), 10000)")
               .as("_approx"))
        .select(col("n_rows"),
          (abs(col("_approx").getItem(0) - col("_exact").getItem(0)) <=
            abs(col("_exact").getItem(0)) * 0.01).as("p50_ok"),
          (abs(col("_approx").getItem(1) - col("_exact").getItem(1)) <=
            abs(col("_exact").getItem(1)) * 0.01).as("p95_ok"))),

    // ---- stratified sampling ---------------------------------------------
    "t8_stratified_sample" -> ((s, dir) =>
      // per-stratum rates via deterministic key-mod (the reproducible
      // analog of sampleBy: same rows on any cluster size / engine).
      // BUILDING 1-in-10, AUTOMOBILE 1-in-20, everything else 1-in-50.
      Tables(s, dir).customer
        .filter(pmod(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", 10)
            .when(col("c_mktsegment") === "AUTOMOBILE", 20)
            .otherwise(50)) === 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")),

    // ---- time-range window frames ----------------------------------------
    "w6_range_frame" -> ((s, dir) => {
      // sliding 1-hour LOOK-BACK per event (RANGE frame on event time):
      // the per-event trailing aggregate that tumbling/sliding windows
      // can't express (every row gets its own window end). One shuffle
      // on user_id; the frame scan is a sorted two-pointer sweep, so
      // cost is O(rows) not O(rows × frame size). Ordered by epoch
      // MICROS so both engines bound the frame on the exact tick.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"))
        .rangeBetween(-3600000000L, 0)
      Tables(s, dir).events
        .withColumn("tus", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .over(w).cast("double").as("sum_1h"))
    }),

    // ---- SCD Type-2 dimension history ------------------------------------
    "etl_scd2" -> ((s, dir) => {
      // the reference's dim_customers carries a vestigial is_current
      // flag with no history (transform_dim_customers.py:21); this is
      // the real thing: per-customer priority history as versioned
      // [valid_from, valid_to) intervals, built with lag/lead change
      // detection — one shuffle on the dimension key, no self-join.
      val byKey = Window.partitionBy(col("o_custkey"))
        .orderBy(col("valid_from"), col("o_orderkey"))
      val ord = Tables(s, dir).orders
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("valid_from"),
          col("o_orderkey"), col("o_orderpriority"))
      ord
        .withColumn("_prev", lag(col("o_orderpriority"), 1).over(byKey))
        .filter(col("_prev").isNull || col("_prev") =!= col("o_orderpriority"))
        .withColumn("version", row_number().over(byKey))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(byKey))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "version", "o_orderpriority",
          "valid_from", "valid_to", "is_current")
    }),

    // ---- SCD Type-2: incremental delta MERGE -----------------------------
    "etl_scd2_merge" -> ((s, dir) => {
      // etl_scd2 rebuilds the full history every run — O(all orders)
      // forever. This is the nightly-load shape: history through a
      // cutoff is the STORED dimension; only the post-cutoff delta is
      // new. The merge (a) change-detects WITHIN the delta, (b) seams
      // the delta's first row per key against the key's stored current
      // priority (equal ⇒ not a change — the collapse rule must hold
      // across the boundary), (c) closes out superseded current rows,
      // (d) version-numbers continuing from the stored max. Cost is
      // O(delta + touched keys): the windows shuffle ONLY the delta,
      // and the seam join touches base rows by key — at 100 TB the
      // unchanged history is never rewritten (here it is re-emitted
      // only so the result is comparable to the full rebuild, which is
      // exactly what the oracle asserts: merge ≡ rebuild).
      val ord = Tables(s, dir).orders
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("valid_from"),
          col("o_orderkey"), col("o_orderpriority"))
      // cutoff = max order date - 180 days (1-row bounded collect —
      // stand-in for the load watermark a production run would carry)
      val cutRow = ord.agg(max(col("valid_from"))).head()
      // empty orders: no watermark exists — any cutoff partitions the
      // (empty) history and delta identically, so pick a fixed epoch
      // instead of crashing on the typed get
      val cutoff =
        (if (cutRow.isNullAt(0)) java.time.LocalDate.ofEpochDay(0)
         else cutRow.getDate(0).toLocalDate).minusDays(180)
      val cutLit = lit(java.sql.Date.valueOf(cutoff))
      val byKey = Window.partitionBy(col("o_custkey"))
        .orderBy(col("valid_from"), col("o_orderkey"))
      // stored dimension: the same build etl_scd2 runs, frozen at the
      // cutoff (in production this is a table scan, not a recompute)
      val baseHist = ord.filter(col("valid_from") <= cutLit)
        .withColumn("_prev", lag(col("o_orderpriority"), 1).over(byKey))
        .filter(col("_prev").isNull || col("_prev") =!= col("o_orderpriority"))
        .withColumn("version", row_number().over(byKey))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(byKey))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "version", "o_orderpriority",
          "valid_from", "valid_to", "is_current")
      val current = baseHist.filter(col("is_current"))
        .select(col("o_custkey"), col("o_orderpriority").as("_cur_prio"),
          col("version").as("_cur_version"))
      // delta change rows: lag within the delta, seamed against the
      // stored current priority for each key's first delta row
      val changes = ord.filter(col("valid_from") > cutLit)
        .withColumn("_prev", lag(col("o_orderpriority"), 1).over(byKey))
        .join(current, Seq("o_custkey"), "left")
        .filter(col("o_orderpriority") =!=
          coalesce(col("_prev"), col("_cur_prio"), lit("\u0000")))
        .withColumn("_idx", row_number().over(byKey))
        .withColumn("version", coalesce(col("_cur_version"), lit(0)) + col("_idx"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(byKey))
        .withColumn("is_current", col("valid_to").isNull)
      // close out superseded current rows at the first new version's date
      val closeAt = changes.filter(col("_idx") === 1)
        .select(col("o_custkey"), col("valid_from").as("_close_at"))
      baseHist.join(closeAt, Seq("o_custkey"), "left")
        .withColumn("valid_to",
          when(col("is_current") && col("_close_at").isNotNull, col("_close_at"))
            .otherwise(col("valid_to")))
        .withColumn("is_current", col("is_current") && col("_close_at").isNull)
        .select("o_custkey", "version", "o_orderpriority",
          "valid_from", "valid_to", "is_current")
        .unionByName(changes.select("o_custkey", "version", "o_orderpriority",
          "valid_from", "valid_to", "is_current"))
    }),

    // ---- storage layout: partition pruning -------------------------------
    "s10_partition_prune" -> ((s, dir) => {
      // write the fact partitioned by its hottest filter column, then
      // read one partition: the scan lists ONE directory — at 100 TB
      // the difference between touching 1/7th of the data and all of
      // it. (The write is part of the measured operator: layout is a
      // cost you pay once to prune forever.)
      val out = graft.core.GraftSession.scratchDir(s, "part", dir)
      val src = Tables(s, dir).lineitem
        .select("l_orderkey", "l_extendedprice", "l_returnflag")
      src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      // read back with the schema we just wrote: skips footer
      // inference (a listing-only planning step at 100 TB) and keeps
      // the read well-defined when the source — and therefore the
      // layout — is empty (zero partition dirs to infer from)
      s.read.schema(src.schema).parquet(out)
        .filter(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ---- storage layout: bucketed co-located join ------------------------
    "s11_bucketed_join" -> ((s, dir) => {
      // bucket both sides of the schema's hottest join on the join key:
      // the join plan then has NO exchange on either side — the
      // per-query shuffle is traded for a one-time bucketed write.
      // On a cluster the same layout makes every orders⋈lineitem
      // query shuffle-free forever.
      val ordT = graft.core.GraftSession.scratchTable(s, "orders_b", dir)
      val liT = graft.core.GraftSession.scratchTable(s, "lineitem_b", dir)
      // recreate BOTH tables if EITHER is missing — a prior run that
      // died between the two writes must not leave a half-built layout
      // that later runs trust
      if (!s.catalog.tableExists(ordT) || !s.catalog.tableExists(liT)) {
        // the in-memory catalog forgets tables between JVMs but the
        // warehouse directory persists: clear any stale location first
        Seq(ordT, liT).foreach { tn =>
          s.sql(s"DROP TABLE IF EXISTS $tn")
          val loc = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), tn)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
        }
        Tables(s, dir).orders.select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(ordT)
        Tables(s, dir).lineitem.select("l_orderkey", "l_extendedprice")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(liT)
      }
      s.table(ordT)
        .join(s.table(liT), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ---- S10: drop / truncate lifecycle ------------------------------------
    "s12_drop_truncate" -> ((s, dir) => {
      // the reference's table-reset plumbing (plugins/mysql_operator.py:
      // 94-110): stage a copy, TRUNCATE it (0 rows, schema intact),
      // then DROP it (catalog forgets it). The emitted row carries the
      // observed row counts and catalog state so the oracle checks the
      // whole lifecycle, not just that the query ran.
      val tn = graft.core.GraftSession.scratchTable(s, "scratch", dir)
      Tables(s, dir).region.write.mode("overwrite").saveAsTable(tn)
      val preRows = s.table(tn).count()
      s.sql(s"TRUNCATE TABLE $tn")
      val rowsAfter = s.table(tn).count()
      s.sql(s"DROP TABLE $tn")
      val dropped = !s.catalog.tableExists(tn)
      import s.implicits._
      Seq((preRows, rowsAfter, dropped))
        .toDF("pre_rows", "rows_after_truncate", "table_dropped")
    }),

    // ---- runtime bloom-filter join -----------------------------------------
    "j8_bloom_filter_join" -> ((s, dir) => {
      // row-level runtime filtering: the selective dim-side predicate
      // becomes a bloom filter evaluated on the probe side BEFORE its
      // shuffle — at 100 TB the difference between shuffling the whole
      // fact table and shuffling only the ~matching slice. Session-
      // scoped confs on a child session; the application-side size
      // floor is zeroed only because the harness fact is tiny (the
      // 10 GB default triggers naturally at scale). Results are
      // hash-exact: bloom filters have no false negatives, and false
      // positives are removed by the join itself. PlanSpec pins the
      // might_contain probe in the executed plan.
      val ss = s.newSession()
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = Tables(ss, dir)
      val ord = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      t.lineitem.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ---- small-file compaction ---------------------------------------------
    "s13_compact" -> ((s, dir) => {
      // the 100 TB housekeeping operator: streaming/CDC ingest leaves
      // thousands of KB-sized files and every scan pays per-file open +
      // task-scheduling cost. Compaction rewrites a directory to
      // ceil(bytes / 128MB) files with coalesce — a NARROW rewrite, no
      // shuffle: partitions are concatenated, never redistributed. The
      // emitted row carries the ceil-target law as a self-checked
      // boolean (the exact file count is a function of ENCODED parquet
      // bytes, which no SQL oracle can re-derive — the old
      // `files_after` column was only oracle-stateable while the whole
      // table fit one 128 MB file, and went red the first time the
      // 100× corpus legitimately compacted to >1 file) plus the
      // content-equality check; row count is oracle-exact.
      val out = graft.core.GraftSession.scratchDir(s, "compact", dir)
      val src = Tables(s, dir).orders
      // one constant for BOTH the staged fan-out and the law's
      // saturation cap below — desyncing them would silently flip
      // files_match_target red (or vacuous) for a correct compaction
      val smallFiles = 64
      src.repartition(smallFiles).write.mode("overwrite").parquet(s"$out/small")
      val small = s.read.parquet(s"$out/small")
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles(p: String) = fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.endsWith(".parquet"))
      val bytes = dataFiles(s"$out/small").map(_.getLen).sum
      // capped at the source file count: coalesce is a NARROW merge
      // and cannot INCREASE partition count, so past smallFiles×128 MB
      // the law must saturate there (compaction to fewer-or-equal
      // files is still the operator's contract; an uncapped ceil would
      // flag a correct compaction as a miss once the table outgrows
      // smallFiles × 128 MB)
      val target = math.min(smallFiles,
        math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt))
      small.coalesce(target).write.mode("overwrite").parquet(s"$out/compact")
      val compacted = s.read.parquet(s"$out/compact")
      val preserved = compacted.exceptAll(src).isEmpty && src.exceptAll(compacted).isEmpty
      import s.implicits._
      Seq((src.count(), dataFiles(s"$out/compact").length == target, preserved))
        .toDF("n_rows", "files_match_target", "content_preserved")
    }),

    // ---- fact-scale surrogate keys -----------------------------------------
    "w1b_surrogate_key_scale" -> ((s, dir) =>
      // the ROW_NUMBER surrogate (w1) needs a single-partition sort —
      // fine for dimensions, wrong for facts; this is the fact-scale
      // form (SURVEY.md §4.3.3): range-partition + local sort +
      // zipWithIndex = the same dense global rank with no global sort.
      graft.etl.Warehouse.surrogateKeyScale(
        Tables(s, dir).customer.select("c_custkey", "c_name"),
        "customer_key", "c_custkey")),

    // ---- storage layout: Z-order (multi-dimensional clustering) ------------
    "s14_zorder_layout" -> ((s, dir) => {
      // partitionBy prunes on ONE column; Z-order prunes on TWO: the
      // fact is laid out in Morton-code order so rows close in BOTH
      // l_partkey and l_suppkey share files and row groups, and any
      // 2-D box predicate skips via parquet min/max stats. The bounds
      // pass is a one-row aggregate (constant driver traffic at any
      // scale); the layout write is range-partition + local sort on
      // the code — exactly one shuffle, paid once, pruning forever.
      // ZOrderSpec proves the clustering property against a 1-D sort.
      import graft.functions.ZOrder
      val out = graft.core.GraftSession.scratchDir(s, "zorder", dir)
      val li = Tables(s, dir).lineitem
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val b = li.agg(min("l_partkey"), max("l_partkey"),
                     min("l_suppkey"), max("l_suppkey")).head()
      // degenerate bounds: EITHER dimension without values (empty
      // fact, or one key column all-NULL on partial records) leaves
      // that dim's box edge undefined — in SQL a comparison against
      // the undefined (NULL) bound matches nothing, so the probe
      // aggregates zero rows
      if ((0 to 3).exists(b.isNullAt))
        li.filter(lit(false))
          .agg(count(lit(1)).as("n_rows"),
               dsum(col("l_extendedprice")).as("sum_price"))
      else {
      val (pMn, pMx, sMn, sMx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      li.withColumn("_z", ZOrder.morton2(
            ZOrder.bucket16(col("l_partkey"), pMn, pMx),
            ZOrder.bucket16(col("l_suppkey"), sMn, sMx)))
        .repartitionByRange(16, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(out)
      // the payoff read: a box over the bottom quarter of each dim —
      // same literal bounds the oracle derives with FLOOR arithmetic
      val (pHi, sHi) = (pMn + (pMx - pMn) / 4, sMn + (sMx - sMn) / 4)
      s.read.parquet(out)
        .filter(col("l_partkey") <= pHi && col("l_suppkey") <= sHi)
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("l_extendedprice")).as("sum_price"))
      }
    }),

    // ---- bin-blocked interval overlap join ---------------------------------
    "j10_interval_join" -> ((s, dir) => {
      // interval × interval OVERLAP count with NO equi key. The naive
      // theta join is a nested loop; the day-bin blocking rewrite
      // (explode to covering bins, equi-join, re-check, dedup) is the
      // general PAIR-producing form — but it is Θ(overlapping pairs),
      // and overlap pairs grow QUADRATICALLY with temporal density:
      // the round-10 sf1 rehearsal measured the binned form at
      // α=2.29 (1.2 s → 229 s for 10× data in the same date window),
      // because 10× the orders per day means 100× concurrent pairs.
      // This query only needs per-interval overlap COUNTS, and counts
      // have a sweep-line form that never materializes a pair:
      //   n_overlap(a) = #{b: bstart ≤ aend} − #{b: bend < astart} − 1
      // (the −1 removes a's always-overlapping self). Two cumulative
      // day-grain distributions — O(days) rows, built with one
      // single-partition window over the bounded day domain and
      // BROADCAST — turn the whole query into two broadcast lookups
      // per urgent order: O(n + days), α≈1 by construction. Rehearsal
      // after the rewrite: 0.95 s at sf1 (was 229 s). Use the binned
      // form only when downstream consumes the PAIRS themselves —
      // then Θ(pairs) is the size of the answer, not overhead.
      val t = Tables(s, dir)
      val b = t.orders.select(col("o_orderkey").as("okey_b"),
          to_date(col("o_orderdate")).as("bstart"))
        .withColumn("bend", date_add(col("bstart"), 1))
      // dense day domain [min(bstart)−1, max(bend)] so both lookup
      // keys (aend, astart−1) always resolve; the −1 day carries
      // cumulative 0 for the earliest starts
      val days = b.agg(date_sub(min(col("bstart")), 1).as("lo"),
          max(col("bend")).as("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("d"))
      def cum(cnts: DataFrame, key: String, out: String): DataFrame =
        days.join(cnts, col("d") === col(key), "left")
          // O(days) rows — the single-partition window is bounded by
          // the calendar, not the data
          .select(col("d"), coalesce(col("n"), lit(0L)).as("n"))
          .withColumn(out, sum(col("n")).over(
            Window.orderBy(col("d"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("d"), col(out))
      val fStart = cum(b.groupBy(col("bstart")).agg(count(lit(1)).as("n")),
        "bstart", "f_start")
      val fEnd = cum(b.groupBy(col("bend")).agg(count(lit(1)).as("n")),
        "bend", "f_end")
      val a = t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("okey_a"),
          to_date(col("o_orderdate")).as("astart"))
        .withColumn("aend", date_add(col("astart"), 1))
      a.join(broadcast(fStart), col("d") === col("aend")).drop("d")
        .join(broadcast(fEnd), col("d") === date_sub(col("astart"), 1)).drop("d")
        .select(col("okey_a"),
          (col("f_start") - col("f_end") - lit(1L)).as("n_concurrent"))
        // the oracle's join emits only intervals with ≥1 overlap
        .filter(col("n_concurrent") > 0)
    }),

    // ---- skew-safe salted join ---------------------------------------------
    "j9_salted_skew_join" -> ((s, dir) => {
      // when one join key carries a disproportionate share of the fact
      // (hot product, bot user), a plain shuffle join puts that whole
      // key on ONE task and the stage runs at straggler speed. Salting
      // splits every probe key across N sub-partitions (deterministic
      // hash-mod salt) and replicates the build side N× with explode —
      // the hot key becomes N parallel tasks. The salt never reaches
      // the result, so output is hash-identical to the plain join.
      // Broadcast is disabled on a child session: salting only matters
      // when the build side is too big to broadcast.
      val ss = s.newSession()
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val n = 8
      val t = Tables(ss, dir)
      val fact = t.lineitem.select("l_orderkey", "l_extendedprice")
        .withColumn("_fs", pmod(hash(col("l_orderkey"), col("l_extendedprice")), lit(n)))
      val dim = t.orders.select("o_orderkey", "o_orderpriority")
        .withColumn("_ds", explode(sequence(lit(0), lit(n - 1))))
      fact.join(dim,
          col("l_orderkey") === col("o_orderkey") && col("_fs") === col("_ds"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ---- metadata-manifest file pruning ------------------------------------
    "s15_manifest_prune" -> ((s, dir) => {
      // Iceberg/Delta's core trick on PLAIN parquet: a file-level
      // min/max manifest (one row per file — O(files), not O(rows))
      // is evaluated against the predicate first, and only surviving
      // files reach the scan. At 100 TB the manifest is a few MB of
      // metadata answering "which of 500k files can contain key range
      // [lo, hi]" without opening any of them. The write is range-
      // partitioned so files carry tight, disjoint key ranges; the
      // planner move (filter manifest → collect file list) is exactly
      // what every table format's scan planner does driver-side.
      val out = graft.core.GraftSession.scratchDir(s, "manifest", dir)
      val li = Tables(s, dir).lineitem.select("l_orderkey", "l_extendedprice")
      li.repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(out)
      val manifest = s.read.parquet(out)
        .groupBy(input_file_name().as("file"))
        .agg(min("l_orderkey").as("kmin"), max("l_orderkey").as("kmax"))
        .collect()
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head()
      // empty fact: no key domain to probe — aggregate-over-empty row,
      // and nothing was pruned because nothing existed
      if (b.isNullAt(0))
        li.agg(count(lit(1)).as("n_rows"),
               dsum(col("l_extendedprice")).as("sum_price"))
          .withColumn("manifest_pruned", lit(false))
      else {
      val (kMn, kMx) = (b.getLong(0), b.getLong(1))
      // probe the middle eighth of the key space — same FLOOR
      // arithmetic as the oracle
      val lo = kMn + (kMx - kMn) / 2
      val hi = kMn + (kMx - kMn) * 5 / 8
      val survivors = manifest
        .filter(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
        .map(_.getString(0))
      val prunedSomething = survivors.length < manifest.length
      // empty survivor list (probe window in a gap of the key domain):
      // parquet() over zero paths has no schema to resolve the filter
      // against — read nothing via a false predicate on the full
      // layout instead, which yields the correct 0-row aggregate
      val pruned =
        if (survivors.isEmpty) s.read.parquet(out).filter(lit(false))
        else s.read.parquet(survivors.toIndexedSeq: _*)
      pruned
        .filter(col("l_orderkey").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("l_extendedprice")).as("sum_price"))
        .withColumn("manifest_pruned", lit(prunedSomething))
      }
    }),

    // ---- snapshot isolation / time travel --------------------------------
    "s17_time_travel" -> ((s, dir) => {
      // the Iceberg/Delta snapshot model on plain parquet: a table
      // VERSION is a manifest (list of data files), an UPDATE is
      // copy-on-write (rewrite ONLY the files holding touched rows;
      // v1's manifest shares every untouched file with v0), and time
      // travel is just "scan the files the old manifest lists" — the
      // old version stays readable forever at zero storage cost
      // beyond the rewritten files. Here: a 10-bucket customer
      // layout, an update to bucket 0 (+100 to every key ≡ 0 mod 10),
      // and both versions read back THROUGH their manifests. The
      // emitted n_shared_with_v0 = 9 is the copy-on-write proof; all
      // manifest work is O(files) driver-side metadata, exactly like
      // a table format's scan planner. Balances are DECIMAL end to
      // end so both engines sum exactly.
      val root = graft.core.GraftSession.scratchDir(s, "ttr", dir)
      val (m0, m1) = buildCowSnapshots(s, dir, root)
      def snapshot(v: Int, m: Seq[String], shared: Int): DataFrame =
        readSnapshot(s, dir, m)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("bal")).cast("double").as("sum_bal"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_bal"),
            lit(m.size).as("n_files"), lit(shared).as("n_shared_with_v0"))
      snapshot(0, m0, m0.size)
        .unionByName(snapshot(1, m1, m1.count(m0.contains)))
    }),

    // ---- change data feed between snapshots ------------------------------
    "s18_change_feed" -> ((s, dir) => {
      // CDC read over the time-travel table: the row-level diff
      // between two committed snapshots (Delta's table_changes /
      // Iceberg's incremental read). Because v1 was copy-on-write,
      // the diff only has to scan files PRESENT IN EXACTLY ONE
      // manifest — 2 of 11 here, not the table — then a keyed
      // full-outer join of just those rows classifies
      // insert/delete/update_pre+post. Emitted: one row per changed
      // key with old and new balance. At 100 TB the unchanged 90% of
      // the table never leaves disk.
      graft.queries.ScaleOps.queries("s17_time_travel")(s, dir).count() // ensure both snapshots committed
      val root = graft.core.GraftSession.scratchDir(s, "ttr", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def readManifest(v: Int): Seq[String] = {
        val in = fs.open(new org.apache.hadoop.fs.Path(root, s"m$v.txt"))
        val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        in.close()
        txt.split("\n").toSeq.filter(_.nonEmpty)
      }
      val m0 = readManifest(0)
      val m1 = readManifest(1)
      val only0 = m0.filterNot(m1.contains)
      val only1 = m1.filterNot(m0.contains)
      val before = readSnapshot(s, dir, only0)
        .select(col("c_custkey"), col("bal").as("old_bal"))
      val after = readSnapshot(s, dir, only1)
        .select(col("c_custkey"), col("bal").as("new_bal"))
      before.join(after, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          when(col("old_bal").isNull, "insert")
            .when(col("new_bal").isNull, "delete")
            .otherwise("update").as("change_type"),
          col("old_bal").cast("double").as("old_bal"),
          col("new_bal").cast("double").as("new_bal"))
        .filter(col("change_type") =!= "update" ||
          col("old_bal") =!= col("new_bal"))
    }),

    // ---- snapshot expiry / vacuum ------------------------------------------
    "s19_vacuum" -> ((s, dir) => {
      // retention cleanup on the copy-on-write table (Delta VACUUM /
      // Iceberg expire_snapshots): expire v0, physically delete every
      // file referenced ONLY by the expired manifest, and prove the
      // live version still reads intact afterwards. The delete set is
      // a manifest set-difference — O(files) driver-side metadata,
      // never a data scan — which is why vacuum stays cheap at 100 TB:
      // it reclaims the rewritten files' storage without touching the
      // 90% of the table v1 still shares with v0. Runs on its own
      // scratch root so the time-travel/change-feed snapshots remain
      // readable whatever order the queries run in.
      val root = graft.core.GraftSession.scratchDir(s, "vac", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // vacuum consumes its snapshots (m0 is gone afterwards), so a
      // repeat invocation must rebuild from scratch, not reuse state
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val (m0, m1) = buildCowSnapshots(s, dir, root)
      val expired = m0.filterNot(m1.contains)
      val deleted = expired.count(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
      fs.delete(new org.apache.hadoop.fs.Path(root, "m0.txt"), false)
      val gone = expired.count(f => !fs.exists(new org.apache.hadoop.fs.Path(f)))
      readSnapshot(s, dir, m1)
        .agg(count(lit(1)).as("v1_rows"),
          sum(col("bal")).cast("double").as("v1_sum_bal"))
        .select(
          lit(m0.size).as("n_v0_files"), lit(m1.size).as("n_v1_files"),
          lit(expired.size).as("n_expired"), lit(deleted).as("n_deleted"),
          lit(gone == expired.size).as("expired_files_gone"),
          col("v1_rows"), col("v1_sum_bal"))
    }),

    // ---- merge-on-read deletes (deletion vectors) --------------------------
    "s23_deletion_vectors" -> ((s, dir) => {
      // Delta deletion vectors / Iceberg position deletes on plain
      // parquet: a DELETE writes a sidecar of deleted row POSITIONS
      // (file_path + the parquet reader's stable per-file
      // _metadata.row_index) instead of rewriting any data file —
      // O(deleted) write cost however big the table is. Readers apply
      // the union of the DV sidecars as an anti join on the position
      // key; COMPACTION later folds the DVs into rewritten files and
      // drops them. Two successive deletes (returned rows, then
      // high-quantity rows among the still-live) and a compaction,
      // each step audited as (live rows, exact qty sum, outstanding
      // DV entries) — the oracle replays the SEMANTICS (predicate
      // deletes on lineitem) in pure SQL, so a DV mechanism bug
      // (wrong positions, missed file, double-applied entry) lands as
      // a hash mismatch. Quantity sums ride DECIMAL so both engines
      // agree exactly. Scale shape: DV application is one anti join
      // keyed on (file, pos); compaction's touched-file list is
      // O(files) driver metadata like every manifest op here.
      val root = graft.core.GraftSession.scratchDir(s, "dvec", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val basePath = s"$root/base"
      // data-aligned 4-bucket layout (bk = l_orderkey % 4 as partition
      // dirs) and deletes scoped to bk <> 3, so bucket 3's file is
      // provably untouched end to end — the compacted read must union
      // it back in, which is the part of the merge-on-read contract a
      // delete that happens to hit every file would never exercise
      val baseSrc = Tables(s, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_returnflag"))
        .withColumn("bk", pmod(col("l_orderkey"), lit(4)))
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$basePath/_SUCCESS")))
        baseSrc.repartition(col("bk"))
          .write.partitionBy("bk").mode("overwrite").parquet(basePath)
      // explicit schemas on every layout read-back: skips footer
      // inference at plan time and keeps the reads well-defined on an
      // EMPTY table (a committed write of zero rows leaves no part
      // files to infer from — only _SUCCESS)
      val dvSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_f",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_p",
          org.apache.spark.sql.types.LongType)))
      def withPos = s.read.schema(baseSrc.schema).parquet(basePath)
        .select(col("*"), col("_metadata.file_path").as("_f"),
          col("_metadata.row_index").as("_p"))
      val pred1 = col("l_returnflag") === "R" && col("bk") =!= 3
      val pred2 = col("l_quantity") >= 45 && col("bk") =!= 3
      // DELETE 1: positions of returned rows — no data file touched
      withPos.filter(pred1).select(col("_f"), col("_p"))
        .write.mode("overwrite").parquet(s"$root/dv/d1")
      // DELETE 2: high-quantity rows among rows still live under d1
      withPos.join(s.read.schema(dvSchema).parquet(s"$root/dv/d1"),
          Seq("_f", "_p"), "left_anti")
        .filter(pred2).select(col("_f"), col("_p"))
        .write.mode("overwrite").parquet(s"$root/dv/d2")
      // explicit paths: the dv/ children are snapshot dirs, not
      // key=value partitions, so a parent-dir read would not recurse
      def dvAll = s.read.schema(dvSchema).parquet(s"$root/dv/d1", s"$root/dv/d2")
      def live = withPos.join(dvAll, Seq("_f", "_p"), "left_anti")
      // COMPACTION: rewrite only files carrying DV entries (touched
      // list is O(files) metadata), then the DVs are obsolete
      val touched = dvAll.select(col("_f")).distinct()
        .collect().map(_.getString(0)).toSet
      // the post-compaction table = rewritten files ∪ base files that
      // carried no DV entry (those were never rewritten and keep all
      // their rows) — reading the rewrite output alone would silently
      // drop every untouched file's rows the moment a delete predicate
      // stops hitting all files. Degenerate corpus guard: if NO file
      // carried a DV entry there is nothing to rewrite — skip the
      // write (zero part files would make the read-back fail schema
      // inference) and the table is just the untouched base.
      val compacted =
        if (touched.isEmpty) withPos.drop("_f", "_p")
        else {
          live.filter(col("_f").isin(touched.toSeq: _*))
            .drop("_f", "_p")
            .write.mode("overwrite").parquet(s"$root/compacted")
          s.read.schema(baseSrc.schema).parquet(s"$root/compacted")
            .unionByName(withPos.filter(!col("_f").isin(touched.toSeq: _*))
              .drop("_f", "_p"))
        }
      def audit(step: String, df: DataFrame, dvEntries: DataFrame) = {
        val d = df.agg(count(lit(1)).as("n_live"),
          dsum(col("l_quantity")).as("sum_qty"))
        val n = dvEntries.agg(count(lit(1)).as("dv_entries"))
        d.crossJoin(n).select(lit(step).as("step"), col("n_live"),
          col("sum_qty"), col("dv_entries"))
      }
      val d1 = s.read.schema(dvSchema).parquet(s"$root/dv/d1")
      audit("base", withPos, s.emptyDataFrame)
        .unionByName(audit("delete_returned",
          withPos.join(d1, Seq("_f", "_p"), "left_anti"), d1))
        .unionByName(audit("delete_highqty", live, dvAll))
        .unionByName(audit("compacted", compacted, s.emptyDataFrame))
    }),

    // ---- sketch heavy hitters ----------------------------------------------
    "a18_heavy_hitters" -> ((s, dir) => {
      // DataSketches frequent-items (approx_top_k): bounded-memory
      // heavy hitters in ONE pass — at 100 TB the exact form shuffles
      // every distinct key, the sketch ships KBs per partition. The
      // emitted rows are the EXACT top-3 (oracle-checkable); the
      // boolean asserts the sketch's no-false-negative contract: every
      // exact heavy hitter appears in the sketch's top-3 estimate.
      val ev = Tables(s, dir).events
      val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val exact = counts.orderBy(col("n").desc, col("event_type")).limit(3)
      val sketch = ev
        .select(explode(expr("approx_top_k(event_type, 3)")).as("x"))
        .select(col("x.item").as("event_type"))
      // the no-false-negative contract is only unambiguous for types
      // STRICTLY above the 3rd-place count: on an exact tie at the
      // boundary the sketch may legitimately return either tied type,
      // so boundary-tied types are interchangeable, not required
      val cRow = exact.agg(min(col("n"))).head()
      // empty events: min over zero rows is NULL; the contract then
      // holds vacuously (no type is strictly above the cutoff)
      val cutoff = if (cRow.isNullAt(0)) Long.MaxValue else cRow.getLong(0)
      val agree = counts.filter(col("n") > cutoff)
        .join(sketch, Seq("event_type"), "left_anti").isEmpty
      exact.withColumn("sketch_contains_all", lit(agree))
    }),

    // ---- mergeable persisted sketches --------------------------------------
    "a19_sketch_merge" -> ((s, dir) => {
      // the incremental-distinct pattern (a17's analog for COUNT
      // DISTINCT, which has no algebraic partial): build one compact
      // DataSketches HLL per month, PERSIST the binary sketches, and
      // answer "distinct customers overall" by merging sketches —
      // never rescanning history. At 100 TB the per-partition sketch
      // build is the only pass over raw data, forever; the merge is
      // KBs per partition. The exact value is emitted for the oracle;
      // the boolean asserts the merged estimate's documented ~2%
      // (lgConfigK=12) error contract with margin.
      val out = graft.core.GraftSession.scratchDir(s, "sketch", dir)
      val ord = Tables(s, dir).orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_custkey"))
      ord.groupBy("month")
        .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
        .write.mode("overwrite").parquet(out)
      val merged = s.read.parquet(out)
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("_est"))
      val exact = ord.agg(countDistinct(col("o_custkey")).as("n")).head().getLong(0)
      merged.select(
        lit(exact).as("exact_customers"),
        (abs(col("_est") - lit(exact)) <= lit(math.max(1.0, exact * 0.05)))
          .as("merged_within_5pct"))
    }),

    // ---- sliding-window distinct via mergeable daily sketches --------------
    "a20_sliding_distinct" -> ((s, dir) => {
      // trailing 7-day distinct users per day — the DAU/WAU family.
      // Exact sliding distinct is a classic scale-killer: COUNT
      // (DISTINCT) has no algebraic partial, so every anchor day
      // re-shuffles its whole window of raw keys (7× the corpus
      // through the exchange). The mergeable form builds ONE compact
      // HLL per day — the same single raw-data pass whose partials a
      // real pipeline persists next to a19's monthly sketches — and
      // fans each daily sketch out to the ≤7 anchor days it serves,
      // so the merge input is O(days × 7) KB-sized sketches, never
      // row data. The exact path is emitted for the oracle (its 7×
      // explode is the cost the sketch path exists to avoid); the
      // boolean asserts the merged estimate's ~2% (lgConfigK=12)
      // error contract with margin.
      val ev = Tables(s, dir).events
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val days = ev.select("day").distinct()
      val exact = ev
        .select(explode(expr("sequence(day, date_add(day, 6))")).as("day"),
          col("user_id"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("n_users"))
      val approx = ev
        .groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .select(explode(expr("sequence(day, date_add(day, 6))")).as("day"),
          col("sk"))
        .groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("_est"))
      // anchors past the last event day carry partial windows no one
      // asks for — keep only real days (left-semi against the tiny
      // distinct-day frame)
      exact.join(approx, Seq("day"))
        .join(days, Seq("day"), "left_semi")
        .select(col("day"), col("n_users"),
          (abs(col("_est") - col("n_users")) <=
            greatest(lit(2.0), col("n_users") * 0.05))
            .as("sketch_within_5pct"))
    }),

    // ---- file-level incremental ingest ledger ------------------------------
    "s22_ingest_ledger" -> ((s, dir) => {
      // idempotent incremental ingest — the Auto-Loader pattern: a
      // LEDGER of already-processed input files makes re-runs and
      // restarts no-ops, and new files the only work. Run twice in
      // one invocation to PROVE it: pass 1 sees every file as new and
      // ingests it; pass 2 diffs the same listing against the ledger
      // and ingests zero rows. The ledger and the diff are O(files)
      // metadata (the same scale class as a manifest), never row
      // data; at 100 TB the listing itself comes from storage
      // inventory, not a directory walk.
      import org.apache.hadoop.fs.Path
      val root = graft.core.GraftSession.scratchDir(s, "ledger", dir)
      val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new Path(root), true) // replayable end to end
      val conf = s.sparkContext.hadoopConfiguration
      val srcFiles = fs.listStatus(new Path(s"$dir/lineitem.parquet"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
      // the processed-file set lives in the CAS manifest ledger (the
      // same kernel etl_wap publishes through), so two ingest workers
      // racing on one table cannot both record the same file — the
      // loser rebases on the winner's head and re-diffs, and re-runs
      // stay no-ops
      val ledgerRoot = s"$root/ledger"
      def ingest(): (Long, Long) = {
        val head = graft.etl.ManifestLedger.currentVersion(ledgerRoot, conf)
        val known = if (head == 0) Set.empty[String]
          else graft.etl.ManifestLedger.read(ledgerRoot, head, conf).toSet
        val newFiles = srcFiles.filterNot(known)
        val n = if (newFiles.isEmpty) 0L
          else s.read.parquet(newFiles.toIndexedSeq: _*).count()
        if (newFiles.nonEmpty)
          graft.etl.ManifestLedger.commitWithRetry(ledgerRoot, conf)(current =>
            (current ++ newFiles.filterNot(current.toSet)).sorted)
        (newFiles.length.toLong, n)
      }
      val (new1, rows1) = ingest()
      val (new2, rows2) = ingest()
      val s2 = s
      import s2.implicits._
      Seq((rows1, new1 >= 1, new2, rows2))
        .toDF("pass1_rows", "pass1_found_files", "pass2_new_files",
          "pass2_rows")
    }),

    // ---- deterministic Count-Min sketch ------------------------------------
    "a21_countmin" -> ((s, dir) => {
      // Count-Min frequency sketch over part purchase counts —
      // DETERMINISTIC (4 md5-derived hash rows × 256 columns), so
      // unlike the library's randomized sketches the oracle rebuilds
      // the IDENTICAL cells and the whole estimate is hash-exact, no
      // contract booleans needed. Build shape: exact per-key counts
      // first (the only pass over raw rows, partial-agg friendly),
      // then 4 cell rows per DISTINCT key into the (row, col) sum —
      // the sketch is O(4·256) memory at ANY corpus size, and cells
      // are sums, i.e. mergeable partials: a 1000-executor build
      // unions by cell addition, the property that makes CMS the
      // standard distributed frequency summary. Probing broadcasts
      // the ~1 KB cell table; est = min over rows, ≥ true by
      // construction (asserted as a column).
      val d = 4
      val counts = Tables(s, dir).lineitem
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_true"))
      def withCell(df: DataFrame): DataFrame = df
        .select(col("l_partkey"), col("n_true"),
          explode(expr(s"sequence(0, ${d - 1})")).as("r"))
        .withColumn("m",
          md5(concat(col("r").cast("string"), lit(":"),
            col("l_partkey").cast("string"))))
        .withColumn("c",
          (expr("instr('0123456789abcdef', substr(m, 1, 1)) - 1") * 16 +
           expr("instr('0123456789abcdef', substr(m, 2, 1)) - 1")).cast("int"))
        .drop("m")
      val cells = withCell(counts)
        .groupBy(col("r"), col("c")).agg(sum(col("n_true")).as("cell"))
      val top = counts.orderBy(col("n_true").desc, col("l_partkey")).limit(3)
      withCell(top)
        .join(broadcast(cells), Seq("r", "c"))
        .groupBy(col("l_partkey"), col("n_true"))
        .agg(min(col("cell")).as("cms_est"))
        .withColumn("no_undercount", col("cms_est") >= col("n_true"))
    }),

    // ---- incremental aggregate maintenance ---------------------------------
    "a17_incremental_agg" -> ((s, dir) => {
      // the materialized-view move: at 100 TB you never re-aggregate
      // three years of history to add one day — you keep ALGEBRAIC
      // partials (count, decimal sum) per group, aggregate only the
      // delta partition, and MERGE partials by addition. This entry
      // computes base (< 1997) and delta (>= 1997) partials separately
      // and merges; the oracle recomputes from scratch — hash-equality
      // IS the proof that partial-merge maintenance is lossless.
      val ord = Tables(s, dir).orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
      def partials(df: DataFrame) = df.groupBy("month")
        .agg(count(lit(1)).as("_n"), dsumDec(col("o_totalprice")).as("_s"))
      partials(ord.filter(col("d") < lit("1997-01-01")))
        .unionByName(partials(ord.filter(col("d") >= lit("1997-01-01"))))
        .groupBy("month")
        .agg(sum(col("_n")).as("n_orders"),
             sum(col("_s")).cast("double").as("sum_price"))
    }),
    "a22_incremental_agg_retract" -> ((s, dir) => {
      // materialized-view maintenance under a CDC feed WITH DELETES —
      // the case a17's insert-only merge can't handle. The change feed
      // deletes every o_orderkey % 97 == 0 order and re-prices (2×)
      // every surviving % 89 == 0 order. Maintenance strategy per
      // aggregate class: count/sum are ALGEBRAIC WITH INVERSE, so
      // removed rows' partials subtract and added rows' partials add —
      // O(|delta|) work; max has NO inverse (deleting the max row
      // reveals the unknown runner-up), so it recomputes — but ONLY
      // over the months the feed touched, the affected-partition
      // recompute every MV engine falls back to. Months emptied by
      // deletes drop out (n reaches 0). The oracle recomputes the
      // whole view from the corrected base relation — hash-equality
      // proves the mixed retract/recompute maintenance is lossless.
      val ord = Tables(s, dir).orders.select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderkey").as("k"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          .as("p"))
      val deleted = ord.filter(col("k") % 97 === 0)
      val oldVer = ord.filter(col("k") % 97 =!= 0 && col("k") % 89 === 0)
      val newVer = oldVer.withColumn("p",
        (col("p") * 2).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val removed = deleted.unionByName(oldVer)
      val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 4))
      def parts(df: DataFrame, n: String, ssum: String) = df.groupBy("month")
        .agg(count(lit(1)).as(n), sum(col("p")).as(ssum))
      val merged = parts(ord, "bn", "bs")
        .join(parts(removed, "rn", "rs"), Seq("month"), "left")
        .join(parts(newVer, "an", "as"), Seq("month"), "left")
        .select(col("month"),
          (col("bn") - coalesce(col("rn"), lit(0L)) + coalesce(col("an"), lit(0L)))
            .as("n_orders"),
          (col("bs") - coalesce(col("rs"), zero) + coalesce(col("as"), zero))
            .as("s"))
        .filter(col("n_orders") > 0)
      // affected months: any delete or reprice touched them
      val affected = removed.select("month").distinct()
      val corrected = ord.filter(col("k") % 97 =!= 0 && col("k") % 89 =!= 0)
        .unionByName(newVer)
      val mxAffected = corrected.join(affected, Seq("month"), "left_semi")
        .groupBy("month").agg(max(col("p")).as("mx_new"))
      val mxBase = ord.groupBy("month").agg(max(col("p")).as("mx_base"))
      merged
        .join(mxBase, Seq("month"))
        .join(mxAffected, Seq("month"), "left")
        .select(col("month"), col("n_orders"),
          col("s").cast("double").as("sum_price"),
          coalesce(col("mx_new"), col("mx_base")).cast("double").as("max_price"))
    }))

  /** Decimal partial sum (merge-safe, no double drift) — the partial
    * half of [[Relational.dsum]]; result stays DECIMAL for exact
    * re-aggregation. */
  private def dsumDec(c: org.apache.spark.sql.Column) =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 4)))

  /** Full SCD2 history rebuild in ANSI SQL — the oracle for BOTH
    * etl_scd2 (which computes exactly this) and etl_scd2_merge (whose
    * correctness claim is that the incremental merge reproduces it). */
  private val Scd2RebuildSql: String =
    """WITH ord AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from,
      |         o_orderkey, o_orderpriority,
      |         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_prio
      |  FROM orders),
      |chg AS (
      |  SELECT o_custkey, valid_from, o_orderkey, o_orderpriority
      |  FROM ord WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority)
      |SELECT o_custkey,
      |       ROW_NUMBER() OVER w AS version,
      |       o_orderpriority, valid_from,
      |       LEAD(valid_from) OVER w AS valid_to,
      |       LEAD(valid_from) OVER w IS NULL AS is_current
      |FROM chg
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey)""".stripMargin

  val oracles: Map[String, String] = Map(
    // exact rank selection re-derived by full sort (fine at oracle
    // scale); median = one IEEE add + halve of the same two order
    // statistics the histogram narrowing selects.
    "t9_exact_median" ->
      """WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM s),
        |c AS (SELECT COUNT(*) AS n FROM s)
        |SELECT n,
        |       (SELECT x FROM r, c WHERE rn = (n+1)//2) AS med_lo,
        |       (SELECT x FROM r, c WHERE rn = (n+2)//2) AS med_hi,
        |       ((SELECT x FROM r, c WHERE rn = (n+1)//2)
        |        + (SELECT x FROM r, c WHERE rn = (n+2)//2)) / 2 AS median
        |FROM c""".stripMargin,
    "a13_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "a14_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "a15_approx_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS approx_within_5pct FROM lineitem""".stripMargin,
    "a16_approx_quantile" ->
      """SELECT COUNT(*) AS n_rows, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM orders""".stripMargin,
    "t8_stratified_sample" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_custkey % (CASE c_mktsegment
        |                     WHEN 'BUILDING' THEN 10
        |                     WHEN 'AUTOMOBILE' THEN 20
        |                     ELSE 50 END) = 0""".stripMargin,
    "w6_range_frame" ->
      """SELECT user_id, event_id, ts,
        |       COUNT(*) OVER w AS n_1h,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // same oracle for the rebuild and the incremental merge: the merge
    // is CORRECT precisely when it reproduces the full-history rebuild
    "etl_scd2_merge" -> Scd2RebuildSql,
    "etl_scd2" -> Scd2RebuildSql,
    "s18_change_feed" ->
      """SELECT c_custkey, 'update' AS change_type,
        |       CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE) AS old_bal,
        |       CAST(CAST(c_acctbal AS DECIMAL(18,4)) + 100 AS DOUBLE) AS new_bal
        |FROM customer WHERE c_custkey % 10 = 0""".stripMargin,
    "s17_time_travel" ->
      """WITH c AS (SELECT c_custkey,
        |                  CAST(c_acctbal AS DECIMAL(18,4)) AS bal
        |           FROM customer)
        |SELECT 0 AS version, COUNT(*) AS n_rows,
        |       CAST(SUM(bal) AS DOUBLE) AS sum_bal,
        |       10 AS n_files, 10 AS n_shared_with_v0
        |FROM c
        |UNION ALL
        |SELECT 1, COUNT(*),
        |       CAST(SUM(CASE WHEN c_custkey % 10 = 0
        |                     THEN bal + 100 ELSE bal END) AS DOUBLE),
        |       10, 9
        |FROM c""".stripMargin,
    "s10_partition_prune" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,
    "s11_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "s12_drop_truncate" ->
      """SELECT (SELECT COUNT(*) FROM region) AS pre_rows,
        |       CAST(0 AS BIGINT) AS rows_after_truncate,
        |       TRUE AS table_dropped""".stripMargin,
    "s13_compact" ->
      """SELECT COUNT(*) AS n_rows, TRUE AS files_match_target,
        |       TRUE AS content_preserved
        |FROM orders""".stripMargin,
    "j8_bloom_filter_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin,
    "w1b_surrogate_key_scale" ->
      """SELECT c_custkey, c_name,
        |       ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key
        |FROM customer""".stripMargin,
    "s14_zorder_layout" ->
      """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
        |                  MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx
        |           FROM lineitem)
        |SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem, b
        |WHERE l_partkey <= pmn + CAST(FLOOR((pmx - pmn) / 4.0) AS BIGINT)
        |  AND l_suppkey <= smn + CAST(FLOOR((smx - smn) / 4.0) AS BIGINT)""".stripMargin,
    "j10_interval_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS okey_a, CAST(o_orderdate AS DATE) AS astart,
        |         CAST(o_orderdate AS DATE) + 1 AS aend
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |b AS (
        |  SELECT o_orderkey AS okey_b, CAST(o_orderdate AS DATE) AS bstart,
        |         CAST(o_orderdate AS DATE) + 1 AS bend
        |  FROM orders)
        |SELECT okey_a, COUNT(*) AS n_concurrent
        |FROM a JOIN b
        |  ON astart <= bend AND bstart <= aend AND okey_a <> okey_b
        |GROUP BY 1""".stripMargin,
    "j9_salted_skew_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "a17_incremental_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    "a22_incremental_agg_retract" ->
      """WITH corrected AS (
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,4)) AS p
        |  FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT o_orderdate,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 2 AS DECIMAL(18,4))
        |  FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0)
        |SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(p) AS DOUBLE) AS sum_price,
        |       CAST(MAX(p) AS DOUBLE) AS max_price
        |FROM corrected GROUP BY 1""".stripMargin,
    "s15_manifest_prune" ->
      """WITH b AS (SELECT MIN(l_orderkey) AS kmn, MAX(l_orderkey) AS kmx
        |           FROM lineitem),
        |r AS (SELECT kmn + CAST(FLOOR((kmx - kmn) / 2.0) AS BIGINT) AS lo,
        |             kmn + CAST(FLOOR((kmx - kmn) * 5 / 8.0) AS BIGINT) AS hi
        |      FROM b)
        |SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |       TRUE AS manifest_pruned
        |FROM lineitem, r
        |WHERE l_orderkey BETWEEN lo AND hi""".stripMargin,
    // DV semantics replayed as predicate deletes; a position-level
    // mechanism bug in the engine (wrong row_index, double-applied
    // entry, missed file) shows up as a count/sum mismatch here
    "s23_deletion_vectors" ->
      """WITH li AS (SELECT l_quantity AS q, l_returnflag AS rf,
        |                   l_orderkey % 4 AS bk FROM lineitem)
        |SELECT 'base' AS step, COUNT(*) AS n_live,
        |       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       0 AS dv_entries
        |FROM li
        |UNION ALL
        |SELECT 'delete_returned', COUNT(*),
        |       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE),
        |       (SELECT COUNT(*) FROM li WHERE rf = 'R' AND bk <> 3)
        |FROM li WHERE NOT (rf = 'R' AND bk <> 3)
        |UNION ALL
        |SELECT 'delete_highqty', COUNT(*),
        |       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE),
        |       (SELECT COUNT(*) FROM li WHERE bk <> 3 AND (rf = 'R' OR q >= 45))
        |FROM li WHERE NOT (bk <> 3 AND (rf = 'R' OR q >= 45))
        |UNION ALL
        |SELECT 'compacted', COUNT(*),
        |       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE),
        |       0
        |FROM li WHERE NOT (bk <> 3 AND (rf = 'R' OR q >= 45))""".stripMargin,
    "a18_heavy_hitters" ->
      """SELECT event_type, COUNT(*) AS n, TRUE AS sketch_contains_all
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,
    "s22_ingest_ledger" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS pass1_rows,
        |       TRUE AS pass1_found_files,
        |       CAST(0 AS BIGINT) AS pass2_new_files,
        |       CAST(0 AS BIGINT) AS pass2_rows
        |FROM lineitem""".stripMargin,
    "a21_countmin" ->
      """WITH counts AS (
        |  SELECT l_partkey, COUNT(*) AS n_true FROM lineitem GROUP BY 1),
        |keyed AS (
        |  SELECT l_partkey, n_true, r,
        |         (instr('0123456789abcdef',
        |                substr(md5(r || ':' || l_partkey), 1, 1)) - 1) * 16
        |         + (instr('0123456789abcdef',
        |                  substr(md5(r || ':' || l_partkey), 2, 1)) - 1) AS c
        |  FROM counts, range(0, 4) t(r)),
        |cells AS (
        |  SELECT r, c, CAST(SUM(n_true) AS BIGINT) AS cell
        |  FROM keyed GROUP BY 1, 2),
        |top AS (SELECT l_partkey FROM counts
        |        ORDER BY n_true DESC, l_partkey LIMIT 3)
        |SELECT k.l_partkey, k.n_true, MIN(cell) AS cms_est,
        |       MIN(cell) >= k.n_true AS no_undercount
        |FROM keyed k
        |JOIN top USING (l_partkey)
        |JOIN cells USING (r, c)
        |GROUP BY 1, 2""".stripMargin,
    "a19_sketch_merge" ->
      """SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
        |       TRUE AS merged_within_5pct
        |FROM orders""".stripMargin,
    "a20_sliding_distinct" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |d AS (SELECT DISTINCT day FROM ev)
        |SELECT d.day, COUNT(DISTINCT e.user_id) AS n_users,
        |       TRUE AS sketch_within_5pct
        |FROM d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin,
    "s19_vacuum" ->
      """SELECT CAST(10 AS INTEGER) AS n_v0_files,
        |       CAST(10 AS INTEGER) AS n_v1_files,
        |       CAST(1 AS INTEGER) AS n_expired,
        |       CAST(1 AS INTEGER) AS n_deleted,
        |       TRUE AS expired_files_gone,
        |       COUNT(*) AS v1_rows,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
        |            + 100 * COUNT(*) FILTER (WHERE c_custkey % 10 = 0)
        |         AS DOUBLE) AS v1_sum_bal
        |FROM customer""".stripMargin)
}
