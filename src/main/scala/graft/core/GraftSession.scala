package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * In local mode the session runs one task thread per CPU
  * (`SPARK_GRAFT_CPUS`, default 32; the specs use local[4]) and as many
  * shuffle partitions. On a real cluster the same builder is used with
  * `master` unset (taken from spark-submit) and shuffle partitions sized
  * to ~2-3x total executor cores. AQE is enabled so the physical plan
  * re-sizes partitions / rewrites skewed joins at runtime — the knob
  * that matters most at 100 TB.
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: String = defaultCpus): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      // shuffle partitions default to the thread count (right for the
      // sf0.1 gate), overridable independently: partition count is THE
      // knob that must scale with data volume — at 100x the gate scale
      // a fixed 32 leaves tens of millions of rows per reduce
      // partition and every hash aggregate falls back to sort-spill.
      // AQE coalesces over-partitioned shuffles down, so oversizing is
      // cheap; undersizing is not recoverable at runtime.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // native codegen'd vector expressions (vec_dot / vec_cosine)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // harness events.parquet carries TIMESTAMP(NANOS); read as Long ns
      // and convert in Tables (exact — data is µs-granular).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache (static, one per JVM) must hold the
      // working set, or a plan shape compiled a few requests ago is
      // evicted and Janino compiles it again. Measured working sets: about
      // 550 classes per nightly ETL + model + corpus cycle, about 250 for
      // the serving set-up. The default 100 evicted nearly all of them
      // (a warm nightly cycle recompiled 543 of 546); 2048 keeps both
      // with room. Each entry is one loaded class, a few KB of metaspace.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
    // GRAFT_SESSION_CONF="k=v[,k=v...]": extra session confs for scale
    // rehearsals (e.g. graft.reco.niBroadcastLimit past the 4M default
    // at an sf30 corpus's 6M-item catalog) — a no-op unless set, so
    // the driver's bench/verify contract is untouched by default.
    sys.env.get("GRAFT_SESSION_CONF").toSeq
      .flatMap(_.split(",")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k, v) }
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** File-listing fingerprint of a table path — (name, mtime, length)
    * of every top-level entry, order-independent, via the Hadoop FS of
    * the path (works for local paths at gate scale and HDFS/S3A on a
    * cluster). A metadata-only call (~ms) against the count job it
    * guards (seconds to minutes). Unreadable/absent paths fingerprint
    * as "absent" so a transient FS error can never alias a real
    * listing. */
  def pathFingerprint(spark: SparkSession, path: String): String = scala.util.Try {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = fs.listStatus(p)
      .map(f => s"${f.getPath.getName}:${f.getModificationTime}:${f.getLen}")
      .sorted.mkString("|")
    // full 128-bit digest, not String.hashCode: a 32-bit collision
    // between two different listings of the same path (~2^-32 per
    // rewrite) would let CountMemo serve a stale count to a broadcast
    // gate — the exact staleness class the fingerprint exists to
    // prevent. MD5 collisions across a path's own rewrites are not a
    // realistic event (and this is not a security boundary).
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(listed.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }.getOrElse("absent")

  /** Memoized long-valued table probe (the row counts behind broadcast
    * gates and partition/block sizing): one count job per JVM + path +
    * file-listing FINGERPRINT. The fingerprint in the key is what
    * makes the memo safe under regeneration — a dir rewritten larger
    * in the same JVM changes its listing, so the stale small count can
    * never keep a broadcast path selected past its gate (the
    * driver-OOM class the gates exist to prevent). Only successful
    * computes memoize: a failure returns `onError` for THIS call — the
    * caller picks the fail-closed value (Long.MaxValue for "too big to
    * broadcast", -1 for "unknown, use floor sizing") — and the next
    * call re-probes. Stale-fingerprint entries for the same path are
    * dropped on write, so the map stays O(live paths). */
  final class CountMemo(onError: Long, onMissing: Long) {
    /** Missing tables indistinguishable from errors (original form). */
    def this(onError: Long) = this(onError, onError)
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def apply(spark: SparkSession, path: String)(compute: => Long): Long = {
      val fp = pathFingerprint(spark, path)
      // "absent" covers both provably-missing and unreadable paths; an
      // explicit exists() (metadata-only, and only on this rare branch)
      // splits them so a gate can treat "table genuinely not there"
      // (onMissing) differently from "transient FS error" (onError,
      // via the compute throwing below). Never cached: a table created
      // later must be seen on the next call.
      if (onMissing != onError && fp == "absent") {
        val provablyMissing = scala.util.Try {
          val p = new org.apache.hadoop.fs.Path(path)
          !p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
        }.getOrElse(false)
        if (provablyMissing) return onMissing
      }
      val key = s"$path@$fp"
      Option(cache.get(key)).map(_.longValue).getOrElse {
        val c = scala.util.Try(compute).getOrElse(onError)
        if (c != onError) {
          val it = cache.keySet.iterator
          while (it.hasNext) {
            val k = it.next()
            if (k.startsWith(s"$path@") && k != key) it.remove()
          }
          cache.put(key, c)
        }
        c
      }
    }
  }

  /** Local session used by mains and tests. */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = defaultCpus
    val s = builder(appName, cpus).master(s"local[$cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sweepStaleScratch(s)
    s
  }

  /** Scratch path for a query's side-effect output, unique per
    * (operator, data dir, SPARK APPLICATION): two processes running
    * the same query against the same data dir (e.g. Verify and Bench
    * concurrently) must never overwrite each other's layout mid-read.
    * toUnsignedString instead of .abs — Int.MinValue.abs is negative. */
  def scratchDir(spark: SparkSession, tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s"${spark.sparkContext.applicationId}_" +
      java.lang.Integer.toUnsignedString(dir.hashCode)

  /** Scratch TABLE name, unique the same way (catalog names share the
    * derby metastore across sessions in one JVM but not across
    * processes writing to the same warehouse dir). */
  def scratchTable(spark: SparkSession, tag: String, dir: String): String =
    s"g_${tag}_" +
      s"${spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")}_" +
      java.lang.Integer.toUnsignedString(dir.hashCode)

  /** Drop THIS application's scratch tables and delete its scratch
    * dirs — mains call it right before `spark.stop()`, so every normal
    * run leaves the warehouse and tmp exactly as it found them (the
    * app-scoped names otherwise accumulate one full bucketed-table
    * copy per run, without bound). */
  def dropScratch(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    val sanitized = app.replaceAll("[^A-Za-z0-9]", "_")
    scala.util.Try {
      spark.catalog.listTables().collect()
        .map(_.name).filter(n => n.startsWith("g_") && n.contains(sanitized))
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(app))
      .foreach(deleteRecursively)
  }

  /** Sweep scratch left behind by CRASHED/KILLED runs: an app-scoped
    * artifact untouched for 2 h cannot belong to a live harness
    * process (Verify and Bench run minutes; concurrent runs are the
    * reason the names are app-scoped, and age is what keeps this sweep
    * from touching them). Runs once per JVM, from local(). */
  private val sweptStale = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def sweepStaleScratch(spark: SparkSession): Unit =
    if (sweptStale.compareAndSet(false, true)) scala.util.Try {
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      // only names matching scratchDir's EXACT graft_<tag>_<appId>_<hash>
      // shape are scratch this engine wrote. The appId alternative is
      // anchored to the REAL Spark id shapes — local mode
      // "local-<millis>", standalone "app-<14-digit ts>-<4-digit seq>",
      // YARN "application_<ts>_<seq>", Kubernetes/Mesos
      // "spark-<hex-uuid-ish>" (spark-app-... on some operators, hence
      // the [a-z0-9-]* tail — still underscore-free, so it cannot
      // cross into a tag segment) — and the trailing segment is
      // scratchDir's unsigned decimal hash. The match is anchored
      // end-to-end: a bare prefix test once swept a GenScale rehearsal
      // corpus mid-bench; the substring-infix fix still matched any
      // aged dir whose TAG contained "_app"; and a looser "app\\S*"
      // alternative crossed underscores and matched any tag segment
      // starting with "app" (graft_sf10_apply_2-style names) — each a
      // recurrence of the same data-loss class with a narrower trigger.
      // Without the k8s shape, aged scratch merely LEAKED there
      // (conservative direction) — but a leak on a long-lived pod is
      // still a disk-pressure bug.
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.matches(
          "graft_.+_(local-\\d+|app-\\d{14}-\\d{4}|application_\\d+_\\d+" +
            "|spark-[a-f0-9][a-z0-9-]*)_\\d+") &&
          f.lastModified < cutoff)
        .foreach(deleteRecursively)
      val warehouse = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("g_"))
        .filter { n =>
          val d = new java.io.File(warehouse, n)
          !d.exists || d.lastModified < cutoff // dangling or stale
        }
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRecursively)
    f.delete()
  }
}
