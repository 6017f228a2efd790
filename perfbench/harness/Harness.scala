package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.SparkEntry
import graft.analytics.Analytics
import graft.core.{GraftSession, Tables}
import graft.etl.Pipeline
import graft.ml.Recommender

/** Drives one workload through the program's public functions and writes
  * what happened to a JSON result file: every op's span, its outputs (for
  * the checks that run after this process exits) and, when tracing, the
  * listener counts that fell inside each op's window.
  *
  *   Harness --workload W --data DIR --work DIR --seconds S --plan FILE
  *           --trace 0|1 --out FILE
  *
  * The caller generates the inputs (request plan, seed); this process
  * only receives snapshot directories, SQL text and user lists. */
object Harness {

  /** One span: a public call (or a group of them) with its wall time. */
  final case class Op(id: Int, name: String, phase: String, cycle: Int,
      parent: Int, startMs: Long, endMs: Long, wallMs: Double,
      ok: Boolean, error: String, info: Map[String, Any])

  private val ops = ArrayBuffer[Op]()
  /** Collected results awaiting the (untimed) write for the checks. */
  private val pending = ArrayBuffer[(Int, Array[Row], StructType)]()
  private val K = 5

  private var spark: SparkSession = _
  private var work: File = _
  private var data: String = _

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    data = new File(a("data")).getAbsolutePath
    work = new File(a("work")).getAbsoluteFile
    val plan = new ObjectMapper().readTree(new File(a("plan")))

    HeapWatch.install()
    spark = GraftSession.local(s"perfbench-$workload")
    val sessionReadyMs = System.currentTimeMillis()
    val sampler =
      if (traced) {
        spark.sparkContext.addSparkListener(new TraceBuffer.SchedulerListener)
        Some(new ScratchSampler(Seq(new File(work, "local"), new File(work, "tmp"))))
      } else None

    val run = workload match {
      case "nightly_batch" => new Nightly(seconds, traced)
      case "serve" => new Serve(seconds, traced, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.setup()
    run.timed()
    run.post()
    val k0 = System.nanoTime()
    val kernels = if (traced) Kernels.measure(spark, run.servingDir) else Map.empty[String, Double]
    val kernelsS = (System.nanoTime() - k0) / 1e9

    writeOutputs()
    // about 3 s of CPU: traced runs only, to keep untraced runs in budget
    val probe = if (traced) HostProbe.measure() else (0.0, 0.0)
    val scratchPeak = sampler.map(_.stop()).getOrElse(0L)
    if (traced) TraceBuffer.drain()
    val counts: Map[Int, Map[String, Double]] =
      if (traced) ops.map(o => o.id -> TraceBuffer.countsIn(o.startMs, o.endMs)).toMap
      else Map.empty
    val status = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

    val result = Map(
      "workload" -> workload,
      "trace" -> traced,
      "jvm_start_ms" -> jvmStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "first_timed_ms" -> run.firstTimedMs,
      "setup_reps_s" -> run.setupReps.toSeq,
      "timed_jit_ms" -> run.timedJvm(0),
      "timed_gc_ms" -> run.timedJvm(1),
      "timed_codegen_classes" -> run.timedJvm(2),
      "cycles" -> run.cycles.toSeq.map { case (s, e) =>
        Map("start_ms" -> s, "end_ms" -> e, "wall_s" -> (e - s) / 1e3) },
      "ops" -> ops.toSeq.map { o =>
        Map("id" -> o.id, "name" -> o.name, "phase" -> o.phase, "cycle" -> o.cycle,
          "parent" -> o.parent, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
          "wall_ms" -> o.wallMs, "ok" -> o.ok, "error" -> o.error, "info" -> o.info,
          "counts" -> counts.getOrElse(o.id, Map.empty)) },
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => run.oracles.contains(k) },
      "vm_hwm_kb" -> status,
      "peak_heap_after_gc_bytes" -> HeapWatch.peakAfterGc,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "probe" -> Map("st" -> probe._1, "mt" -> probe._2),
      "scratch_peak_bytes" -> scratchPeak,
      "trace_callback_ms" -> TraceBuffer.callbackNs.get / 1e6,
      "kernels" -> kernels,
      "kernels_s" -> kernelsS)
    Files.writeString(Paths.get(a("out")), Json.render(result))
    GraftSession.dropScratch(spark)
    spark.stop()
  }

  /** Writes every kept answer as parquet for the checks, a few at a
    * time (they are small, so job launch dominates). */
  private def writeOutputs(): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = pending.toSeq.map { case (id, rows, schema) => Future {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$id")
    } }
    try writes.foreach(Await.result(_, Duration.Inf)) finally pool.shutdown()
  }

  // ---------------------------------------------------------------- spans

  private val open = scala.collection.mutable.Stack[Int]()

  /** Runs `f` as one span; spans opened inside it become its children.
    * Returns the span id and the value, if any. */
  def span[A](name: String, phase: String, cycle: Int,
      info: Map[String, Any] = Map.empty)(f: => A): (Int, Option[A]) = {
    val id = ops.size
    val parent = open.headOption.getOrElse(-1)
    ops += null
    open.push(id)
    val j0 = JvmTimes.now()
    val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var err: Option[Throwable] = None
    val value: Option[A] =
      try Some(f) catch { case e: Throwable => err = Some(e); None }
      finally open.pop()
    val wall = (System.nanoTime() - n0) / 1e6
    val jvm = JvmTimes.now().zip(j0).map { case (a, b) => a - b }
    ops(id) = Op(id, name, phase, cycle, parent, s0, System.currentTimeMillis(),
      wall, err.isEmpty,
      err.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").orNull,
      info ++ Map("jit_ms" -> jvm(0), "gc_ms" -> jvm(1), "codegen_classes" -> jvm(2)))
    err.foreach { e =>
      System.err.println(s"[perfbench] $name failed: ${e.getMessage}"); e.printStackTrace()
    }
    (id, value)
  }

  def annotate(id: Int, info: Map[String, Any]): Unit =
    ops(id) = ops(id).copy(info = ops(id).info ++ info)

  /** A span whose result frame is collected inside the span and kept for
    * the output check. `check` names the oracle (or check kind). */
  def collected(name: String, phase: String, cycle: Int, check: String,
      info: Map[String, Any] = Map.empty)(df: => DataFrame): (Int, Option[Array[Row]]) = {
    var schema: StructType = null
    val (id, rows) = span(name, phase, cycle, info + ("check" -> check)) {
      val d = df; schema = d.schema; d.collect()
    }
    rows.foreach(r => pending += ((id, r, schema)))
    (id, rows)
  }

  /** `Pipeline.run` as a span, annotated with its stage results. */
  def pipeline(phase: String, cycle: Int, dir: String, out: String): Unit =
    span("etl.pipeline_run", phase, cycle, Map("check" -> "etl_pipeline")) {
      Pipeline.run(spark, dir, out)
    } match {
      case (id, Some(stages)) => annotate(id, Map(
        "stages" -> stages.map(s => Map("stage" -> s.name, "rows" -> s.rows, "ok" -> s.ok)),
        "rows_written" -> stages.filter(_.ok).map(_.rows).sum))
      case _ =>
    }

  // ------------------------------------------------------------- inputs

  /** Lands a fresh copy of the input tables: per-directory memos in the
    * program (the ALS model cache, the table-count probes) key on the
    * directory, so a fresh one makes every op do its work. */
  def land(name: String): String = {
    val dst = new File(work, s"snap/$name")
    dst.mkdirs()
    new File(data).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.copy(f.toPath, new File(dst, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    dst.getAbsolutePath
  }

  def users(ids: Seq[Int]): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava,
      StructType(Seq(StructField("user", IntegerType))))

  // ---------------------------------------------------------- workloads

  /** `reps`: how many times set-up runs; `setup_s` takes the median. */
  abstract class Workload(reps: Int, seconds: Double, traced: Boolean) {
    val setupReps = ArrayBuffer[Double]()
    val cycles = ArrayBuffer[(Long, Long)]()
    var firstTimedMs = 0L
    /** `JvmTimes` spent inside the timed region. */
    var timedJvm: Seq[Long] = Seq(0L, 0L, 0L)
    def oracles: Set[String]
    def servingDir: String
    def setup(): Unit
    def setupRep(i: Int): Unit
    /** Untimed input delivery before cycle `c`; false when the plan has
      * no cycle `c`. */
    def prepare(c: Int): Boolean = true
    /** One unit of timed work. */
    def cycle(c: Int): Unit
    def post(): Unit = ()

    def runSetupReps(): Unit = (1 to reps).foreach { i =>
      val n0 = System.nanoTime()
      setupRep(i)
      setupReps += (System.nanoTime() - n0) / 1e9
    }

    private var doneMs = 0L
    private var cycleStartMs = 0L
    /** Cycle time so far, the cycle in progress included. */
    def elapsedMs: Long =
      doneMs + (if (cycleStartMs > 0) System.currentTimeMillis() - cycleStartMs else 0L)
    def timeLeft: Boolean = elapsedMs < seconds * 1000

    /** Closed loop, one client: cycles run back to back until `seconds`
      * of cycle time have passed; the cycle in progress then completes
      * (a cycle may also end early on `timeLeft`). */
    def timed(): Unit = {
      val j0 = JvmTimes.now()
      var c = 0
      while ((c == 0 || timeLeft) && prepare(c)) {
        val s = System.currentTimeMillis()
        if (c == 0) firstTimedMs = s
        cycleStartMs = s
        span("cycle", "timed", c)(cycle(c))
        val e = System.currentTimeMillis()
        cycles += ((s, e))
        doneMs += e - s
        cycleStartMs = 0L
        c += 1
      }
      timedJvm = JvmTimes.now().zip(j0).map { case (a, b) => a - b }
    }

    def coverage(dir: String, phase: String, cycle: Int): Unit =
      collected("ml.coverage", phase, cycle, "reco_coverage_quality")(Recommender.coverage(spark, dir, K))

    /** Precision and recall of a model trained on 80% of `dir`'s
      * interactions. It fits a second model, so it runs in traced runs
      * only, after the timed region. */
    def evaluate(dir: String, cycle: Int): Unit =
      if (traced)
        collected("ml.evaluate", "post", cycle, "reco_eval_quality")(Recommender.evaluate(spark, dir, K))

    /** Untimed facts about a trained model, for the model check. */
    def modelFacts(m: ALSModel, cycle: Int): Unit =
      span("ml.model_facts", "post", cycle, Map("check" -> "model")) {
        Map("rank" -> m.rank, "n_users" -> m.userFactors.count(), "n_items" -> m.itemFactors.count())
      } match { case (id, Some(f)) => annotate(id, f); case _ => }
  }

  /** The nightly job: the star-schema rebuild, the streaming upsert, the
    * model refresh with its validation, the item-item table, and the
    * training-corpus build with its graph and selection passes. */
  final class Nightly(seconds: Double, traced: Boolean)
      extends Workload(3, seconds, traced) {
    private val corpus = Seq(
      "flagship.corpus_build" -> "llm_corpus_build",
      "similarity.knn_graph" -> "ss_knn_graph",
      "graph.label_propagation" -> "g_label_propagation",
      "graph.pagerank" -> "g_pagerank",
      "selection.dsir" -> "sel_dsir")
    val oracles: Set[String] = corpus.map(_._2).toSet ++ Set("st_upsert_sink",
      "reco_item_item", "etl_pipeline", "reco_eval", "reco_coverage", "reco_interactions")
    var servingDir: String = _
    private val models = ArrayBuffer[(Int, ALSModel)]()

    private val q = SparkEntry.queries

    /** Land a snapshot and read every table's schema. */
    def setupRep(i: Int): Unit = {
      val t = Tables(spark, land(s"setup$i"))
      t.names.foreach(n => t.table(n).schema)
    }
    def setup(): Unit = runSetupReps()
    override def prepare(c: Int): Boolean = { servingDir = land(s"cycle$c"); true }

    def cycle(c: Int): Unit = {
      val dir = servingDir
      pipeline("timed", c, dir, s"$dir-warehouse")
      collected("streaming.upsert_sink", "timed", c, "st_upsert_sink")(q("st_upsert_sink")(spark, dir))
      span("ml.als_train", "timed", c)(Recommender.train(spark, dir))._2
        .foreach(m => models += ((c, m)))
      collected("ml.item_item", "timed", c, "reco_item_item")(q("reco_item_item")(spark, dir))
      coverage(dir, "timed", c)
      corpus.foreach { case (n, e) => collected(n, "timed", c, e)(q(e)(spark, dir)) }
    }

    override def post(): Unit = {
      models.foreach { case (c, m) => modelFacts(m, c) }
      evaluate(servingDir, 0)
    }
  }

  /** Interactive use of the warehouse and the recommender: analyst SQL
    * over the star schema and the staging tables, top-k and MMR requests
    * and cold-user probes, sent one at a time from the request plan. The
    * plan's warm-up block runs at the end of set-up; the timed region then
    * stops after the request during which `seconds` run out, so its
    * length does not jump by whole blocks. */
  final class Serve(seconds: Double, traced: Boolean, plan: JsonNode)
      // one model set-up: a repetition costs about 7 s of the run budget
      extends Workload(1, seconds, traced) {
    val oracles: Set[String] = Set("etl_pipeline", "reco_eval", "reco_coverage", "reco_interactions")
    var servingDir: String = _
    private var warehouse: String = _
    private var model: Option[ALSModel] = None
    private val mmrUsers = scala.collection.mutable.LinkedHashSet[Int]()
    private def blocks = plan.get("blocks")

    /** Register the warehouse views, then train the serving model on a
      * freshly landed snapshot and measure its catalog coverage. */
    def setupRep(i: Int): Unit = {
      val dir = land(s"serve$i")
      span("setup.register_warehouse", "setup", i)(Pipeline.registerWarehouse(spark, warehouse))
      model = span("ml.als_train", "setup", i)(Recommender.train(spark, dir))._2
      coverage(dir, "setup", i)
      servingDir = dir
    }
    def setup(): Unit = {
      // the star schema the nightly job publishes, landed once
      val src = land("serve0")
      warehouse = s"$src-warehouse"
      pipeline("setup", 0, src, warehouse)
      runSetupReps()
      // every warehouse template and request kind once, untimed: first-use
      // costs (class loading, JIT, planning) stay out of the timed requests
      span("warmup", "setup", 0)(
        plan.get("warmup").elements().asScala.foreach(r => request(r, "setup", 0)))
    }
    override def prepare(c: Int): Boolean = c < blocks.size

    def cycle(c: Int): Unit = {
      val reqs = blocks.get(c).elements().asScala
      while (reqs.hasNext && timeLeft) request(reqs.next(), "timed", c)
    }

    private def request(r: JsonNode, phase: String, c: Int): Unit = {
      val kind = r.get("kind").asText
      val info = Map[String, Any]("request" -> r.get("id").asText,
        "template" -> r.path("template").asText(""))
      kind match {
        case "sql_warehouse" =>
          collected("analytics.warehouse_sql", phase, c, kind, info)(spark.sql(r.get("sql").asText))
        case "sql_staging" =>
          var schema: StructType = null
          val (id, rows) = span("analytics.staging_sql", phase, c, info + ("check" -> kind)) {
            val df = span("analytics.resolve", phase, c)(
              Analytics.runSql(spark, servingDir, r.get("sql").asText))._2.get
            span("analytics.execute", phase, c) { schema = df.schema; df.collect() }._2.get
          }
          rows.foreach(rs => pending += ((id, rs, schema)))
        case _ =>
          val ids = r.get("users").elements().asScala.map(_.asInt).toSeq
          val u = users(ids)
          val lambda = r.path("lambda").asDouble(0.5)
          val m = model.getOrElse(throw new IllegalStateException("no serving model"))
          val (name, df) = kind match {
            case "topk" => ("ml.topk", () => Recommender.cosineTopK(m, u, K))
            case "mmr" =>
              mmrUsers ++= ids
              ("ml.diversify", () => Recommender.diversify(m, u, K, lambda))
            case "cold" => ("ml.cold_probe", () => Recommender.cosineTopK(m, u, K))
          }
          collected(name, phase, c, kind, info ++ Map("users" -> ids, "lambda" -> lambda))(df())
      }
    }

    override def post(): Unit = {
      // the top-1 relevance item of every MMR user, for the MMR contract
      model.foreach { m =>
        collected("ml.top1_reference", "post", 0, "top1")(
          Recommender.cosineTopK(m, users(mmrUsers.toSeq), 1))
        modelFacts(m, 0)
      }
      evaluate(servingDir, 0)
    }
  }
}

/** Single-projection queries over replicated, cached `documents` and
  * `embeddings` rows, timed warm: the codegen'd kernels the operators are
  * built from. Reported in ns per row, net of the same scan with a
  * trivial projection. MinHash, about a hundred times dearer per row
  * than the others, runs over a tenth of the `documents` copies. */
object Kernels {
  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .crossJoin(spark.range(80).toDF("_r"))
      .selectExpr("_r", "text", "split(lower(text), ' ') AS words")
      .selectExpr("_r", "text", "words",
        "array_sort(array_distinct(transform(char_ngrams(text, 5), g -> hash(g)))) AS a")
      .selectExpr("_r", "text", "words", "a", "filter(a, x -> x % 3 <> 0) AS b")
      .persist()
    val someDocs = docs.where("_r < 8")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .crossJoin(spark.range(200).toDF("_r"))
      .selectExpr("vec_id", "embedding").persist()
    val nDocs = docs.count().toDouble
    val nSomeDocs = someDocs.count().toDouble
    val nEmb = emb.count().toDouble
    def wallNs(q: => Unit): Double = {
      q // warm
      (1 to 3).map { _ => val n0 = System.nanoTime(); q; (System.nanoTime() - n0).toDouble }
        .sorted.apply(1)
    }
    val docScan = wallNs(docs.selectExpr("sum(length(text))").collect())
    val someDocScan = wallNs(someDocs.selectExpr("sum(length(text))").collect())
    val embScan = wallNs(emb.selectExpr("sum(size(embedding))").collect())
    def net(base: Double, rows: Double)(q: => Unit): Double = math.max(0.0, wallNs(q) - base) / rows
    val minhash = ColumnBridge.column(
      graft.functions.MinhashSig(ColumnBridge.expression(col("words")), 16))
    val out = Map(
      "functions.char_ngrams_ns_per_row" -> net(docScan, nDocs)(
        docs.selectExpr("sum(size(char_ngrams(text, 5)))").collect()),
      "functions.jaccard_sorted_ge_ns_per_row" -> net(docScan, nDocs)(
        docs.selectExpr("sum(jaccard_sorted_ge(a, b, 0.5))").collect()),
      "functions.minhash_sig_ns_per_row" -> net(someDocScan, nSomeDocs)(
        someDocs.select(minhash.as("s")).selectExpr("sum(size(s))").collect()),
      "functions.vec_dot_ns_per_row" -> net(embScan, nEmb)(
        emb.selectExpr("sum(vec_dot(embedding, embedding))").collect()),
      "functions.topk_scores_ns_per_row" -> net(embScan, nEmb)(
        emb.selectExpr("topk_scores(vec_id, vec_dot(embedding, embedding), 10)").collect()))
    docs.unpersist(); emb.unpersist()
    out
  }
}

/** Cumulative JIT compile ms, GC ms and whole-stage-codegen classes
  * compiled (codegen cache misses) of this JVM. */
object JvmTimes {
  import java.lang.management.ManagementFactory
  def now(): Seq[Long] = Seq(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Peak heap in use right after a collection: the live data plus what
  * the collector kept, sampled at every GC. */
object HeapWatch {
  @volatile var peakAfterGc: Long = 0L
  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peakAfterGc = math.max(peakAfterGc, used) }
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** The fixed, data-free CPU probe of `graft.Bench`: an xorshift/popcount
  * integer mix plus one sqrt per step, timed single-threaded and across
  * every core. Iteration counts are constants, so two runs' probe times
  * compare host speed directly. */
object HostProbe {
  private def kernel(seed: Long, iters: Long): Long = {
    var x = seed; var acc = 0L; var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += java.lang.Long.bitCount(x) +
        java.lang.Double.doubleToRawLongBits(math.sqrt((x & 0xFFFFFFL).toDouble))
      i += 1
    }
    acc
  }

  def measure(): (Double, Double) = {
    val iters = 150000000L
    var sink = kernel(42L, iters / 8)
    val t1 = System.nanoTime()
    sink ^= kernel(0x9E3779B97F4A7C15L, iters)
    val single = (System.nanoTime() - t1) / 1e9
    val n = Runtime.getRuntime.availableProcessors()
    val accs = new Array[Long](n)
    val threads = (0 until n).map(t => new Thread(() => accs(t) = kernel(0x100001L + t, iters)))
    val t2 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val multi = (System.nanoTime() - t2) / 1e9
    sink ^= accs.sum
    System.err.println(f"[perfbench] host probe st $single%.3f s mt($n) $multi%.3f s ($sink%x)")
    (single, multi)
  }
}

/** Minimal JSON rendering for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
