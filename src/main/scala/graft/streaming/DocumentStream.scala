package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O(1) per-content-hash streaming state: the keeper doc_id — the
  * canonical copy every later duplicate points at. Elected ONCE, as
  * the smallest doc_id in the hash's first micro-batch, and never
  * re-elected (see corpusIngest for why append mode forces that). */
final case class KeeperState(keeper: Long)

/** Streaming front-door for the corpus pipeline: documents arrive as
  * a file stream and exit quality-gated and exact-deduped, the same
  * semantics the batch pipeline (llm_corpus_build stages 1-2, exact
  * half) applies — but incrementally, with the content-hash → keeper
  * mapping living in the state store across micro-batches. This is
  * the shape a production crawl ingest runs: per batch, cost is
  * O(batch) gate projections plus one keyed shuffle on the content
  * hash; the corpus itself is never rescanned (dd_incremental's
  * warm-index argument, running INSIDE the engine's state machinery
  * instead of a hand-carried index table).
  *
  * The quality gate here is computed entirely ROW-LOCALLY (the
  * top-bigram count via higher-order functions over the doc's own
  * bigram array) because a streaming append query admits no global
  * aggregation — semantically identical to tx_filter_pipeline's
  * groupBy formulation: max per-bigram count ≡ array_max of
  * per-distinct-bigram counts.
  */
object DocumentStream {

  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val static = spark.read.parquet(s"$dir/documents.parquet")
    spark.readStream
      .schema(static.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** (doc_id, is_novel, dup_of) for every quality-passing document.
    * Novelty is FIRST-ARRIVAL: is_novel = "this content hash has never
    * been seen by the stream", so exactly one novel row is ever
    * emitted per hash, and every duplicate — including a doc_id
    * SMALLER than the keeper arriving in a later micro-batch — points
    * at the standing keeper (smallest doc_id of the hash's first
    * batch). Append mode cannot retract the keeper's already-emitted
    * rows, so re-electing on a late smaller id would leave two novel
    * rows and dangling dup_of pointers; first-arrival is the only
    * coherent cross-batch reading. When all arrivals land in one
    * micro-batch (the file source here) this coincides bit-for-bit
    * with the batch pipeline's global-min-keeper semantics, which the
    * DuckDB oracle pins. Within a micro-batch, group rows are ordered
    * by doc_id so output is deterministic under any arrival order. */
  /** Memoized document count (the state-partition sizing gate below;
    * GraftSession.rowCount — a regenerated dir re-probes, and a failed
    * probe (-1) sizes conservative THIS call and re-probes next time). */
  private def docCountFor(spark: SparkSession, dir: String): Long =
    graft.core.GraftSession.rowCount(graft.core.Tables(spark, dir), "documents", -1L)

  def corpusIngest(spark: SparkSession, dir: String): DataFrame = {
    // state-partition count sized to the KEYED-STATE cardinality (one
    // content hash per doc), measured at sf0.1/sf1/sf10: each RocksDB
    // store instance carries fixed per-batch commit overhead (8 parts
    // beat 32 by ~0.6 s when state is small: 2.0 vs 2.6 s at sf0.1,
    // 3.7 vs 4.4 s at sf1), but past ~10⁵ keys the per-instance
    // commit IO dominates and more instances parallelize it (sf10,
    // 500k keys: 25.6 s at 8 parts → 21.5 s at 32). ~16k keys per
    // instance is the measured crossover grain; the upper clamp is
    // the core count here, the executor count on a real cluster. A
    // failed probe (-1) sizes to the floor — small-state overhead is
    // bounded; undersized instances at huge state are the real risk,
    // but refusing to stream over a probe hiccup would be worse.
    val docs = docCountFor(spark, dir)
    val parts =
      math.min(32L, math.max(EventStream.StateParts.toLong, docs / 16000L)).toInt
    EventStream.runToTable(spark, s"st_corpus_${dir.hashCode.abs}",
      mode = "append", largeState = true,
      stateParts = parts) { ss =>
      import ss.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val normCol = graft.functions.TextFunctions.normText(col("text"))
      // row-local top-bigram count as the max run length of the SORTED
      // bigram array — O(w log w) per doc over a BOUND ws value
      def top2On(ws: org.apache.spark.sql.Column) = {
        val bgs = sort_array(transform(sequence(lit(1), size(ws) - 1),
          i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
        aggregate(bgs,
          struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
          (a, x) => struct(x.as("prev"),
            when(x === a.getField("prev"), a.getField("run") + 1)
              .otherwise(lit(1)).as("run"),
            greatest(a.getField("best"),
              when(x === a.getField("prev"), a.getField("run") + 1)
                .otherwise(lit(1))).as("best")),
          a => a.getField("best"))
      }
      // (h, keep) computed with nrm and ws bound ONCE per row as
      // single-element-transform lambda VALUES. This is load-bearing:
      // written as a withColumn chain + gate FILTER, predicate
      // pushdown substitutes the alias definitions into the filter
      // condition unconditionally — including INSIDE the per-element
      // bigram lambda, where higher-order functions run interpreted
      // with no subexpression elimination — so the whole normText
      // regex chain re-ran O(words) times per row (measured: each
      // gate input <1 s alone at sf1, the assembled gate 38 s). A
      // lambda variable is a bound VALUE: nrm and ws evaluate once,
      // and the packed struct is referenced exactly twice downstream
      // (the keep filter and the h projection).
      val packed = element_at(transform(array(normCol), nrm =>
        element_at(transform(array(split(nrm, " ")), ws =>
          struct(
            md5(nrm).as("h"),
            graft.queries.Text.gateKeep(
              nWords = size(ws),
              nDistinct = size(array_distinct(ws)),
              top2 = when(size(ws) >= 2, top2On(ws)),
              lang = col("lang"),
              stopHits = graft.functions.TextFunctions.stopwordHits(col("text")))
              .as("keep"))), lit(1))), lit(1))
      val gated = readDocuments(ss, dir)
        // decouple gate parallelism from FILE layout (the
        // decodeFeatures lesson): the expensive projection below runs
        // on the source partitioning, and a file stream source plans
        // one partition per arriving file — a fat file would bottleneck
        // the whole regex/digest gate on one core. One O(batch)
        // round-robin exchange first, then the gate cost rides the
        // stream's shuffle-partition sizing.
        .repartition(col("doc_id"))
        .select(col("doc_id"), packed.as("s"))
        .filter(col("s.keep"))
        .select(col("s.h").as("h"), col("doc_id"))
        .as[(String, Long)]
      gated.groupByKey(_._1)
        .flatMapGroupsWithState[KeeperState, (Long, Boolean, Option[Long])](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, it, state: GroupState[KeeperState]) =>
            val ids = it.map(_._2).toSeq.sorted
            if (ids.isEmpty) Iterator.empty
            else state.getOption match {
              case Some(KeeperState(k)) =>
                // hash already known: everything in this batch is a
                // duplicate of the standing keeper, even ids < k
                ids.iterator.map(id => (id, false, Some(k)))
              case None =>
                val k = ids.head
                state.update(KeeperState(k))
                ((k, true, Option.empty[Long]) +:
                  ids.tail.map(id => (id, false, Some(k)))).iterator
            }
        }
        .toDF("doc_id", "is_novel", "dup_of")
    }
  }

  /** Online deployment of the DSIR selection model (sel_dsir): fit
    * the bucket-weight model and keep-threshold on the reference
    * corpus in batch (three BOUNDED collects — ≤256 rows + 1 + 1,
    * once, before the stream starts), COMPILE them into a row-local
    * scoring expression, and run the stream through it as a pure
    * stateless projection — no state store, no stream-side join, no
    * aggregation, so the gate admits unlimited parallelism and its
    * per-batch cost is exactly one expression pass over the batch.
    * This is the standard "train offline, serve online" split; the
    * kept flag reproduces the batch selection rule "at least as
    * target-like as the reference corpus' DsirK-th doc" bit-for-bit
    * (same integer fixed-point weights), which the oracle pins. */
  def selGate(spark: SparkSession, dir: String): DataFrame = {
    val (weights, dFp, thr) =
      graft.queries.Selection.dsirCompiled(spark, dir)
    EventStream.runToTable(spark, s"st_sel_${dir.hashCode.abs}",
      mode = "append") { ss =>
      readDocuments(ss, dir)
        .select(col("doc_id"),
          split(graft.functions.TextFunctions.normText(col("text")), " ")
            .as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
          expr(graft.queries.Selection.dsirScoreExpr("ws", weights, dFp))
            .as("dsir_fp"))
        .withColumn("kept", col("dsir_fp") >= thr)
    }
  }

  /** Online deployment of the source cap (sel_source_cap), the same
    * train-offline/serve-online split as [[selGate]]: the per-source
    * threshold table is fit in batch (one bounded collect — the
    * source taxonomy, ≤ thousands of rows like every mixing/datacard
    * cell key), baked into two literal maps, and each arriving doc
    * keeps iff its 16-bit hash slice falls under its source's
    * threshold — a pure stateless projection, bit-identical to the
    * batch decision. A source never seen at fit time admits at full
    * rate (no history → nothing to cap) with n_source = 0; a NULL
    * source is dropped, matching the batch operator's inner join. */
  def sourceCapGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Selection
    val model = Selection.sourceCapCompiled(spark, dir)
    val fullRate = lit(Selection.CapGrain.toLong)
    val nMap = map(model.flatMap { case (src, n, _) =>
      Seq(lit(src), lit(n)) }: _*)
    val tMap = map(model.flatMap { case (src, _, t) =>
      Seq(lit(src), lit(t)) }: _*)
    EventStream.runToTable(spark, s"st_srccap_${dir.hashCode.abs}",
      mode = "append") { ss =>
      val thr = coalesce(element_at(tMap, col("source")), fullRate)
      readDocuments(ss, dir)
        .select(col("doc_id"), col("source"))
        .filter(col("source").isNotNull)
        .withColumn("m", Selection.capDigestCol(col("doc_id")))
        .withColumn("hv", expr(Selection.capHashExpr("m")))
        .select(col("doc_id"), col("source"),
          coalesce(element_at(nMap, col("source")), lit(0L)).as("n_source"),
          thr.as("thr_fp"),
          when(col("hv") < thr, 1).otherwise(0).as("kept"))
    }
  }
}
