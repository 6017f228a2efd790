package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Persisted, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** The end-to-end LLM pretraining-corpus build — the north-star
  * pipeline every individual operator in this engine exists to serve,
  * composed as ONE Spark plan so Catalyst/AQE optimize across stage
  * boundaries instead of across five materialization gaps:
  *
  *   quality gate (tx_filter_pipeline thresholds)
  *     → exact + near dedup (dd_dedup_corpus semantics)
  *     → eval-set decontamination (dd_decontaminate_overlap's graded
  *       overlap gate at the 50% near-verbatim threshold,
  *       bloom-fronted like dd_decontaminate_bloom)
  *     → reproducible domain mix (tx_corpus_mix's md5-order cap)
  *     → sequence packing (tx_pack's distributed prefix sum).
  *
  * Two query surfaces share the stage definitions: llm_corpus_build
  * emits the packed training corpus, llm_corpus_audit emits one row
  * per INPUT document naming the first stage that dropped it — the
  * provenance table a production corpus pipeline publishes alongside
  * the corpus so "why is this doc (not) in my training set" is a
  * lookup, not a re-run.
  *
  * Scale shape: every stage is the scale-audited form of its
  * standalone query — the gate is one scan + one bounded per-doc
  * bigram agg; dedup survivors only FILTER (two semi/anti joins on
  * doc_id, the text never rewrites); the decontamination probe ships
  * only probably-contaminated shingles into the join thanks to the
  * bloom front; the mix is one window shuffle with a bounded rank
  * counter per (lang, source) cell; packing is the two-pass prefix
  * sum (per-partition sums to the driver — one long per partition —
  * then a broadcast-offset running pass), never a single-partition
  * global window. The multiply-referenced intermediates (the gated
  * corpus, the dedup survivors) are persisted because three stages
  * fan out from each — at warehouse scale those are the checkpoint
  * tables a production pipeline writes between stages anyway.
  *
  * Reference: this composes the corpus-preparation steps the
  * reference system runs as separate jobs (see SURVEY.md §2's tx_/dd_
  * rows) into the single declarative plan a Spark-first design makes
  * natural.
  */
object Flagship {
  type Q = (SparkSession, String) => DataFrame

  /** The pipeline's stage sets, each a (doc_id[, …]) frame. Built once
    * per query; the heavy multi-consumer intermediates are kept. */
  private final case class Stages(
    docs: DataFrame,      // full input corpus (kept)
    gate: DataFrame,      // doc_ids passing the quality gate
    kept: DataFrame,      // docs ∩ gate (kept)
    exactKeep: DataFrame, // exact-content representatives within kept
    nearDrop: DataFrame,  // near-dup cluster members that aren't reps
    deduped: DataFrame,   // kept minus dup drops (kept)
    clean: DataFrame,     // even-half deduped docs clearing decontamination
    mixed: DataFrame)     // clean docs surviving the per-cell mix cap

  private def stages(p: Persisted, s: SparkSession, dir: String): Stages = {
    // normalize ONCE: the normText regex chain is the dominant per-row
    // cost of every text pass, and this pipeline would otherwise run
    // it five times (gate, exact dedup, LSH shingling, both
    // decontamination sides) — measured ~1.5-2 s per pass at sf0.1.
    // The cached `nrm` column feeds every stage; the Dedup operators
    // take it with normalize = false (identical semantics — normText
    // is idempotent). At warehouse scale this column is exactly what
    // you'd store alongside the raw text.
    // spread the corpus BEFORE the normalize+keep (PlanStats.spread):
    // a compact parquet source caches at its few input splits, and
    // every one-time heavy pass the cache build pays (the normText
    // regex chain, the gate's bigram agg) inherits that width — measured at sf10: the cache-build stages
    // ran 14-wide (the source's split count) at ~50-63 task-s each.
    // Small corpora pay one narrow exchange for full-width builds; at
    // warehouse scale the estimate exceeds the threshold and the
    // source's own splits already parallelize (no exchange — §6).
    val docs = p.keep(graft.core.PlanStats.spread(Tables(s, dir).documents, "doc_id")
      .withColumn("nrm", normText(col("text"))))

    // stage 1 — quality gate, same thresholds as tx_filter_pipeline
    val words = docs.select(col("doc_id"), col("lang"),
      stopwordHits(col("text")).as("stop_hits"),
      split(col("nrm"), " ").as("ws"))
    val base = words.select(col("doc_id"), col("lang"), col("stop_hits"),
      size(col("ws")).as("n_words"),
      size(array_distinct(col("ws"))).as("n_distinct"))
    val gate = Text.topBigram(words).join(base, Seq("doc_id"), "right")
      .filter(Text.gatePredicate)
      .select("doc_id")
    val kept = p.keep(docs.join(gate, Seq("doc_id"), "left_semi"))

    // stage 2 — exact + near dedup among the survivors
    val exactKeep = Dedup.exact(kept, textCol = "nrm", normalize = false)
      .select(col("keep_id").as("doc_id"))
    val nearDrop = Dedup.clusters(
        Dedup.minhashLshPairs(kept, textCol = "nrm", normalize = false))
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val deduped = p.keep(kept.join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDrop, Seq("doc_id"), "left_anti"))

    // stage 3 — decontaminate the train half (even doc_id) against
    // the eval half's shingle set: drop a train doc when ≥50% of its
    // shingles appear somewhere in the eval set. The strict 10% gate
    // dd_decontaminate_overlap reports is an AUDIT threshold; as a
    // DROP rule on this corpus it deletes every train doc (all share
    // generator-level stock phrasing with some eval doc — measured
    // overlap mode 0.3-0.5 at sf0.01), so the build drops only
    // near-verbatim leakage (which includes all cross-half exact
    // dupes at overlap 1.0). The eval set is the external benchmark
    // corpus, so it is NOT quality-filtered.
    // BOTH shingle frames are multi-consumer and therefore kept
    // (measured at sf10: without the caches each subtree
    // executed TWICE — evalSh once inside the bloom's scalar subquery
    // and once as the join side [identical stage twins, ~63 s of a
    // 206 s wall], trSh once for the explode probe and once for the
    // clean-side size() — the CacheManager substitutes the cache into
    // subquery plans too, so one materialization now serves both).
    val evalSh = p.keep(Dedup.withShingles(docs.filter(col("doc_id") % 2 === 1),
        textCol = "nrm", normalize = false)
      .select(explode(col("shingles")).as("shingle")).distinct())
    val trSh = p.keep(Dedup.withShingles(deduped.filter(col("doc_id") % 2 === 0),
        textCol = "nrm", normalize = false)
      .select(col("doc_id"), col("shingles")))
    val exploded = trSh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val probe = graft.functions.BloomFilterSupport
      .mightContainProbe(evalSh, "shingle", col("shingle"), 1L * 1000 * 1000)
    val shared = exploded.filter(probe).join(evalSh, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val clean = trSh.select(col("doc_id"), size(col("shingles")).as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .filter(coalesce(col("n_shared"), lit(0L)).cast("double") /
        col("n_shingles") < 0.5)
      .select("doc_id")

    // stage 4 — reproducible domain mix (md5 order, MixCap per cell)
    val cleanDocs = deduped.join(clean, Seq("doc_id"), "left_semi")
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val mixed = cleanDocs.withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= Text.MixCap)

    Stages(docs, gate, kept, exactKeep, nearDrop, deduped, clean, mixed)
  }

  val queries: Map[String, Q] = Map(
    "llm_corpus_build" -> ((s, dir) => {
      // stage 5 — pack into PackTokens-sized training windows. The
      // mixed survivor set is SMALL (≤ MixCap per cell); the scope
      // checkpoints it and releases the corpus-sized stage caches, so
      // packing (and the final write) re-executes only the checkpointed
      // frame, not the pipeline.
      val sized = Persisted.scoped { p =>
        stages(p, s, dir).mixed.select(col("doc_id"), col("lang"), col("source"),
          wsTokenCount(col("text")).cast("long").as("n_tokens"))
      }
      Text.packPrefix(s, sized)
    }),
    // provenance: one row per INPUT doc, naming the FIRST stage that
    // dropped it (pipeline order), 'kept' for corpus members. Pure
    // doc_id-keyed left joins of the stage sets + one CASE — the
    // audit costs one extra pass over slim id sets, not a second
    // pipeline run per stage. One row per input doc: the scope
    // checkpoints it and releases the stage caches.
    "llm_corpus_audit" -> ((s, dir) =>
      Persisted.scoped(p => auditPlan(p, s, dir))))

  /** The composed audit frame over the stage sets kept in `p`, before
    * the scope checkpoints it — the plan-inspection surface for
    * PlanSpec (the checkpointed result hides the composed plan from
    * executedPlan). */
  private[graft] def auditPlan(p: Persisted, s: SparkSession, dir: String): DataFrame = {
    val st = stages(p, s, dir)
    def mark(df: DataFrame, name: String): DataFrame =
      df.select(col("doc_id"), lit(true).as(name))
    st.docs.select(col("doc_id"))
      .join(mark(st.gate, "in_gate"), Seq("doc_id"), "left")
      .join(mark(st.exactKeep, "is_exact_rep"), Seq("doc_id"), "left")
      .join(mark(st.nearDrop, "is_near_drop"), Seq("doc_id"), "left")
      .join(mark(st.clean, "is_clean"), Seq("doc_id"), "left")
      .join(mark(st.mixed.select("doc_id"), "in_mix"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("in_gate").isNull, "quality")
          .when(col("is_exact_rep").isNull, "exact_dup")
          .when(col("is_near_drop").isNotNull, "near_dup")
          .when(col("doc_id") % 2 === 1, "eval_holdout")
          .when(col("is_clean").isNull, "contaminated")
          .when(col("in_mix").isNull, "mix_overflow")
          .otherwise("kept").as("stage"))
  }

  /** DuckDB shingle-list rendering (Dedup.withShingles, n = 3) over
    * whatever relation's `text` column is in scope. */
  private def shl: String =
    s"""list_distinct(list_transform(
       |      range(1, greatest(len(string_split(${DedupQueries.norm}, ' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(${DedupQueries.norm}, ' '))[i:i+2], ' ')))""".stripMargin

  /** Shared CTE chain replaying stages 1-4 (through `mixed`). */
  private def chainSql: String =
    s"""WITH RECURSIVE
       |w AS (SELECT doc_id, lang,
       |        len(regexp_extract_all(lower(text), '\\b(${Text.stopsEn})\\b')) AS stop_hits,
       |        string_split(${Text.normDuck}, ' ') AS ws FROM documents),
       |b AS (SELECT doc_id, lang, stop_hits, len(ws) AS n_words,
       |        len(list_distinct(ws)) AS n_distinct FROM w),
       |t AS (SELECT doc_id, MAX(c) AS top2 FROM (
       |        SELECT doc_id, g, COUNT(*) AS c FROM (
       |          SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |                 i -> ws[i] || ' ' || ws[i+1])) AS g
       |          FROM w WHERE len(ws) >= 2) GROUP BY doc_id, g)
       |      GROUP BY doc_id),
       |gate AS (SELECT doc_id FROM b LEFT JOIN t USING (doc_id)
       |         WHERE ${Text.gateWhereSql}),
       |kept AS (SELECT d.* FROM documents d JOIN gate USING (doc_id)),
       |p AS (SELECT id_a, id_b FROM (${DedupQueries.minhashPairsSql("kept")}) q),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM p
       |          UNION ALL SELECT id_b, id_a FROM p),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
       |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
       |near_drop AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id),
       |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM kept
       |               GROUP BY md5(${DedupQueries.norm})),
       |dd AS (SELECT k.* FROM kept k JOIN exact_keep USING (doc_id)
       |       WHERE k.doc_id NOT IN (SELECT doc_id FROM near_drop)),
       |evsh AS (SELECT DISTINCT unnest(shingles) AS shingle FROM (
       |           SELECT $shl AS shingles
       |           FROM documents WHERE doc_id % 2 = 1)),
       |trsh AS (SELECT doc_id, $shl AS shingles
       |         FROM dd WHERE doc_id % 2 = 0),
       |sc AS (SELECT doc_id, COUNT(*) AS n_shared FROM (
       |         SELECT doc_id, unnest(shingles) AS shingle FROM trsh) tr
       |       JOIN evsh USING (shingle) GROUP BY doc_id),
       |clean AS (SELECT t2.doc_id FROM trsh t2 LEFT JOIN sc USING (doc_id)
       |          WHERE CAST(coalesce(sc.n_shared, 0) AS DOUBLE)
       |                / len(t2.shingles) < 0.5),
       |mixed AS (SELECT doc_id, lang, source, text FROM (
       |            SELECT d2.doc_id, d2.lang, d2.source, d2.text,
       |                   ROW_NUMBER() OVER (PARTITION BY d2.lang, d2.source
       |                     ORDER BY md5(CAST(d2.doc_id AS VARCHAR)), d2.doc_id) AS rk
       |            FROM dd d2 JOIN clean USING (doc_id))
       |          WHERE rk <= ${Text.MixCap})""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_corpus_build" ->
      s"""$chainSql,
         |tok AS (SELECT doc_id, lang, source,
         |          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |        FROM mixed),
         |c AS (SELECT doc_id, lang, source, n_tokens,
         |        CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_start
         |      FROM tok)
         |SELECT doc_id, lang, source, n_tokens, cum_start,
         |       CAST(cum_start // ${Text.PackTokens} AS BIGINT) AS bin_id,
         |       CAST(cum_start % ${Text.PackTokens} AS BIGINT) AS bin_offset
         |FROM c""".stripMargin,
    "llm_corpus_audit" ->
      s"""$chainSql
         |SELECT d.doc_id,
         |       CASE WHEN g.doc_id IS NULL THEN 'quality'
         |            WHEN ek.doc_id IS NULL THEN 'exact_dup'
         |            WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
         |            WHEN d.doc_id % 2 = 1 THEN 'eval_holdout'
         |            WHEN cln.doc_id IS NULL THEN 'contaminated'
         |            WHEN mx.doc_id IS NULL THEN 'mix_overflow'
         |            ELSE 'kept' END AS stage
         |FROM documents d
         |LEFT JOIN gate g ON d.doc_id = g.doc_id
         |LEFT JOIN exact_keep ek ON d.doc_id = ek.doc_id
         |LEFT JOIN near_drop nd ON d.doc_id = nd.doc_id
         |LEFT JOIN clean cln ON d.doc_id = cln.doc_id
         |LEFT JOIN (SELECT doc_id FROM mixed) mx ON d.doc_id = mx.doc_id""".stripMargin)
}
