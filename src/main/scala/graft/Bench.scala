package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Times the HEADLINE query set by default (one
  * representative per operator family) and prints one compact JSON
  * line — the driver captures only a bounded tail of the output, so
  * the line must stay short enough to survive truncation (the round-1
  * all-queries line was longer than the capture window and parsed as
  * null). `GRAFT_BENCH_ALL=1` or a prefix arg widens the set for
  * local iteration.
  *
  * Steal-awareness: this box suffers host-level CPU-steal waves that
  * can inflate a single timing 20× (round 3's headline read 269 s for
  * a ~27 s suite). The JSON line therefore carries (a) /proc/loadavg
  * before and after the run and (b) every per-run timing, not just the
  * min — a contaminated run is self-identifying (high load + one
  * blown-up run among normal ones) instead of masquerading as a code
  * regression. */
object Bench {
  /** One per family: scan/agg/join/window/topk/set/etl/dedup/ann/
    * text/stream/reco/graph/multimodal + the storage-layout ops.
    * ~48 entries × (min + 3 per-run times) ≈ 2.5 KB of JSON — measured
    * well inside the driver's output-tail capture (the round-1
    * overflow was the full 100+-query map). */
  val headline: Seq[String] = Seq(
    "q1_agg", "a10_salted_agg", "a6_distinct_count", "a13_cube",
    "j2_fact_join_chain", "j6_asof_join", "j7_band_join",
    "j9_salted_skew_join",
    "w4_analytics", "t4_topk_per_group", "u2_intersect",
    "p13_json_extract", "etl_pipeline", "etl_scd2", "etl_scd2_merge",
    "s11_bucketed_join", "s14_zorder_layout", "s15_manifest_prune",
    "a20_sliding_distinct",
    "dd_exact", "dd_minhash_pairs", "dd_simhash", "dd_lsh_incremental",
    "ss_knn_brute", "ss_knn_ivf", "ss_knn_ivfpq",
    "tx_langid", "tx_ngram_profile", "tx_dedup_spans", "g_pagerank",
    "g_triangle_count",
    "st_hourly_agg", "st_user_journey", "st_upsert_sink",
    "reco_topk_cosine", "reco_item_item", "mm_features",
    "t9_exact_median", "mm_phash_neardup", "etl_backfill",
    "tx_lm_score", "dd_cosine_pairs", "g_common_neighbors",
    "w14_trend", "ss_knn_graph",
    "q5_local_supplier", "j10_interval_join", "reco_next_item",
    "llm_corpus_build", "g_label_propagation", "st_corpus_ingest",
    "tx_bpe_encode", "sel_dsir", "s23_deletion_vectors",
    // round 14: the double-1:N grain probe is a fact-scale
    // aggregation whose sf10 behavior is exactly the
    // grain-multiplication hazard it exists to pin; the other two are
    // serving/dim entries added in round 13 with no timing history
    "etl_fact_grain", "reco_unknown_user", "etl_dim_payments",
    // round 16: the λ-sweep serve entry, headlined so its baseline has
    // the same suite-context provenance as every other entry (its only
    // prior numbers were taken at loadavg 12-35)
    "reco_mmr_lambda")

  /** IO-heavy entries whose first sample is made explicitly COLD: the
    * app's scratch state (streaming checkpoints, staged tables, ledger
    * dirs) is dropped before the sample (queries leave no cache), so the
    * reported pair {cold = min of dropped-state samples, warm = min of
    * the rest} separates first-build IO cost from steady-state reuse.
    * Baselines for these entries are written from the COLD number —
    * the 792d984/r8 lesson: a warm-biased baseline makes every honest
    * driver run read as a 2×+ "suspect" regression. */
  val coldExplicit: Set[String] = Set("etl_backfill", "etl_pipeline",
    "llm_corpus_build", "st_corpus_ingest", "s13_compact",
    "s23_deletion_vectors")

  private def loadavg(): Double =
    scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ")(0).toDouble).getOrElse(-1.0)

  /** Host-speed calibration probe: a FIXED, data-free CPU kernel (an
    * xorshift/popcount integer mix plus one sqrt per step — roughly
    * the arithmetic shape of codegen'd expression work) timed once
    * single-threaded and once across every core. The two numbers ride
    * every bench JSON so a reader can normalize entry times across
    * host epochs MECHANICALLY — the r15 "13% suite drift" cost a
    * worktree binary A/B to attribute to the box; with the probe in
    * the file, epoch speed is `probe_then / probe_now` by division.
    * Iteration counts are constants (never scaled to the host) so the
    * measured seconds are comparable across any two runs of any
    * binary that carries the probe; the checksum is printed to stderr
    * so the JIT cannot dead-code the loop. ~1.5 s total, run once
    * before the suite (after its own untimed JIT warmup). */
  private def hostProbe(): (Double, Double) = {
    def kernel(seed: Long, iters: Long): Long = {
      var x = seed; var acc = 0L; var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.bitCount(x) +
          java.lang.Double.doubleToRawLongBits(
            math.sqrt((x & 0xFFFFFFL).toDouble))
        i += 1
      }
      acc
    }
    val Iters = 150000000L
    var sink = kernel(42L, Iters / 8) // JIT warmup, untimed
    val t1 = System.nanoTime()
    sink ^= kernel(0x9E3779B97F4A7C15L, Iters)
    val single = (System.nanoTime() - t1) / 1e9
    val n = Runtime.getRuntime.availableProcessors()
    val accs = new Array[Long](n)
    val threads = (0 until n).map { t =>
      new Thread(() => accs(t) = kernel(0x100001L + t, Iters))
    }
    val t2 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val multi = (System.nanoTime() - t2) / 1e9
    sink ^= accs.sum
    System.err.println(f"[bench] host probe: st $single%.3f s, " +
      f"mt($n) $multi%.3f s (checksum ${sink}%x)")
    (single, multi)
  }

  /** Prior-round per-query baseline minimums (seconds) from
    * bench_baseline.json at the repo root. Flat {"name": sec} map
    * parsed with a regex — no JSON library on the classpath, and the
    * file is machine-written. Missing file → empty map (new queries
    * and fresh checkouts simply skip the baseline check). */
  private def baselines(): Map[String, Double] =
    scala.util.Try {
      val txt = scala.io.Source.fromFile("bench_baseline.json", "UTF-8").mkString
      """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prefix = args.headOption.getOrElse("")
    val all = sys.env.get("GRAFT_BENCH_ALL").contains("1") || prefix.nonEmpty
    val spark = graft.core.GraftSession.local("graft-bench")
    // rehearsal corpora (GenScale output) carry a MANIFEST.json; a
    // bench against one REFUSES to run if the corpus no longer matches
    // it (half-regenerated, swept mid-generation) — numbers against
    // unknown bytes are worse than no numbers. Driver sf dirs carry no
    // manifest and skip the check.
    graft.tools.GenScale.verifyManifest(spark, sfDir).foreach(h =>
      System.err.println(s"[bench] corpus manifest verified: $h"))
    // untimed warmup: initialize parquet reader, shuffle machinery and
    // codegen paths so the first timed query isn't charged for them
    spark.read.parquet(s"$sfDir/region.parquet")
      .repartition(4).groupBy("r_name").count().count()
    // the arg accepts comma-separated prefixes (exact names included)
    // for subset runs like the sf1 rehearsal
    val prefixes = prefix.split(",").filter(_.nonEmpty).toSeq
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted
        .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
      else headline.filter(SparkEntry.queries.contains)
    // default best-of-3: the min of 3 runs reports steady-state
    // throughput instead of scheduler luck (see steal note above)
    val runs = sys.env.get("GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // baselines are sf0.1 suite-context numbers — applying them to any
    // other data dir (the sf1 rehearsal) would flag every honest run
    // as suspect and double-sample it
    // exact path-segment match: a substring test would wrongly apply
    // sf0.1 baselines to sf0.15-style dirs (and miss a renamed one)
    val baseline =
      if (sfDir.split('/').contains("sf0.1")) baselines()
      else Map.empty[String, Double]
    System.err.println(s"[bench] baseline entries loaded: ${baseline.size}")
    val (probeSt, probeMt) = hostProbe()
    val probeJson = f""""probe":{"st":$probeSt%.3f,"mt":$probeMt%.3f}"""
    val loadBefore = loadavg()
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val coldQ = coldExplicit.contains(name)
      def once(cold: Boolean): (Boolean, Double, Boolean) = {
        if (cold) graft.core.GraftSession.dropScratch(spark)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        (ok, (System.nanoTime() - t0) / 1e9, cold)
      }
      // one UNTIMED warmup execution: heavy generated-code queries
      // (tx_ngram_profile's n-gram folds, g_pagerank's 5-deep join
      // chain) need 2-4 executions before C2 JIT tiering settles —
      // r8/r9 showed their first timed samples 3-6× steady state,
      // firing the steal-retry on every healthy run. The min (the
      // reported statistic, and what baselines are built from) is a
      // steady-state number either way; the warmup only stops warmup
      // tail samples from masquerading as steal spread. Cold entries
      // still drop scratch before their timed cold sample, so
      // the warmup leaves them JIT-warm but IO-cold — cold measures
      // first-build IO, not janino compilation.
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      var timings = (1 to runs).map(i => once(coldQ && i == 1))
      // steal retry: a >2× spread among successful runs is the steal
      // signature (one blown-up run among normal ones), and the min
      // itself may still be contaminated when the wave spanned all
      // runs — take two extra samples before reporting, and mark the
      // query as retried so the reader knows the box was unstable.
      // (With the untimed warmup above, run 1 is steady-state and
      // participates in the spread test like every other sample.)
      def good = timings.filter(_._1).map(_._2)
      // cold/warm split: a cold sample (scratch dropped first)
      // is legitimately slower and must not feed the steal heuristics
      def goodCold = timings.filter(t => t._1 && t._3).map(_._2)
      def goodWarm = timings.filter(t => t._1 && !t._3).map(_._2)
      // basis: cold samples are EXCLUDED outright for coldExplicit
      // entries (cold legitimately exceeds 2× warm — first-build IO —
      // and would fire the spread retry on every healthy run). With
      // the untimed warmup above, every timed sample is steady-state,
      // so a >2× spread among them IS the steal signature — the old
      // drop-run-1 and warmup-shaped-minimum special cases are gone
      // with the warmup tail that motivated them.
      val basis = if (coldQ) goodWarm else good
      val retried = basis.nonEmpty && basis.max / basis.min > 2.0
      if (retried) timings ++= (1 to 2).map(_ => once(false))
      // suite-long contamination defense: min-of-3 within one pass
      // can't see pressure that spans the whole suite (page cache,
      // JIT/GC, a steal wave covering all runs) — round 6's mid-suite
      // entries read 2-4× their isolated times with per-run spreads
      // that looked normal. Compare against the prior round's clean
      // baseline; a >2× min earns two fresh samples, and if it STILL
      // exceeds 2× it is reported as `suspect` so a reader separates
      // box noise from a code regression before believing the number.
      // the baseline-comparable statistic: cold entries baseline (and
      // compare) their COLD minimum; everything else its overall min
      def cmp = if (coldQ) goodCold else good
      val base = baseline.get(name)
      val baselineRetry = base.exists(b => cmp.nonEmpty && cmp.min > 2 * b)
      if (baselineRetry) timings ++= (1 to 2).map(_ => once(coldQ))
      val suspect = base.exists(b => cmp.nonEmpty && cmp.min > 2 * b)
      // a failed run's fast-fail elapsed time must never enter the min:
      // a regression that errors out would otherwise read as a speedup
      val sec = if (good.nonEmpty) Some(good.min) else None
      val cold = if (goodCold.nonEmpty) Some(goodCold.min) else None
      val warm = if (goodWarm.nonEmpty) Some(goodWarm.min) else None
      System.err.println(f"[bench] $name%-24s ${sec.getOrElse(-1.0)}%8.2f s" +
        timings.map(t => f"${t._2}%.2f" + (if (t._3) "c" else ""))
          .mkString("  [", " ", "]") +
        (if (retried) "  (retried)" else "") +
        (if (suspect) f"  (SUSPECT: baseline ${base.get}%.2f)" else ""))
      // the finished query's blocks must not squeeze the next one's memory
      graft.core.GraftSession.reclaimFinished()
      (name, sec, timings, retried, suspect, cold, warm)
    }
    val loadAfter = loadavg()
    val qs = results.map { case (k, v, _, _, _, _, _) =>
      "\"" + k + "\":" + v.map(s => f"$s%.3f").getOrElse("null")
    }.mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, ts, _, _, _, _) =>
      "\"" + k + "\":" + ts.map(t => f"${t._2}%.2f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // {cold, warm} pairs for the coldExplicit entries — cold is the
    // number baselines are written from; warm shows steady-state reuse
    val coldJson = results.collect { case (k, _, _, _, _, Some(c), w) =>
      "\"" + k + "\":[" + f"$c%.3f" + "," +
        w.map(s => f"$s%.3f").getOrElse("null") + "]"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None, _, _, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val retriedJson = results.collect { case (k, _, _, true, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val suspectJson = results.collect { case (k, _, _, _, true, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","load":[$loadBefore%.2f,$loadAfter%.2f],$probeJson,"queries":$qs,"runs":$runsJson,"cold_warm":$coldJson,"failed":$failed,"retried":$retriedJson,"suspect":$suspectJson,"sf":"$sfDir"}""")
    // truncation-proof FINAL line: the driver captures a bounded TAIL
    // of the output, and the full line above (with per-run arrays and
    // cold/warm pairs) overflowed it in round 11, cutting the first ~6
    // entries' names. This compact twin — per-query minima only,
    // name-sorted, still a fully valid bench JSON (metric/value/unit/
    // queries/failed/retried/suspect/sf) — is printed LAST so any tail
    // window preserves the whole suite whichever line the driver
    // parses. ~54 entries × ~20 bytes ≈ 1.1 KB.
    val qsSorted = results.sortBy(_._1).map { case (k, v, _, _, _, _, _) =>
      "\"" + k + "\":" + v.map(s => f"$s%.3f").getOrElse("null")
    }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",$probeJson,"queries":$qsSorted,"failed":$failed,"retried":$retriedJson,"suspect":$suspectJson,"sf":"$sfDir"}""")
    graft.core.GraftSession.dropScratch(spark)
    spark.stop()
  }
}
