package graft

import org.apache.spark.sql.functions._

/** Unit specs for the composed corpus operators (filter pipeline,
  * repetition metrics, semantic dedup) on crafted fixtures with
  * hand-computed expectations — the oracle gate checks them against
  * DuckDB on the random harness corpus; these pin the SEMANTICS on
  * inputs built to trip each gate individually. */
class ComposedOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Fixture dir with documents.parquet (+ optionally embeddings). */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_composed_fix").toString
    val good = (1 to 39).map(i => s"w$i").mkString("the ", " ", "") // 40 words, distinct, has stopword
    val spam = Seq.fill(40)("spam").mkString(" ")                   // one word 40x
    val zh = (1 to 35).map(i => s"z$i").mkString(" ")               // 35 distinct, no en stopwords
    Seq(
      (1L, good, "en", "web", good.length.toLong),
      (2L, spam, "en", "web", spam.length.toLong),
      (3L, "five short words only here", "en", "web", 26L),
      (4L, zh, "zh", "web", zh.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // embeddings: 1,2,3 along +e1 (cos 1 pairwise, one bucket/cluster),
    // 4 along a mixed direction far from the others
    def vec(main: Int, alt: Boolean): Seq[Float] =
      (0 until 64).map { i =>
        if (!alt) { if (i == main) 1f else 0f }
        else { if (i < 32) 0.18f else -0.11f } // different sign bucket
      }
    Seq(
      (1L, vec(0, alt = false), 0),
      (2L, vec(0, alt = false), 0),
      (3L, vec(0, alt = false), 0),
      (4L, vec(0, alt = true), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("tx_repetition: exact fractions on a degenerate and a clean doc") {
    val out = SparkEntry.queries("tx_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    // spam doc: 40 words, 1 distinct -> dup 1 - 1/40; every bigram is
    // "spam spam" -> top fraction 39/39 = 1.0
    assert(out(2L) == ((40, 1.0 - 1.0 / 40, 1.0)))
    // clean doc: all words distinct -> dup 0; all bigrams distinct ->
    // top fraction 1/39
    assert(out(1L) == ((40, 0.0, 1.0 / 39)))
  }

  test("tx_filter_pipeline: each gate trips on the doc built to trip it") {
    val out = SparkEntry.queries("tx_filter_pipeline")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5))).toMap
    assert(out(1L) == ((true, true, true, true, true)))     // keeps
    assert(out(2L) == ((true, false, false, false, false))) // repetition + no stopwords
    assert(out(3L)._1 == false)                             // too short
    assert(out(3L)._5 == false)
    assert(out(4L)._4 == true)                              // stop gate skips non-en
  }

  /** 15 docs so a df=2 word passes the 20% df cap (2·5 ≤ 15): one
    * 3-of-4-word overlap pair above the cos ≥ 0.5 threshold, one
    * 1-of-4 pair below it, filler docs with unique vocabulary. */
  private lazy val cosDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cos_fix").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "zeta eta theta iota"),
      (4L, "zeta kappa lambda mu")) ++
      (5L to 15L).map(i => (i, s"u${i}a u${i}b u${i}c u${i}d"))
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** One customer, three dated orders: o1{10,11} → o2{12} → o3{10,13}. */
  private lazy val nextDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_next_fix").toString
    Seq(
      (101L, 7L, java.sql.Date.valueOf("1995-01-01")),
      (102L, 7L, java.sql.Date.valueOf("1995-02-01")),
      (103L, 7L, java.sql.Date.valueOf("1995-03-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq((101L, 10L), (101L, 11L), (102L, 12L), (103L, 10L), (103L, 13L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("reco_next_item: hand-computed basket transitions with tie-broken ranks") {
    val out = SparkEntry.queries("reco_next_item")(spark, nextDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    // o1→o2 yields 10→12 and 11→12; o2→o3 yields 12→10 and 12→13
    // (tie at n=1 broken by next_item asc: 10 ranks before 13)
    assert(out == Map(
      (10L, 12L) -> ((1L, 1)), (11L, 12L) -> ((1L, 1)),
      (12L, 10L) -> ((1L, 1)), (12L, 13L) -> ((1L, 2))), out.toString)
  }

  test("dd_cosine_pairs: hand-computed overlap pair kept, sub-threshold pair dropped") {
    val out = SparkEntry.queries("dd_cosine_pairs")(spark, cosDir).collect()
    // (1,2): dot 3, norms 4/4 -> cos² = 9/16 -> 5625 >= 2500. (3,4):
    // dot 1 -> 625, excluded. No other pair shares a surviving word.
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((1L, 2L, 3L, 4L, 4L, 5625L)))
  }

  test("tx_lm_score: repetitive text scores near-zero surprisal, novel text above it") {
    val out = SparkEntry.queries("tx_lm_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // every doc appears, trigram count = normalized length - 2
    for ((id, (n, bits, avg)) <- out) {
      assert(bits >= 0L && avg >= 0L, s"doc $id negative surprisal")
      assert(n >= 1L, s"doc $id empty")
    }
    // spam doc cycles 5 distinct trigrams ~40x each: its contexts are
    // dominated by itself, so quantized surprisal ~0 bits; the clean
    // doc's trigrams are mostly corpus-unique (n3 = 1) under shared
    // contexts -> strictly higher mean surprisal
    assert(out(2L)._3 < out(1L)._3,
      s"repetitive ${out(2L)} should score below novel ${out(1L)}")
  }

  test("ss_semantic_dedup: transitive near-dups collapse to min-id representative") {
    val out = SparkEntry.queries("ss_semantic_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)))   // representative
    assert(out(2L) == ((1L, false)))  // clustered, dropped
    assert(out(3L) == ((1L, false)))
    assert(out(4L)._2 == true)        // isolated vector keeps itself
  }

  /** Fixture for span dedup: shared, partial-tail, and in-doc-repeat
    * spans (SpanWords = 4). */
  private lazy val spanDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_span_fix").toString
    Seq(
      (1L, "a b c d e f g h", "en", "web", 15L),
      (2L, "a b c d x y z w", "en", "web", 15L), // first span dup of doc 1
      (3L, "p q r s t", "en", "web", 9L),        // partial tail span "t"
      (4L, "a b c d a b c d", "en", "web", 15L)) // both spans dup of doc 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("tx_dedup_spans: first occurrence wins, docs reassemble in order") {
    val out = SparkEntry.queries("tx_dedup_spans")(spark, spanDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 0L, "a b c d e f g h")))
    assert(out(2L) == ((2L, 1L, "x y z w")))
    assert(out(3L) == ((2L, 0L, "p q r s t")))
    assert(out(4L) == ((2L, 2L, ""))) // fully boilerplate
  }

  /** Fixture for incremental dedup: batch = doc_id % 5 == 4. Exercises
    * the cross-corpus branch, the in-batch branch (absent from the
    * harness corpus), the smallest-known-id tiebreak, and novelty. */
  private lazy val incrDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_incr_fix").toString
    Seq(
      (3L, "alpha alpha alpha", "en", "web", 17L),  // existing
      (13L, "beta beta beta", "en", "web", 14L),    // existing
      (4L, "alpha alpha alpha", "en", "web", 17L),  // dup of existing 3
      (9L, "beta beta beta", "en", "web", 14L),     // dup of existing 13
      (14L, "beta beta beta", "en", "web", 14L),    // in-batch 9 < existing 13
      (19L, "gamma gamma gamma", "en", "web", 17L)) // novel
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("dd_incremental: batch dedups against corpus and its own earlier rows") {
    val out = SparkEntry.queries("dd_incremental")(spark, incrDir)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(out == Map(
      4L -> ((Some(3L), false)),   // existing corpus wins
      9L -> ((Some(13L), false)),  // existing corpus only
      14L -> ((Some(9L), false)),  // earlier in-batch id is smallest known
      19L -> ((None, true))))      // genuinely new content
  }

  /** Fixture with one violation of each DQ constraint. */
  private lazy val dqDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dq_fix").toString
    Seq((1L, 1L), (1L, 1L), (2L, 99L)) // dup pk; custkey 99 orphaned
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq((1L, Some(5.0)), (2L, None)) // one null balance
      .toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    Seq((1L, 10.0), (2L, 99.0)) // one out-of-range quantity
      .toDF("l_orderkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("an_dq_checks: every constraint detects its planted violation") {
    val out = SparkEntry.queries("an_dq_checks")(spark, dqDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      "orders_pk_unique" -> ((1L, false)),
      "orders_custkey_fk" -> ((1L, false)),
      "lineitem_qty_range" -> ((1L, false)),
      "customer_acctbal_not_null" -> ((1L, false))))
  }

  test("tx_cdc_chunk: chunks tile the text; boundaries survive a prefix edit") {
    val d = java.nio.file.Files.createTempDirectory("graft_cdc_fix").toString
    val body = (1 to 400).map(i => s"w$i").mkString(" ")
    val docB = s"inserted preamble $body"
    Seq((1L, body, "en", "web", body.length.toLong),
        (2L, docB, "en", "web", docB.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("tx_cdc_chunk")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val byDoc = rows.groupBy(_._1).map { case (id, ch) => id -> ch.sortBy(_._2) }
    // chunks tile the doc exactly: start at 1, contiguous, lengths sum
    for ((id, ch) <- byDoc) {
      val text = if (id == 1L) body else docB
      assert(ch.head._3 == 1)
      assert(ch.map(_._4).sum == text.length)
      ch.sliding(2).withFilter(_.length == 2).foreach { w =>
        assert(w(1)._3 == w(0)._3 + w(0)._4)
      }
    }
    // content-defined payoff: every chunk of the original after its
    // first cut reappears BIT-IDENTICAL in the prefixed doc — the
    // window hash depends only on local content, so the edit's blast
    // radius ends at the first boundary after it (fixed-window
    // chunking shares zero chunks after an insertion)
    val hashesA = byDoc(1L).map(_._5)
    val hashesB = byDoc(2L).map(_._5).toSet
    assert(hashesA.length >= 2, s"fixture produced no cut: ${hashesA.length} chunk(s)")
    assert(hashesA.drop(1).forall(hashesB.contains))
  }

  test("dd_lsh_incremental: exactly the full-LSH pairs that touch the new batch") {
    val dir = "/root/testdata/sf0.001"
    val inc = SparkEntry.queries("dd_lsh_incremental")(spark, dir)
      .select(least(col("new_id"), col("match_id")).as("a"),
        greatest(col("new_id"), col("match_id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe-side incrementality must lose nothing vs the full self-join
    // restricted to pairs with a batch member
    val full = graft.operators.Dedup.minhashLshPairs(
        graft.core.Tables(spark, dir).documents)
      .filter(col("id_a") % 5 === 4 || col("id_b") % 5 === 4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full)
  }

  test("a20_sliding_distinct: trailing 7-day windows age users out exactly") {
    val d = java.nio.file.Files.createTempDirectory("graft_slide_fix").toString
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Seq((ts(1), 1L), (ts(1), 2L), (ts(5), 2L), (ts(5), 3L), (ts(9), 9L))
      .toDF("ts", "user_id")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("a20_sliding_distinct")(spark, d)
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out == Map(
      "2024-01-01" -> ((2L, true)),  // {1,2}
      "2024-01-05" -> ((3L, true)),  // {1,2,3} — day 1 still in window
      "2024-01-09" -> ((3L, true)))) // {2,3,9} — day 1 aged out, day 5 kept
  }

  test("w11_market_basket: pair support counts and lift on crafted baskets") {
    val d = java.nio.file.Files.createTempDirectory("graft_basket_fix").toString
    // baskets: parts 1,2 co-occur in orders 10,11; part 3 rides along
    // once only (pair below minsup); order 13 has a lone item
    Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (11L, 3L), (12L, 3L), (13L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val rows = SparkEntry.queries("w11_market_basket")(spark, d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // 4 orders; only pair (1,2): n_ab=2, n_1=2, n_2=2 → lift 2*4/(2*2)=2.0
    assert(rows == Map((1L, 2L) -> ((2L, 2L, 2L, 2.0))))
  }

  test("w12_peak_backlog: inclusive-boundary sweep finds the exact peak") {
    val d = java.nio.file.Files.createTempDirectory("graft_transit_fix").toString
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // orders: id → placement day
    Seq((100L, ts(1)), (101L, ts(5)), (102L, ts(1)), (103L, ts(5)),
        (104L, ts(1)), (105L, ts(2)), (106L, ts(3)))
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq(
      // supplier 7: second opens the day the first ships → overlap (inclusive)
      (100L, 7L, ts(5)), (101L, 7L, ts(9)),
      // supplier 8: gap day between them → never concurrent
      (102L, 8L, ts(4)), (103L, 8L, ts(9)),
      // supplier 9: nested triple, all three open on day 3
      (104L, 9L, ts(10)), (105L, 9L, ts(3)), (106L, 9L, ts(6)))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("w12_peak_backlog")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(7L -> 2L, 8L -> 1L, 9L -> 3L))
  }

  test("g_triangle_count: one triangle, counted once, support floor respected") {
    val d = java.nio.file.Files.createTempDirectory("graft_tri_fix").toString
    // orders 1,2 each contain parts {1,2,3} → all three edges at
    // support 2 → one triangle. orders 3,4 share {4,5} → an edge but
    // no triangle. order 5 adds {1,4} once — below the support floor,
    // so it must NOT create an edge (else 1-2-4 etc. could close).
    val li = Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L).map(p => (o, p))) ++
      Seq(3L, 4L).flatMap(o => Seq(4L, 5L).map(p => (o, p))) ++
      Seq((5L, 1L), (5L, 4L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = SparkEntry.queries("g_triangle_count")(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 4L, 1L)))
  }

  test("reco_item_item: exact cosine neighbors on a hand-computed co-purchase") {
    val d = java.nio.file.Files.createTempDirectory("graft_ii_fix").toString
    Seq((10L, 100L), (11L, 200L), (12L, 300L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    // users 100,200 buy {1,2}; user 300 buys {1,3}
    Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("reco_item_item")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // n_1=3, n_2=2, n_3=1; cos(1,2)=2/sqrt(6), cos(1,3)=1/sqrt(3)
    assert(out == Map(
      (1L, 1) -> ((2L, 2L, 2.0 / math.sqrt(6.0))),
      (1L, 2) -> ((3L, 1L, 1.0 / math.sqrt(3.0))),
      (2L, 1) -> ((1L, 2L, 2.0 / math.sqrt(6.0))),
      (3L, 1) -> ((1L, 1L, 1.0 / math.sqrt(3.0)))))
  }

  test("reco_item_item: ids of any range (negative, ≥ 2³¹, null) match a " +
      "brute-force reference") {
    val d = java.nio.file.Files.createTempDirectory("graft_ii_ids").toString
    val rnd = new scala.util.Random(31)
    val pool = Array(Long.MinValue, -(1L << 40), -7L, -1L, 0L, 1L, 2L, 5L,
      (1L << 31) - 1, 1L << 31, (1L << 31) + 1, 3000000000L, 1L << 40,
      Long.MaxValue - 2, Long.MaxValue)
    // 60 users with one order each: 1..8 lines from the pool, about one
    // in ten without a part
    val orders = (1 to 60).map(u => (100L + u, u.toLong))
    val lines = orders.flatMap { case (o, _) =>
      Seq.fill(1 + rnd.nextInt(8))(
        if (rnd.nextInt(10) == 0) None else Some(pool(rnd.nextInt(pool.length))))
        .map(i => (o, i))
    }
    // a user past the degree cap: every pool item plus enough others
    // for 1001 distinct items — none of them may count toward n_i
    val capped = (pool.toSeq ++ (0 until 1001 - pool.length).map(i => (1L << 33) + i))
      .map(i => (999L, Option(i)))
    val purchases = ItemItemRef.writeFixture(spark, d,
      orders :+ ((999L, 999L)), lines ++ capped)
    val got = ItemItemRef.collectSorted(SparkEntry.queries("reco_item_item")(spark, d))
    assert(got.nonEmpty)
    assert(got == ItemItemRef.neighbors(purchases, 5))
  }

  test("w13_rfm: quintile formula and distributed ranks on 10 customers") {
    val d = java.nio.file.Files.createTempDirectory("graft_rfm_fix").toString
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // customer k (1..10): one order on day k, totalprice 10*k → every
    // metric ranks customers in id order, so all three scores agree:
    // quintile(rank r of 10) = (r-1)*5 div 10 + 1 → 1,1,2,2,3,3,4,4,5,5
    val orders = (1 to 10).map(k => (100L + k, k.toLong, ts(k), 10.0 * k))
    orders.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("w13_rfm")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    val exp = (1 to 10).map { k =>
      val q = ((k - 1) * 5) / 10 + 1L
      k.toLong -> ((q, q, q, q * 111))
    }.toMap
    assert(out == exp)
  }

  test("st_anomaly: 2-sigma integer z-test flags exactly the planted outlier") {
    val d = java.nio.file.Files.createTempDirectory("graft_anom_fix").toString
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d")
    // user 1: warm-up 1..5 (flags false, n<5), then 3.5 (|x-3| = 0.5
    // < 2sigma = 2.83 -> false), then 30 (far out -> true)
    // user 2: constant value -> sigma = 0 and x = mu -> never flagged
    val ev = Seq(
      (101L, 1L, ts(1), 1.0), (102L, 1L, ts(2), 2.0), (103L, 1L, ts(3), 3.0),
      (104L, 1L, ts(4), 4.0), (105L, 1L, ts(5), 5.0), (106L, 1L, ts(6), 3.5),
      (107L, 1L, ts(7), 30.0)) ++
      (1 to 7).map(i => (200L + i, 2L, ts(i), 10.0))
    // Tables.stream glob-filters on the single-FILE layout the harness
    // uses — write to a staging dir and move the part file into place
    ev.toDF("event_id", "user_id", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events_out")
    val p = java.nio.file.Paths.get(d)
    val part = java.nio.file.Files.list(p.resolve("events_out"))
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.move(part, p.resolve("events.parquet"))
    val out = SparkEntry.queries("st_anomaly")(spark, d)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    val exp = ((101L to 106L).map(_ -> false) :+ (107L -> true)) ++
      (1 to 7).map(i => (200L + i) -> false)
    assert(out == exp.toMap)
  }

  test("s19_vacuum: expired files gone, live snapshot intact") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("s19_vacuum")(spark, dir).collect().head
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val expRows = cust.count()
    val expSum = cust.select(
      (sum(col("c_acctbal").cast("decimal(18,4)")) +
        lit(100) * sum(when(pmod(col("c_custkey"), lit(10)) === 0, 1L).otherwise(0L)))
        .cast("double")).head().getDouble(0)
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4)) ==
      ((10, 10, 1, 1, true)))
    assert(r.getLong(5) == expRows)
    assert(r.getDouble(6) == expSum)
  }

  test("mm_shot_boundary: hamming matches an independent digest computation") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("mm_shot_boundary")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt) ->
        ((if (r.isNullAt(2)) -1 else r.getInt(2)), r.getBoolean(3)))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def fsig(mediaId: Long, frameIdx: Int): Long =
      java.lang.Long.parseLong(md5hex(s"${md5hex(mediaId.toString)}:$frameIdx").take(8), 16)
    assert(out.nonEmpty)
    var cuts = 0
    for (((id, fi), (ham, cut)) <- out) {
      val nFrames = (8 + id % 120).toInt
      val step = math.max(nFrames / 4, 1)
      if (fi == 0) assert(ham == -1 && !cut)
      else {
        val expHam = java.lang.Long.bitCount(fsig(id, fi) ^ fsig(id, fi - step))
        assert(ham == expHam, s"media $id frame $fi")
        assert(cut == (expHam > 16))
        if (cut) cuts += 1
      }
    }
    assert(cuts > 0) // random 32-bit sigs: about half the transitions cut
  }

  test("dd_containment: excerpt-in-document found at 1.0, asymmetric direction filtered") {
    val d = java.nio.file.Files.createTempDirectory("graft_contain_fix").toString
    val words = (1 to 100).map(i => s"w$i")
    val long = words.mkString(" ")
    val excerpt = words.slice(20, 50).mkString(" ") // 30-word contiguous quote
    val other = (1 to 60).map(i => s"z$i").mkString(" ")
    Seq((1L, excerpt, "en", "web", excerpt.length.toLong),
        (2L, long, "en", "web", long.length.toLong),
        (3L, other, "en", "web", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("dd_containment")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // every shingle of the excerpt appears in the long doc -> 1.0;
    // the reverse direction (98 shingles, 28 shared) is far below 0.8
    assert(out == Map((1L, 2L) -> 1.0))
  }

  test("t9_exact_median: histogram narrowing survives duplicate pile-ups at the median") {
    // 150k rows (forces the narrowing loop), even count, and 50k
    // duplicates of one value straddling the middle ranks — the
    // boundary-stall guard's worst case. Exact answer: both middle
    // ranks (75000, 75001) fall inside the duplicate run of 70000.0.
    val d = java.nio.file.Files.createTempDirectory("graft_med_fix").toString
    // sorted ranks: 1..60000 low, 60001..110000 all 70000.0 (the
    // middle ranks 75000/75001 land inside the run), then 40k high
    val vals = ((1 to 60000).map(_.toDouble) ++
      Seq.fill(50000)(70000.0) ++ (1 to 40000).map(i => (100000 + i).toDouble))
    vals.toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = SparkEntry.queries("t9_exact_median")(spark, d).collect().head
    val sorted = vals.sorted
    val (lo, hi) = (sorted(74999), sorted(75000))
    assert(r.getLong(0) == 150000L)
    assert(r.getDouble(1) == lo && r.getDouble(2) == hi)
    assert(r.getDouble(3) == (lo + hi) / 2)
  }

  test("tx_split: assignment is the md5-bucket pure function of doc_id") {
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(2), 16)
    }
    val out = SparkEntry.queries("tx_split")(spark, spanDir)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      val b = bucket(id)
      val split = if (b < 205) "train" else if (b < 230) "val" else "test"
      assert(out(id) == ((b, split)), s"doc $id")
    }
  }

  test("tx_fim: thirds tile the word count exactly; short docs gated") {
    val out = SparkEntry.queries("tx_fim")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(6)))).toMap
    // doc 1: 40 words → 13/13/14, infillable; doc 3: 5 words → 1/2/2, gated
    assert(out(1L) == ((40, 13, 13, 14, true)))
    assert(out(3L) == ((5, 1, 2, 2, false)))
    assert(out.values.forall { case (n, p, m, s, _) => p + m + s == n })
  }

  test("tx_pref_pairs: top-half pairs bottom-half, margins never negative") {
    val out = SparkEntry.queries("tx_pref_pairs")(spark, dir).collect()
    // (en, web) has 3 docs → one pair (rank 1 ↔ rank 2); (zh, web)
    // has 1 doc → half = 0, no pair
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("lang") == "en")
    assert(r.getAs[Long]("chosen_id") != r.getAs[Long]("rejected_id"))
    assert(r.getAs[Double]("margin") >= 0.0)
    // the degenerate all-"spam" doc can never be the chosen of a pair
    assert(r.getAs[Long]("chosen_id") != 2L)
  }
}
