package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.ItemItem

/** Unit laws of the item-item kernel primitives (the query-level
  * result is pinned by ComposedOpsSpec's fixtures and the DuckDB
  * oracle; these cover the primitive structures directly — the item
  * code table, the wire format, the pair encoder and the sorted-scan's
  * count, cosine and tie-break semantics against a brute-force
  * reference). */
class ItemItemSpec extends AnyFunSuite {

  test("item codes: ids round-trip, and codes keep id order") {
    val rnd = new scala.util.Random(11)
    val edge = Array(Long.MinValue, -(1L << 40), -1L, 0L, (1L << 31) - 1,
      1L << 31, 1L << 32, Long.MaxValue)
    val idSet = (edge ++ Array.fill(200)(rnd.nextLong())).distinct
    val rows = rnd.shuffle(idSet.toSeq).map(id => (id, id & 0xFFFFL)).toArray
    val (ids, counts) = ItemItem.codeTable(rows)
    assert(ids.length == idSet.length)
    for ((id, n) <- rows) {
      val c = ItemItem.codeOf(ids, id)
      assert(ids(c) == id && counts(c) == n, s"id $id")
    }
    for (x <- idSet; y <- idSet)
      assert((x < y) == (ItemItem.codeOf(ids, x) < ItemItem.codeOf(ids, y)), s"$x vs $y")
    // an item outside the table is a bug, never a silent wrong code
    intercept[IllegalStateException](ItemItem.codeOf(ids, 12345L))
  }

  test("scanSorted matches a brute-force count+rank on random pair streams") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val nItems = 2 + rnd.nextInt(12)
      val ni = Array.tabulate(nItems)(i => 1L + rnd.nextInt(50))
      // ascending ids of any range; code i is ids(i)
      val ids = Array.fill(nItems)(rnd.nextLong()).distinct.sorted
      // random directed code-pair multiset (a ≠ b)
      val pairs = Array.fill(rnd.nextInt(400)) {
        val a = rnd.nextInt(ids.length)
        var b = rnd.nextInt(ids.length)
        if (b == a) b = (b + 1) % ids.length
        (a.toLong << 32) | b.toLong
      }
      val k = 1 + rnd.nextInt(4)
      val sorted = pairs.clone(); java.util.Arrays.sort(sorted)
      val got = ItemItem.scanSorted(sorted, sorted.length, ids, ni, k)
        .map { case (a, r, b, n, c) => (a, r) -> ((b, n, c)) }.toMap
      // brute force
      val counts = pairs.groupBy(identity).map { case (pk, v) =>
        ((pk >>> 32, pk & 0xFFFFFFFFL), v.length.toLong)
      }
      val want = counts.groupBy(_._1._1).flatMap { case (a, m) =>
        m.toSeq.map { case ((_, b), n) =>
          (ids(b.toInt), n, n.toDouble / math.sqrt((ni(a.toInt) * ni(b.toInt)).toDouble))
        }.sortBy { case (b, _, c) => (-c, b) }.take(k).zipWithIndex.map {
          case ((b, n, c), i) => (ids(a.toInt), i + 1) -> ((b, n, c))
        }
      }
      assert(got == want, s"trial $trial")
    }
  }

  test("pairsEstimate: real counts, sentinel cases, overflow below the sentinel") {
    // the one shared definition both partition laws derive from
    assert(ItemItem.pairsEstimate(60_000_000L, 1_500_000L) == 2_400_000_000L)
    // degree floor: more customers than lineitems still estimates L·1
    assert(ItemItem.pairsEstimate(1_000L, 5_000L) == 1_000L)
    // failed probes are the SENTINEL (no measurement)
    assert(ItemItem.pairsEstimate(Long.MaxValue, 15_000L) == Long.MaxValue)
    assert(ItemItem.pairsEstimate(600_000L, Long.MaxValue) == Long.MaxValue)
    // an empty table is a measurement: no lineitems, no pairs; lineitems
    // without customer rows bound the pairs by L·L
    assert(ItemItem.pairsEstimate(0L, 0L) == 0L)
    assert(ItemItem.pairsEstimate(0L, 15_000L) == 0L)
    assert(ItemItem.pairsEstimate(600_000L, 0L) == 360_000_000_000L)
    // REAL counts that overflow saturate BELOW the sentinel: still
    // astronomically large for the division laws, never "unknown"
    assert(ItemItem.pairsEstimate(1L << 40, 4L) == Long.MaxValue - 1)
  }

  test("pairPartitions law: floor, 128MB-slice growth, 1024 clamp, overflow saturation") {
    // floor: tiny estimates stay at the session default
    assert(ItemItem.pairPartitions(32, 600_000L, 15_000L) == 32)
    // sf10 shape: 60M lineitems / 1.5M customers → 2.4G est → 150 slices
    assert(ItemItem.pairPartitions(32, 60_000_000L, 1_500_000L) == 150)
    // sf100 shape: 600M / 15M → 24G est → upper clamp binds at 1024
    assert(ItemItem.pairPartitions(32, 600_000_000L, 15_000_000L) == 1024)
    // failed probes fail CLOSED onto the clamp
    assert(ItemItem.pairPartitions(32, Long.MaxValue, 15_000L) == 1024)
    assert(ItemItem.pairPartitions(32, 600_000L, Long.MaxValue) == 1024)
    // an empty corpus stays at the floor; lineitems without customers
    // size from the L·L bound (3.6e11 pairs → the clamp)
    assert(ItemItem.pairPartitions(32, 0L, 0L) == 32)
    assert(ItemItem.pairPartitions(32, 600_000L, 0L) == 1024)
    // overflow saturates (never collapses to the floor): L ~ 2^40 rows
    // of a dense corpus would overflow L·(L/C) as a plain multiply
    assert(ItemItem.pairPartitions(32, 1L << 40, 4L) == 1024)
  }

  test("emitPartitions law: unfloored need, engages past gate scale, clamps, " +
      "sentinel never widens a guard-proven plan") {
    def ep(l: Long, c: Long) =
      ItemItem.emitPartitions(ItemItem.pairsEstimate(l, c),
        userLocal = true, defaultP = 32)
    // gate scale: sf0.1 shape 6M/150k → 240M est → need 7 (< 32 actual
    // partitions → caller never widens)
    assert(ep(6_000_000L, 150_000L) == 7)
    // sf10 shape: 2.4G est → 75 — the first scale that widens
    assert(ep(60_000_000L, 1_500_000L) == 75)
    // sf20 shape (the measured spill cliff): 4.8G est → 150, the
    // measured wall sweet spot (~32M pairs/task)
    assert(ep(120_000_000L, 3_000_000L) == 150)
    // clamped at 1024 like the reduce side
    assert(ep(6_000_000_000L, 15_000_000L) == 1024)
    // an empty-lineitem corpus estimates 0 and never widens, also when
    // the locality guard refused; real-count overflow is a huge REAL
    // estimate → clamp
    assert(ep(0L, 15_000L) == 0)
    assert(ItemItem.emitPartitions(ItemItem.pairsEstimate(0L, 0L),
      userLocal = false, 32) == 0)
    assert(ep(1L << 40, 4L) == 1024)
    // SENTINEL (failed probe, no measurement — round-16 advice): a
    // guard-proven no-exchange plan is never converted into a wide
    // shuffle (need 0); when the guard already refused, the exchange
    // is paid anyway and the width caps at 4× the session default,
    // not the 1024 clamp (reduce-side-only)
    assert(ItemItem.emitPartitions(Long.MaxValue, userLocal = true, 32) == 0)
    assert(ItemItem.emitPartitions(Long.MaxValue, userLocal = false, 32) == 128)
    assert(ItemItem.emitPartitions(Long.MaxValue, userLocal = false, 512) == 1024)
  }

  test("encodeChunk/decodeChunk: multiset-exact roundtrip on random pair streams") {
    val rnd = new scala.util.Random(4217)
    for (trial <- 1 to 50) {
      // pk shape the kernel ships: two 31-bit codes packed — exercise
      // small gaps, huge gaps (item transitions) and duplicates
      val n = rnd.nextInt(2000)
      val pks = Array.fill(n) {
        val a = rnd.nextInt(1 << rnd.nextInt(31)).toLong
        val b = rnd.nextInt(1 << rnd.nextInt(31)).toLong
        (a << 32) | b
      }
      // force duplicate runs on some trials
      if (n > 10 && trial % 3 == 0)
        for (i <- 1 until n if rnd.nextBoolean()) pks(i) = pks(i - 1)
      val want = pks.clone().sorted.toSeq
      val bytes = ItemItemRef.encodeChunk(pks.clone(), n)
      val (buf, m) = ItemItem.decodeChunk(bytes, new Array[Long](4), 0)
      assert(m == n, s"trial $trial: count")
      assert(buf.take(m).toSeq == want, s"trial $trial: multiset")
      // appending decode: a second chunk lands AFTER existing content
      val (buf2, m2) = ItemItem.decodeChunk(bytes, buf, m)
      assert(m2 == 2 * n && buf2.slice(m, m2).toSeq == want, s"trial $trial: append")
    }
    // boundary pks: 0, max packed value, singleton, empty
    val edge = Array(0L, (0x7FFFFFFFL << 32) | 0x7FFFFFFFL, 1L, 0L)
    val eb = ItemItemRef.encodeChunk(edge.clone(), 4)
    val (dbuf, dn) = ItemItem.decodeChunk(eb, new Array[Long](1), 0)
    assert(dbuf.take(dn).toSeq == edge.sorted.toSeq)
    assert(ItemItemRef.encodeChunk(new Array[Long](0), 0).isEmpty)
  }

  test("encodePairBlobs: chunks reconstruct exactly the directed pair multiset, " +
      "keyed by targetOf") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    // purchases: user → items (with a null item that must never pair);
    // ids of any range, coded by their rank among the distinct ids
    val purchases: Seq[(Long, java.lang.Long)] = Seq(
      (1L, 10L), (1L, -11L), (1L, 1L << 40),
      (2L, 10L), (2L, -11L),
      (3L, 99L), // singleton: no pairs
      (4L, null), (4L, 20L), (4L, 21L))
    val ids = purchases.flatMap(p => Option(p._2)).map(_.longValue).distinct.sorted.toArray
    def code(item: java.lang.Long): Long = ids.indexOf(item.longValue).toLong
    val rows = purchases.map { case (u, i) =>
      new GenericInternalRow(Array[Any](u, i)).asInstanceOf[
        org.apache.spark.sql.catalyst.InternalRow]
    }
    for (p <- Seq(1, 3, 8)) {
      val chunks = ItemItem.encodePairBlobs(rows.iterator, ids, p).toList
      // every chunk keyed by the targetOf of every pk it carries
      val decoded = chunks.flatMap { case (t, bytes) =>
        val (buf, n) = ItemItem.decodeChunk(bytes, new Array[Long](4), 0)
        val pks = buf.take(n).toList
        pks.foreach(pk =>
          assert(ItemItem.targetOf((pk >>> 32).toInt, p) == t, s"p=$p key"))
        pks
      }
      val want = (for {
        (u, items) <- purchases.filter(_._2 != null).groupBy(_._1).toSeq
        a <- items.map(i => code(i._2)); b <- items.map(i => code(i._2))
        if a != b
      } yield (a << 32) | b).sorted
      assert(decoded.sorted == want.toList, s"p=$p multiset")
    }
    // MULTI-BATCH law: a batchCap smaller than the total pair volume
    // forces the encoder to close and re-open per-target streams
    // across whole-user batches — the decoded multiset must be
    // unchanged (each blob restarts its absolute head, so batching is
    // an encoding detail). batchCap 4 < user 1's 6 pairs also
    // exercises the grow-don't-corrupt path for an over-cap user.
    for (p <- Seq(1, 3)) {
      val chunks = ItemItem.encodePairBlobs(rows.iterator, ids, p, batchCap = 4L).toList
      val decoded = chunks.flatMap { case (t, bytes) =>
        val (buf, n) = ItemItem.decodeChunk(bytes, new Array[Long](4), 0)
        buf.take(n).toList.map { pk =>
          assert(ItemItem.targetOf((pk >>> 32).toInt, p) == t, s"p=$p key")
          pk
        }
      }
      val want = (for {
        (u, items) <- purchases.filter(_._2 != null).groupBy(_._1).toSeq
        a <- items.map(i => code(i._2)); b <- items.map(i => code(i._2))
        if a != b
      } yield (a << 32) | b).sorted
      assert(decoded.sorted == want.toList, s"p=$p multi-batch multiset")
      // at least two batches actually happened for p=1 (6+2+2 pairs,
      // cap 4 → ≥ 2 blobs on the single target)
      if (p == 1) assert(chunks.size >= 2, "batching engaged")
    }
  }

  test("scanSorted tie-break: equal cosine prefers the smaller neighbor") {
    // codes 0..3 (ids -5, 7, 2³¹, 2⁴⁰) each with n_i = 4; pairs
    // (0,1),(0,2),(0,3) each once: identical cosines — top-2 must be
    // the two smallest neighbor ids
    val ids = Array(-5L, 7L, 1L << 31, 1L << 40)
    val buf = Array((0L << 32) | 3L, (0L << 32) | 1L, (0L << 32) | 2L)
    java.util.Arrays.sort(buf)
    val out = ItemItem.scanSorted(buf, 3, ids, Array(4L, 4L, 4L, 4L), 2)
    assert(out.map(r => (r._1, r._2, r._3)).toList ==
      List((-5L, 1, 7L), (-5L, 2, 1L << 31)))
  }
}
