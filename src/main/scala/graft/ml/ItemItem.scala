package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Item-item collaborative filtering on binary co-purchase (SURVEY.md
  * §2.8 — the memory-based "customers also bought" neighbor model the
  * reference serves without trained factors): cosine(i,j) =
  * n_ij / √(n_i·n_j) over distinct (user, item) purchases, top-k
  * neighbors per item, ties broken by neighbor id. Exact and
  * bit-deterministic (integer counts, one correctly-rounded sqrt +
  * division), so it hash-matches the DuckDB oracle directly.
  *
  * Scale shape: the pair build pairs every user's items, so its cost
  * is Σ_u d(u)² — bounded ONLY if per-user degree is; the degree cap
  * (≤1000 distinct items, a no-op on this data, load-bearing on
  * power-law users) keeps the quadratic term linear-ish in practice.
  *
  * One physical strategy, a packed-pair kernel. Every item is replaced
  * by its CODE, its index in the sorted array of distinct item ids.
  * Codes are dense ints and keep the order of the ids, so any id
  * (negative, ≥ 2³¹) packs with its neighbor into ONE long
  * ((codeA<<32)|codeB), and "neighbor ascending" on codes is
  * "neighbor ascending" on ids. The directed pair stream (a≠b, both
  * directions — emitting both out of one user's item list costs
  * nothing more than the canonical half, and spares a mirror pass) is
  * routed once BY SOURCE ITEM, and each reduce partition sorts its
  * packed longs and run-length-scans them: a run of equal values IS
  * (a, b, n_ab), runs of one item are consecutive and already
  * neighbor-ordered, so exact counts, the cosine against the broadcast
  * n_i array and the bounded top-k selection all happen in one
  * primitive-array pass that emits FINAL rows (item, rank, neighbor,
  * n_ab, cosine). A shuffle plan of the same contract (pair
  * aggregate, two denominator joins, a mirror and a top-k aggregate)
  * needs several exchanges of the Σ d(u)² pair volume; this needs one.
  *
  * The exchange ships DELTA+VARINT BLOBS, not rows: each map task
  * sorts a batch of its pairs and LEB128-encodes, per reduce
  * partition, the first pk + gaps (a duplicate pk — the same pair
  * seen via two users in one batch — is one 0x00 byte).
  * Consecutive sorted pks within one source item differ by
  * ~catalog/d(i), so a pair costs ~2 B on the wire vs 8 B packed +
  * UnsafeRow/serializer overhead as rows. The reduce side decodes
  * (multiset-exact by construction), re-sorts, and scans. Map-side
  * memory is bounded by the batch (≤ 8M longs per task); the shuffle
  * sorter sees only a few hundred small records per task. The reduce
  * partition count derives from a metadata-cheap pair-volume estimate
  * so the decoded slice stays ~128 MB at any scale, the analog of one
  * executor core's shuffle slice on a real cluster.
  *
  * The n_i table (one row per distinct item) is collected to the
  * driver and broadcast: the cosine of a source item a needs n_b for
  * EVERY neighbor b, and n_b is not co-partitioned with a, so the
  * table must be whole wherever a is scanned. That collect is the
  * entry's MODEL BUILD, at query-construction time like the ALS
  * family's train(); its driver memory (16 B per item in the arrays,
  * plus the collected rows) is bounded by Spark's own
  * `spark.driver.maxResultSize`, a deployment setting — past it Spark
  * aborts the collect with an error that names the setting.
  */
object ItemItem {

  /** The code table of the collected (item, n_i) rows: ids ascending,
    * counts aligned. An item's code is its index in `ids`. */
  private[graft] def codeTable(rows: Array[(Long, Long)]): (Array[Long], Array[Long]) = {
    val sorted = rows.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** The code of `item` in the sorted `ids`. Every purchased item is in
    * the table (both read the same checkpoint), so a miss is a bug, not
    * an input shape. */
  private[graft] def codeOf(ids: Array[Long], item: Long): Int = {
    val c = java.util.Arrays.binarySearch(ids, item)
    if (c < 0) throw new IllegalStateException(s"item $item is not in the n_i table")
    c
  }

  /** The sorted-scan core: run-length-scan packed (a<<32)|b code
    * pairs — runs of equal values are exact (a, b, n_ab); runs of one
    * item are consecutive and neighbor-ascending — keeping a k-slot
    * insertion-sorted best list per item. Strict > on the cosine
    * preserves the (cosine desc, neighbor asc) tie-break because
    * neighbors arrive ascending and codes keep id order. Emits FINAL
    * result rows in ids (`counts(code)` is n_i). */
  private[graft] def scanSorted(buf: Array[Long], n: Int, ids: Array[Long],
                                counts: Array[Long], k: Int)
      : scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long, Double)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long, Double)]
    val tCos = new Array[Double](k); val tNb = new Array[Int](k)
    val tCnt = new Array[Long](k)
    var tSize = 0
    var curItem = -1
    var na = 0L
    def flush(): Unit = {
      var r = 0
      while (r < tSize) {
        out += ((ids(curItem), r + 1, ids(tNb(r)), tCnt(r), tCos(r))); r += 1
      }
      tSize = 0
    }
    var i = 0
    while (i < n) {
      val pk = buf(i)
      var j = i + 1
      while (j < n && buf(j) == pk) j += 1
      val a = (pk >>> 32).toInt
      val b = pk.toInt
      if (a != curItem) { flush(); curItem = a; na = counts(a) }
      val cnt = (j - i).toLong
      // same arithmetic shape as the SQL: long product, one cast, one
      // correctly-rounded sqrt and division — bit-identical to DuckDB
      val cos = cnt.toDouble / math.sqrt((na * counts(b)).toDouble)
      if (tSize < k || cos > tCos(tSize - 1)) {
        var pos = if (tSize < k) tSize else k - 1
        while (pos > 0 && cos > tCos(pos - 1)) {
          tCos(pos) = tCos(pos - 1); tNb(pos) = tNb(pos - 1)
          tCnt(pos) = tCnt(pos - 1); pos -= 1
        }
        tCos(pos) = cos; tNb(pos) = b; tCnt(pos) = cnt
        if (tSize < k) tSize += 1
      }
      i = j
    }
    flush()
    out
  }

  private val outputSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "item BIGINT NOT NULL, rank INT NOT NULL, neighbor BIGINT NOT NULL, " +
      "n_ab BIGINT NOT NULL, cosine DOUBLE NOT NULL")

  /** Deterministic reduce-partition of a source item code. A mixed
    * hash, not bare `a % p`: a small p would alias any periodicity of
    * item popularity along the code order straight into partition
    * skew. Content-defined, so the exchange layout is deterministic;
    * changing it is a repartitioning, never a semantic change (the
    * reduce side re-sorts whatever multiset it receives). */
  private[graft] def targetOf(a: Int, p: Int): Int = {
    var h = a * 0x9E3779B9
    h ^= h >>> 16
    (h & 0x7FFFFFFF) % p
  }

  private final class ByteVec(initial: Int) {
    var a = new Array[Byte](math.max(16, initial))
    var n = 0
    def add(b: Byte): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
      a(n) = b; n += 1
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  /** Decode one chunk into (a possibly-regrown) buf, returning the new
    * (buf, n). The wire format: the first pk absolute, every later pk
    * as its gap to the previous one, LEB128 (sorted ⇒ nonnegative gaps
    * ⇒ no zigzag; codes are < 2³¹, so a pk is < 2⁶³ and the absolute
    * head fits 9 bytes). Decodes the pk multiset of the chunk; the
    * caller re-sorts the union of all chunks, so per-chunk sortedness
    * is an encoding detail, not a decode contract. */
  private[graft] def decodeChunk(bytes: Array[Byte], buf0: Array[Long],
                                 n0: Int): (Array[Long], Int) = {
    var buf = buf0; var n = n0
    var pos = 0; var prev = 0L; var first = true
    while (pos < bytes.length) {
      var x = 0L; var shift = 0; var b = 0
      do {
        b = bytes(pos) & 0xFF; pos += 1
        x |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      val pk = if (first) { first = false; x } else prev + x
      prev = pk
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n << 1)
      buf(n) = pk; n += 1
    }
    (buf, n)
  }

  /** True iff the EXECUTED (post-AQE-finalization) plan of the capped
    * purchases proves encodePairBlobs' invariant — every user's rows in
    * one partition. The positive proof: the plan root (through narrow
    * wrappers) is the degree-cap semi-join as a NON-skew
    * ShuffledHashJoin streaming on exactly `user`. Two runtime events
    * break the invariant and both make this return false: (a) AQE's
    * OptimizeSkewedJoin splitting a skewed stream-side partition into
    * mapper-range slices (one user's items land in several slices —
    * the join is then marked isSkewJoin and cross-slice pairs would
    * otherwise be silently dropped); (b) any demotion of the semi-join
    * to a broadcast form (output then keeps the upstream distinct's
    * (user, item) partitioning, which does NOT co-locate users).
    * Checking the reported outputPartitioning instead does not work:
    * AQE conservatively reports UnknownPartitioning even for intact
    * hash-partitioned output (coalesced reads), which would force the
    * safety exchange on EVERY run. Anything unrecognized fails closed
    * onto the exchange — wrong answers are never on the table. */
  private[graft] def pairLocalityHolds(
      plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: adaptive.QueryStageExec => unwrap(q.plan)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case _ => p
    }
    unwrap(plan) match {
      case j: joins.ShuffledHashJoinExec =>
        !j.isSkewJoin && j.leftKeys.nonEmpty && j.leftKeys.forall {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
            a.name == "user"
          case _ => false
        }
      case _ => false
    }
  }

  /** Directed-pair ENCODER over one partition of the CAPPED purchases
    * (every user's items partition-local — see pairLocalityHolds):
    * code each item once per purchase row (one binary search in the
    * sorted `ids`), group codes per user, then generate every ordered
    * pair (i≠j) as a packed (a<<32)|b long APPENDED to one contiguous
    * batch array, sort the batch once, and walk it in ascending pk
    * order streaming LEB128 deltas into one small byte encoder per
    * reduce target. The per-user double loop replaces a d(u)²-row
    * self-join (a hash probe per emitted pair plus two extra scans of
    * the checkpoint), and the blobs replace a raw-row pair exchange.
    *
    * Why ONE array + ONE sort, not per-target chunk buffers: p growing
    * long buffers per task are p live large arrays per task (G1
    * humongous objects churning per chunk cycle). One batch is one
    * allocation, one sort, and the ascending walk hands each target an
    * ASCENDING pk subsequence — so per-target delta encoding needs only
    * (prev, started) per target, and duplicates land adjacent.
    *
    * Memory law: the batch is min(task's total pairs, 8M) longs —
    * 64 MB at the cap, ONE allocation reused across the task's
    * batches, so emit memory is bounded per task at any corpus size,
    * independently of the emit-widening law's ~32M-pairs-per-task
    * budget. A task processes whole users in batch-sized groups; each
    * batch closes its targets' streams and emits (the degree cap bounds
    * one user's pairs at ~1M, far under the cap, so a batch always
    * makes progress; a cap-dodging user larger than the whole batch
    * grows it rather than corrupt it). Each batch re-pays one absolute
    * head per target (~p·9 B). Null items (kept upstream for the degree
    * count) never pair. `batchCap` is a law parameter for the spec's
    * multi-batch exercise, never overridden in production. */
  private[graft] def encodePairBlobs(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow], ids: Array[Long],
      p: Int, batchCap: Long = 1L << 23): Iterator[(Int, Array[Byte])] = {
    final class IntVec {
      var a = new Array[Int](8)
      var n = 0
      def add(v: Int): Unit = {
        if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
        a(n) = v; n += 1
      }
    }
    val byUser = new java.util.HashMap[Long, IntVec]()
    var totalPairs = 0L
    while (it.hasNext) {
      val r = it.next()
      if (!r.isNullAt(1)) {
        val u = r.getLong(0)
        var vec = byUser.get(u)
        if (vec == null) { vec = new IntVec; byUser.put(u, vec) }
        vec.add(codeOf(ids, r.getLong(1)))
        // n items so far: the new item pairs with the n-1 before it,
        // in both directions
        totalPairs += 2L * (vec.n - 1)
      }
    }
    if (totalPairs == 0L) return Iterator.empty
    val users = byUser.entrySet().iterator()
    new Iterator[(Int, Array[Byte])] {
      private var batch =
        new Array[Long](math.max(1L, math.min(totalPairs, batchCap)).toInt)
      private var carried: IntVec = null
      private var out: Iterator[(Int, Array[Byte])] = Iterator.empty
      /** Fill one batch with WHOLE users' pair sets, sort, walk-encode.
        * False when no users remain. */
      private def nextBatch(): Boolean = {
        var n = 0
        var go = true
        while (go) {
          val vec =
            if (carried != null) carried
            else if (users.hasNext) users.next().getValue
            else null
          if (vec == null) go = false
          else {
            val m = vec.n
            val pairsU = m.toLong * (m - 1)
            if (pairsU == 0) carried = null // single purchase: no pairs
            else if (n > 0 && n + pairsU > batch.length) {
              carried = vec; go = false // close the batch, user intact
            } else {
              // a single user larger than the whole batch (only
              // reachable if the degree cap is lifted or a spec
              // shrinks batchCap): grow rather than write past the end
              if (pairsU > batch.length)
                batch = new Array[Long](pairsU.toInt)
              carried = null
              val items = vec.a
              var i = 0
              while (i < m) {
                val hi = items(i).toLong << 32
                var j = 0
                while (j < m) {
                  if (j != i) { batch(n) = hi | items(j).toLong; n += 1 }
                  j += 1
                }
                i += 1
              }
            }
          }
        }
        if (n == 0) return false
        java.util.Arrays.sort(batch, 0, n)
        // ascending walk: each target receives an ascending pk
        // subsequence, so a (prev, started) pair per target is the
        // whole encoder state; the target only changes when the
        // source item does (runs are contiguous after the sort)
        val vecs = new Array[ByteVec](p)
        val prev = new Array[Long](p)
        val live = new Array[Boolean](p)
        var curA = -1
        var t = 0
        var i = 0
        while (i < n) {
          val pk = batch(i)
          val a = (pk >>> 32).toInt
          if (a != curA) { curA = a; t = targetOf(a, p) }
          var bv = vecs(t)
          if (bv == null) { bv = new ByteVec(64); vecs(t) = bv }
          var x = if (live(t)) pk - prev(t) else { live(t) = true; pk }
          prev(t) = pk
          while ((x & ~0x7FL) != 0) {
            bv.add(((x & 0x7FL) | 0x80L).toByte); x >>>= 7
          }
          bv.add(x.toByte)
          i += 1
        }
        out = (0 until p).iterator
          .filter(vecs(_) != null).map(t => (t, vecs(t).toArray))
        true
      }
      override def hasNext: Boolean = {
        while (!out.hasNext) if (!nextBatch()) return false
        true
      }
      override def next(): (Int, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        out.next()
      }
    }
  }

  /** Identity partitioner for the chunk exchange: the encoder already
    * computed each chunk's reduce partition (targetOf), so the key IS
    * the partition — re-hashing it would alias p targets into ~0.63p
    * occupied partitions and reintroduce avoidable skew. */
  private final class IdPartitioner(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case x: IdPartitioner => x.numPartitions == numPartitions
      case _                => false
    }
    override def hashCode: Int = numPartitions
  }

  /** One reduce partition of the kernel: decode every incoming chunk
    * into one primitive long array, sort, run-length scan, emit
    * UnsafeRows. The decoded union is exactly the pk multiset the map
    * side generated for this partition's source items. */
  private[graft] def decodeScanPartition(
      blobs: Iterator[Array[Byte]], ids: Array[Long], counts: Array[Long], k: Int)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    var buf = new Array[Long](1 << 13)
    var n = 0
    while (blobs.hasNext) {
      val r = decodeChunk(blobs.next(), buf, n)
      buf = r._1; n = r._2
    }
    java.util.Arrays.sort(buf, 0, n)
    val out = scanSorted(buf, n, ids, counts, k)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(outputSchema)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(5)
    out.iterator.map { case (item, rank, nb, cnt, cos) =>
      row.update(0, item); row.update(1, rank); row.update(2, nb)
      row.update(3, cnt); row.update(4, cos)
      proj(row).copy()
    }
  }

  /** Distinct capped (user, item) purchases. */
  private def cappedPurchases(t: Tables): DataFrame = {
    val ui = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .hint("shuffle_hash")
      .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .distinct()
    ui.join(
      ui.groupBy("user").agg(count(lit(1)).as("_d"))
        .filter(col("_d") <= 1000).select("user").hint("shuffle_hash"),
      Seq("user"), "left_semi")
  }

  /** Top-k item neighbors. `lineitemCount`/`customerCount` are the
    * caller's memoized parquet-metadata probes (Long.MaxValue on error
    * — the pair-volume estimate's fail-closed sentinel). */
  def neighbors(t: Tables, k: Int, lineitemCount: Long,
                customerCount: Long): DataFrame = {
    val out = neighborsImpl(t, k, lineitemCount, customerCount)
    // scratch release: once the impl frame returns, the capped
    // pipeline's QueryExecution (and with it every upstream
    // fact-join/distinct/cap ShuffleDependency) is unreachable — the
    // served frame roots only at the localCheckpoint blocks — but the
    // ContextCleaner only unregisters (and deletes) those shuffle files
    // after a GC notices them, and a large heap may not GC before the
    // emit has written its own chunk shuffle on top. One explicit GC
    // here frees the upstream shuffle files BEFORE the emit starts.
    // Gated on a REAL pair estimate ≥ 2³⁰ (sf0.1's is ~24M; the
    // sentinel is not a measurement), so small corpora never pay the
    // pause.
    val est = pairsEstimate(lineitemCount, customerCount)
    if (est != Long.MaxValue && est >= (1L << 30)) System.gc()
    out
  }

  private def neighborsImpl(t: Tables, k: Int, lineitemCount: Long,
                            customerCount: Long): DataFrame = {
    val s = t.spark
    val capped = cappedPurchases(t)
    // one materialization of the capped purchases: without it the
    // fact-join→distinct→cap subtree executes once for the n_i collect
    // and again for the pair emit. The ContextCleaner drops its
    // blocks once the returned frame, whose lineage holds it, is
    // garbage.
    val cappedCp = capped.localCheckpoint()
    val (ids, counts) = codeTable(
      cappedCp.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
        .select(col("item").cast("long"), col("n_i"))
        .collect()
        .filter(!_.isNullAt(0)).map(r => (r.getLong(0), r.getLong(1))))
    val bc = s.sparkContext.broadcast((ids, counts))
    // encodePairBlobs needs every user's items in one partition. That
    // is VERIFIED on the executed plan the checkpoint just ran, not
    // assumed from the query's shape: an AQE skew-split semi-join
    // leaves one user's items across slices, so that case (and any
    // other unrecognized final shape) pays one explicit user exchange
    // instead of silently dropping cross-slice pairs.
    val userLocal = pairLocalityHolds(capped.queryExecution.executedPlan)
    val defaultP = s.conf.get("spark.sql.shuffle.partitions").toInt
    // the EMIT side scales with pair volume too: its task count is
    // otherwise the cap semi-join's partition count, so pairs per map
    // task would grow linearly with data. emitPartitions sizes the map
    // side at ~32M pairs per task; when the checkpoint's ACTUAL
    // partition count already meets it, nothing engages and the
    // proven no-exchange path is untouched. Widening pays one slim
    // (user, item) hash exchange, whose user locality holds by
    // construction. (`.rdd` of a checkpointed frame is its stored
    // RDD; it runs no job.)
    val emitNeed = emitPartitions(
      pairsEstimate(lineitemCount, customerCount), userLocal, defaultP)
    val pairSrc0 = cappedCp.select(col("user"), col("item"))
    val pairSrc =
      if (!userLocal || emitNeed > cappedCp.rdd.getNumPartitions)
        pairSrc0.repartition(math.max(emitNeed, defaultP), col("user"))
      else pairSrc0
    val p = pairPartitions(defaultP, lineitemCount, customerCount)
    val rdd = org.apache.spark.sql.graftbridge.RowBridge
      .toInternalRdd(pairSrc)
      .mapPartitions(rows => encodePairBlobs(rows, bc.value._1, p))
      .partitionBy(new IdPartitioner(p))
      .mapPartitions { chunks =>
        val (ids, counts) = bc.value
        decodeScanPartition(chunks.map(_._2), ids, counts, k)
      }
    org.apache.spark.sql.graftbridge.RowBridge
      .ofInternalRows(s, rdd, outputSchema)
  }

  /** The metadata-cheap directed-pair volume estimate L·(L/C) both
    * partition laws derive from — ONE definition so they can never
    * diverge silently. No lineitems estimate 0 pairs; lineitems with no
    * customer rows estimate L·L, the bound of one user buying them all.
    * Long.MaxValue is the fail-closed SENTINEL — a failed probe, i.e.
    * "no measurement exists" — and each law chooses its own sentinel
    * posture. A REAL estimate that overflows multiplyExact (a plain *
    * can overflow NEGATIVE at extreme row counts, which would collapse
    * partition counts to the floor exactly where the clamps matter)
    * saturates to MaxValue − 1: still "astronomically large" for the
    * division laws, but never aliased with "unknown". */
  private[graft] def pairsEstimate(lineitemCount: Long,
                                   customerCount: Long): Long =
    if (lineitemCount == Long.MaxValue || customerCount == Long.MaxValue)
      Long.MaxValue
    else {
      val perUser =
        if (customerCount == 0L) lineitemCount
        else math.max(1L, lineitemCount / customerCount)
      scala.util.Try(Math.multiplyExact(lineitemCount, perUser))
        .getOrElse(Long.MaxValue - 1)
    }

  /** Kernel reduce-exchange partition count: ~16M packed longs
    * (~128 MB decoded) per task slice at any scale, floored at the
    * session default and clamped at 1024 (the upper clamp first binds
    * around 16.4G directed pairs ≈ a ~sf63 corpus of this shape —
    * past it, slices grow beyond 128 MB by design rather than fan the
    * exchange out without bound). The sentinel takes the upper clamp:
    * on the REDUCE side oversplitting is safe and a decoded-slice OOM
    * is not. Law pinned in ItemItemSpec. */
  private[graft] def pairPartitions(defaultP: Int, lineitemCount: Long,
                                    customerCount: Long): Int =
    math.max(defaultP, math.min(1024L,
      pairsEstimate(lineitemCount, customerCount) / 16000000L).toInt)

  /** Map-side (pair-EMIT) partition NEED, same estimate but budgeted
    * at ~32M pairs per map task: the emit task works through
    * Θ(pairs/task), and the measured zero-spill regime ended between 82M (sf10,
    * clean, 30g heap) and 164M (sf20, 139 GB mem-spill, 40g) pairs
    * per task — 32M is the measured sweet spot: sf20 measured 303 s
    * at 32 tasks, 162.6 s at 150 (this budget), 184.5 s at 300 (finer
    * splits just add task overhead). UNfloored (unlike
    * pairPartitions): the caller widens only when this need exceeds
    * the source's ACTUAL partition count, so gate-scale and
    * AQE-coalesced tiny corpora never pay the exchange.
    *
    * Sentinel posture: the sentinel is NOT a
    * measurement, so it must never convert the guard-PROVEN
    * no-exchange fast path into a 1024-wide shuffle on a corpus that
    * may be tiny — with `userLocal` the need is 0 (no widening; a
    * genuinely huge corpus with failed probes degrades to the
    * bounded-spill behavior the sf20 rehearsal measured, slow but
    * correct). When the guard already refused (`!userLocal`) the
    * exchange is paid regardless, so the width is capped at a small
    * multiple of the session default instead of the 1024 clamp,
    * which stays reduce-side-only. A zero-lineitem corpus estimates 0
    * and never widens. Law pinned in ItemItemSpec. */
  private[graft] def emitPartitions(pairsEst: Long, userLocal: Boolean,
                                    defaultP: Int): Int =
    if (pairsEst == Long.MaxValue) {
      if (userLocal) 0 else math.min(1024, 4 * math.max(1, defaultP))
    } else math.min(1024L, pairsEst / 32000000L).toInt
}
