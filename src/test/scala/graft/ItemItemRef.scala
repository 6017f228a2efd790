package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test references for the item-item kernel (graft.ml.ItemItem): the
  * wire-format encoder, a brute-force reco_item_item, and the fixture
  * plumbing the specs share. */
object ItemItemRef {

  /** Reference encoder for the kernel's pair wire format (the
    * production emit, ItemItem.encodePairBlobs, streams the same format
    * from its sorted walk): sort buf[0..n) in place, write the first pk
    * absolute and every later pk as its gap to the previous one, each
    * as LEB128. A duplicate pk is gap 0, one byte. */
  def encodeChunk(buf: Array[Long], n: Int): Array[Byte] = {
    java.util.Arrays.sort(buf, 0, n)
    val out = new java.io.ByteArrayOutputStream(n * 3)
    var prev = 0L
    var i = 0
    while (i < n) {
      var x = if (i == 0) buf(0) else buf(i) - prev
      prev = buf(i)
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7FL) | 0x80L).toInt); x >>>= 7 }
      out.write(x.toInt)
      i += 1
    }
    out.toByteArray
  }

  type Neighbor = (Long, Int, Long, Long, Double) // item, rank, neighbor, n_ab, cosine

  /** reco_item_item by brute force over (user, item) purchase rows
    * (None = a lineitem without a part): distinct purchases; users with
    * more than 1000 distinct items (None counted) dropped; n_i over the
    * rest; exact cosine n_ab / √(n_a·n_b); top-k per item by (cosine
    * desc, neighbor asc). Sorted by (item, rank). */
  def neighbors(purchases: Seq[(Long, Option[Long])], k: Int): Seq[Neighbor] = {
    val baskets = purchases.distinct.groupBy(_._1).values
      .filter(_.size <= 1000).map(_.flatMap(_._2)).toSeq
    val ni = baskets.flatten.groupBy(identity).map { case (i, v) => i -> v.size.toLong }
    val nab = (for (items <- baskets; a <- items; b <- items if a != b) yield (a, b))
      .groupBy(identity).map { case (pair, v) => pair -> v.size.toLong }
    nab.toSeq.groupBy(_._1._1).toSeq.flatMap { case (a, m) =>
      m.map { case ((_, b), n) => (b, n, n.toDouble / math.sqrt((ni(a) * ni(b)).toDouble)) }
        .sortBy { case (b, _, c) => (-c, b) }.take(k).zipWithIndex
        .map { case ((b, n, c), r) => (a, r + 1, b, n, c) }
    }.sortBy(t => (t._1, t._2))
  }

  /** Writes orders (o_orderkey, o_custkey) and lineitem (l_orderkey,
    * l_partkey) under `dir`, and returns their (user, item) purchases. */
  def writeFixture(spark: SparkSession, dir: String, orders: Seq[(Long, Long)],
                   lineitem: Seq[(Long, Option[Long])]): Seq[(Long, Option[Long])] = {
    import spark.implicits._
    orders.toDF("o_orderkey", "o_custkey").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem.toDF("l_orderkey", "l_partkey").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val userOf = orders.toMap
    lineitem.collect { case (o, i) if userOf.contains(o) => (userOf(o), i) }
  }

  def collectSorted(df: DataFrame): Seq[Neighbor] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
      r.getDouble(4))).sortBy(t => (t._1, t._2)).toSeq
}
