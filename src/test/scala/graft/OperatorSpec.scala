package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions

/** Unit specs for the text/dedup operators on tiny in-memory frames
  * (the per-operator tests the reference lacks, SURVEY.md §5.1). */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (4L, "completely different words entirely here now today friends"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical canonical texts, keeps min id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 3)
    val dupGroup = out.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("exact dedup is whitespace/case canonical") {
    val messy = Seq((1L, "Hello  World"), (2L, "hello world "))
      .toDF("doc_id", "text")
    assert(Dedup.exact(messy).count() == 1)
  }

  test("minhash LSH: identical docs always collide (J=1 matches every band)") {
    val pairs = Dedup.minhashLshPairs(docs, minJaccard = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH at r=1 recalls the J=0.4 near-dup; Jaccard is exact") {
    // 16 bands of 1 row: collision prob 1-(1-J)^16 ≈ 0.9997 at J=0.4 —
    // with the fixed md5 permutations this fixture is deterministic.
    val pairs = Dedup.minhashLshPairs(docs, bands = 16, minJaccard = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val nearDup = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(nearDup.isDefined)
    assert(math.abs(nearDup.get._3 - 0.4) < 1e-9) // 4 shared / 10 union
  }

  test("chargram pairs: identical docs pair at J=1; length buckets split far sizes") {
    val cg = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      // ~10x longer: different 64-char length bucket AND size-ratio
      // bound < 0.8 → can never pair with 1/2 regardless of blocks
      (3L, Seq.fill(12)("the quick brown fox jumps over the lazy dog").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.charGramPairs(cg)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("chargram pairs: packed-int verify is bit-identical to the string " +
      "form, including sub-4-char grams and jaccard < 1") {
    // near-dups (one word changed → J ≈ high but < 1), an exact pair,
    // an unrelated doc, and a 2-char doc (packer zero-padding path)
    val cg = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away"),
      (3L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (4L, "completely unrelated text about spark shuffles and partitions"),
      (5L, "ab")).toDF("doc_id", "text")
    def run(pack: Boolean) =
      Dedup.charGramPairs(cg, packVerify = pack)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().sortBy(p => (p._1, p._2)).toSeq
    val (packed, strings) = (run(true), run(false))
    assert(packed == strings)
    assert(packed.exists { case (a, b, j) => a == 1L && b == 2L && j < 1.0 }
      || packed.contains((1L, 3L, 1.0)), s"fixture lost its pairs: $packed")
  }

  test("dd_chargram_pairs: the charset gate packs a Latin-1 corpus and keeps " +
      "strings for a wide one, with the string form's rows on both sides") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away"),
      (3L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (4L, "completely unrelated text about spark shuffles and partitions"))
    def fixture(extra: String): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_chargram_gate").toString
      (base :+ ((5L, extra))).toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    // é, è, û, à and î are Latin-1; ł and ż lie past U+00FF
    val latin = fixture("café crème brûlée à la carte, s'il vous plaît")
    val wide = fixture("zażółć gęślą jaźń, the wide-char document")
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      Seq(latin -> true, wide -> false).foreach { case (d, packs) =>
        // the operator returns its result checkpointed: the verify runs
        // in that localCheckpoint action
        val (q, plans) = ActionPlans.of(spark, "localCheckpoint") {
          graft.queries.DedupQueries.queries("dd_chargram_pairs")(spark, d)
        }
        val got = rows(q)
        val merges = plans.flatten
          .exists(_.expressions.exists(_.exists(
            _.isInstanceOf[graft.functions.SortedJaccardGe])))
        assert(merges == packs, s"$d: SortedJaccardGe planned = $merges")
        assert(got.nonEmpty, s"$d: fixture lost its pairs")
        assert(got == rows(Dedup.charGramPairs(
          graft.core.Tables(spark, d).documents, packVerify = false)))
      }
    } finally Seq(latin, wide).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("packGram-equivalent int packing is injective over Latin-1 grams") {
    // the bijectivity claim the oracle-unchanged argument rests on:
    // distinct ≤4-char strings over [0x01,0xFF] → distinct ints
    val chars = Seq('\u0001', 'a', 'z', 'ÿ', '0', ' ')
    val grams = (for {
      a <- chars; b <- chars; c <- chars; d <- chars
    } yield s"$a$b$c$d") ++ chars.map(_.toString) ++
      (for { a <- chars; b <- chars } yield s"$a$b")
    def pk(g: String): Int =
      g.padTo(4, '\u0000').foldLeft(0)((acc, ch) => (acc << 8) | ch.toInt)
    assert(grams.distinct.size == grams.distinct.map(pk).distinct.size)
    // and the Spark expression agrees with the reference packer
    val df = grams.distinct.toDF("g")
    val viaSpark = Dedup.packGramProbe(df).as[(String, Int)]
      .collect().toMap
    grams.distinct.foreach(g => assert(viaSpark(g) == pk(g), g))
  }

  test("clusters: min-label CC merges transitive chains, keeps components apart") {
    // chain 1-2, 2-3 (one component) + disjoint pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(7L) == 7L && out(9L) == 7L)
  }

  test("simhash: identical texts agree; unrelated text differs") {
    val sims = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(sims(1L) == sims(2L))
    assert(sims(1L).length == 16)
    assert(sims(1L) != sims(4L))
  }

  test("token counts: whitespace and bpe-ish") {
    val row = docs.filter($"doc_id" === 1)
      .select(
        TextFunctions.wsTokenCount($"text").as("ws"),
        TextFunctions.bpeishTokenCount($"text").as("bp"))
      .head()
    assert(row.getAs[Int]("ws") == 9)
    assert(row.getAs[Int]("bp") == 9)
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1, "the cat and the hat is on the mat"),
      (2, "der hund und die katze ist das haus"),
      (3, "zzz qqq xxx")).toDF("id", "text")
    val out = df.select($"id", TextFunctions.langId($"text").as("lang"))
      .as[(Int, String)].collect().toMap
    assert(out(1) == "en")
    assert(out(2) == "de")
    assert(out(3) == "unknown")
  }
}
