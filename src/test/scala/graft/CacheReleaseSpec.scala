package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.graftbridge.CacheBridge
import graft.core.Persisted

/** Every entry releases what it caches: after `collect()` the session's
  * CacheManager holds exactly the entries it held before, so a
  * long-lived session does not grow per query and no cached frame can
  * stand in for a later query's subtree. EdgeSweepSpec checks this law
  * for every entry on the degenerate corpora; this spec runs it on real
  * data, where the entries take the paths those corpora skip. */
class CacheReleaseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // the entries that persist frames of their own or through the Dedup
  // operators, and the graph round loop's three
  private val entries = Seq(
    "dd_chargram_pairs", "dd_clusters", "dd_containment", "dd_dedup_corpus",
    "dd_lsh_incremental", "dd_minhash_pairs", "dd_simhash_pairs",
    "g_common_neighbors", "g_triangle_count",
    "llm_corpus_audit", "llm_corpus_build",
    "sel_contrastive_pairs", "sel_softdedup", "ss_knn_sq",
    "w11_market_basket", "w13_rfm",
    "g_pagerank", "g_label_propagation", "g_reachability")

  entries.foreach { q =>
    test(s"$q leaves no cache entry behind after collect()") {
      // a plan an earlier suite left cached would make this entry's
      // persist of the same plan a no-op, and so hide its leak
      spark.catalog.clearCache()
      val before = CacheBridge.entries(spark)
      SparkEntry.queries(q)(spark, dir).collect()
      val left = CacheBridge.entries(spark) - before
      assert(left == 0, s"$q left $left cache entries")
    }
  }

  test("a scoped body that persists and then throws leaves the CacheManager unchanged") {
    val sp = spark
    import sp.implicits._
    val before = CacheBridge.entries(spark)
    val e = intercept[IllegalStateException] {
      Persisted.scoped { p =>
        val kept = p.keep((1 to 10).toDF("x").filter(col("x") > 3))
        assert(kept.count() == 7)
        assert(CacheBridge.entries(spark) == before + 1)
        throw new IllegalStateException("mid-build failure")
      }
    }
    assert(e.getMessage == "mid-build failure")
    assert(CacheBridge.entries(spark) == before)
  }

  test("a result that reads a kept frame is checkpointed before the release") {
    val out = Persisted.scoped { p =>
      p.keep(spark.range(100).toDF("x")).filter(col("x") % 2 === 0)
    }
    val leaves = out.queryExecution.analyzed.collectLeaves()
    assert(leaves.forall {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }, leaves.mkString("\n"))
    assert(out.count() == 50)
  }

  test("a frame another owner cached stays cached until that owner's scope ends") {
    val shared = spark.range(10).toDF("x").filter(col("x") > 5)
    val total = Persisted.scoped { outer =>
      outer.keep(shared)
      val inner = Persisted.scoped { p =>
        p.keep(shared)
        shared.agg(sum(col("x")).as("s"))
      }
      assert(inner.head().getLong(0) == 30L)
      assert(shared.storageLevel != StorageLevel.NONE)
      inner
    }
    assert(total.head().getLong(0) == 30L)
    assert(shared.storageLevel == StorageLevel.NONE)
  }
}
