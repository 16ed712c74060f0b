package graft

import graft.operators.{CacheScope, Graph}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `CacheScope { … }` releases every `CacheScope.persist` registered
  * while its body ran, synchronously, when the body returns or throws.
  * This suite runs outside any scope so it can watch the boundary.
  */
class CacheScopeSpec extends AnyFunSuite {

  lazy val spark = Specs.spark
  private val sf = "/root/testdata/sf0.001"

  private def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("dedup-family persists release themselves after the consuming action") {
    val before = persistent
    val names = Seq("minhash_lsh", "ngram_jaccard", "ngram_containment",
      "simhash_pairs", "simhash_partners", "dedup_incremental",
      "dedup_clusters", "dedup_keep", "lsh_recall")
    for (n <- names if SparkEntry.queries.contains(n)) {
      CacheScope { SparkEntry.queries(n)(spark, sf).count() }
      assert(persistent == before, s"$n left persisted RDDs behind: " +
        (persistent -- before))
    }
  }

  test("dedup_incremental_stream's micro-batch persists are released") {
    // the stream's foreachBatch runs Dedup.minhashProbeIndex on the
    // stream thread, which the query starts inside the scope
    val before = persistent
    val during = CacheScope {
      SparkEntry.queries("dedup_incremental_stream")(spark, sf).count()
      persistent -- before
    }
    assert(during.nonEmpty, "the micro-batches persisted nothing")
    assert(persistent == before, "micro-batch persists survived the scope: " +
      (persistent -- before))
  }

  test("a scope whose body throws still releases") {
    import spark.implicits._
    val before = persistent
    var held: org.apache.spark.sql.DataFrame = null
    val e = intercept[IllegalStateException] {
      CacheScope {
        held = CacheScope.persist(Seq(1, 2, 3).toDF("x").selectExpr("x * 2 AS y"))
        held.count()
        assert(persistent.size == before.size + 1)
        throw new IllegalStateException("consumer failed")
      }
    }
    assert(e.getMessage == "consumer failed")
    assert(held.storageLevel == StorageLevel.NONE)
    assert(persistent == before)
  }

  test("a nested scope releases only its own registrations") {
    import spark.implicits._
    val before = persistent
    CacheScope {
      val outer = CacheScope.persist(Seq(1, 2).toDF("x").selectExpr("x + 7 AS o"))
      outer.count()
      val inner = CacheScope {
        val mine = CacheScope.persist(Seq(3, 4).toDF("x").selectExpr("x - 7 AS i"))
        mine.count()
        // already cached by the outer scope: not the inner scope's to drop
        CacheScope.persist(outer).count()
        mine
      }
      assert(inner.storageLevel == StorageLevel.NONE, "inner persist survived")
      assert(outer.storageLevel == StorageLevel.DISK_ONLY,
        "the inner scope released the outer scope's persist")
    }
    assert(persistent == before)
  }

  test("outside a scope the persist belongs to the caller") {
    import spark.implicits._
    val owned = CacheScope.persist(Seq(5).toDF("x").selectExpr("x * 11 AS c"),
      StorageLevel.MEMORY_AND_DISK)
    CacheScope { assert(owned.count() == 1) }
    assert(owned.storageLevel == StorageLevel.MEMORY_AND_DISK)
    owned.unpersist(true)
  }

  test("pageRankConverged's result serves two actions inside one scope") {
    import spark.implicits._
    // two directed 4-cliques bridged 4↔10 converge in ~10 rounds; the
    // result reads checkpointed rounds that are gone once its persist
    // is released, so every action on it must run inside the scope
    def diClique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (diClique(Seq(1L, 2L, 3L, 4L)) ++
      diClique(Seq(10L, 11L, 12L, 13L)) ++ Seq((4L, 10L), (10L, 4L)))
      .toDF("src", "dst")
    val (first, second) = CacheScope {
      val ranks = Graph.pageRankConverged(edges)
      // a derived frame plans afresh: it cannot reuse the first
      // action's shuffle files, only the cache
      (ranks.collect().toSeq, ranks.orderBy("node").collect().toSeq)
    }
    assert(first.size == 8)
    assert(first == second)
  }

  test("a converged loop that hits its round cap releases its state") {
    import spark.implicits._
    // a 1-2-3-4-5 path peels one endpoint pair per round at k = 2 and
    // the 6-7-8 triangle stays: more rounds than the cap allows
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((6L, 7L), (7L, 8L), (8L, 6L))).toDF("src", "dst")
    val before = persistent
    for ((name, run) <- Seq[(String, () => Any)](
        "kcoreDecompose" -> (() => Graph.kcoreDecompose(edges, k = 2, maxRounds = 1)),
        "pageRankConverged" -> (() => Graph.pageRankConverged(edges, maxRounds = 1)))) {
      CacheScope {
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains(name), e.getMessage)
        assert(persistent == before, s"$name left persisted RDDs behind: " +
          (persistent -- before))
      }
    }
  }
}
