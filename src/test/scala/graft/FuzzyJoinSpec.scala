package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.FuzzyJoin

/** The prefix-filtered fuzzy join is LOSSLESS by theorem — so every test
  * here is exact equality against the brute-force all-pairs definition,
  * including randomized corpora that cross the short-string cut and stack
  * near-duplicates on one gram.
  */
class FuzzyJoinSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark

  private def brute(df: DataFrame, maxDist: Int): Set[(Long, Long, Int)] = {
    val a = df.select(col("id").as("id_a"), col("s").as("s_a"))
    val b = df.select(col("id").as("id_b"), col("s").as("s_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  private def fuzzy(df: DataFrame, maxDist: Int): Set[(Long, Long, Int)] =
    FuzzyJoin.fuzzyPairs(df, "id", "s", maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("typo pairs found regardless of where the edit lands") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha centauri prime station"),
      (2L, "alpha centauri prine station"),  // mid edit
      (3L, "blpha centauri prime station"),  // FIRST-char edit — the case
                                             // first-token blocking missed
      (4L, "alpha centauri prime statioX"),  // last-char edit
      (5L, "completely unrelated other text here")
    ).toDF("id", "s")
    assert(fuzzy(df, 3) == brute(df, 3))
    // and the found set is what a human expects: 1-2, 1-3, 1-4, 2-3(2),
    // 2-4(2), 3-4(2) — every pair among the four variants
    assert(fuzzy(df, 3).map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("short strings below the prefix cut still pair exactly") {
    import spark.implicits._
    // len < q*(maxDist+1) = 9 at q=3,d=2 — all handled by the banded path
    val df = Seq((1L, "cat"), (2L, "cap"), (3L, "carp"), (4L, "dog"),
      (5L, "catalog!"), (6L, "horse"), (7L, "")).toDF("id", "s")
    assert(fuzzy(df, 2) == brute(df, 2))
  }

  test("pairs straddling the short/long cut are not lost") {
    import spark.implicits._
    // q=3, d=2: cut at len 9 — 8-char vs 10-char strings within 2 edits
    val df = Seq(
      (1L, "abcdefgh"),          // len 8: short side
      (2L, "abcdefghij"),        // len 10: long side, dist 2 from #1
      (3L, "abcdefghi"),         // len 9: long side, dist 1 from both
      (4L, "zzzzzzzzzz")).toDF("id", "s")
    assert(fuzzy(df, 2) == brute(df, 2))
    assert(fuzzy(df, 2).map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("randomized corpus matches brute force exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val alphabet = "abcdef"
    def word(n: Int) = (1 to n).map(_ =>
      alphabet(rng.nextInt(alphabet.length))).mkString
    // seeds + mutated near-dups + unrelated noise, lengths 3..24 so the
    // corpus crosses the q*(d+1) cut both ways
    val seeds = (1 to 10).map(_ => word(6 + rng.nextInt(16)))
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    for (s <- seeds) {
      rows += ((id, s)); id += 1
      // mutate: substitution, deletion, insertion
      val chars = s.toCharArray
      chars(rng.nextInt(chars.length)) = alphabet(rng.nextInt(6))
      rows += ((id, new String(chars))); id += 1
      rows += ((id, s.drop(1))); id += 1
      rows += ((id, word(1 + rng.nextInt(3)) + s)); id += 1
    }
    for (_ <- 1 to 20) { rows += ((id, word(3 + rng.nextInt(20)))); id += 1 }
    val df = rows.toSeq.toDF("id", "s")
    assert(fuzzy(df, 3) == brute(df, 3))
  }

  test("identical strings dedup to dist-0 pairs, output-bounded") {
    import spark.implicits._
    val df = Seq((1L, "same text here ok"), (2L, "same text here ok"),
      (3L, "same text here ok"), (4L, "other text there!")).toDF("id", "s")
    val got = fuzzy(df, 1)
    assert(got == brute(df, 1))
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got.forall(_._3 == 0))
  }
}
