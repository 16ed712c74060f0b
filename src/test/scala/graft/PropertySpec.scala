package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.BasketSource

/** Property suite for the window semantics (SURVEY.md §5): invariants that
  * must hold for arbitrary baskets, not just the golden fixture. Uses
  * ScalaCheck generators with a fixed seed (deterministic, no extra
  * scalatestplus bridge needed); pure-function level so hundreds of cases
  * run without Spark jobs.
  */
class PropertySpec extends AnyFunSuite with CacheScoped {

  private val productGen = Gen.chooseNum(1, 20).map(_.toString)
  private val basketGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, productGen))

  private def samples(n: Int): Seq[List[String]] =
    (0 until n).flatMap(i => basketGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Independent re-derivation of the expected window size at position i:
    * distance to the next repeat of products(i) (or end of basket).
    */
  private def expectedWindow(arr: Vector[String], i: Int): Int = {
    val stop = arr.indexWhere(_ == arr(i), i + 1) match {
      case -1 => arr.length
      case r  => r
    }
    stop - i - 1
  }

  test("no self-pairs ever emitted (500 random baskets)") {
    samples(500).foreach { products =>
      CoOccurrence.windowPairs(products).foreach(p =>
        assert(p.product != p.neighbor, s"self-pair in $products"))
    }
  }

  test("pair count equals sum of repeat-truncated window sizes") {
    samples(500).foreach { products =>
      val arr = products.toVector
      val total = CoOccurrence.windowPairs(products).size
      val expected =
        if (arr.isEmpty) 0
        else arr.indices.dropRight(1).map(expectedWindow(arr, _)).sum
      assert(total == expected, s"basket $products")
    }
  }

  test("emitted neighbors are exactly the window slice at each position") {
    samples(300).foreach { products =>
      val arr = products.toVector
      val got = CoOccurrence.windowPairs(products).toList
      val expected = arr.indices.dropRight(1).flatMap { i =>
        arr.slice(i + 1, i + 1 + expectedWindow(arr, i))
          .map(nb => CoPair(arr(i), nb))
      }.toList
      assert(got == expected, s"basket $products")
    }
  }

  test("maxWindow cap yields a subset of the uncapped relation") {
    samples(300).foreach { products =>
      (1 to 4).foreach { cap =>
        val capped = CoOccurrence.windowPairs(products, cap).toSeq
        val full = CoOccurrence.windowPairs(products).toSeq
        assert(capped.size <= full.size)
        assert(capped.toSet.subsetOf(full.toSet), s"cap $cap basket $products")
      }
    }
  }

  test("near-Int.MaxValue maxWindow equals unlimited (no overflow)") {
    val products = Seq("1", "2", "3", "4", "5")
    val unlimited = CoOccurrence.windowPairs(products).toList
    for (cap <- Seq(Int.MaxValue - 1, Int.MaxValue - 5, 1000000000)) {
      assert(CoOccurrence.windowPairs(products, cap).toList == unlimited,
        s"cap $cap diverged")
    }
  }

  /** The plan node's and the pure model's pairs over the 300 samples at
    * `cap`, each as a multiset. */
  private def nodeAndModelPairs(cap: Int)
      : (Map[(String, String), Int], Map[(String, String), Int]) = {
    val spark = Specs.spark
    import spark.implicits._
    val baskets = samples(300).map(_.toSeq)
    val got = graft.plans.CoOccurWindow.pairs(baskets.toDF("products"), cap)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val want = baskets.flatMap(b =>
        CoOccurrence.windowPairs(b, cap).map(p => (p.product, p.neighbor)))
      .groupBy(identity).view.mapValues(_.size).toMap
    (got, want)
  }

  test("CoOccurWindow plan node == windowPairs on 300 random baskets (Spark)") {
    // the custom physical node re-implements the scan over InternalRow
    // ArrayData; its multiset of pairs must equal the pure function's on
    // arbitrary baskets, not just the handpicked PipelineSpec fixtures
    val (got, want) = nodeAndModelPairs(Int.MaxValue)
    assert(got == want, "custom plan node diverged from windowPairs")
  }

  test("capped CoOccurWindow plan node == capped windowPairs on 300 random baskets (Spark)") {
    // caps 1-4 truncate real windows of the 0-12 item samples; the
    // near-Int.MaxValue cap must not wrap the node's long bound
    for (cap <- (1 to 4) :+ (Int.MaxValue - 1)) {
      val (got, want) = nodeAndModelPairs(cap)
      assert(got == want, s"plan node diverged from windowPairs at cap $cap")
    }
  }

  test("sorted_intersect_n == size(array_intersect) on random sorted-distinct sets (Spark)") {
    // the codegen'd merge intersect replaces array_intersect in
    // setsimJoin's verify; on the operator's array_sort(array_distinct(..))
    // token-set contract the two must agree exactly — checked over random
    // set pairs including empty/disjoint/identical, on BOTH the codegen
    // path (DataFrame) and the interpreted eval (driver-side filter)
    val spark = Specs.spark
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val pairGen = for {
      a <- Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, productGen))
      b <- Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, productGen))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val pairs = (0 until 300).flatMap(i =>
      pairGen.apply(Gen.Parameters.default, Seed(1000L + i))) :+
      ((Seq.empty[String], Seq.empty[String])) :+
      ((Seq("1", "2"), Seq("1", "2")))
    val df = pairs.toDF("a", "b")
    val got = df.select(
        graft.functions.VectorFunctions.sortedIntersectN(
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).as("n"),
        org.apache.spark.sql.functions.expr(
          "CAST(size(array_intersect(a, b)) AS BIGINT)").as("want"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"merge intersect diverged: got ${r.getLong(0)} want ${r.getLong(1)}"))
    // interpreted twin (non-codegen eval path)
    pairs.foreach { case (a, b) =>
      val expr = graft.functions.SortedIntersectSize(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
      assert(expr.eval(null) == a.toSet.intersect(b.toSet).size.toLong,
        s"interpreted eval diverged on ($a, $b)")
    }
  }

  test("probabilities sum to 1 per product on adversarial baskets (Spark)") {
    val lines = Seq(
      "u1 3 1 4 1 5 9 2 6 5 3 5",
      "u2 8 9 7 9 3 2 3 8 4 6 2",
      "u3 1 1 1 1", "u4 7", "u5")
    val probs = CrystalBall.pairProbabilities(
        BasketSource.fromLines(Specs.spark, lines)).collect()
    assert(probs.nonEmpty)
    probs.groupBy(_.getString(0)).foreach { case (p, rows) =>
      val s = rows.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-12, s"product $p sums to $s")
    }
  }

  // space-free tokens, INCLUDING empty ones: "a  b" splits to ("a","","b")
  // under split(" ", -1) and the span arithmetic must treat "" as a token
  private val tokenGen =
    Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(4)))
  private val tokensGen = Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, tokenGen))

  test("spanGrams emits exactly the sliding windows (500 random token lists)") {
    import graft.operators.Dedup
    (0 until 500).flatMap(i =>
        tokensGen.apply(Gen.Parameters.default, Seed(1000L + i))).foreach { toks =>
      val text = toks.mkString(" ")
      for (k <- Seq(1, 3, 8)) {
        val got = Dedup.spanGrams(text, k)
        // split is the inverse of mkString for space-free tokens, except
        // the empty LIST ("" round-trips to a single empty token)
        val t = if (toks.isEmpty) Vector("") else toks.toVector
        val want =
          if (t.length < k) Nil
          else t.sliding(k).zipWithIndex
            .map { case (w, i) => ((i + 1).toLong, w.mkString(" ")) }.toSeq
        assert(got == want, s"k=$k tokens=$toks")
      }
    }
    assert(Dedup.spanGrams(null, 8).isEmpty)
  }

  test("merged misra-gries summaries keep the global coverage guarantee") {
    import graft.operators.HeavyHitters
    val tokGen = Gen.frequency(
      3 -> Gen.chooseNum(1, 5).map(i => s"hot$i"),
      2 -> Gen.chooseNum(1, 10000).map(i => s"tail$i"))
    (0 until 200).foreach { i =>
      val stream = Gen.listOfN(600, tokGen)
        .apply(Gen.Parameters.default, Seed(9000L + i)).getOrElse(Nil)
      for (capacity <- Seq(8, 32); parts <- Seq(2, 5)) {
        // simulate the partitioned sketch + tree merge
        val chunks = stream.grouped(
          math.max(1, stream.size / parts)).toSeq
        val merged = chunks
          .map(c => HeavyHitters.mgCounters(c.iterator, capacity))
          .reduce((a, b) => HeavyHitters.mgMerge(a, b, capacity))
        assert(merged.size <= capacity, s"seed $i cap $capacity")
        val freq = stream.groupBy(identity).view.mapValues(_.size)
        val mustKeep = freq.filter {
          case (_, c) => c.toLong * (capacity + 1) > stream.size
        }.keySet
        assert(mustKeep.subsetOf(merged.keySet),
          s"seed $i cap $capacity parts $parts missed " +
            s"${mustKeep.diff(merged.keySet)}")
        // merged counts never over-estimate the true frequency
        merged.foreach { case (k, v) =>
          assert(v <= freq.getOrElse(k, 0).toLong, s"overcount $k")
        }
      }
    }
  }

  test("misra-gries survivors cover every token above n/(capacity+1)") {
    import graft.operators.HeavyHitters
    // zipf-ish streams: small hot vocabulary + long unique tail, so true
    // heavy hitters exist and eviction pressure is real
    val tokGen = Gen.frequency(
      3 -> Gen.chooseNum(1, 5).map(i => s"hot$i"),
      2 -> Gen.chooseNum(1, 10000).map(i => s"tail$i"))
    (0 until 300).foreach { i =>
      val stream = Gen.listOfN(400, tokGen)
        .apply(Gen.Parameters.default, Seed(7000L + i)).getOrElse(Nil)
      for (capacity <- Seq(4, 16, 64)) {
        val survivors =
          HeavyHitters.mgSketch(stream.iterator, capacity).toSet
        assert(survivors.size <= capacity, s"seed $i cap $capacity")
        val freq = stream.groupBy(identity).view.mapValues(_.size)
        val mustKeep = freq.filter {
          case (_, c) => c.toLong * (capacity + 1) > stream.size
        }.keySet
        assert(mustKeep.subsetOf(survivors),
          s"seed $i cap $capacity missed ${mustKeep.diff(survivors)}")
      }
    }
  }

  test("Y4M synth->parse round-trips arbitrary streams; prefixes never throw") {
    import graft.operators.Multimodal.Y4mCodec
    val dimGen = Gen.chooseNum(1, 16).map(_ * 2)
    val lumaGen = Gen.chooseNum(0, 255)
    def synth(w: Int, h: Int, lumas: List[Int]): Array[Byte] = {
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n".getBytes("US-ASCII")
      val fb = w * h * 3 / 2
      val buf = java.nio.ByteBuffer.allocate(header.length + lumas.size * (6 + fb))
      buf.put(header)
      lumas.foreach { l =>
        buf.put("FRAME\n".getBytes("US-ASCII"))
        (0 until w * h).foreach(_ => buf.put(l.toByte))
        (w * h until fb).foreach(_ => buf.put(128.toByte))
      }
      buf.array()
    }
    (0 until 200).foreach { i =>
      val p = Gen.Parameters.default
      val w = dimGen.apply(p, Seed(9000L + i)).get
      val h = dimGen.apply(p, Seed(9100L + i)).get
      val n = Gen.chooseNum(0, 6).apply(p, Seed(9200L + i)).get
      val lumas = Gen.listOfN(n, lumaGen).apply(p, Seed(9300L + i)).get
      val bytes = synth(w, h, lumas)
      val parsed = Y4mCodec.parse(bytes)
      assert(parsed.exists { case (pw, ph, fr) =>
        pw == w && ph == h && fr.size == n
      }, s"seed $i round-trip failed for ${w}x$h x$n")
      // exact constant-plane luma sums through the sampler
      val sampled = Y4mCodec.sampleLuma(bytes, 1).get
      assert(sampled.map(_._2) ==
        lumas.map(l => l.toLong * w * h), s"seed $i luma sums")
      // EVERY prefix is either a clean parse or a clean None — the
      // corrupt-media contract means truncation can never throw
      val cut = Gen.chooseNum(0, bytes.length).apply(p, Seed(9400L + i)).get
      Y4mCodec.parse(bytes.take(cut)) // must not throw
    }
  }

  test("bpeMergeOnce equals the oracle's string-replace greedy pass") {
    import graft.operators.TextAnalysis
    val symGen = Gen.oneOf("a", "b", "c", "ab", "aa")
    (0 until 500).foreach { i =>
      val p = Gen.Parameters.default
      val n = Gen.chooseNum(0, 10).apply(p, Seed(11000L + i)).get
      val syms = Gen.listOfN(n, symGen).apply(p, Seed(11100L + i)).get
      val a = symGen.apply(p, Seed(11200L + i)).get
      val b = symGen.apply(p, Seed(11300L + i)).get
      val merged = TextAnalysis.bpeMergeOnce(syms, a, b)
      // the oracle's formulation: one replace over the space-encoded form
      val enc = syms.map(s => s" $s ").mkString
      val replaced = enc.replace(s" $a  $b ", s" ${a + b} ")
      val viaString =
        if (replaced.trim.isEmpty) Nil
        else replaced.trim.split("  ").toList
      assert(merged == viaString,
        s"seed $i: $syms merge($a,$b) -> $merged vs $viaString")
      // mass conservation: concatenation is invariant under merging
      assert(merged.mkString == syms.mkString, s"seed $i lost symbols")
    }
  }

  test("skyline frontier scan == brute-force dominance; merge-closed (400 sets)") {
    import graft.operators.Relational
    // tiny value domain on purpose: ties and exact duplicates everywhere
    val ptGen = for {
      n <- Gen.chooseNum(0L, 7L); s <- Gen.chooseNum(0L, 7L)
    } yield (n, s)
    val setGen = Gen.choose(0, 25).flatMap(k => Gen.listOfN(k, ptGen))
    def brute(pts: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
      pts.filter { case (_, n, s) =>
        !pts.exists { case (_, n2, s2) =>
          n2 >= n && s2 >= s && (n2 > n || s2 > s) }
      }.toSet
    def scan(pts: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
      Relational.frontierScan(
        pts.sortBy { case (_, n, s) => (-n, -s) }.iterator).toSet
    (0 until 400).foreach { i =>
      val raw = setGen(Gen.Parameters.default, Seed(i.toLong)).get
      val pts = raw.zipWithIndex.map { case ((n, s), id) => (id.toLong, n, s) }
      assert(scan(pts) == brute(pts), s"seed $i: $pts")
      // mergeability — the distributed two-phase contract:
      // scan(scan(A) ∪ scan(B)) == skyline(A ∪ B)
      val (a, b) = pts.splitAt(pts.length / 2)
      assert(scan((scan(a) ++ scan(b)).toSeq) == brute(pts),
        s"seed $i merge: $pts")
    }
  }

  test("CUSUM recurrence == prefix-sum/running-min closed form (500 sequences)") {
    // the identity the cusum_alerts oracle relies on:
    // s_t = max(0, s_{t-1} + d_t)  ==  p_t - min(0, min_{j<=t} p_j)
    val deltaGen = Gen.chooseNum(-10L, 10L)
    val seqGen = Gen.choose(0, 40).flatMap(k => Gen.listOfN(k, deltaGen))
    (0 until 500).foreach { i =>
      val ds = seqGen(Gen.Parameters.default, Seed(1000L + i)).get
      var s = 0L; var p = 0L; var runMin = 0L
      ds.foreach { d =>
        s = math.max(0L, s + d)
        p += d; runMin = math.min(runMin, p)
        assert(s == p - runMin, s"seed $i diverged at delta $d: $ds")
      }
    }
  }
}
