package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TableSink

/** Layout-driven shuffle elimination: partition pruning and co-located
  * bucketed joins, asserted at the physical-plan level.
  */
class TableSinkSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark
  private val sf = "/root/testdata/sf0.001"

  test("partitioned write enables partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    TableSink.writePartitioned(li, s"$dir/li_part", Seq("l_returnflag"))
    val pruned = spark.read.parquet(s"$dir/li_part")
      .filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")
    // and the result is right
    assert(pruned.count() ==
      li.filter(col("l_returnflag") === "R").count())
  }

  test("snapshot time travel: a pinned version never sees later appends") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tt").toString
    val base = (1L to 80L).map(i => (i, s"d$i")).toDF("id", "v")
    val delta = (81L to 100L).map(i => (i, s"d$i")).toDF("id", "v")
    TableSink.writeSnapshot(base, root, 1)
    // capture v1's resolved reader BEFORE the append, then append
    TableSink.writeSnapshot(delta, root, 2)
    val v1 = TableSink.readSnapshot(spark, root, 1)
    val v2 = TableSink.readSnapshot(spark, root, 2)
    assert(v1.count() == 80L, "v1 sees appended rows — isolation broke")
    assert(v2.count() == 100L, "v2 missed the append")
    assert(v1.agg(max(col("id"))).collect()(0).getLong(0) == 80L)
    // manifests nest: v2's directory list strictly extends v1's
    def manifest(n: Int) = scala.io.Source
      .fromFile(s"$root/manifests/v$n.txt").getLines().toSeq
    val (m1, m2) = (manifest(1), manifest(2))
    assert(m2.startsWith(m1) && m2.length == m1.length + 1,
      s"manifest v2 is not v1 + one append: $m1 vs $m2")
    // version 1 resets history: a rebuild must not inherit old files
    TableSink.writeSnapshot(base.limit(10), root, 1)
    assert(TableSink.readSnapshot(spark, root, 1).count() == 10L,
      "v1 rebuild inherited stale data files")
    // an append without its predecessor manifest must refuse
    intercept[IllegalArgumentException] {
      TableSink.writeSnapshot(delta, root, 3)
    }
  }

  test("snapshot upsert: a replayed version heals, committed history intact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ttu").toString
    TableSink.writeSnapshot((1L to 50L).map(i => (i, s"d$i"))
      .toDF("id", "v"), root, 1)
    TableSink.writeSnapshotUpsert((51L to 60L).map(i => (i, s"d$i"))
      .toDF("id", "v"), root, 2)
    // the replay: same version, same deterministic content — overwrites
    // its own directory instead of erroring, result unchanged
    TableSink.writeSnapshotUpsert((51L to 60L).map(i => (i, s"d$i"))
      .toDF("id", "v"), root, 2)
    assert(TableSink.readSnapshot(spark, root, 2).count() == 60L)
    assert(TableSink.readSnapshot(spark, root, 1).count() == 50L,
      "the replay touched the committed predecessor")
    // upsert still refuses to fork history past a missing predecessor
    intercept[IllegalArgumentException] {
      TableSink.writeSnapshotUpsert((1L to 5L).map(i => (i, s"d$i"))
        .toDF("id", "v"), root, 4)
    }
  }

  test("snapshot expire: old manifests die, shared data files live on") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ttx").toString
    TableSink.writeSnapshot((1L to 30L).map(i => (i, s"d$i"))
      .toDF("id", "v"), root, 1)
    TableSink.writeSnapshot((31L to 40L).map(i => (i, s"d$i"))
      .toDF("id", "v"), root, 2)
    TableSink.writeSnapshot((41L to 45L).map(i => (i, s"d$i"))
      .toDF("id", "v"), root, 3)
    // the newest version must survive an expire
    intercept[IllegalArgumentException] {
      TableSink.expireSnapshots(spark, root, 3)
    }
    TableSink.expireSnapshots(spark, root, 2)
    // expired versions are unreadable; the survivor serves everything
    // (its manifest still references v1/v2's data directories, so those
    // files MUST have survived the expire)
    intercept[IllegalArgumentException] {
      TableSink.readSnapshot(spark, root, 1)
    }
    intercept[IllegalArgumentException] {
      TableSink.readSnapshot(spark, root, 2)
    }
    assert(TableSink.readSnapshot(spark, root, 3).count() == 45L,
      "expire reclaimed a data directory a live manifest references")
  }

  test("ORC partitioned layout round-trips and prunes like parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    TableSink.writePartitioned(li, s"$dir/li_orc", Seq("l_returnflag"), "orc")
    val back = spark.read.orc(s"$dir/li_orc")
    assert(back.count() == li.count())
    val pruned = back.filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), s"no ORC partition filters:\n$plan")
    // value-preserving across the format change, not just row counts
    val a = back.agg(sum(col("l_quantity").cast("decimal(18,2)"))).collect()(0).get(0)
    val b = li.agg(sum(col("l_quantity").cast("decimal(18,2)"))).collect()(0).get(0)
    assert(a == b)
  }

  test("same-bucket tables sort-merge-join without exchanges") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    TableSink.writeBucketed(li, "li_bkt", "l_orderkey", 4)
    TableSink.writeBucketed(o, "o_bkt", "o_orderkey", 4)
    // disable auto-broadcast: at test scale the join would otherwise plan
    // BroadcastHashJoin and the assertion would hold vacuously
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compactBucketed packs generations to one file per bucket, serve unchanged") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // three generations: build + two appends — each adds its own file set
    TableSink.writeBucketed(li.filter(col("l_orderkey") % 3 === 0),
      "compact_t", "l_orderkey", 4)
    TableSink.appendBucketed(li.filter(col("l_orderkey") % 3 === 1),
      "compact_t", "l_orderkey", 4)
    TableSink.appendBucketed(li.filter(col("l_orderkey") % 3 === 2),
      "compact_t", "l_orderkey", 4)
    def dataFiles(): Seq[String] = {
      val loc = new java.net.URI(spark.sql("DESCRIBE EXTENDED compact_t")
        .filter(col("col_name") === "Location").head.getString(1)).getPath
      new java.io.File(loc).listFiles.toSeq.map(_.getName)
        .filter(_.endsWith(".parquet"))
    }
    val before = spark.table("compact_t").collect().toSet
    val filesBefore = dataFiles().size
    assert(filesBefore > 4, s"fixture must be fragmented, got $filesBefore files")
    TableSink.compactBucketed(spark, "compact_t", "l_orderkey", 4)
    // ONE file per bucket: the repartition aligns shuffle partitions with
    // bucket ids, so compaction's write cannot re-fragment
    val filesAfter = dataFiles().size
    assert(filesAfter == 4, s"expected 4 post-compaction files, got $filesAfter")
    // serve parity: bit-identical rows
    assert(spark.table("compact_t").collect().toSet == before,
      "compaction changed the served rows")
    // bucket metadata survives the catalog swap: the co-located join the
    // layout exists for must still plan without an exchange on this side
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    TableSink.writeBucketed(o, "compact_o", "o_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("compact_t")
        .join(spark.table("compact_o"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin") &&
        !plan.contains("Exchange hashpartitioning"),
        s"compacted table lost its bucketed layout:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ann_index_compacted: file-count drop, pruning kept, serve bit-identical") {
    // the ANN-index instance of the compaction verb (r13 verdict item 5):
    // the registered query's own build — base + two delta generations +
    // compact — must land at one file per bucket, keep static bucket
    // pruning, and serve exactly what the one-shot build serves
    for (t <- Seq("graft_ivf_index_cmp", "graft_ivf_index"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val served = SparkEntry.queries("ann_index_compacted")(spark, sf)
      .collect().toSeq
    def dataFiles(t: String): Int = {
      val loc = new java.net.URI(spark.sql(s"DESCRIBE EXTENDED $t")
        .filter(col("col_name") === "Location").head.getString(1)).getPath
      new java.io.File(loc).listFiles.toSeq
        .count(_.getName.endsWith(".parquet"))
    }
    // one file per NON-EMPTY bucket (an empty bucket writes no file;
    // pmod(hash, n) is exactly the bucketing hash, so this computes the
    // occupied-bucket count the layout should land at)
    val occupied = spark.table("graft_ivf_index_cmp")
      .selectExpr("pmod(hash(cluster_b), 8) AS b").distinct().count().toInt
    assert(dataFiles("graft_ivf_index_cmp") == occupied,
      s"expected $occupied post-compaction files (one per occupied " +
        s"bucket), got ${dataFiles("graft_ivf_index_cmp")}")
    // static bucket pruning survives the catalog swap: a literal cell
    // filter must read ONE bucket's file
    val plan = spark.table("graft_ivf_index_cmp")
      .filter(col("cluster_b") === 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"compacted index lost bucket pruning:\n$plan")
    // serve parity vs the one-shot persisted build
    val oneShot = SparkEntry.queries("ann_ivf_persisted")(spark, sf)
      .collect().toSeq
    assert(served == oneShot,
      "compacted-index serve diverged from the one-shot build")
    for (t <- Seq("graft_ivf_index_cmp", "graft_ivf_index"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("compactBucketed auto-recovers a crash between the swap renames") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    for (t <- Seq("recov_t", "recov_t_precompact", "recov_t_compacting"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    TableSink.writeBucketed(li, "recov_t", "l_orderkey", 4)
    val rows = spark.table("recov_t").collect().toSet
    // simulate the crash window: serving renamed aside, compacted copy
    // complete under _compacting, serving name unresolvable
    spark.sql("ALTER TABLE recov_t RENAME TO recov_t_precompact")
    TableSink.writeBucketed(li, "recov_t_compacting", "l_orderkey", 4)
    assert(!spark.catalog.tableExists("recov_t"))
    // the next compaction heals before doing its own work
    TableSink.compactBucketed(spark, "recov_t", "l_orderkey", 4)
    assert(spark.table("recov_t").collect().toSet == rows,
      "recovered table lost rows")
    assert(!spark.catalog.tableExists("recov_t_precompact") &&
      !spark.catalog.tableExists("recov_t_compacting"),
      "recovery left stranded rename-aside tables")
    // and the old-copy-only variant (crash before the scratch survived)
    spark.sql("ALTER TABLE recov_t RENAME TO recov_t_precompact")
    TableSink.compactBucketed(spark, "recov_t", "l_orderkey", 4)
    assert(spark.table("recov_t").collect().toSet == rows,
      "old-copy recovery lost rows")
    spark.sql("DROP TABLE IF EXISTS recov_t")
  }

  test("persisted IVF index serves bucket-aligned, identical to in-flight") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      graft.sources.TableSink.writeBucketed(
        graft.operators.Similarity.ivfIndexRelation(emb),
        "ivf_idx_test", "cluster_b", 8)
      val served = graft.operators.Similarity.ivfTopKFromIndex(
        emb, spark.table("ivf_idx_test"))
      val plan = served.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      // the corpus-sized index side must come out of the bucketed layout
      // pre-partitioned (its shuffle happened once, at write time); only
      // the query-batch probe side may exchange
      assert(plan.contains("Bucketed: true"),
        s"index scan not bucket-aligned:\n$plan")
      assert(served.collect().toSet ==
        graft.operators.Similarity.ivfTopK(emb).collect().toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF delta append reproduces the one-shot index bit-for-bit") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the registered ann_index_append split: base keeps every centroid id
    // so the quantizer recovered from the base index IS the full-corpus
    // parameterized one; the delta is assigned against that frozen
    // quantizer and appended under the same bucket spec
    val base = emb.filter(col("vec_id") % 5 =!= 4 ||
      col("vec_id") < Similarity.NumCentroids)
    val delta = emb.filter(col("vec_id") % 5 === 4 &&
      col("vec_id") >= Similarity.NumCentroids)
    try {
      TableSink.writeBucketed(
        Similarity.ivfIndexRelation(base), "ivf_app_t", "cluster_b", 8)
      val nBase = spark.table("ivf_app_t").count()
      TableSink.appendBucketed(
        Similarity.ivfIndexDelta(delta, spark.table("ivf_app_t")),
        "ivf_app_t", "cluster_b", 8)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("other_id"), col("cluster_b"),
          floor(col("nrm_b") * lit(1000000.0)).cast("long").as("n6"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val appended = key(spark.table("ivf_app_t"))
      val oneShot = key(Similarity.ivfIndexRelation(emb))
      assert(appended == oneShot,
        s"appended index drifted from one-shot rebuild: ${
          (appended diff oneShot) ++ (oneShot diff appended)}")
      assert(nBase < appended.size && delta.count() == appended.size - nBase,
        "append did not add exactly the delta rows")
      // and the serve over the appended table equals the full rebuild serve
      assert(Similarity.ivfTopKFromIndex(emb, spark.table("ivf_app_t"))
        .collect().toSet == Similarity.ivfTopK(emb).collect().toSet)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_app_t")
  }

  test("z-order layout clusters BOTH dimensions; single-col sort only one") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def spans(dir: String): (Double, Double, Long) = {
      val f = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        .collect()
      val p = f.map(r => (r.getLong(2) - r.getLong(1)).toDouble).sum / f.length
      val s = f.map(r => (r.getLong(4) - r.getLong(3)).toDouble).sum / f.length
      (p, s, f.length.toLong)
    }
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    TableSink.writeZOrdered(li, zDir, Seq("l_partkey", "l_suppkey"), nFiles = 16)
    val (zp, zs, zn) = spans(zDir)
    assert(zn == 16, s"expected 16 z-ordered files, got $zn")
    // global spans: partkey 0..199, suppkey 0..9; a 16-file z-layout is a
    // ~4×4 grid, so ~25% per-file span in EACH dimension
    assert(zp < 0.5 * 199, s"partkey not clustered: avg span $zp of 199")
    assert(zs < 0.5 * 9, s"suppkey not clustered: avg span $zs of 9")
    // contrast: sorting by partkey alone clusters partkey perfectly but
    // leaves suppkey at full span — the case z-order exists to beat
    val sDir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(sDir)
    val (sp, ss, _) = spans(sDir)
    assert(sp < 0.5 * 199)
    assert(ss > 0.8 * 9, s"single-col layout should NOT cluster suppkey: $ss")
  }

  test("zValue interleaves bits and rejects misuse") {
    import spark.implicits._
    // 2 cols × 2 bits: bucket grid (0..3)² — z must equal the hand
    // Morton code (x bit i -> z bit 2i, y bit i -> z bit 2i+1)
    val rows = for (x <- 0 to 3; y <- 0 to 3) yield (x.toDouble, y.toDouble)
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"),
        TableSink.zValue(Seq(col("x"), col("y")), Seq(0.0, 0.0),
          Seq(3.0, 3.0), bits = 2).as("z"))
      .collect().map(r => (r.getDouble(0).toInt, r.getDouble(1).toInt) ->
        r.getLong(2)).toMap
    def morton(x: Int, y: Int) =
      ((x & 1) | ((y & 1) << 1) | ((x & 2) << 1) | ((y & 2) << 2)).toLong
    for (x <- 0 to 3; y <- 0 to 3)
      assert(got((x, y)) == morton(x, y), s"z($x,$y)")
    // out-of-range values clamp instead of corrupting high bits
    val clamped = Seq((-5.0, 99.0)).toDF("x", "y")
      .select(TableSink.zValue(Seq(col("x"), col("y")), Seq(0.0, 0.0),
        Seq(3.0, 3.0), bits = 2)).head.getLong(0)
    assert(clamped == morton(0, 3))
    intercept[IllegalArgumentException] {
      TableSink.zValue(Seq(col("x")), Seq(0.0), Seq(1.0), bits = 63)
    }
    // empty input must fail fast with a clear message, not NPE mid-plan
    val empty = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") < 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_zempty").toString
    val e = intercept[IllegalArgumentException] {
      TableSink.writeZOrdered(empty, dir, Seq("l_partkey", "l_suppkey"), 4)
    }
    assert(e.getMessage.contains("empty input or all-null"))
  }
}
