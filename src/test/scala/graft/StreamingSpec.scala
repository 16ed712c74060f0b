package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Batch/stream parity: each streaming operator must reproduce its batch
  * twin's result when fed the same parquet as a finite stream.
  */
class StreamingSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark
  private val sf = "/root/testdata/sf0.001"

  /** File stream sources monitor directories: stage the single events
    * parquet into a temp dir once per suite.
    */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  private def batchEvents = graft.sources.Tables.load(spark, sf, "events")

  test("streaming hourly counts equal the batch aggregation") {
    val q = StreamingOps.hourlyCounts(StreamingOps.eventsStream(spark, streamDir))
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_stream").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      val batch = graft.operators.Events.hourlyCounts(batchEvents).collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("table sink survives a forced restart and a batch replay exactly-once") {
    val stage = java.nio.file.Files.createTempDirectory("graft_tbl_restart")
    val in = s"$stage/in"; val sink = s"$stage/sink"; val ckpt = s"$stage/ckpt"
    val ev = batchEvents
    def drain(): Unit = {
      val q = StreamingOps.writeTableStream(
        StreamingOps.eventsStreamNormalized(spark, in, maxFilesPerTrigger = 2),
        sink, ckpt)
      q.awaitTermination()
    }
    // phase 1: half the corpus in 4 files → 2 micro-batches, clean stop
    ev.filter(col("event_id") % 2 === 0).repartition(4)
      .write.mode("overwrite").parquet(in)
    drain()
    val afterPhase1 = spark.read.parquet(sink).count()
    // FORCED REPLAY of the last committed batch (the crash-between-sink-
    // write-and-offset-commit case): rewriting batch_id=1 with the same
    // payload must leave the table bit-identical, not duplicated
    val batch1 = spark.read.parquet(sink)
      .filter(col("batch_id") === 1).drop("batch_id")
    StreamingOps.writeBatchIdempotent(batch1, sink, 1L)
    assert(spark.read.parquet(sink).count() == afterPhase1,
      "replaying a committed batch duplicated rows — sink not idempotent")
    // phase 2: the rest arrives; the SAME checkpoint resumes — committed
    // files are never re-read
    ev.filter(col("event_id") % 2 === 1).repartition(4)
      .write.mode("append").parquet(in)
    drain()
    val streamed = spark.read.parquet(sink).drop("batch_id")
    assert(streamed.count() == ev.count(),
      "restart lost or duplicated rows vs the batch corpus")
    // and the aggregate equals the batch twin exactly
    val got = graft.operators.Events.hourlyCounts(streamed).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val want = graft.operators.Events.hourlyCounts(ev).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want, "post-restart aggregate drifted from the batch twin")
  }

  test("streaming incremental dedup probes the persisted index across restart exactly-once") {
    import graft.operators.Dedup
    val stage = java.nio.file.Files.createTempDirectory("graft_dedup_inc_rst")
    val in = s"$stage/in"; val sink = s"$stage/sink"; val ckpt = s"$stage/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    try {
      // base index built ONCE into bucketed tables; every micro-batch
      // below probes these — never a base rescan, never base×base
      val sigs = Dedup.minhashSignatures(base)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      graft.sources.TableSink.writeBucketed(
        Dedup.minhashBandIndex(sigs), "graft_dedup_bands_rst", "b0", 4)
      graft.sources.TableSink.writeBucketed(sigs, "graft_dedup_sigs_rst",
        "doc_id", 4)
      sigs.unpersist()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def drain(): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            StreamingOps.writeBatchIdempotent(
              Dedup.minhashProbeIndex(b,
                spark.table("graft_dedup_bands_rst"),
                spark.table("graft_dedup_sigs_rst")), sink, id)
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      batch.filter(col("doc_id") % 20 === 0).repartition(2)
        .write.mode("overwrite").parquet(in)
      drain() // phase 1: clean stop after draining the staged half
      val afterPhase1 = spark.read.parquet(sink).count()
      // crash-between-sink-write-and-offset-commit: replaying a committed
      // batch must overwrite its own partition, not duplicate matches
      val replay = spark.read.parquet(sink)
        .filter(col("batch_id") === 0).drop("batch_id")
      StreamingOps.writeBatchIdempotent(replay, sink, 0L)
      assert(spark.read.parquet(sink).count() == afterPhase1,
        "replaying a committed probe batch duplicated rows")
      batch.filter(col("doc_id") % 20 =!= 0).repartition(2)
        .write.mode("append").parquet(in)
      drain() // phase 2: restart from the checkpoint — new files only
      // the replayed union must equal the one-shot probe bit-for-bit
      // (each batch doc's best-match is row-independent of its batchmates)
      val got = spark.read.parquet(sink).drop("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val want = Dedup.minhashIncremental(base, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(got == want,
        s"streamed probe drifted from the one-shot probe: got=$got want=$want")
      assert(got.nonEmpty, "fixture produced no near-dup matches")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_dedup_bands_rst")
      spark.sql("DROP TABLE IF EXISTS graft_dedup_sigs_rst")
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(stage)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("streaming sliding counts equal the batch sliding aggregation") {
    val q = StreamingOps.slidingCounts(StreamingOps.eventsStream(spark, streamDir))
      .writeStream.format("memory").queryName("sliding_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sliding_stream").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      val batch = graft.operators.Events.slidingCounts(batchEvents).collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming crystal-ball counts equal the batch flagship") {
    val fixture = Seq(
      "Mary 34 56 29 12 34 56 92 29 34 12",
      "Kelly 92 29 12 34 79 29 56 12 34 18")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_baskets")
    java.nio.file.Files.write(dir.resolve("baskets.txt"),
      scala.jdk.CollectionConverters.SeqHasAsJava(fixture).asJava)
    val q = StreamingOps.coOccurrenceCounts(spark, dir.toString)
      .writeStream.format("memory").queryName("cb_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cb_stream").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.CoOccurrence.counts(
          graft.sources.BasketSource.fromLines(spark, fixture))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("registered cooccur_stream runs availableNow to completion and equals batch") {
    // the driver-visible streaming artifact: the registered query itself
    // (stage → bounded stream → memory sink → table) must equal the batch
    // flagship bit-for-bit on real data
    val streamed = SparkEntry.queries("cooccur_stream")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = SparkEntry.queries("cooccur_counts")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // re-running must not collide on the sink name (dropTempView + fresh
    // stage dir per call)
    val again = SparkEntry.queries("cooccur_stream")(spark, sf).count()
    assert(again == batch.size)
  }

  test("transformWithState totals accumulate across micro-batches to batch marginals") {
    import scala.jdk.CollectionConverters._
    val fixture = Seq(
      "Mary 34 56 29 12 34 56 92 29 34 12",
      "Kelly 92 29 12 34 79 29 56 12 34 18")
    val stage = java.nio.file.Files.createTempDirectory("graft_tws_acc")
    val in = stage.resolve("in"); java.nio.file.Files.createDirectories(in)
    // one basket per file + maxFilesPerTrigger=1 → two REAL triggers:
    // shared products must accumulate in RocksDB state across them
    java.nio.file.Files.write(in.resolve("a.txt"), Seq(fixture.head).asJava)
    java.nio.file.Files.write(in.resolve("b.txt"), Seq(fixture(1)).asJava)
    val sink = stage.resolve("sink").toString
    StreamingOps.withRocksDbStateStore(spark) {
      val q = StreamingOps.cooccurTotalsTws(spark, in.toString).toDF()
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamingOps.writeBatchIdempotent(b, sink, id)
        }
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2,
        "fixture must drain in exactly two micro-batches")
    }
    val emitted = spark.read.parquet(sink)
    val got = emitted.groupBy(col("product"))
      .agg(max(struct(col("batch_id"), col("total"))).as("m"))
      .select(col("product"), col("m.total").as("total")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.operators.CoOccurrence.counts(
        graft.sources.BasketSource.fromLines(spark, fixture))
      .groupBy(col("product")).agg(sum(col("cnt")).as("total")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"TWS totals drift: got $got want $want")
    // the cross-batch receipt: a product present in BOTH baskets must
    // have been emitted twice with strictly increasing running totals
    val runs34 = emitted.filter(col("product") === "34")
      .orderBy(col("batch_id")).collect().map(_.getAs[Long]("total"))
    assert(runs34.length == 2 && runs34(0) < runs34(1),
      s"state did not accumulate across triggers: ${runs34.toSeq}")
  }

  test("transformWithState TTL evicts idle product state across restarts") {
    import scala.jdk.CollectionConverters._
    // basket "u 11 22" yields exactly the pair (11,22) → total(11) = 1
    val stage = java.nio.file.Files.createTempDirectory("graft_tws_ttl")
    val in = stage.resolve("in"); java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.write(in.resolve("a.txt"), Seq("u1 11 22").asJava)
    // ttl != None forces TimeMode.ProcessingTime, under which
    // shouldRunAnotherBatch never goes false — AvailableNow never
    // reaches its termination condition and the default trigger spins
    // empty micro-batches that processAllAvailable ALSO never outwaits
    // (both observed live: 1,200–3,200 empty batches before the kill;
    // see cooccurTotalsTws's scaladoc). Trigger.Once is the
    // deterministic drain for a ProcessingTime-mode stateful stream:
    // exactly one micro-batch per restart, then a clean stop.
    def drain(ttl: Option[java.time.Duration], tag: String): Unit =
      StreamingOps.withRocksDbStateStore(spark) {
        val q = StreamingOps.cooccurTotalsTws(spark, in.toString, ttl)
          .toDF().writeStream.outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            StreamingOps.writeBatchIdempotent(b,
              stage.resolve(s"sink_$tag").toString, id)
          }
          .option("checkpointLocation", stage.resolve(s"ckpt_$tag").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        q.awaitTermination()
      }
    def finalTotal(tag: String): Long =
      spark.read.parquet(stage.resolve(s"sink_$tag").toString)
        .filter(col("product") === "11")
        .groupBy(col("product"))
        .agg(max(struct(col("batch_id"), col("total"))).as("m"))
        .select(col("m.total")).collect().head.getLong(0)
    val ttl = Some(java.time.Duration.ofSeconds(1))
    drain(None, "ctl"); drain(ttl, "ttl") // phase 1: both see total 1
    Thread.sleep(3000) // processing-time TTL (1 s) passes for product 11
    java.nio.file.Files.write(in.resolve("b.txt"), Seq("u2 11 33").asJava)
    drain(None, "ctl"); drain(ttl, "ttl") // phase 2: one more pair each
    // control (no TTL) accumulates across the restart; the TTL run's
    // state for product 11 expired while idle and restarts from zero
    assert(finalTotal("ctl") == 2L,
      s"no-TTL control must accumulate: ${finalTotal("ctl")}")
    assert(finalTotal("ttl") == 1L,
      s"1 s TTL state must have been evicted: ${finalTotal("ttl")}")
  }

  test("MapState type counts accumulate per cell across micro-batches") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val stage = java.nio.file.Files.createTempDirectory("graft_tws_utc")
    val in = stage.resolve("in").toString
    // file 1: user 7 {view, view, buy}; file 2: user 7 {view}, user 8
    // {buy} — the (7, view) CELL must accumulate 2+1 across batches
    // while (7, buy) stays untouched by batch 2's point updates
    Seq((1L, t0, 7L, "view", 1.0), (2L, t0, 7L, "view", 1.0),
      (3L, t0, 7L, "buy", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(in)
    Seq((4L, t0, 7L, "view", 1.0), (5L, t0, 8L, "buy", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    val sink = stage.resolve("sink").toString
    StreamingOps.withRocksDbStateStore(spark) {
      val q = StreamingOps.userTypeCountsTws(
          StreamingOps.eventsStreamNormalized(spark, in,
            maxFilesPerTrigger = 1))
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamingOps.writeBatchIdempotent(b, sink, id)
        }
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2,
        "fixture must drain in exactly two micro-batches")
    }
    val got = spark.read.parquet(sink)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("batch_id"), col("n"))).as("m"))
      .select(col("user_id"), col("event_type"), col("m.n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((7L, "view") -> 3L, (7L, "buy") -> 1L,
      (8L, "buy") -> 1L), s"MapState cell drift: $got")
  }

  test("ListState bottom-k reservoir evicts on better hashes and is split-insensitive") {
    import spark.implicits._
    def md5hex(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val ids = (1L to 10L).toSeq
    val expected = ids.sortBy(i => (md5hex(i), i)).take(3)
    // both halves carry reservoir-worthy ids in every layout tried —
    // assert the stronger property directly: ANY 2-way file split must
    // fold to the batch bottom-3 (merge + trim is order-insensitive)
    for (splitAt <- Seq(3, 7)) {
      val stage = java.nio.file.Files.createTempDirectory("graft_tws_res")
      val in = stage.resolve("in").toString
      val (h1, h2) = ids.splitAt(splitAt)
      h1.map(i => (i, t0, i, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(in)
      h2.map(i => (i, t0, i, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
      val sink = stage.resolve("sink").toString
      StreamingOps.withRocksDbStateStore(spark) {
        val q = StreamingOps.bottomkReservoirTws(
            StreamingOps.eventsStreamNormalized(spark, in,
              maxFilesPerTrigger = 1), k = 3)
          .toDF().writeStream.outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            StreamingOps.writeBatchIdempotent(b, sink, id)
          }
          .option("checkpointLocation", stage.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val emitted = spark.read.parquet(sink)
        .withColumn("batch_id", col("batch_id").cast("long"))
      val lastBatch = emitted.agg(max(col("batch_id"))).head.getLong(0)
      val got = emitted.filter(col("batch_id") === lastBatch)
        .orderBy(col("rk")).collect().map(_.getAs[Long]("event_id")).toSeq
      assert(got == expected,
        s"split@$splitAt reservoir drift: got $got expected $expected")
    }
  }

  test("initial-state bootstrap: backfill seeds state, overlay equals full batch") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val leg1 = Seq("u1 11 22 33") // batch backfill half
    val leg2 = Seq("u2 22 44") // streamed half
    def totals(lines: Seq[String]): Map[String, Long] =
      graft.operators.CoOccurrence.counts(
          graft.sources.BasketSource.fromLines(spark, lines))
        .groupBy(col("product")).agg(sum(col("cnt")).as("total"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val backfill = totals(leg1)
    val full = totals(leg1 ++ leg2)
    val stage = java.nio.file.Files.createTempDirectory("graft_tws_boot")
    val in = stage.resolve("in"); java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.write(in.resolve("a.txt"), leg2.asJava)
    val sink = stage.resolve("sink").toString
    StreamingOps.withRocksDbStateStore(spark) {
      val q = StreamingOps.cooccurTotalsTwsBoot(spark, in.toString,
          backfill.toSeq.map { case (p, t) =>
            StreamingOps.ProductTotal(p, t) }.toDS())
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamingOps.writeBatchIdempotent(b, sink, id)
        }
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val emitted = spark.read.parquet(sink)
      .groupBy(col("product"))
      .agg(max(struct(col("batch_id"), col("total"))).as("m"))
      .select(col("product"), col("m.total")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the SEED receipt: a product in both halves emits initial+adds on
    // its FIRST stream sighting — already the full-batch value
    assert(emitted("22") == full("22") && emitted("22") > totals(leg2)("22"),
      s"initial state not seeded: $emitted vs full $full")
    // a backfill-only product is never emitted (handleInitialState
    // cannot emit) — the overlay is what serves it
    assert(!emitted.contains("11") && backfill.contains("11"),
      s"backfill-only key unexpectedly emitted: $emitted")
    val overlay = backfill ++ emitted
    assert(overlay == full, s"overlay drift: $overlay vs $full")
  }

  test("sessionizeTws: gap closes in-batch, the FINAL session closes by event-time timer") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def us(min: Int) = t0.getTime * 1000L + min * 60000000L
    val stage = java.nio.file.Files.createTempDirectory("graft_tws_sess")
    val in = stage.resolve("in").toString
    // user 7: two sessions (40-min gap splits in-batch); user 8: one
    // event whose session ONLY a timer can close — no later event ever
    // arrives for that user, the exact case flatMapGroupsWithState
    // cannot handle
    Seq((1L, ts(0), 7L, "view", 1.25), (2L, ts(10), 7L, "view", 2.00),
      (3L, ts(50), 7L, "buy", 0.75), (4L, ts(5), 8L, "view", 3.50))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(in)
    // sentinel at +82 min: watermark (delay 0) lands past every real
    // timer (latest = 50+30 min) but short of its own (82+30)
    Seq((-1L, ts(82), -1L, "sentinel", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(in)
    val sink = stage.resolve("sink").toString
    StreamingOps.withRocksDbStateStore(spark) {
      val q = StreamingOps.sessionizeTws(
          StreamingOps.eventsStreamNormalized(spark, in)
            .withWatermark("ts", "0 seconds"))
        .toDF().writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamingOps.writeBatchIdempotent(b, sink, id)
        }
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the batch_id partition column round-trips as an inferred INT
    val rows = spark.read.parquet(sink)
      .withColumn("batch_id", col("batch_id").cast("long")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")) ->
        ((r.getAs[Long]("end_us"), r.getAs[Long]("n_events"),
          r.getAs[Long]("sum_cents"), r.getAs[Long]("batch_id")))).toMap
    // cents: 125+200 = 325 / 75 / 350 — the ewma quantization
    assert(rows.keySet == Set((7L, us(0)), (7L, us(50)), (8L, us(5))),
      s"session set drift (sentinel must not emit): $rows")
    val (e1, n1, c1, b1) = rows((7L, us(0)))
    assert((e1, n1, c1) == ((us(10), 2L, 325L)), s"user7 S1: $rows")
    assert(b1 == 0L, "the 40-min gap must close S1 IN-BATCH (batch 0)")
    val (e2, n2, c2, b2) = rows((7L, us(50)))
    assert((e2, n2, c2) == ((us(50), 1L, 75L)), s"user7 S2: $rows")
    val (e3, n3, c3, b3) = rows((8L, us(5)))
    assert((e3, n3, c3) == ((us(5), 1L, 350L)), s"user8 S1: $rows")
    assert(b2 >= 1L && b3 >= 1L,
      s"final sessions must close in a LATER timer batch: b2=$b2 b3=$b3")
  }

  test("streaming dedup admits each key exactly once across files") {
    // two copies of the same events file: every event_id arrives twice
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dup")
    for (name <- Seq("a.parquet", "b.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve(name))
    val q = StreamingOps.dedupStream(
        StreamingOps.eventsStream(spark, dir.toString), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_stream").count()
      val distinct = spark.read.parquet(s"$sf/events.parquet").count()
      assert(n == distinct, s"streamed $n rows, expected $distinct")
    } finally q.stop()
  }

  test("bounded dedup drops in-window duplicates and evicts expired state") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_bdup")
    val hourNs = 3600L * 1000 * 1000 * 1000
    // rows as (event_id, ts-nanos): the key is event_id. The file source
    // monitors flat files, so stage each batch's part-file under a fresh
    // name (a parquet WRITE makes a directory the source would skip).
    def writeFile(name: String, rows: (Long, Long)*): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft_bdup_w")
      rows.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"),
          lit(1L).as("user_id"), lit("x").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(part, dir.resolve(s"$name.parquet"))
    }
    writeFile("a", 1L -> hourNs, 1L -> hourNs, 2L -> hourNs) // dup in batch
    val q = StreamingOps.dedupStreamBounded(
        StreamingOps.eventsStream(spark, dir.toString), Seq("event_id"),
        delay = "2 hours")
      .writeStream.format("memory").queryName("bounded_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bounded_dedup").count() == 2,
        "in-batch duplicate must be dropped")
      // same keys again while state is live (watermark = 1h - 2h < 0)
      writeFile("b", 1L -> (hourNs + 1), 3L -> (2 * hourNs))
      q.processAllAvailable()
      assert(spark.table("bounded_dedup").count() == 3,
        "in-window duplicate across batches must be dropped")
      // advance the watermark far past key 1's expiry, then replay it:
      // bounded state means the old key was EVICTED and readmits
      writeFile("c", 4L -> (10 * hourNs))
      q.processAllAvailable() // watermark -> 8h
      writeFile("d", 1L -> (9 * hourNs))
      q.processAllAvailable()
      val ids = spark.table("bounded_dedup")
        .groupBy("event_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ids(4L) == 1L)
      assert(ids(1L) == 2L,
        s"expired key must readmit after watermark passes (got $ids)")
    } finally q.stop()
  }

  test("streaming session windows merge a session across micro-batches") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_session_merge")
    def ts(min: Int) = new java.sql.Timestamp(36000000L + min * 60000L)
    // u1: events at +0/+10 (file 1) and +25/+70 (file 2). 10→25 is inside
    // the 30-min gap, so the session must coalesce ACROSS the micro-batch
    // boundary (maxFilesPerTrigger=1 forces two batches); 25→70 opens a
    // second session. u2 is a single-event control in file 1.
    def write(rows: Seq[(Long, java.sql.Timestamp, Long)], name: String): Unit =
      rows.toDF("event_id", "ts", "user_id")
        .withColumn("event_type", lit("v"))
        .withColumn("value", lit(1.0))
        .withColumn("props", lit("{}"))
        .coalesce(1).write.parquet(s"$d/$name")
    write(Seq((1L, ts(0), 1L), (2L, ts(10), 1L), (5L, ts(0), 2L)), "f1")
    write(Seq((3L, ts(25), 1L), (4L, ts(70), 1L)), "f2")
    // re-stage flat (file source monitors one directory level)
    val flat = java.nio.file.Files.createTempDirectory("graft_session_flat")
    var i = 0
    for (sub <- Seq("f1", "f2")) {
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$d/$sub"))
        .iterator().forEachRemaining { p =>
          if (p.toString.endsWith(".parquet")) {
            java.nio.file.Files.copy(p, flat.resolve(s"part$i.parquet")); i += 1
          }
        }
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        StreamingOps.eventsSchema.fields.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType) else f)))
      .option("maxFilesPerTrigger", "1")
      .parquet(flat.toString)
    val q = StreamingOps.sessionWindows(stream)
      .writeStream.format("memory").queryName("session_merge_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val out = spark.table("session_merge_stream").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
      // u1: ONE merged 3-event session (0..25+gap) + one single; u2: one
      assert(out == Set((1L, ts(0), 3L), (1L, ts(70), 1L), (2L, ts(0), 1L)),
        s"cross-batch session merge broke: $out")
    } finally q.stop()
  }

  test("stateful mapGroupsWithState user totals equal batch groupBy") {
    val q = StreamingOps.userTotals(spark, StreamingOps.eventsStream(spark, streamDir))
      .writeStream.format("memory").queryName("user_totals_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("user_totals_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = batchEvents.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("s")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.nonEmpty && streamed.keySet == batch.keySet)
      streamed.foreach { case (u, (n, s)) =>
        assert(n == batch(u)._1, s"user $u count")
        assert(math.abs(s - batch(u)._2) < 1e-6, s"user $u sum")
      }
    } finally q.stop()
  }

  test("streaming EWMA state folds across batches to the batch result") {
    import org.apache.spark.sql.functions._
    // time-ordered two-file replay with maxFilesPerTrigger=1: the EWMA
    // integer state must carry across the batch boundary and land
    // EXACTLY on the batch fold (integer state — no epsilon to hide in)
    val d = java.nio.file.Files.createTempDirectory("graft_ewma_batches")
    val ev = batchEvents.orderBy(col("ts"), col("event_id"))
    val cut = ev.select(percentile_approx(unix_micros(col("ts")),
      lit(0.5), lit(100))).collect()(0).getLong(0)
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1)
      .write.parquet(s"$d/f1")
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1)
      .write.parquet(s"$d/f2")
    val flat = java.nio.file.Files.createTempDirectory("graft_ewma_flat")
    var i = 0
    for (sub <- Seq("f1", "f2")) {
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$d/$sub"))
        .iterator().forEachRemaining { p =>
          if (p.toString.endsWith(".parquet")) {
            val dst = flat.resolve(s"part$i.parquet")
            java.nio.file.Files.copy(p, dst)
            // the file source batches in MODIFICATION-TIME order — pin
            // strictly increasing mtimes so the replay is time-ordered
            // (both copies land within the same ms otherwise)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(
                1000000000000L + i * 60000L))
            i += 1
          }
        }
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        StreamingOps.eventsSchema.fields.map(f =>
          if (f.name == "ts") f.copy(
            dataType = org.apache.spark.sql.types.TimestampType) else f)))
      .option("maxFilesPerTrigger", "1")
      .parquet(flat.toString)
    val q = StreamingOps.ewmaStream(stream)
      .toDF().writeStream.format("memory").queryName("ewma_stream_spec")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // final state per user = the max-n emission (n strictly grows)
      val streamed = spark.table("ewma_stream_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
        .map { case (u, (_, n, e)) => u -> ((n, e)) }
      val batch = graft.operators.Events.ewmaValue(batchEvents).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"cross-batch EWMA drifted (${streamed.size} vs ${batch.size} users)")
      // the two-batch replay really did emit twice for users active in
      // both halves — otherwise this test isn't testing state carry
      val emissions = spark.table("ewma_stream_spec").count()
      assert(emissions > batch.size, "replay collapsed into one batch")
    } finally q.stop()
  }

  test("streaming CUSUM state carries across batches to the batch result") {
    import org.apache.spark.sql.functions._
    // two-file mtime-pinned time-ordered replay, maxFilesPerTrigger=1 —
    // the EWMA staging discipline; the alarm counter and running peak
    // must survive the batch boundary exactly
    val d = java.nio.file.Files.createTempDirectory("graft_cusum_batches")
    val ev = batchEvents.orderBy(col("ts"), col("event_id"))
    val cut = ev.select(percentile_approx(unix_micros(col("ts")),
      lit(0.5), lit(100))).collect()(0).getLong(0)
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1)
      .write.parquet(s"$d/f1")
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1)
      .write.parquet(s"$d/f2")
    val flat = java.nio.file.Files.createTempDirectory("graft_cusum_flat")
    var i = 0
    for (sub <- Seq("f1", "f2")) {
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$d/$sub"))
        .iterator().forEachRemaining { p =>
          if (p.toString.endsWith(".parquet")) {
            val dst = flat.resolve(s"part$i.parquet")
            java.nio.file.Files.copy(p, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(
                1000000000000L + i * 60000L))
            i += 1
          }
        }
    }
    val k = batchEvents.agg(
      floor(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .cast("double") / count(lit(1))).cast("long"))
      .collect()(0).getLong(0)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        StreamingOps.eventsSchema.fields.map(f =>
          if (f.name == "ts") f.copy(
            dataType = org.apache.spark.sql.types.TimestampType) else f)))
      .option("maxFilesPerTrigger", "1")
      .parquet(flat.toString)
    val q = StreamingOps.cusumStream(stream, k)
      .toDF().writeStream.format("memory").queryName("cusum_stream_spec")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cusum_stream_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
        .map { case (u, (_, n, mx, na)) => u -> ((n, mx, na)) }
      val batch = graft.operators.Events.cusumAlerts(batchEvents).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"cross-batch CUSUM drifted (${streamed.size} vs ${batch.size} users)")
      val emissions = spark.table("cusum_stream_spec").count()
      assert(emissions > batch.size, "replay collapsed into one batch")
    } finally q.stop()
  }

  test("left-outer interval join emits NULLs exactly up to the watermark cut") {
    import org.apache.spark.sql.functions._
    val stage = java.nio.file.Files.createTempDirectory("graft_louter").toString
    Seq("click", "purchase").foreach(tpe =>
      batchEvents.filter(col("event_type") === tpe)
        .write.mode("overwrite").parquet(s"$stage/$tpe"))
    def side(tpe: String) = StreamingOps.eventsStreamNormalized(spark, s"$stage/$tpe")
    val q = StreamingOps.joinStreamsLeftOuter(side("click"), side("purchase"))
      .writeStream.format("memory").queryName("louter_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val out = spark.table("louter_spec")
        .select(col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // batch expectation under the watermark-cut contract
      val clicks = batchEvents.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_micros(col("ts")).as("lus"))
      val purch = batchEvents.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), unix_micros(col("ts")).as("rus"))
      val cut = math.min(
        clicks.agg(max("lus")).collect()(0).getLong(0),
        purch.agg(max("rus")).collect()(0).getLong(0)) - 3600000000L - 300000000L
      val matched = clicks.join(purch,
        col("user_id") === col("p_user") && col("rus") >= col("lus") &&
          col("rus") - col("lus") <= 300000000L)
        .select(col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val unmatchedEmit = clicks.join(purch,
          col("user_id") === col("p_user") && col("rus") >= col("lus") &&
            col("rus") - col("lus") <= 300000000L, "left_anti")
        .filter(col("lus") < cut)
        .select(col("click_id")).collect().map(r => (r.getLong(0), -1L)).toSet
      assert(out == matched ++ unmatchedEmit,
        s"outer emission set drifted (${out.size} vs ${(matched ++ unmatchedEmit).size})")
      // the contract is only meaningful if something was actually withheld
      val withheld = clicks.join(purch,
          col("user_id") === col("p_user") && col("rus") >= col("lus") &&
            col("rus") - col("lus") <= 300000000L, "left_anti")
        .filter(col("lus") >= cut).count()
      assert(withheld > 0, "fixture must leave a tail in state")
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits exactly the closed batch sessions") {
    val q = StreamingOps.sessionizeStream(
        StreamingOps.eventsStream(spark, streamDir))
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("session_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(3), r.getDouble(4))))
        .toMap
      // batch sessions minus each user's trailing (still-open) session
      val batchAll = graft.operators.Events.sessionize(batchEvents).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getTimestamp(3), r.getLong(2), r.getDouble(6)))
      val closedBatch = batchAll.groupBy(_._1).toSeq.flatMap { case (_, ss) =>
        ss.sortBy(_._2).dropRight(1).toSeq
      }.map(s => (s._1, unixMicros(s._3)) -> ((s._4, s._5))).toMap
      assert(streamed.keySet == closedBatch.keySet,
        s"closed-session keys differ: streamed ${streamed.size} vs batch ${closedBatch.size}")
      streamed.foreach { case (k, (n, sum)) =>
        assert(n == closedBatch(k)._1, s"session $k count")
        assert(math.abs(sum - closedBatch(k)._2) < 1e-6, s"session $k sum")
      }
    } finally q.stop()
  }

  private def unixMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  test("stream-stream interval join equals the batch interval join") {
    val ev = StreamingOps.eventsStream(spark, streamDir)
    val joined = StreamingOps.joinStreams(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
    val q = joined.select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("ssjoin_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val c = batchEvents.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val p = batchEvents.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id"), col("ts").as("purchase_ts"))
      // the BATCH side is the registered operator itself — streaming and
      // batch must agree on the same two-sided interval semantics
      val batch = graft.operators.TemporalJoin
        .intervalJoin(c, p, "user_id", "click_ts", "purchase_ts", 300)
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty, "fixture has no click->purchase pairs in window")
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs vs batch ${batch.size}")
    } finally q.stop()
  }

  test("foreachBatch sink writes a partitioned layout equal to the input") {
    val out = java.nio.file.Files.createTempDirectory("graft_fb_sink").toString + "/ev"
    val q = StreamingOps.writePartitionedStream(
      StreamingOps.eventsStream(spark, streamDir), out, Seq("event_type"))
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() == batchEvents.count())
    // partition pruning works on the streamed layout too
    val pruned = written.filter(col("event_type") === "click")
    assert(pruned.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .contains("PartitionFilters"))
    assert(pruned.count() ==
      batchEvents.filter(col("event_type") === "click").count())
  }

  test("stream-static enrichment join equals the batch join, broadcast") {
    import spark.implicits._
    val dim = batchEvents.select("user_id").distinct()
      .withColumn("segment",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
    val enriched = StreamingOps.enrichStream(
      StreamingOps.eventsStream(spark, streamDir), dim, "user_id")
    val q = enriched.select("event_id", "segment")
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_stream").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = batchEvents.join(dim, Seq("user_id"), "left")
        .select("event_id", "segment").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed.nonEmpty && streamed == batch)
      // the whole point: the dim must broadcast, never shuffle the stream
      val plan = enriched.queryExecution.analyzed.toString
      assert(plan.contains("ResolvedHint") || enriched.queryExecution
        .optimizedPlan.toString.contains("broadcast"),
        "enrichment join lost the broadcast hint")
    } finally q.stop()
  }

  test("checkpointed sink resumes after restart without reprocessing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_src")
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString + "/ev"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_meta").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("f1.parquet"))
    val n = batchEvents.count()
    def run(): Unit = {
      val q = StreamingOps.writePartitionedStream(
        StreamingOps.eventsStream(spark, dir.toString), out,
        Seq("event_type"), Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    run() // first life: processes f1
    // stage f2 (disjoint ids) while the query is DOWN, then restart from
    // the same checkpoint: committed offsets must skip f1 entirely
    val shifted = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("event_id", col("event_id") + 1000000L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_stage")
    shifted.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(part, dir.resolve("f2.parquet"))
    run() // second life
    val written = spark.read.parquet(out)
    assert(written.count() == 2 * n,
      s"expected exactly-once append of both files, got ${written.count()} rows")
    assert(written.select("event_id").distinct().count() == 2 * n,
      "duplicate event_ids: a file was reprocessed across the restart")
  }

  test("watermark drops late data and closes windows in append mode") {
    import spark.implicits._
    // the one distinctly-streaming semantic the parity tests can't see:
    // a row arriving behind the 2h watermark must be EXCLUDED, where the
    // batch twin would count it
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, seconds
    def ns(offsetMin: Long) = (base + offsetMin * 60L) * 1000000000L
    def rows(ids: Seq[(Long, Long, String)]) = // (event_id, offsetMin, type)
      ids.map { case (id, m, t) => (id, ns(m), 1L, t, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_late")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_late_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    // file 1: three events in [00:00,01:00) + one at 03:30 that advances
    // the watermark to 01:30, closing the first window
    addFile(rows(Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "a"),
      (4L, 210L, "b"))), "f1.parquet")
    val q = StreamingOps.hourlyCounts(StreamingOps.eventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("late_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // file 2: a LATE "a" at 00:40 (behind the 01:30 watermark → must be
      // dropped) plus an on-time event at 06:00 that advances the
      // watermark to 04:00, closing the 03:00 window
      addFile(rows(Seq((5L, 40L, "a"), (6L, 360L, "c"))), "f2.parquet")
      q.processAllAvailable()
      val got = spark.table("late_stream").collect()
        .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(1)) ->
          r.getLong(2)).toMap
      // first window holds the THREE on-time events — not four: the late
      // arrival was dropped, where Events.hourlyCounts would count it
      assert(got((base, "a")) == 3L, s"late row not dropped: $got")
      assert(got((base + 3L * 3600L, "b")) == 1L, s"closed window missing: $got")
      // the 06:00 window is still open (watermark 04:00) → not emitted
      assert(!got.keys.exists(_._2 == "c"), s"open window emitted early: $got")
    } finally q.stop()
  }

  test("union watermark is the MIN across sources: lagging leg holds, late row drops") {
    import spark.implicits._
    // the two union-specific semantics the driver's parity row (wide
    // delay, update mode) deliberately avoids exercising: (1) a lagging
    // source HOLDS the global watermark — windows the fast source alone
    // would close stay open until the slow leg catches up; (2) once the
    // union watermark does advance, a late row in EITHER leg drops.
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, seconds
    def ns(offsetMin: Long) = (base + offsetMin * 60L) * 1000000000L
    def rows(ids: Seq[(Long, Long, String)]) =
      ids.map { case (id, m, t) => (id, ns(m), 1L, t, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dirA = java.nio.file.Files.createTempDirectory("graft_union_a")
    val dirB = java.nio.file.Files.createTempDirectory("graft_union_b")
    def addFile(dir: java.nio.file.Path,
        df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_union_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    // A: two on-time "a"s in [00:00,01:00) + a head event at 05:00 —
    // alone, A's watermark candidate (03:00) would close that window
    addFile(dirA, rows(Seq((1L, 10L, "a"), (2L, 20L, "a"),
      (3L, 300L, "x"))), "a1.parquet")
    // B lags: one "b" in the same window, max event time 01:00 —
    // B's candidate is 23:00 YESTERDAY, so the union watermark is held
    addFile(dirB, rows(Seq((4L, 30L, "b"), (5L, 60L, "b"))), "b1.parquet")
    val q = StreamingOps.hourlyCountsUnion(
        StreamingOps.eventsStream(spark, dirA.toString),
        StreamingOps.eventsStream(spark, dirB.toString))
      .writeStream.format("memory").queryName("union_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("union_stream").isEmpty,
        "lagging source must hold the union watermark — a window closed " +
          s"early: ${spark.table("union_stream").collect().mkString}")
      // B catches up to 06:00 → union watermark = min(03:00, 04:00) =
      // 03:00 → the [00:00,01:00) window closes with BOTH legs' rows
      addFile(dirB, rows(Seq((6L, 360L, "y"))), "b2.parquet")
      q.processAllAvailable()
      // a late "a" at 00:40 in A — behind the 03:00 union watermark —
      // must drop (the closed window's count must not change, and
      // append mode can never re-emit it)
      addFile(dirA, rows(Seq((7L, 40L, "a"))), "a2.parquet")
      q.processAllAvailable()
      val got = spark.table("union_stream").collect()
        .map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
          r.getString(1)) -> r.getLong(2)).toMap
      assert(got((base, "a")) == 2L,
        s"union window lost or double-counted a leg (or admitted the late row): $got")
      assert(got((base, "b")) == 1L, s"second leg's rows missing: $got")
      assert(got((base + 3600L, "b")) == 1L, s"01:00 window missing: $got")
      assert(!got.keys.exists(_._2 == "x") && !got.keys.exists(_._2 == "y"),
        s"open head windows emitted early: $got")
    } finally q.stop()
  }

  test("pack_stream's offset state never double-counts a replayed batch") {
    import spark.implicits._
    // the streaming-packing invariant beyond generic sink idempotence:
    // batch N's offset sums totals STRICTLY below N, so replaying a
    // batch AFTER its own totals row landed (crash between totals write
    // and offset commit) recomputes the identical offset — the spans it
    // overwrites are bit-identical, never shifted by its own total
    val stage = java.nio.file.Files.createTempDirectory("graft_pack_replay")
    val sink = s"$stage/sink"; val totals = s"$stage/totals"
    val docsFor = (ids: Seq[Long]) =>
      ids.map(i => (i, ("w " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val b0 = docsFor(Seq(2L, 4L)); val b1 = docsFor(Seq(6L, 8L, 10L))
    val baseOffOf = (id: Long) =>
      spark.read.parquet(totals).filter(col("batch_id") < id)
        .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("p"))
        .select((col("p") + lit(100L)).as("base_off"))
    StreamingOps.writeBatchIdempotent(
      graft.operators.Packing.packOnto(b0,
        spark.range(1).select(lit(100L).as("base_off"))), sink, 0L)
    StreamingOps.writeBatchIdempotent(
      graft.operators.Packing.totalTokens(b0), totals, 0L)
    StreamingOps.writeBatchIdempotent(
      graft.operators.Packing.packOnto(b1, baseOffOf(1L)), sink, 1L)
    StreamingOps.writeBatchIdempotent(
      graft.operators.Packing.totalTokens(b1), totals, 1L)
    val committed = spark.read.parquet(sink)
      .collect().map(_.toSeq).toSet
    // REPLAY batch 1 with its own totals row already present
    StreamingOps.writeBatchIdempotent(
      graft.operators.Packing.packOnto(b1, baseOffOf(1L)), sink, 1L)
    StreamingOps.writeBatchIdempotent(
      graft.operators.Packing.totalTokens(b1), totals, 1L)
    val replayed = spark.read.parquet(sink).collect().map(_.toSeq).toSet
    assert(replayed == committed,
      "replaying a committed batch shifted spans or duplicated rows")
    // and the two-batch union equals the one-shot packOnto of the union
    val oneShot = graft.operators.Packing.packOnto(b0.unionAll(b1),
        spark.range(1).select(lit(100L).as("base_off")))
      .collect().map(_.toSeq).toSet
    assert(replayed.map(_.dropRight(1)) == oneShot,
      "streamed spans diverged from the one-shot packing")
  }
}
