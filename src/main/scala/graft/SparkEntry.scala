package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.BasketSource
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Every implemented operator from SURVEY.md §2 (plus the §7 phase-2
  * extension surface) registers here as a named query over the driver
  * testdata, with a DuckDB oracle twin in [[oracleSql]] where the operator
  * is SQL-expressible. Column names are aliased identically on both sides
  * (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry extends SparkEntryOracleMain
    with SparkEntryQueriesText with SparkEntryQueriesAnn {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline computation: P(neighbor | product) over
    * purchase sequences (SURVEY.md §0).
    */
  def entry(spark: SparkSession): DataFrame =
    crystalballPairs(spark, "/root/testdata/sf0.001")

  // ---- helpers ----------------------------------------------------------

  /** Timestamp-encoding normalization (nanos-as-long / NTZ / UTC µs —
    * the driver's generator has shipped all three) lives in
    * [[graft.sources.Tables.normalizeTimestamps]]; every table funnels
    * through it via [[t]].
    */
  private def eventsTable(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")

  /** Flagship: pair-shaped crystal ball over lineitem-derived baskets. */
  private def crystalballPairs(spark: SparkSession, dir: String): DataFrame =
    CrystalBall.pairProbabilities(BasketSource.basketsFromLineitem(spark, dir))

  // ---- driver surface ---------------------------------------------------

  /** Registry guard: a Scala `Map` literal silently keeps only the LAST
    * binding for a duplicated key — the shadowing bug class that twice
    * dropped an oracle-checked query off the verified surface
    * (pack_sequences in r12, then phrase_search r12→r13). Both registries
    * are therefore built from `Seq`s of pairs and duplicates fail fast at
    * class-init (so `sbt test` and the driver both refuse to run) instead
    * of shipping a silently-shrunk surface.
    */
  private[graft] def distinctKeys[V](which: String,
      entries: Seq[(String, V)]): Map[String, V] = {
    val dups = entries.groupBy(_._1).collect {
      case (k, vs) if vs.size > 1 => k
    }.toSeq.sorted
    require(dups.isEmpty,
      s"duplicate $which registrations (later bindings would silently " +
        s"shadow earlier ones): ${dups.mkString(", ")}")
    entries.toMap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = queriesMap

  private lazy val queriesMap: Map[String, (SparkSession, String) => DataFrame] =
    distinctKeys("queries", queryEntries)

  /** ScaleAudit-only receipts (r16): known-superlinear audit twins kept
    * OUT of the driver surface — no oracle, no Verify/Bench row — but
    * still runnable by name through `runMain graft.ScaleAudit` so their
    * decade rows remain reproducible measurements, not prose. Guarded
    * against both duplicate keys and collisions with [[queries]] (a name
    * in both maps would make ScaleAudit's resolution ambiguous).
    */
  def auditQueries: Map[String, (SparkSession, String) => DataFrame] = auditQueriesMap

  private lazy val auditQueriesMap: Map[String, (SparkSession, String) => DataFrame] = {
    val m = distinctKeys("auditQueries", auditQueryEntriesAnn)
    val overlap = m.keySet.intersect(queriesMap.keySet)
    require(overlap.isEmpty,
      s"auditQueries shadow registered queries: ${overlap.toSeq.sorted.mkString(", ")}")
    m
  }

  private lazy val queryEntries: Seq[(String, (SparkSession, String) => DataFrame)] =
    queryEntriesCore ++ queryEntriesText ++ queryEntriesAnn

  private lazy val queryEntriesCore: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // O1–O3: basket source (lineitem-derived, FIXTURES.md §2). The engine
    // API keeps `products` as array<string>; the driver-facing projection
    // serializes it (space-joined, matching the reference's own text
    // format) because the driver's pandas compare cannot hash array cells.
    "baskets" -> ((s, dir) =>
      BasketSource.fromLineitem(s, dir)
        .select(col("customer"), array_join(col("products"), " ").as("products"))
        .orderBy(col("customer"))),
    // O4/O5 + O7/O12: repeat-terminated co-occurrence window + counts
    "cooccur_counts" -> ((s, dir) =>
      CoOccurrence.counts(BasketSource.basketsFromLineitem(s, dir))
        .orderBy(col("product"), col("neighbor"))),
    // O4 with the quadratic-basket guard ENGAGED (maxWindow=5): the 100 TB
    // pathological-basket cap, driver-checked against an oracle that
    // expresses the cap as a position-delta predicate. On 7-item lineitem
    // baskets the cap truncates real windows, so this result genuinely
    // differs from the uncapped twin.
    "cooccur_counts_capped" -> ((s, dir) =>
      CoOccurrence.counts(BasketSource.basketsFromLineitem(s, dir), maxWindow = 5)
        .orderBy(col("product"), col("neighbor"))),
    // O4 via pure Catalyst composition (posexplode + window + range join):
    // same relation as cooccur_counts, proving SQL-expressibility.
    "cooccur_counts_sql" -> ((s, dir) =>
      CoOccurrence.pairsSql(BasketSource.fromLineitem(s, dir))
        .groupBy(col("product"), col("neighbor")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("product"), col("neighbor"))),
    // O4 as a registered Catalyst Generator (UDTF) — SQL-first surface
    "cooccur_counts_gen" -> ((s, dir) => {
      graft.functions.CoOccurFunctions.register(s)
      BasketSource.fromLineitem(s, dir)
        .selectExpr("co_occur_pairs(products)")
        .groupBy(col("product"), col("neighbor")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("product"), col("neighbor"))
    }),
    // O4 as a WHOLE-OPERATOR Catalyst extension — custom LogicalPlan +
    // SparkStrategy + SparkPlan (graft.plans.CoOccurWindow), the (c)
    // rung of the custom-operator ladder: the window scan runs over
    // InternalRow ArrayData in place (no encoder round trip) and emits
    // through one reused UnsafeProjection. Same oracle text as
    // cooccur_counts — all four O4 forms answer to one hash gate.
    "cooccur_counts_plan" -> ((s, dir) =>
      graft.plans.CoOccurWindow.pairs(
          BasketSource.fromLineitem(s, dir).select(col("products")))
        .groupBy(col("product"), col("neighbor")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("product"), col("neighbor"))),
    // O4/O7 under incremental view maintenance: the corpus splits into an
    // "existing" and a "delta" partition (deterministic crc32 hash of the
    // basket key), each aggregates independently, and the merged partial
    // counts must equal the full recompute — the additivity contract a
    // 100 TB pipeline relies on to ingest new data WITHOUT re-reading the
    // corpus. The oracle is the full-recompute formulation, so the driver
    // hash gate proves merge == recompute end-to-end. Window semantics
    // are per-basket (row-local), so any basket-disjoint split is exact.
    "cooccur_incremental" -> ((s, dir) => {
      val b = BasketSource.fromLineitem(s, dir)
      val existing = b.filter(crc32(col("customer").cast("binary")) % 2 === 0)
      val delta = b.filter(crc32(col("customer").cast("binary")) % 2 === 1)
      CoOccurrence.countsFused(existing)
        .unionByName(CoOccurrence.countsFused(delta))
        .groupBy(col("product"), col("neighbor"))
        .agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("product"), col("neighbor"))
    }),
    // cooccur_incremental's production shape: the existing partition's
    // partial counts are WRITTEN as a bucketed catalog table (bucketed on
    // product — the serve key; its one shuffle happens at write time, the
    // ann_ivf_persisted discipline) and the merge plan reads the partials
    // back from the catalog + scans ONLY the delta — lineitem appears in
    // the plan exactly once (PlanSpec pin). A later session resumes from
    // the table alone; merge(persisted, delta) == full recompute is the
    // driver's hash gate (same oracle text as cooccur_counts).
    "cooccur_persisted" -> ((s, dir) => {
      val b = BasketSource.fromLineitem(s, dir)
      val existing = b.filter(crc32(col("customer").cast("binary")) % 2 === 0)
      val delta = b.filter(crc32(col("customer").cast("binary")) % 2 === 1)
      val tbl = "graft_cooccur_partials"
      graft.sources.TableSink.writeBucketed(
        CoOccurrence.countsFused(existing), tbl, "product", 8)
      CoOccurrence.mergeCounts(s.table(tbl), CoOccurrence.countsFused(delta))
        .orderBy(col("product"), col("neighbor"))
    }),
    // the APPEND half of the build-once discipline: generation 0's
    // partials are written as the bucketed base, generation 1's partials
    // are INSERTed into the same table under the same bucket spec (no
    // base rebuild, no table-wide shuffle — TableSink.appendBucketed),
    // and the merge reads base+appended from the catalog plus ONLY the
    // generation-2 delta. merge == full recompute is the driver's hash
    // gate (same oracle text); PlanSpec pins the single corpus scan and
    // the cross-session resume
    "cooccur_appended" -> ((s, dir) => {
      // r18 (guide §2.4, the cooccur_totals_tws_boot pattern): the
      // basket build fed THREE actions (base write, append, merge
      // count), each re-running the lineitem shuffle + list build. One
      // scoped persist serves all three.
      // cooccur_persisted deliberately does NOT get this: its PlanSpec
      // pin (and its point) is that the merge plan scans lineitem
      // exactly once — a persist would hide the delta scan behind an
      // InMemoryRelation.
      val b = graft.operators.CacheScope.persist(
        BasketSource.fromLineitem(s, dir))
      val gen = crc32(col("customer").cast("binary")) % 3
      val tbl = "graft_cooccur_appended"
      graft.sources.TableSink.writeBucketed(
        CoOccurrence.countsFused(b.filter(gen === 0)), tbl, "product", 8)
      graft.sources.TableSink.appendBucketed(
        CoOccurrence.countsFused(b.filter(gen === 1)), tbl, "product", 8)
      CoOccurrence.mergeCounts(s.table(tbl),
          CoOccurrence.countsFused(b.filter(gen === 2)))
        .orderBy(col("product"), col("neighbor"))
    }),
    // the flagship THROUGH THE STREAMING ENGINE, driver-checked: basket
    // lines are staged to a temp dir, read back as a bounded file-source
    // text STREAM run to completion (availableNow trigger), window-
    // flatMapped and counted by Structured Streaming in complete mode
    // into a memory sink, and the materialized sink table is returned.
    // Same oracle text as cooccur_counts — batch/stream parity, finally
    // visible to the driver's hash gate (StreamingSpec holds the
    // watermark/exactly-once guarantees the gate can't see). The memory
    // sink bounds this ARTIFACT to driver memory; production would swap
    // in the parquet foreachBatch sink (StreamingOps
    // .writePartitionedStream) — the dataflow upstream is identical.
    "cooccur_stream" -> ((s, dir) => withStreamStage(dir, "graft_cooccur_stream") { stage =>
      BasketSource.fromLineitem(s, dir)
        .select(concat_ws(" ", col("customer"),
          array_join(col("products"), " ")).as("value"))
        .write.mode("overwrite").text(stage)
      val counts = graft.streaming.StreamingOps.coOccurrenceCounts(s, stage)
      val sink = "cooccur_stream_sink"
      s.catalog.dropTempView(sink)
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the r15 bench flagged a 2x swing on this row — the receipt
      // (batch count + per-batch ms on stderr) makes the next swing
      // attributable instead of argued (VERDICT r15 item 3)
      graft.streaming.StreamingOps.logBatchReceipt("cooccur_stream", q)
      s.table(sink).orderBy(col("product"), col("neighbor"))
    }),
    // ARBITRARY STATEFUL STREAMING via Spark 4's transformWithState
    // (r17, VERDICT r16 item 3 — the API that supersedes
    // map/flatMapGroupsWithState; RocksDB state store, named
    // ValueState[Long] per product, native TTL knob held at NONE here):
    // per-product RUNNING co-occurrence totals over the staged basket
    // stream, forced through 4 real micro-batches (repartition(4) +
    // maxFilesPerTrigger=1) so the totals genuinely accumulate in
    // state; update-mode foreachBatch partition sink; final state
    // recovered by argmax-over-batch_id. Oracle = the batch marginal
    // sum(cnt) per product — batch/stream parity for the new engine
    // surface, visible to the hash gate. TTL eviction semantics are
    // StreamingSpec's (a gate hash can't see processing-time decay).
    "cooccur_totals_tws" -> ((s, dir) =>
      withStreamStage(dir, "graft_tws_stream") { stage =>
        graft.streaming.StreamingOps.withRocksDbStateStore(s) {
          BasketSource.fromLineitem(s, dir)
            .select(concat_ws(" ", col("customer"),
              array_join(col("products"), " ")).as("value"))
            .repartition(4)
            .write.mode("overwrite").text(stage + "/in")
          val totals = graft.streaming.StreamingOps.cooccurTotalsTws(
            s, stage + "/in")
          val sink = stage + "/sink"
          val q = totals.toDF().writeStream.outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.streaming.StreamingOps.writeBatchIdempotent(b, sink, id)
            }
            .option("checkpointLocation", stage + "/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.StreamingOps.logBatchReceipt(
            "cooccur_totals_tws", q)
          graft.sources.TableSink.saveTable(
            s.read.parquet(sink)
              .groupBy(col("product"))
              .agg(max(struct(col("batch_id"), col("total"))).as("m"))
              .select(col("product"), col("m.total").as("total")),
            "graft_tws_result")
          s.table("graft_tws_result").orderBy(col("product"))
        }
      }),
    // EVENT-TIME TIMERS via transformWithState (r17 — the timer surface
    // the running-totals query doesn't touch): gap sessionization where
    // the FINAL session of every user is closed by a registered
    // event-time timer firing when the watermark passes lastEvent+gap —
    // the closure flatMapGroupsWithState structurally cannot perform
    // (it only sees a key when new data for it arrives). One sorted
    // single-file stage (the ewma_stream order contract), watermark
    // delay 0, and a far-future SENTINEL row whose watermark push fires
    // every real timer in the post-data micro-batch; append-mode
    // exactly-once sink; session ids assigned per user by start time.
    // Integer outputs (µs duration, cents sum) — the ewma cents
    // discipline. Oracle = the batch gaps-and-islands sessionize
    // relation with the same quantization.
    "sessionize_tws" -> ((s, dir) =>
      withStreamStage(dir, "graft_sess_tws") { stage =>
        graft.streaming.StreamingOps.withRocksDbStateStore(s) {
          val ev = eventsTable(s, dir).select(col("event_id"), col("ts"),
            col("user_id"), col("event_type"), col("value"))
          ev.orderBy(col("ts"), col("event_id")).coalesce(1)
            .write.mode("overwrite").parquet(stage + "/in")
          val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
          // sentinel: 30-min gap + 2 s margin past the last real event;
          // its own session never closes (timer past the final
          // watermark) and is filtered by user_id below
          s.range(1).select(
              lit(-1L).as("event_id"),
              timestamp_micros(lit(maxUs + 30L * 60L * 1000000L +
                2000000L)).as("ts"),
              lit(-1L).as("user_id"),
              lit("sentinel").as("event_type"),
              lit(0.0).as("value"))
            .write.mode("append").parquet(stage + "/in")
          val sessions = graft.streaming.StreamingOps.sessionizeTws(
            graft.streaming.StreamingOps
              .eventsStreamNormalized(s, stage + "/in")
              .withWatermark("ts", "0 seconds"))
          val sink = stage + "/sink"
          val q = sessions.toDF().writeStream.outputMode("append")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.streaming.StreamingOps.writeBatchIdempotent(b, sink, id)
            }
            .option("checkpointLocation", stage + "/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.StreamingOps.logBatchReceipt(
            "sessionize_tws", q)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("start_us"))
          graft.sources.TableSink.saveTable(
            s.read.parquet(sink).filter(col("user_id") >= 0L)
              .withColumn("session_id",
                row_number().over(w).cast("long"))
              .select(col("user_id"), col("session_id"), col("n_events"),
                timestamp_micros(col("start_us")).as("session_start"),
                timestamp_micros(col("end_us")).as("session_end"),
                (col("end_us") - col("start_us")).as("duration_us"),
                col("sum_cents")),
            "graft_sess_tws_result")
          s.table("graft_sess_tws_result")
            .orderBy(col("user_id"), col("session_id"))
        }
      }),
    // BATCH-BOOTSTRAPPED STATE via StatefulProcessorWithInitialState
    // (r17 — the backfill→stream migration surface): baskets split
    // deterministically (md5 customer bucket), the first half's totals
    // computed IN BATCH and handed to transformWithState as initial
    // state, only the second half streamed; the serving view overlays
    // stream emissions on the backfill table (a key the stream never
    // touches keeps its backfill value — handleInitialState cannot
    // emit). Final totals must equal the FULL batch marginals — the
    // same oracle text as cooccur_totals_tws, which is the entire
    // point: the split is invisible to the answer.
    "cooccur_totals_tws_boot" -> ((s, dir) =>
      withStreamStage(dir, "graft_twsb_stream") { stage =>
        graft.streaming.StreamingOps.withRocksDbStateStore(s) {
          import s.implicits._
          // r18 (guide §2.4): the basket build fed TWO separate actions
          // (the backfill saveTable and the stream-half text write),
          // each re-running the lineitem shuffle + list build. One
          // scoped persist serves both.
          val baskets = graft.operators.CacheScope.persist(
            BasketSource.fromLineitem(s, dir)
              .withColumn("bkt", Sampling.bucket100(col("customer"))))
          val backfill = CoOccurrence.countsFused(
              baskets.filter(col("bkt") < 50))
            .groupBy(col("product"))
            .agg(sum(col("cnt")).as("total"))
            .as[graft.streaming.StreamingOps.ProductTotal]
          graft.sources.TableSink.saveTable(backfill.toDF(),
            "graft_twsb_backfill")
          baskets.filter(col("bkt") >= 50)
            .select(concat_ws(" ", col("customer"),
              array_join(col("products"), " ")).as("value"))
            .repartition(2)
            .write.mode("overwrite").text(stage + "/in")
          val totals = graft.streaming.StreamingOps.cooccurTotalsTwsBoot(
            s, stage + "/in",
            s.table("graft_twsb_backfill")
              .as[graft.streaming.StreamingOps.ProductTotal])
          val sink = stage + "/sink"
          val q = totals.toDF().writeStream.outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.streaming.StreamingOps.writeBatchIdempotent(b, sink, id)
            }
            .option("checkpointLocation", stage + "/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.StreamingOps.logBatchReceipt(
            "cooccur_totals_tws_boot", q)
          val streamed = s.read.parquet(sink)
            .groupBy(col("product"))
            .agg(max(struct(col("batch_id"), col("total"))).as("m"))
            .select(col("product"), col("m.total").as("s_total"))
          graft.sources.TableSink.saveTable(
            s.table("graft_twsb_backfill")
              .select(col("product"), col("total").as("b_total"))
              .join(streamed, Seq("product"), "full_outer")
              .select(col("product"),
                coalesce(col("s_total"), col("b_total")).as("total")),
            "graft_twsb_result")
          s.table("graft_twsb_result").orderBy(col("product"))
        }
      }),
    // MAP STATE via transformWithState (r17 — the keyed-sub-map
    // primitive: one point-updatable RocksDB map per user, one cell per
    // event type): running (user, type) counts across 4 real
    // micro-batches; final = max-batch emission per cell. Oracle = the
    // batch group-count.
    "user_type_counts_tws" -> ((s, dir) =>
      withStreamStage(dir, "graft_utc_tws") { stage =>
        graft.streaming.StreamingOps.withRocksDbStateStore(s) {
          eventsTable(s, dir).select(col("event_id"), col("ts"),
              col("user_id"), col("event_type"), col("value"))
            .repartition(4).write.mode("overwrite").parquet(stage + "/in")
          val totals = graft.streaming.StreamingOps.userTypeCountsTws(
            graft.streaming.StreamingOps.eventsStreamNormalized(
              s, stage + "/in", maxFilesPerTrigger = 1))
          val sink = stage + "/sink"
          val q = totals.toDF().writeStream.outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.streaming.StreamingOps.writeBatchIdempotent(b, sink, id)
            }
            .option("checkpointLocation", stage + "/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.StreamingOps.logBatchReceipt(
            "user_type_counts_tws", q)
          graft.sources.TableSink.saveTable(
            s.read.parquet(sink)
              .groupBy(col("user_id"), col("event_type"))
              .agg(max(struct(col("batch_id"), col("n"))).as("m"))
              .select(col("user_id"), col("event_type"),
                col("m.n").as("n")),
            "graft_utc_tws_result")
          s.table("graft_utc_tws_result")
            .orderBy(col("user_id"), col("event_type"))
        }
      }),
    // LIST STATE via transformWithState (r17 — the bounded-list
    // primitive): a deterministic BOTTOM-K sketch reservoir per event
    // type (k smallest md5(event_id), ties by id — mergeable and batch-
    // split-insensitive, so the streamed reservoir equals the batch
    // QUALIFY top-k row for row). State per key is k entries no matter
    // the stream length. Final = the key's max-batch reservoir.
    "reservoir_bottomk_tws" -> ((s, dir) =>
      withStreamStage(dir, "graft_resv_tws") { stage =>
        graft.streaming.StreamingOps.withRocksDbStateStore(s) {
          eventsTable(s, dir).select(col("event_id"), col("ts"),
              col("user_id"), col("event_type"), col("value"))
            .repartition(4).write.mode("overwrite").parquet(stage + "/in")
          val resv = graft.streaming.StreamingOps.bottomkReservoirTws(
            graft.streaming.StreamingOps.eventsStreamNormalized(
              s, stage + "/in", maxFilesPerTrigger = 1))
          val sink = stage + "/sink"
          val q = resv.toDF().writeStream.outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.streaming.StreamingOps.writeBatchIdempotent(b, sink, id)
            }
            .option("checkpointLocation", stage + "/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.StreamingOps.logBatchReceipt(
            "reservoir_bottomk_tws", q)
          val emitted = s.read.parquet(sink)
          val lastBatch = emitted.groupBy(col("event_type"))
            .agg(max(col("batch_id")).as("batch_id"))
          graft.sources.TableSink.saveTable(
            emitted.join(lastBatch, Seq("event_type", "batch_id"))
              .select(col("event_type"), col("rk"), col("event_id")),
            "graft_resv_tws_result")
          s.table("graft_resv_tws_result")
            .orderBy(col("event_type"), col("rk"))
        }
      }),
    // event-time WINDOWED AGGREGATION through the streaming engine,
    // driver-checked: normalized events staged to a temp dir, read back as
    // a bounded parquet file-source stream (availableNow), watermarked +
    // 1-hour-tumbling aggregated in complete mode into a memory sink.
    // Epoch-aligned tumbling windows make window.start ==
    // date_trunc('hour', ts), so the batch hourly_counts oracle applies
    // verbatim — windowing parity visible to the hash gate (StreamingSpec
    // holds the late-drop/append-closure guarantees the gate can't see).
    "hourly_counts_stream" -> ((s, dir) => withStreamStage(dir, "graft_hourly_stream") { stage =>
      eventsTable(s, dir).write.mode("overwrite").parquet(stage)
      val counts = graft.streaming.StreamingOps.hourlyCounts(
        graft.streaming.StreamingOps.eventsStreamNormalized(s, stage))
      val sink = "hourly_counts_stream_sink"
      s.catalog.dropTempView(sink)
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).orderBy(col("hour"), col("event_type"))
    }),
    // MULTI-SOURCE UNION + UPDATE-MODE SINK through the streaming engine
    // (r16, VERDICT r15 item 8): the events corpus split into two
    // independent file-source streams (user parity — both span the full
    // time range, so neither source can hide a windowing bug), unioned
    // before the watermark + hourly tumbling agg, run in UPDATE mode
    // through the exactly-once foreachBatch partition sink. Update mode
    // emits a key each batch it changes; the LAST emission per key is
    // its final aggregate, recovered by one argmax-by-batch_id — so the
    // materialized result equals the batch hourly_counts and shares its
    // oracle text verbatim. The delay is wider than the corpus span
    // (staged files are not time-ordered; in update mode a late drop is
    // a real loss) — StreamingSpec pins the tight-delay drop semantics.
    "hourly_counts_union_stream" -> ((s, dir) =>
      withStreamStage(dir, "graft_union_stream") { stage =>
        val ev = eventsTable(s, dir)
        // 6 files a side + maxFilesPerTrigger=2 forces each source
        // through ≥3 micro-batches, so the union genuinely interleaves
        // batches from both legs instead of draining in one trigger
        ev.filter(col("user_id") % 2 === 0).repartition(6)
          .write.mode("overwrite").parquet(stage + "/a")
        ev.filter(col("user_id") % 2 =!= 0).repartition(6)
          .write.mode("overwrite").parquet(stage + "/b")
        val counts = graft.streaming.StreamingOps.hourlyCountsUnion(
          graft.streaming.StreamingOps.eventsStreamNormalized(s,
            stage + "/a", maxFilesPerTrigger = 2),
          graft.streaming.StreamingOps.eventsStreamNormalized(s,
            stage + "/b", maxFilesPerTrigger = 2),
          delay = "3650 days")
        val sink = stage + "/sink"
        val q = counts.writeStream.outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.streaming.StreamingOps.writeBatchIdempotent(b, sink, id)
          }
          .option("checkpointLocation", stage + "/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.streaming.StreamingOps.logBatchReceipt(
          "hourly_counts_union_stream", q)
        // last emission per key wins (batch_id is unique per key-batch);
        // materialize before withStreamStage deletes the sink files
        graft.sources.TableSink.saveTable(
          s.read.parquet(sink)
            .groupBy(col("hour"), col("event_type"))
            .agg(max(struct(col("batch_id"), col("n"), col("sum_value")))
              .as("m"))
            .select(col("hour"), col("event_type"),
              col("m.n").as("n"), col("m.sum_value").as("sum_value")),
          "graft_union_stream_result")
        s.table("graft_union_stream_result")
          .orderBy(col("hour"), col("event_type"))
      }),
    // SESSION WINDOWS through the streaming engine, driver-checked: the
    // engine's native session_window merges per-user gap sessions
    // incrementally across micro-batches (stateful session coalescing —
    // the semantics StreamingSpec can poke at batch-boundary level, here
    // made visible to the driver's hash gate). Same oracle text as the
    // batch session_window_agg twin.
    "session_window_stream" -> ((s, dir) => withStreamStage(dir, "graft_session_stream") { stage =>
      eventsTable(s, dir).write.mode("overwrite").parquet(stage)
      val sessions = graft.streaming.StreamingOps.sessionWindows(
        graft.streaming.StreamingOps.eventsStreamNormalized(s, stage))
      val sink = "session_window_stream_sink"
      s.catalog.dropTempView(sink)
      val q = sessions.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).orderBy(col("user_id"), col("session_start"))
    }),

    // STATEFUL CUSTOM AGGREGATION through the streaming engine,
    // driver-checked: per-user exact-integer EWMA state folded across
    // micro-batches via mapGroupsWithState — the custom-state extension
    // point carrying Events.ewmaValue's integer recurrence, so the
    // bounded replay reproduces the batch result EXACTLY and shares its
    // oracle text. Update-mode emissions re-emit a user's running state
    // per batch; the final state per user is the max-n_events row
    // (n strictly grows), a deterministic pick at any batch split.
    "ewma_stream" -> ((s, dir) => withStreamStage(dir, "graft_ewma_stream") { stage =>
      // coalesce(1): the state fold is order-sensitive, and a multi-file
      // range-partitioned stage has no pinned mtime order — one staged
      // file makes the cross-batch replay order contract hold under ANY
      // trigger config, not just single-batch AvailableNow.
      eventsTable(s, dir).orderBy(col("ts"), col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val ew = graft.streaming.StreamingOps.ewmaStream(
        graft.streaming.StreamingOps.eventsStreamNormalized(s, stage))
      val sink = "ewma_stream_sink"
      s.catalog.dropTempView(sink)
      val q = ew.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).groupBy(col("user_id"))
        .agg(max_by(struct(col("n_events"), col("ewma_cents")),
          col("n_events")).as("st"))
        .select(col("user_id"), col("st.n_events").as("n_events"),
          col("st.ewma_cents").as("ewma_cents"))
        .orderBy(col("user_id"))
    }),

    // STREAMING DRIFT MONITOR, driver-checked: the EIGHTH streaming
    // query — per-user CUSUM state via mapGroupsWithState against an
    // offline-derived reference (train-in-batch / monitor-in-stream,
    // the production deploy shape). Shares cusum_alerts' oracle text:
    // the bounded replay must reproduce the batch fold exactly.
    "cusum_stream" -> ((s, dir) => withStreamStage(dir, "graft_cusum_stream") { stage =>
      val ev = eventsTable(s, dir)
      // the offline baseline: same k derivation as the batch twin
      val k = ev.agg(
        floor(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
          .cast("double") / count(lit(1))).cast("long"))
        .collect()(0).getLong(0)
      // coalesce(1): order-sensitive state fold — the ewma_stream
      // staging contract (pinned replay order under any trigger)
      ev.orderBy(col("ts"), col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val cu = graft.streaming.StreamingOps.cusumStream(
        graft.streaming.StreamingOps.eventsStreamNormalized(s, stage), k)
      val sink = "cusum_stream_sink"
      s.catalog.dropTempView(sink)
      val q = cu.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).groupBy(col("user_id"))
        .agg(max_by(struct(col("n_events"), col("max_cusum_cents"),
          col("n_alarms")), col("n_events")).as("st"))
        .select(col("user_id"), col("st.n_events").as("n_events"),
          col("st.max_cusum_cents").as("max_cusum_cents"),
          col("st.n_alarms").as("n_alarms"))
        .orderBy(col("user_id"))
    }),

    // EXACTLY-ONCE INTO A PERSISTED TABLE SINK, driver-checked across a
    // forced stop/restart: half the events stage, a checkpointed
    // foreachBatch stream (maxFilesPerTrigger=2 → several micro-batches,
    // each landing as an idempotent batch_id partition) drains and STOPS;
    // the other half stages and the SAME checkpoint resumes — committed
    // offsets are never re-read, so any duplicate or lost row breaks the
    // batch hourly_counts oracle this query shares. The production
    // stream->table ingest shape, hash-gated end to end.
    "events_table_stream" -> ((s, dir) => withStreamStage(dir, "graft_evt_table") { stage =>
      val in = stage + "/in"; val sink = stage + "/sink"
      val ckpt = stage + "/ckpt"
      val ev = eventsTable(s, dir)
      def run(): Unit = {
        val q = graft.streaming.StreamingOps.writeTableStream(
          graft.streaming.StreamingOps.eventsStreamNormalized(s, in,
            maxFilesPerTrigger = 2), sink, ckpt)
        q.awaitTermination()
      }
      ev.filter(col("event_id") % 2 === 0).repartition(4)
        .write.mode("overwrite").parquet(in)
      run() // phase 1: drains the staged half, then a clean stop
      ev.filter(col("event_id") % 2 === 1).repartition(4)
        .write.mode("append").parquet(in)
      run() // phase 2: restart from the checkpoint — new files only
      // materialize before withStreamStage deletes the sink files: the
      // aggregate is calendar × type sized (the hourly_counts shape).
      // A `.cache()` here would pin one NEW entry per invocation (the
      // temp stage path is baked into the plan) — the r12 soak's growth
      // class — so the result lands in a stable OVERWRITTEN warehouse
      // table instead: survives the stage teardown, zero persists.
      graft.sources.TableSink.saveTable(
        Events.hourlyCounts(s.read.parquet(sink).drop("batch_id")),
        "graft_evt_table_result")
      s.table("graft_evt_table_result")
        .orderBy(col("hour"), col("event_type"))
    }),
    // STATEFUL STREAMING DEDUP driver-checked: document content
    // fingerprints stream through dropDuplicates state — the exactly-once
    // admission guard of a continuous corpus ingest. The output is the
    // distinct-fingerprint SET, deterministic regardless of micro-batch
    // arrival order, emitted append-mode (dedup is not an aggregation, so
    // rows emit as they are first admitted). Bounded-state production
    // variant (dropDuplicatesWithinWatermark) is eviction/readmission-
    // tested in StreamingSpec.
    "dedup_stream" -> ((s, dir) => withStreamStage(dir, "graft_dedup_stream") { stage =>
      t(s, dir, "documents").select(md5(col("text")).as("fp"))
        .write.mode("overwrite").parquet(stage)
      val fpSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.StringType)))
      val distinctFp = graft.streaming.StreamingOps.dedupStream(
        s.readStream.schema(fpSchema).parquet(stage), Seq("fp"))
      val sink = "dedup_stream_sink"
      s.catalog.dropTempView(sink)
      val q = distinctFp.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).orderBy(col("fp"))
    }),
    // the BOUNDED-STATE twin (dropDuplicatesWithinWatermark): per-key
    // state is dropped once event time passes it — O(keys-per-window)
    // state instead of unbounded. The replay carries every duplicate
    // inside one watermark window, so the admitted set equals the
    // unbounded form's and the oracle text is shared; the state-TTL
    // distinction across windows is StreamingSpec's job.
    "dedup_stream_bounded" -> ((s, dir) => withStreamStage(dir, "graft_dedup_bnd") { stage =>
      val ev = eventsTable(s, dir)
        .select(md5(col("event_type").cast("string")).as("fp"), col("ts"))
      // the shared batch-DISTINCT oracle holds iff every duplicate key
      // falls inside ONE watermark window — previously assumed of the
      // fixture (30 days > its span), now enforced by construction: the
      // delay is DERIVED from the staged data's actual event-time span
      // (+1 h of slack), so a grown fixture widens the window with it
      // instead of silently breaking the equivalence. One bounded 1-row
      // aggregate; the cross-window TTL semantics stay StreamingSpec's job.
      val spanRow = ev.agg((unix_timestamp(max(col("ts"))) -
        unix_timestamp(min(col("ts")))).as("span")).head
      val span = if (spanRow.isNullAt(0)) 0L else spanRow.getLong(0)
      ev.write.mode("overwrite").parquet(stage)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val admitted = graft.streaming.StreamingOps.dedupStreamBounded(
        s.readStream.schema(schema).parquet(stage), Seq("fp"),
        delay = s"${span + 3600} seconds")
      val sink = "dedup_stream_bounded_sink"
      s.catalog.dropTempView(sink)
      val q = admitted.select(col("fp")).writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).orderBy(col("fp"))
    }),
    // O6/O9/O13: flagship relative-frequency normalization (Pairs shape)
    "crystalball_pairs" -> ((s, dir) => crystalballPairs(s, dir)),
    // explicit skew mitigation, driver-checked: results must equal the
    // unsalted formulations bit-for-bit (the salt is an execution detail)
    "salted_agg" -> ((s, dir) =>
      Skew.saltedCounts(t(s, dir, "lineitem"), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))),
    "skew_join" -> ((s, dir) =>
      Skew.saltedJoin(t(s, dir, "lineitem"), t(s, dir, "part"),
          "l_partkey", "p_partkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("p_brand"))),
    // O13 via the skew-safe totals-join normalization (the hot-product
    // path): same result as the window formulation, benched side-by-side
    "crystalball_totals" -> ((s, dir) =>
      CrystalBall.normalizeViaTotalsJoin(
          CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir)))
        .select(col("product"), col("neighbor"), col("cnt"), col("prob"))
        .orderBy(col("product"), col("neighbor"))),
    // O8/O14: stripe shape. The stripe aggregation (sorted struct array)
    // stays in the plan; the driver projection posexplodes it back to
    // scalar rows — `pos` pins the within-stripe sort and `n_neighbors`
    // the stripe size, so the array semantics are still fully checked
    // without array-typed output columns (driver compare limitation).
    "crystalball_stripes" -> ((s, dir) =>
      CrystalBall.stripeShape(CrystalBall.normalize(
          CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))))
        .select(col("product"), size(col("stripe")).cast("long").as("n_neighbors"),
          posexplode(col("stripe")))
        .select(col("product"), col("n_neighbors"),
          col("pos").cast("long").as("pos"),
          col("col.neighbor").as("neighbor"), col("col.prob").as("prob"))
        .orderBy(col("product"), col("pos"))),
    // O8 in its engine-native MapType presentation: per-product stripe as
    // a map, driver-checked through scalar projections (map lookup via
    // element_at — null when the neighbor is absent — plus map_keys size)
    "stripe_lookup" -> ((s, dir) =>
      CrystalBall.stripeMapShape(CrystalBall.normalize(
          CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))))
        .select(col("product"),
          size(map_keys(col("stripe"))).cast("long").as("n_neighbors"),
          element_at(col("stripe"), "34").as("p34"))
        .orderBy(col("product"))),
    // product centrality over the co-occurrence graph itself: fixed-point
    // integer PageRank (exact BIGINT arithmetic — the oracle unrolls the
    // same iterations and hash-matches, which float ranks never could)
    "page_rank" -> ((s, dir) =>
      Graph.pageRank(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // the CONVERGENCE-TERMINATED fixpoint pageRank's guard rail defers
    // to (r14): same exact integer recurrence, run until NO rank_e9
    // changes — an exact fixpoint exists on the finite integer lattice
    // (post-convergence rounds are no-ops, so the oracle replays the
    // open-ended loop as a fixed 80-round unroll). Over the SIGNIFICANT
    // graph like the other converged ops — measured convergence is
    // structure-dependent, not size-dependent: the sparse sf0.01 graph
    // needs 55 rounds, the denser sf0.1 graph 5, and the UNFILTERED
    // graph costs 53 s at sf0.1 for the same fixpoint semantics
    // (BENCH_NOTES). A coarser e6 lattice is NOT the cheap way out: it
    // oscillates in a limit cycle at sf0.1 (measured) — exactness is
    // what makes "run until no change" well-defined here.
    // materialized to a FIXED catalog table (the streaming queries'
    // convention): pageRankConverged's deep-fixpoint lineage truncation
    // makes its direct return single-consumption (see its scaladoc's
    // consumption contract) — the saveTable write is that one
    // consumption, and the returned table scan is durable,
    // re-consumable, and recompute-free. Also the honest economics: a
    // 55-round fixpoint is an artifact you store, not a view.
    "pagerank_converged" -> ((s, dir) => {
      graft.sources.TableSink.saveTable(
        Graph.pageRankConverged(
          CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
            .filter(col("cnt") >= 2)
            .select(col("product").as("src"), col("neighbor").as("dst")),
          maxRounds = 80),
        "graft_pagerank_converged")
      s.table("graft_pagerank_converged").orderBy(col("node"))
    }),
    // PPMI/lift association ranking over the pair counts (r16 — Church &
    // Hanks' PMI with the ln dropped: lift is rational, so ranking and
    // the PMI>0 cut stay exact integers; top-5 positively-associated
    // neighbors per product). Counts MATERIALIZED to a catalog table
    // first (the ppr_seeded economics — the operator traverses the pair
    // relation four times, and a one-shot parquet write beats both a
    // chain recompute and a row-format disk cache; EXECUTE-ON-BUILD,
    // see ppr_seeded's note)
    "ppmi_rank" -> ((s, dir) => {
      graft.sources.TableSink.saveTable(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir)),
        "graft_ppmi_counts")
      CrystalBall.ppmiRank(s.table("graft_ppmi_counts"))
    }),
    // exact triangle counts over the SIGNIFICANT co-occurrence edges
    // (cnt >= 2 — noise pruning is standard before cohesion analysis on a
    // co-occurrence graph; the once-seen pairs at cnt=1 are mostly basket
    // coincidence). Degree-ordered orientation bounds the wedge quadratic
    // at O(sqrt(m)) per vertex, hub products included — the full-graph
    // path is exercised against brute force in PipelineSpec.
    "triangle_count" -> ((s, dir) =>
      Graph.triangleCounts(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))
        .orderBy(col("node"))),
    // bounded multi-source BFS over the same significant-edge graph:
    // seeds are the round-hundred products, 3 hops, minimal hop labels
    "khop_reach" -> ((s, dir) => {
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.kHopReach(edges, seeds, k = 3)
    }),
    // PERSONALIZED PageRank (r14 — Haveliwala's topic-sensitive walk):
    // page_rank's exact integer recurrence with the teleport term
    // restricted to the khop seed set, ranking every product by graph
    // proximity to the seeds — the link-graph analogue of DSIR's
    // importance weights for relevance-targeted selection. Seed
    // membership is annotated once on the node relation; each round adds
    // one row-local CASE to the fixed-point update, so the oracle
    // unrolls bit-exactly like page_rank's.
    "ppr_seeded" -> ((s, dir) => {
      // edge relation MATERIALIZED to a catalog table first (r14 verdict
      // item 5, the pagerank_converged economics): the operator traverses
      // its edges five times (degree agg/join, two node-union arms,
      // seeds) and a DISK_ONLY persist of the co-occurrence chain
      // measured SLOWER at both decade notches (BENCH_NOTES r14) — but a
      // one-shot parquet write turns every later traversal into a
      // compact columnar scan instead of either a chain recompute or a
      // row-format disk cache read. Same relation, same oracle.
      // EXECUTE-ON-BUILD (r16 advice): building this DataFrame runs the
      // chain and writes the fixed-name catalog table — plan-only
      // consumers pay the execution, and two concurrent runs sharing a
      // warehouse would race the name. Deliberate: a fixed name is what
      // keeps the soak's warehouse-steady gate meaningful, and the
      // engine's mains run serially by contract (ONE sbt/JVM at a time).
      graft.sources.TableSink.saveTable(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")),
        "graft_ppr_edges")
      val edges = s.table("graft_ppr_edges")
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.personalizedPageRank(edges, seeds)
    }),
    // HyperANF (r14 — Boldi–Vigna approximate neighborhood function):
    // per-node HLL ball sketches grown one radius per round by
    // max-merging successor registers — ball sizes at the scale where
    // reach_converged's exact closure is quadratic. All-integer
    // register math (md5 bucket/rho, Σ2^(48−M) harmonic denominator,
    // DECIMAL(38,0) estimate floor), so the oracle replays every row.
    "hyperanf" -> ((s, dir) =>
      Graph.hyperAnf(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // the neighborhood function + effective-diameter flag over those
    // sketches (Boldi–Vigna's headline statistic, exact-integer 90%
    // cross-multiplication — one tiny broadcast join, window-free)
    "anf_function" -> ((s, dir) =>
      Graph.anfFunction(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // the PRODUCTION register count (r14 verdict item 4): 256 registers
    // cut the standard error 4× (1.04/√256 ≈ ±6.5% vs ±26% at 16) — the
    // width a 100 TB diameter instrument actually runs at. Same integer
    // idiom (s_scaled tops at 2^56, BIGINT-safe), same per-round
    // economics (register rows per node scale 16×, the merge join and
    // max-agg shapes are unchanged); GraphSpec pins the clique-accuracy
    // tightening vs the 16-register miniature.
    "hyperanf_256" -> ((s, dir) =>
      Graph.hyperAnf(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")),
        registers = 256)),
    "anf_function_256" -> ((s, dir) =>
      Graph.anfFunction(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")),
        registers = 256)),
    // approximate harmonic centrality off the same sketches (Boldi–
    // Vigna's application): Σ_r Δball/r per node — quadratic all-pairs
    // distances read off a linear sketch pass; the lag window runs
    // over constant 4-row per-node partitions, the safe window shape
    "harmonic_centrality" -> ((s, dir) =>
      Graph.harmonicCentrality(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // DETERMINISTIC random walks (r14 — DeepWalk/node2vec corpus prep):
    // two 4-step walks per khop seed over the significant co-occurrence
    // graph, each step a seeded hash-ARGMIN over the current node's
    // neighbors — min(struct(md5, dst)) is partial-aggregable, so hub
    // fan-out never single-tasks the step (the LPA argmax discipline);
    // the oracle replays the walk verbatim.
    "random_walks" -> ((s, dir) => {
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.randomWalks(edges, seeds)
    }),
    // the BIASED second-order walk (r14 — Grover–Leskovec node2vec at
    // p=4, q=2): next hop weighted by its relation to the PREVIOUS node
    // (return 1 / common 4 / outward 2), the weights realized EXACTLY
    // as min-over-w-hash-draws (P(win) = w/Σw for the min of iid
    // uniforms) — faithful weighted sampling that stays a pure function
    // of the edge set. One candidates join + one adjacency-flag join +
    // a ≤4-way row-local explode per step.
    "node2vec_walks" -> ((s, dir) => {
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.node2vecWalks(edges, seeds)
    }),
    // skip-gram windowing over those walk sequences (the word2vec step
    // of DeepWalk): (center, context, cnt) pairs within ±2 walk
    // positions — the bounded per-walk self-join, output linear in the
    // walk corpus. The relation a graph-embedding trainer consumes.
    "walk_skipgram" -> ((s, dir) => {
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.walkSkipgramPairs(
        Graph.randomWalks(edges, seeds, ordered = false))
    }),
    // word2vec negatives for those skip-gram pairs: freq^(3/4) tempered
    // context distribution (sqrt-composed — IEEE-exact), md5 uniforms
    // inverted through the exact CDF ladder as a bucketized EQUI-join
    "skipgram_negatives" -> ((s, dir) => {
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.skipgramNegatives(
        Graph.walkSkipgramPairs(
        Graph.randomWalks(edges, seeds, ordered = false)))
    }),
    // COST-BASED OPTIMIZATION as a first-class surface (r14 — the
    // "statistics" line of SURVEY §2.1): catalog tables ANALYZEd with
    // column stats, CBO + join-reorder enabled, a 3-way star join whose
    // logical order the optimizer re-derives from cardinalities instead
    // of FROM order. The conf flags are scoped to THIS plan: the
    // executedPlan materializes inside the try (logical optimization —
    // where CBO reorder runs — is cached on the QueryExecution), so the
    // finally-restore cannot leak CBO into neighboring queries' plans.
    // Result is plan-independent; the driver hashes it like any query.
    // r18 opt: project each catalog table to exactly the columns the
    // star join references before the save (guide §2.3 "project before
    // the exchange" applied to the write, §6 column pruning at the
    // source). The write ships 2-3 columns instead of 8-16 and the
    // FOR ALL COLUMNS stats pass now scans only those columns — the
    // reorder decision (row counts + join-key/filter-column stats) and
    // the query result are unchanged. Measured warm: saveTable+ANALYZE
    // 4.8 s full-width vs 1.6 s projected at sf0.1/32c.
    "cbo_reorder" -> ((s, dir) => {
      val needed = Map(
        "customer" -> Seq("c_custkey", "c_mktsegment", "c_nationkey"),
        "orders" -> Seq("o_orderkey", "o_custkey"),
        "lineitem" -> Seq("l_orderkey", "l_extendedprice"))
      for (n <- Seq("customer", "orders", "lineitem")) {
        graft.sources.TableSink.saveTable(
          t(s, dir, n).select(needed(n).map(col): _*), s"graft_cbo_$n")
        s.sql(s"ANALYZE TABLE graft_cbo_$n COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      val prev = Seq("spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled").map(k => k -> s.conf.get(k))
      prev.foreach { case (k, _) => s.conf.set(k, "true") }
      try {
        val df = s.sql(
          """SELECT c_nationkey,
            |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
            |  count(*) AS n_items
            |FROM graft_cbo_lineitem
            |JOIN graft_cbo_orders ON l_orderkey = o_orderkey
            |JOIN graft_cbo_customer ON o_custkey = c_custkey
            |WHERE c_mktsegment = 'BUILDING'
            |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
        df.queryExecution.executedPlan // pin the CBO-optimized plan now
        df
      } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
    }),
    // Spark 4's RECURSIVE CTE front end as a first-class surface (r14):
    // a per-order integer decay schedule — bal_{n+1} = bal_n − (bal_n·3
    // div 100), 24 steps. The per-step floor makes it NON-LINEAR (no
    // closed form, no window rewrite): this is the computation class
    // recursion genuinely buys. Scale shape: acyclic, out-degree 1,
    // depth fixed at 24 — each recursion level is one linear scan of
    // the previous level, so total work is 24·|orders|, never the
    // path-enumeration blowup the kHopReach scaladoc warns recursive
    // UNION ALL invites on cyclic graphs (Spark 4.1 supports only
    // UNION ALL recursion, so graph closures stay on the anti-join BFS
    // operators; THIS shape is what the SQL front end is for).
    "sql_recursive_decay" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_orders_rec")
      // the recursion allowance is the ENGINE's cteRecursionRowLimit
      // bound (sessionBuilder, 1e8 — r18). The previous form lifted the
      // 1M default with a LIMIT on the recursive reference, which
      // planned Exchange(SinglePartition)+GlobalLimit below the
      // aggregate: ALL 25·|orders/10| recursion rows funneled through
      // one task that then ran both HashAggregates and the sort
      // serially. The conf bound keeps the fail-loudly posture (the
      // loop THROWS past it rather than truncating a schedule — caught
      // by the x10 audit at 3.75M rows) and the aggregate goes wide.
      s.sql("""WITH RECURSIVE sched(o_orderkey, m, bal) AS (
        |  SELECT o_orderkey, 0, CAST(floor(o_totalprice * 100) AS BIGINT)
        |  FROM graft_orders_rec WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, m + 1, bal - (bal * 3 div 100)
        |  FROM sched WHERE m < 24
        |)
        |SELECT o_orderkey, max(bal) AS start_cents, min(bal) AS final_cents
        |FROM sched
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)
    }),
    // the CONVERGENCE-TERMINATED closure of the same BFS (r14, the
    // lpa_converged discipline for reachability): run until the
    // frontier empties — exact min-hop labels with no horizon, levels
    // truncated through persisted row RDDs; oracle replays it as a
    // recursion bounded at the shared 60-round cap (engine throws
    // beyond it rather than serving a truncated closure)
    "reach_converged" -> ((s, dir) => {
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      val seeds = edges.filter(col("src").cast("long") % 100 === 0)
        .select(col("src").as("node"))
      Graph.reachConverged(edges, seeds)
    }),
    // deterministic synchronous label propagation over the same
    // significant-edge graph: product communities in 3 rounds, every
    // round a hash-aggregate argmax (min(struct(-cnt, lbl))) — the
    // oracle unrolls the identical rounds with a QUALIFY argmax
    "communities_lpa" -> ((s, dir) =>
      Graph.labelPropagation(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")),
        iterations = 3)),
    // the CONVERGENCE-TERMINATED fixpoint over the same graph (r13
    // verdict item 4): monotone update, stop when no label changes,
    // per-round lineage truncation — oracle replays it as a fixed
    // unroll (post-convergence rounds are no-ops under monotonicity)
    "lpa_converged" -> ((s, dir) =>
      Graph.lpaConverged(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // Newman modularity of those converged communities (r14 — the
    // measure-don't-guess row for community detection, the lsh_recall
    // discipline): per community the EXACT integer numerator
    // 4·m·e_in − d_tot² (Q = Σ/4m²) — a labeling change shows up as
    // value drift, not vibes. Oracle shares lpa_converged's label CTEs.
    "modularity_lpa" -> ((s, dir) => {
      // converged labels MATERIALIZED to a catalog table first (r14
      // verdict item 6): modularity joins the labeling THREE times
      // (both edge endpoints + community sizes), and feeding it the
      // lpaConverged frame directly replays the full fixpoint per
      // consumer — the most expensive audit row in the r14 fleet
      // (149.9 s at x100). A converged labeling is an artifact you
      // store (the pagerank_converged economics): fixpoint once, three
      // parquet scans. Same labels, same oracle. EXECUTE-ON-BUILD — see
      // ppr_seeded's note: fixed table name + build-time fixpoint are
      // the deliberate trade; serial-mains contract makes them safe.
      // r18: persisting edges across the two consumers (fixpoint
      // adjacency + modularity's traversals) was tried and did NOT help
      // (4.22 -> 4.57 s at matched calib) — the second consumer's
      // recompute reuses the first's shuffle files (skipped stages), so
      // the DISK_ONLY persist write costs more than it saves. Left
      // un-persisted on measurement.
      val edges = CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
        .filter(col("cnt") >= 2)
        .select(col("product").as("src"), col("neighbor").as("dst"))
      graft.sources.TableSink.saveTable(
        Graph.lpaConverged(edges), "graft_lpa_labels")
      Graph.modularity(edges, s.table("graft_lpa_labels"))
    }),
    // LINK PREDICTION (r15 — Liben-Nowell/Kleinberg for the co-purchase
    // graph): non-edges scored by capped common-neighbor structure —
    // count, Jaccard, and the integer-exact resource-allocation index
    // (Σ 1e6 div deg(w), the published Adamic–Adar alternative that
    // needs no ln). Wedge apexes capped map-side (MaxBandBucket
    // discipline), existing edges anti-joined out.
    "link_predict" -> ((s, dir) =>
      Graph.linkPredict(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // K-CORE decomposition (r14): peel nodes with in-survivor degree < 2
    // to the unique maximal 2-core (the cycle-containing skeleton) — the
    // densification filter before community/centrality passes. k = 2 is
    // the significant-edge graph's interesting core (its 3-core is EMPTY
    // at the verify scale; k=2 cascades 1632 → 837 nodes over 8 rounds).
    // Convergence-terminated (exact per-round counts ARE the test:
    // survivors only shrink); oracle replays it as a fixed unroll,
    // post-convergence rounds are no-ops
    "kcore_decompose" -> ((s, dir) =>
      Graph.kcoreDecompose(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")),
        k = 2)),
    // k-TRUSS (r16 — Cohen's edge-peeling cohesion, the rung above
    // k-core): keep edges in >= k-2 surviving triangles, re-peel to the
    // fixpoint; per-round triangles via the degree-oriented wedge join
    // (hub-bounded O(m^1.5)). Emits converged edges + in-truss support;
    // oracle unrolls the peel with id-ordered triangle enumeration.
    // k = 3 (every edge triangle-supported): the sparse significant
    // graph's 4-truss is EMPTY at verify scale — 3 keeps the row real.
    // r17: the INCREMENTAL peel (full triangle count once, then
    // frontier-local decrement rounds) — same fixpoint, same oracle,
    // spec-pinned identical to the full-recount form; same-session A/B
    // receipt x10 6.04 vs 8.93 s, x100 36.5 vs 46.4 s (BENCH_NOTES r17)
    "ktruss_edges" -> ((s, dir) =>
      Graph.ktrussDecomposeInc(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")),
        k = 3)),
    // per-node transitivity over the same significant graph (r17):
    // Watts–Strogatz local clustering coefficient as exact e6 rationals
    // off one degree-oriented triangle pass; oracle re-enumerates
    // triangles id-ordered (a<b<c) — different join order, same set
    "local_clustering" -> ((s, dir) =>
      Graph.localClustering(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // Newman degree-mixing coefficient over the same graph (r17):
    // exact decimal sums, one double ratio operand-shared with the
    // oracle, NULL on degree-regular degeneracy
    "assortativity" -> ((s, dir) =>
      Graph.assortativity(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // hub-interconnection density at doubling degree thresholds (r17):
    // one conditional aggregation against a ≤63-row broadcast spine
    "rich_club" -> ((s, dir) =>
      Graph.richClub(
        CoOccurrence.countsFused(BasketSource.fromLineitem(s, dir))
          .filter(col("cnt") >= 2)
          .select(col("product").as("src"), col("neighbor").as("dst")))),
    // ---- relational breadth (SURVEY.md §2.1 — absent from the reference) --
    "q1_pricing" -> ((s, dir) => Relational.pricingSummary(t(s, dir, "lineitem"))),
    "q3_topk" -> ((s, dir) => Relational.revenueTopK(
      t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "join_bcast_region" -> ((s, dir) => Relational.customersPerRegion(
      t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))),
    "semi_join" -> ((s, dir) => Relational.customersWithOrders(
      t(s, dir, "customer"), t(s, dir, "orders"))),
    "anti_join" -> ((s, dir) => Relational.customersWithoutOrders(
      t(s, dir, "customer"), t(s, dir, "orders"))),
    "rollup_agg" -> ((s, dir) => Relational.rollupSummary(t(s, dir, "lineitem"))),
    "cube_agg" -> ((s, dir) => Relational.cubeSummary(t(s, dir, "orders"))),
    "distinct_agg" -> ((s, dir) => Relational.distinctCounts(t(s, dir, "lineitem"))),
    "set_ops" -> ((s, dir) => Relational.setOps(
      t(s, dir, "customer"), t(s, dir, "orders"))),
    "topk_orders" -> ((s, dir) => Relational.topOrders(t(s, dir, "orders"))),
    "outer_join_agg" -> ((s, dir) => Relational.customerOrderStats(
      t(s, dir, "customer"), t(s, dir, "orders"))),
    "full_outer_presence" -> ((s, dir) => Relational.orderPresence(t(s, dir, "orders"))),
    "above_avg_orders" -> ((s, dir) => Relational.aboveAvgOrders(t(s, dir, "orders"))),
    "pivot_status" -> ((s, dir) => Relational.priorityPivot(t(s, dir, "orders"))),
    "unpivot_status" -> ((s, dir) => Relational.priorityUnpivot(t(s, dir, "orders"))),
    "array_funcs" -> ((s, dir) =>
      Relational.arrayFunctions(BasketSource.fromLineitem(s, dir))),
    // correlated scalar subqueries through the SQL front end — Catalyst
    // decorrelates both into aggregate+join (no per-row re-execution);
    // sum·count comparison in exact decimals avoids cross-engine avg()
    // double drift
    "above_nation_avg" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
              (SELECT count(*) FROM customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
            > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")
    }),
    // correlated LATERAL subquery (SQL:2016 lateral derived table) with
    // per-row ORDER BY + LIMIT — the "top-N per group" SQL surface;
    // Catalyst decorrelates it into a ranked window join
    "lateral_topk" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
    }),
    "date_funcs" -> ((s, dir) => Relational.dateFunctions(t(s, dir, "orders"))),
    "scalar_funcs" -> ((s, dir) => Relational.scalarFunctions(t(s, dir, "part"))),
    // regexp family: replace-all (DuckDB needs the 'g' flag to match
    // Spark's replace-all default), group-0 extract ('' on no match on
    // both engines), boolean match, digit-count via negated-class strip
    "regex_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
          col("p_partkey"),
          regexp_replace(col("p_brand"), "[0-9]+", "#").as("brand_masked"),
          regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
          col("p_name").rlike("[0-9]").as("name_has_digits"),
          length(regexp_replace(col("p_brand"), "[^0-9]", "")).cast("long")
            .as("n_digit_chars"),
          split(col("p_type"), " ").getItem(0).as("type_head"))
        .orderBy(col("p_partkey"))),
    "set_ops_all" -> ((s, dir) => Relational.setOpsAll(t(s, dir, "orders"))),
    "grouping_sets" -> ((s, dir) => Relational.groupingSets(t(s, dir, "lineitem"))),
    "exact_median" -> ((s, dir) => Relational.exactMedian(t(s, dir, "lineitem"))),
    "exact_quantiles" -> ((s, dir) => Relational.exactQuantiles(t(s, dir, "lineitem"))),
    // mergeable fixed-width CDF sketch + integer-interpolated percentile
    // estimates — the SKETCH-ONLY primary (r16, VERDICT r15 item 2): one
    // partial-aggregable bucket-count pass, window/join work confined to
    // the tiny bucket relation. The ExactRank measured-error leg moved
    // to the `_audit` twin below, where its x100 cost is the audit's by
    // declaration instead of riding the primary.
    "quantile_sketch" -> ((s, dir) =>
      Relational.quantileSketchOnly(t(s, dir, "lineitem"))),
    // the measured-error AUDIT twin (the lsh_recall discipline): same
    // estimates JOINED with the exact rank-t truth, so the sketch's
    // absolute error is a hash-gated VALUE — a resolution regression
    // fails the driver compare instead of hiding behind a tolerance
    "quantile_sketch_audit" -> ((s, dir) =>
      Relational.quantileSketch(t(s, dir, "lineitem"))),
    // the MERGE of the sketch driven end-to-end (r15): per-micro-batch
    // bucket partials written exactly-once (foreachBatch batch_id
    // partitions, across a forced stop/restart), merged by one
    // groupBy-sum, and fed to the SAME estimate tail — bit-identical to
    // the one-shot sketch, so it shares quantile_sketch's oracle text.
    // This is the sketch's 100 TB selling point made a gate: partials
    // from any slicing of the data recombine exactly.
    "quantile_stream" -> ((s, dir) =>
      withStreamStage(dir, "graft_qsk_stream") { stage =>
        val in = stage + "/in"; val sink = stage + "/sink"
        val ckpt = stage + "/ckpt"
        val li = Relational.quantileValues(t(s, dir, "lineitem"))
        def run(): Unit = {
          val stream = s.readStream.schema(li.schema)
            .option("maxFilesPerTrigger", 2).parquet(in)
          val q = stream.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.streaming.StreamingOps.writeBatchIdempotent(
                Relational.quantileBuckets(b, 100000L), sink, id)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        li.filter(col("l_orderkey") % 2 === 0).repartition(2)
          .write.mode("overwrite").parquet(in)
        run() // phase 1: drains the even half, clean stop
        li.filter(col("l_orderkey") % 2 =!= 0).repartition(2)
          .write.mode("append").parquet(in)
        run() // phase 2: restart from the checkpoint — new files only
        // materialize the merged partials before withStreamStage deletes
        // the staging dir (the returned plan must not scan it lazily)
        graft.sources.TableSink.saveTable(
          s.read.parquet(sink).groupBy(col("b"))
            .agg(sum(col("cnt")).as("cnt")),
          "graft_quantile_partials")
        // estimate tail over the merged partials only — bit-identical to
        // the one-shot sketch-only primary, whose oracle text it shares
        Relational.quantileEstimate(
          s.table("graft_quantile_partials"), 100000L,
          Seq(1, 5, 25, 50, 75, 95, 99))
      }),
    // the exact-rank primitive as a PUBLIC operator over arbitrary
    // (group, order) columns: row_number + count(*) per group WITHOUT a
    // per-group window task. o_orderstatus has THREE values — a window
    // would be a 3-task ceiling at any cluster size; the range-partitioned
    // counter+offset shape ranks at full cluster width. (o_totalprice,
    // o_orderkey) is unique, so the ordering — and the ranks — are
    // deterministic.
    "order_rank" -> ((s, dir) =>
      ExactRank.exactRank(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")),
          groupCols = Seq("o_orderstatus"),
          orderCols = Seq("o_totalprice", "o_orderkey"))
        .orderBy(col("o_orderkey"))),
    // exact rank-based feature transform: value → empirical quantile
    // within its group, via the same window-free ExactRank machinery
    "quantile_normalize" -> ((s, dir) =>
      Relational.quantileNormalize(t(s, dir, "orders"),
        "o_orderstatus", "o_totalprice", "o_orderkey")),
    // declarative data-quality gate (the Deequ shape): named constraint
    // checks as one conditional-aggregate pass + an anti-join orphan scan
    "dq_checks" -> ((s, dir) =>
      Relational.dqChecks(t(s, dir, "lineitem"), t(s, dir, "orders"))),
    // privacy gate: quasi-identifier group-size audit (re-identifiable
    // rows live in groups smaller than k)
    // MDM survivorship after entity resolution: field-level survivors
    // by explicit rules (richest-member identity, field max, mode)
    "golden_record" -> ((s, dir) =>
      Relational.goldenRecord(t(s, dir, "customer"))),
    "k_anonymity" -> ((s, dir) =>
      Relational.kAnonymity(t(s, dir, "customer"))),
    // the diversity half of the privacy audit (r14 — the attack
    // k-anonymity misses: a uniform-sensitive group discloses even at
    // size k): distinct l-diversity over the balance band, with the
    // skew count as an exact-integer entropy stand-in
    "l_diversity" -> ((s, dir) =>
      Relational.lDiversity(t(s, dir, "customer"))),
    // the distribution half of the privacy audit (the attack
    // l-diversity misses: a diverse group whose sensitive distribution
    // skews far from the table's): ordered-EMD t-closeness over the
    // same balance band, e6-quantized exact-integer arithmetic
    "t_closeness" -> ((s, dir) =>
      Relational.tCloseness(t(s, dir, "customer"))),
    // privacy gate, release half: ε-DP Laplace-noised corpus histogram
    // with a seeded (oracle-replayable) noise derivation
    "dp_histogram" -> ((s, dir) =>
      Relational.dpHistogram(t(s, dir, "documents"))),
    // the selection half of the DP release pair: seeded-Laplace noisy
    // counts, top-k by noisy count (repeated noisy-max)
    "dp_topk" -> ((s, dir) =>
      Relational.dpTopK(t(s, dir, "documents"))),
    // the numeric third of the DP release family (r15): clipped-sum
    // mean with sensitivity clip/n, the same seeded md5-Laplace
    // derivation — verification artifact, not a private release (the
    // dp_histogram contract)
    "dp_mean" -> ((s, dir) =>
      Relational.dpMean(t(s, dir, "documents"))),
    // BAND join (r14 — fuzzy numeric matching as an EQUI-join: bucket
    // blocking at bucket width = band, supplier side exploded ±1, exact
    // |diff| filter on candidates — a bare range predicate would plan
    // as BroadcastNestedLoopJoin, O(|S|·|C|))
    "band_join" -> ((s, dir) =>
      Relational.bandJoin(t(s, dir, "supplier"), t(s, dir, "customer"))),
    // POISSON bootstrap CI replicates (r14 — the distributed bootstrap:
    // per-row Poisson(1) weights from the house md5 uniform through a
    // precomputed e6 inverse-CDF ladder, so the resample is row-local,
    // deterministic, and oracle-replayable; B ordered means ARE the CI)
    "bootstrap_ci" -> ((s, dir) =>
      Relational.bootstrapCi(t(s, dir, "orders"))),
    // exact moments→correlation: deterministic twin of corr/covar_pop
    "corr_stats" -> ((s, dir) => Relational.corrStats(t(s, dir, "lineitem"))),
    // Theil-Sen robust slope over a bounded deterministic head: exact
    // lower median of pairwise IEEE slopes (29% contamination tolerance
    // where one corrupt row moves OLS arbitrarily)
    "theil_sen" -> ((s, dir) => Relational.theilSen(t(s, dir, "lineitem"))),
    // CUPED variance-reduced experiment readout: md5-bucket assignment,
    // pre-period covariate, pooled theta from exact DECIMAL moments
    "cuped_adjust" -> ((s, dir) =>
      Relational.cupedAdjust(t(s, dir, "orders"))),
    // RFM customer segmentation (r15 — the classic retail value cut in
    // the reference's own market-basket domain): recency/frequency/
    // monetary per customer, each scored into EXACT quartiles via three
    // window-free ExactRank passes (the curriculum_order tier idiom),
    // composed into the 3-digit RFM code
    "rfm_segment" -> ((s, dir) =>
      Relational.rfmSegment(t(s, dir, "orders"))),
    // Codex pass@k estimator: per problem 1 - C(n-c,k)/C(n,k) via the
    // k-step sequentially-floored e6 product (BIGINT-safe at any n)
    "pass_at_k" -> ((s, dir) =>
      Relational.passAtK(t(s, dir, "orders"))),
    // rank (Spearman) correlation: monotone-invariant dependence via two
    // window-free ExactRank passes + exact long moments (e6 contract)
    "spearman_corr" -> ((s, dir) =>
      Relational.spearmanCorr(t(s, dir, "lineitem"))),
    // grouped OLS from the same exact power-sum pass as corr_stats
    "regression_stats" -> ((s, dir) =>
      Relational.regressionStats(t(s, dir, "lineitem"))),
    // robust outlier scoring: exact median/MAD per event_type via two
    // public ExactRank passes, row-local modified z — no per-group window
    "robust_zscore" -> ((s, dir) => Relational.robustZscore(eventsTable(s, dir))),
    // exact-percentile clipping (robust feature scaling): per-type P5/P95
    // order statistics via window-free ExactRank, broadcast clamp-back
    "winsorize" -> ((s, dir) => Relational.winsorize(eventsTable(s, dir))),
    // one-pass long-format column profile (exact distincts via Expand)
    "profile_table" -> ((s, dir) =>
      Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"))),
    // SCD2 merge-apply over a synthetic CDC batch: mod-7 keys change
    // acctbal (+100), mod-11 keys re-deliver unchanged rows (idempotent
    // no-op) — close+insert vs pass-through both driver-checked
    "scd2_apply" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val current = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("1995-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      val updates = c
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          lit("1997-06-01").cast("timestamp").as("change_ts"))
      Scd.scd2Apply(current, updates, "c_custkey", Seq("c_name", "c_acctbal"))
        .orderBy(col("c_custkey"), col("valid_from"))
    }),
    // the other half of the CDC story: PRODUCE a change feed by diffing
    // two keyed snapshots — one fingerprinted full-outer join, row-local
    // insert/delete/update classification (see Scd.snapshotDiff). The two
    // snapshots derive deterministically from orders: keys % 89 == 0 are
    // absent from the old snapshot (inserts), % 97 == 0 absent from the
    // new (deletes), % 10 == 0 get a doubled price in the new (updates).
    "snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldSnap = orders.filter(col("o_orderkey") % 89 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),
    // the CDC round-trip identity, driver-checked: applying the payload
    // diff of (old -> new) onto old MUST reconstruct new exactly — the
    // oracle is simply the new snapshot. Untouched rows ride a
    // broadcastable keys-only anti join (the base never shuffles).
    "cdc_upsert" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldSnap = orders.filter(col("o_orderkey") % 89 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      // upsertApply consumes the feed twice (anti-join keys + images);
      // a real pipeline passes a materialized CDC batch, so a DERIVED
      // feed persists DISK_ONLY first — else the diff join runs twice
      // at snapshot scale.
      val feed = CacheScope.persist(
        Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
          includePayload = true),
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      Scd.upsertApply(oldSnap, feed, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),
    // exact Gini coefficient of customer spend (r16 — rank-weighted
    // closed form over ONE ExactRank pass, all integer/decimal; the
    // concentration diagnostic for sampling/capping decisions)
    "gini_concentration" -> ((s, dir) =>
      Relational.giniConcentration(t(s, dir, "orders"))),
    // join-key skew profile (r16): top-20 hottest keys, exact share,
    // uniformity factor — the pre-shuffle diagnostic for salted joins
    "skew_profile" -> ((s, dir) =>
      Relational.skewProfile(t(s, dir, "lineitem"), "l_partkey")),
    "string_agg" -> ((s, dir) =>
      Relational.stringAgg(t(s, dir, "supplier"), t(s, dir, "nation"))),
    "value_histogram" -> ((s, dir) => Relational.valueHistogram(eventsTable(s, dir))),
    // day-of-week × hour seasonal baseline + per-cell residual extremes
    // (r15 — the de-seasonalization profile an event-rate monitor needs
    // before calling anything an anomaly); ≤168 cells, broadcast-joined
    // back for residuals, all integer cents
    "seasonal_profile" -> ((s, dir) =>
      Events.seasonalProfile(eventsTable(s, dir))),
    // hourly Fano factor per type (r17 — overdispersion vs Poisson,
    // zero hours entering through the span length alone; exact
    // decimal moments, e6 floor division)
    "burstiness" -> ((s, dir) =>
      Events.burstiness(eventsTable(s, dir))),
    // MAD robust outlier profile per event type (r16 — Hampel's
    // median-absolute-deviation cut): exact lower medians via two
    // ExactRank passes, 3·MAD outlier counts, all integer cents
    "mad_outliers" -> ((s, dir) =>
      Events.madOutliers(eventsTable(s, dir))),
    "q5_local_supplier" -> ((s, dir) => Relational.localSupplierRevenue(
      t(s, dir, "region"), t(s, dir, "nation"), t(s, dir, "customer"),
      t(s, dir, "supplier"), t(s, dir, "orders"), t(s, dir, "lineitem"))),
    // approx sketches (HLL / KLL): the sketches stay in the plan, but the
    // driver-facing columns are oracle-checkable — exact count_distinct
    // plus accuracy-contract booleans (sketch within tolerance of the
    // exact value). The oracle emits the exact counts and literal TRUE;
    // a sketch drifting out of tolerance flips the boolean and fails the
    // hash compare. Numeric sketch accuracy is additionally asserted in
    // PipelineSpec.
    "approx_stats" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("ap"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("am"),
          expr("percentile(l_quantity, array(0.45, 0.55))").as("p"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("approx_parts_within_5pct"),
          (col("am") >= element_at(col("p"), 1) &&
            col("am") <= element_at(col("p"), 2)).as("approx_median_within_decile"))
        .orderBy(col("l_returnflag"))),
    // ---- analytic windows + sessionization over events ------------------
    "window_rank" -> ((s, dir) => Events.userWindows(eventsTable(s, dir))),
    "window_frames" -> ((s, dir) => Events.userFrames(eventsTable(s, dir))),
    "window_distributions" -> ((s, dir) =>
      Events.userDistributions(eventsTable(s, dir))),
    "sessionize" -> ((s, dir) => Events.sessionize(eventsTable(s, dir))),
    "session_window_agg" -> ((s, dir) => Events.sessionWindowAgg(eventsTable(s, dir))),
    "hourly_counts" -> ((s, dir) => Events.hourlyCounts(eventsTable(s, dir))),
    // sparse-signal forward fill: value observed only on purchases,
    // carried per user by a last(ignoreNulls) frame — verbatim carry,
    // hash-exact; user-cardinality window partitions
    "locf_fill" -> ((s, dir) => Events.locfFill(eventsTable(s, dir))),
    // aggregate-table IVM: merge(partials(old), delta) == full recompute
    // — same oracle text as hourly_counts, the cooccur_incremental
    // convention applied to the aggregate-maintenance algebra
    "hourly_counts_incremental" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      Events.hourlyCountsMerge(
        Events.hourlyCountsPartials(ev.filter(col("event_id") % 10 =!= 0)),
        ev.filter(col("event_id") % 10 === 0))
    }),
    "latest_events" -> ((s, dir) => Events.latestEvents(eventsTable(s, dir))),
    "sliding_counts" -> ((s, dir) => Events.slidingCounts(eventsTable(s, dir))),
    // ordered funnel: earliest per-stage timestamps with stage-order
    // constraints (view → click → purchase), per user
    "funnel_steps" -> ((s, dir) => Events.funnelSteps(eventsTable(s, dir))),
    // PrefixSpan-semantics sequential patterns up to length 3 over
    // per-user event sequences — containment via position summaries,
    // O(t^2) per user, never a subsequence scan
    "seq_patterns" -> ((s, dir) =>
      Events.seqPatterns(eventsTable(s, dir))),
    // U-shaped attribution: per purchase journey 40/20/40 exact-e6
    // credit over its touches, remainder to the last touch, rolled up
    // by channel — credit conserves to 1e6 per attributed journey
    "attribution_touch" -> ((s, dir) =>
      Events.attributionTouch(eventsTable(s, dir))),
    // first-order Markov transition matrix over per-user event streams
    "event_transitions" -> ((s, dir) => Events.transitionMatrix(eventsTable(s, dir))),
    // first-seen day cohorts x activity-day offsets with retention rates
    "cohort_retention" -> ((s, dir) => Events.cohortRetention(eventsTable(s, dir))),
    // exact-integer EWMA (alpha=1/2): cents quantization + a shiftright
    // fold over each user's time-sorted events — sequential smoothing
    // WITHOUT a window over raw events, hash-exact vs the oracle's fold
    "ewma_value" -> ((s, dir) => Events.ewmaValue(eventsTable(s, dir))),
    // CUSUM drift monitor: exact-integer max(0, s + d) fold per user;
    // the oracle replays it via the prefix-sum/running-min closed form
    "cusum_alerts" -> ((s, dir) => Events.cusumAlerts(eventsTable(s, dir))),
    // dense hourly grid + forward fill: the gap-filling resample ahead
    // of any fixed-step time-series model; window only over the
    // calendar-bounded grid, never raw events
    "resample_ffill" -> ((s, dir) => Events.resampleFfill(eventsTable(s, dir))),
    // semi-structured column breadth: the same JSON field through BOTH
    // parse paths (path extraction and schema'd from_json) — emitting the
    // two must-agree columns makes the hash gate also a parser
    // cross-check; per-type aggregation exercises JSON values in keys
    "json_funcs" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      ev.select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          from_json(col("props"), "k BIGINT", new java.util.HashMap[String, String]())
            .getField("k").as("k_struct"))
        .withColumn("k_mod", col("k_path") % 7)
        .orderBy(col("event_id"))
    }),
    // Spark 4's VARIANT type (r14): the semi-structured column path —
    // parse once into the binary variant encoding, extract typed
    // scalars lazily (the open-schema ingestion shape: at 100 TB you
    // parse JSON text ONCE at ingest and every downstream reader does
    // cheap typed extraction instead of re-parsing strings). Registered
    // presentation extracts scalars, so the driver can hash them; the
    // oracle is the equivalent JSON-path read.
    "variant_funcs" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      ev.select(col("event_id"), col("event_type"),
          parse_json(col("props")).as("v"))
        .select(col("event_id"), col("event_type"),
          try_variant_get(col("v"), "$.k", "long").as("k_var"),
          // a missing path extracts to SQL NULL, never an error — the
          // open-schema contract
          try_variant_get(col("v"), "$.missing", "long").isNull
            .as("missing_is_null"))
        .orderBy(col("event_id"))
    }),
    // as-of join (backward): latest purchase at-or-before each click.
    // Duplicate-(user_id, ts) purchases resolve INSIDE asOf (max payload
    // struct — p_event_id is the first payload field, so the max-event_id
    // row wins, matching the oracle's ORDER BY event_id DESC dedupe);
    // DuckDB ASOF's own tie choice is unspecified, hence the QUALIFY twin.
    // Goes through asOfAuto — the recommended entry point: it probes the
    // hottest key with one partial-aggregable pass and silently upgrades
    // to the bucketized plan when a key's volume would pin one window
    // task (here no user is hot, so the plain one-shuffle plan is chosen
    // and the hash is unchanged).
    "asof_join" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"),
          col("value").as("p_value"))
      TemporalJoin.asOfAuto(clicks, purchases, "user_id", "ts",
          Seq("p_event_id", "p_value"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("_asof.p_event_id").as("purchase_event_id"),
          col("_asof.p_value").as("purchase_value"))
        .orderBy(col("event_id"))
    }),
    // the hot-key-safe as-of variant: per-(key, hour-bucket) parallelism,
    // same semantics (equivalence-tested in TemporalJoinSpec), same oracle
    "asof_join_bucketized" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"),
          col("value").as("p_value"))
      TemporalJoin.asOfBucketized(clicks, purchases, "user_id", "ts",
          Seq("p_event_id", "p_value"), bucketSec = 3600)
        .select(col("event_id"), col("user_id"), col("value"),
          col("_asof.p_event_id").as("purchase_event_id"),
          col("_asof.p_value").as("purchase_value"))
        .orderBy(col("event_id"))
    }),
    "proximity_pairs" -> ((s, dir) =>
      TemporalJoin.proximityPairs(eventsTable(s, dir))),
    // the two-sided (stream-stream-shaped) interval join in batch form:
    // purchases within 5 minutes AFTER each click, heterogeneous sides —
    // the batch-parity twin of StreamingOps.joinStreams
    "interval_join" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      TemporalJoin.intervalJoin(clicks, purchases, "user_id",
          "click_ts", "purchase_ts", 300)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("delta_us"), col("purchase_value"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),
    // the stream-STREAM interval join driver-checked: the same staged
    // events feed two independent file-source streams (clicks, purchases),
    // watermarked on BOTH sides and joined on user + a two-sided
    // event-time bound — the state-expiry requirement that separates a
    // runnable stream-stream join from an unbounded-state one — run to
    // completion under availableNow into an append memory sink. With no
    // maxFilesPerTrigger set, the file source serves ALL staged files as
    // a SINGLE micro-batch (watermarks only advance between batches), so
    // watermark eviction (spec-tested in StreamingSpec) can't drop
    // in-window matches of this historical replay while the read still
    // parallelizes across files — and the result equals the batch twin
    // bit-for-bit: same oracle text as interval_join.
    "interval_join_stream" -> ((s, dir) => withStreamStage(dir, "graft_ij_stream") { stage =>
      // each side staged into its own directory: a stream's source filter
      // does not prune the file scan (the source reads the whole
      // directory, the filter runs post-read), so splitting at stage time
      // is the streaming analogue of partition pruning. ONE partitionBy
      // write, not two filtered writes — the events relation is scanned
      // once however many sides there are (at 100 TB the staging scan IS
      // the cost; r11 floor decomposition in BENCH_NOTES). Each side then
      // streams its partition directory, restoring the path-encoded
      // partition column as a literal (the streaming source runs no
      // partition discovery under a user schema).
      eventsTable(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .write.mode("overwrite").partitionBy("event_type").parquet(stage)
      def side(tpe: String) = graft.streaming.StreamingOps
        .eventsStreamNormalized(s, s"$stage/event_type=$tpe",
          constEventType = tpe)
      val joined = graft.streaming.StreamingOps.joinStreams(
        side("click"), side("purchase"))
      val sink = "interval_join_stream_sink"
      s.catalog.dropTempView(sink)
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("delta_us"),
          col("purchase_value"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),
    // NINTH streaming query — LEFT-OUTER stream-stream interval join:
    // NULL-purchase rows emit only once the watermark PROVES no match
    // can arrive; the tail still in state at termination is withheld
    // (the oracle encodes the W − window cutoff — the part a batch
    // left join gets wrong about a live stream)
    "interval_join_stream_outer" -> ((s, dir) => withStreamStage(dir, "graft_ijo_stream") { stage =>
      // same one-scan partitionBy staging as interval_join_stream
      eventsTable(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .write.mode("overwrite").partitionBy("event_type").parquet(stage)
      def side(tpe: String) = graft.streaming.StreamingOps
        .eventsStreamNormalized(s, s"$stage/event_type=$tpe",
          constEventType = tpe)
      val joined = graft.streaming.StreamingOps.joinStreamsLeftOuter(
        side("click"), side("purchase"))
      val sink = "interval_join_stream_outer_sink"
      s.catalog.dropTempView(sink)
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("delta_us"),
          col("purchase_value"))
        .orderBy(col("user_id"), col("click_id"),
          col("purchase_id").asc_nulls_first)
    }),
  )

  /** The DuckDB oracle SQL of every registered query, keyed by name. */
  def oracleSql: Map[String, String] = oracleSqlMap

  private lazy val oracleSqlMap: Map[String, String] =
    distinctKeys("oracleSql", oracleSqlMain ++ oracleSqlRest)
}
