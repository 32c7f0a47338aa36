package graft

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{CountWindows, MapWithStateTTL, MapWithStateTWS, RunningReduce, StreamJoin, StreamingTemporalJoin, StreamingTopK, StreamingUpsert}

/** Streaming side of the benchmark: pushes the whole `events` table of a
  * scale factor through the stateful operators (MemoryStream →
  * flatMapGroupsWithState → memory sink) and blocks until everything is
  * processed — per-round throughput line items for the flagship TTL map
  * AND the rest of the stateful surface (RunningReduce, CountWindows,
  * StreamingTopK, and a RocksDB-provider TTL run), so a streaming perf
  * regression is visible round-over-round, not just the batch side.
  * Event-time TTL matches the q14 batch oracle semantics, and
  * `processAllAvailable` terminates (unlike the processing-time form —
  * see MapWithStateTTL scaladoc).
  */
object StreamingBench {

  case class BEv(event_id: Long, user_id: Long, ts: java.sql.Timestamp, cents: Long)

  /** Exact epoch µs: Timestamp.getTime is ms-truncated, sub-ms lives in
    * getNanos — matches q14's unix_micros arithmetic exactly. ONE shared
    * definition ([[graft.streaming.StreamingTransitions.tsMicros]]): a
    * local re-implementation here had already drifted to a truncating
    * `/` (wrong for pre-1970 timestamps). */
  private def micros(ts: java.sql.Timestamp): Long =
    graft.streaming.StreamingTransitions.tsMicros(ts)

  /** Per-sfDir memo of the collected feed arrays: five pipelines feed
    * the identical events table per bench round — collecting it once
    * keeps the batch-read cost out of the per-item streaming numbers.
    * (Bench is single-threaded; the memo is not synchronized.) */
  private val rowsMemo = scala.collection.mutable.HashMap.empty[String, Array[BEv]]
  private val typesMemo = scala.collection.mutable.HashMap.empty[String, Array[String]]

  private val pcMemo =
    scala.collection.mutable.HashMap.empty[String, (Array[BEv], Array[BEv])]
  private val docsMemo =
    scala.collection.mutable.HashMap.empty[String, Array[(Long, String)]]
  private val cdcMemo = scala.collection.mutable.HashMap.empty[
    String, (Array[StreamingUpsert.Change], Array[StreamingUpsert.Change])]

  /** Per-(tag, sfDir) memo of the driver-side expected-count models
    * (session boundaries, near-dup bucket replay, interval-join pair
    * counts, …). The models are deterministic functions of the feed, so
    * computing them once moves their cost out of every timed run after
    * the first — and [[prepare]] runs them BEFORE the first, so no timed
    * region ever pays model cost (VERDICT r6 item 6 / r7 item 4). */
  private val expectedMemo =
    scala.collection.mutable.HashMap.empty[(String, String), Long]
  private def memoExpected(tag: String, sfDir: String)(model: => Long): Long =
    expectedMemo.getOrElseUpdate((tag, sfDir), model)

  /** Per-tag recentProgress capture from the LAST run of each pipeline:
    * compact per-batch rows + triggerExecution/addBatch millis, rendered
    * into the bench JSON so a slow line item is adjudicable from the
    * round artifact (which micro-batch paid, engine vs harness) instead
    * of needing a debug re-run. */
  private val progressLog =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Suffix appended to recorded progress tags so a provider-wrapped
    * rerun of a pipeline (RocksDB) logs under its own key instead of
    * overwriting the HDFS-backed run's entry. Single-threaded bench. */
  private var progressSuffix = ""

  private def recordProgress(
      tag: String, query: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val batches = query.recentProgress.toSeq.map { p =>
      def ms(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)
      s"""{"b":${p.batchId},"rows":${p.numInputRows},""" +
        s""""trigger_ms":${ms("triggerExecution")},"add_batch_ms":${ms("addBatch")}}"""
    }
    progressLog(tag + progressSuffix) = batches.mkString("[", ",", "]")
  }

  /** JSON object of every captured pipeline's per-batch progress. */
  def progressJson: String =
    progressLog.map { case (tag, arr) => "\"" + tag + "\":" + arr }
      .mkString("{", ",", "}")

  /** Populate every feed and expected-count memo for `sfDir` WITHOUT
    * running any stream: Bench calls this before the timed streaming
    * passes, so both timed runs of every pipeline measure engine cost
    * only — no batch reads, no driver-side model derivation. */
  /** Hoists feeds + expected-count models out of the timed region for
    * exactly the line items `wanted` selects. Selectivity matters twice:
    * a dev-filtered run must not pay (or carry) seeds for lines it never
    * times, and — since local mode shares ONE heap between driver-side
    * memos and executor state — unneeded seeds are pure GC pressure on
    * the lines that DO run (measured: the full seed set inflated
    * streaming lines ~1.3× under the 8g default heap). Each pipeline
    * still self-seeds through the memos if prepare missed it, so a
    * mapping gap here costs timing accuracy, never correctness. */
  def prepare(spark: SparkSession, sfDir: String,
      wanted: String => Boolean = _ => true): Unit = {
    def any(names: String*): Boolean = names.exists(wanted)
    if (any("streaming_ttl_pipeline", "streaming_ttl_rocksdb",
        "streaming_tws_rocksdb",
        "streaming_session_window", "streaming_enrich",
        "streaming_temporal_join", "streaming_running_reduce",
        "streaming_count_windows", "streaming_quantiles", "streaming_ndv",
        "streaming_count_min", "streaming_dedup", "streaming_dq")) {
      val rows = eventRows(spark, sfDir)
      if (wanted("streaming_session_window")) sessionExpected(rows, sfDir)
      if (wanted("streaming_count_windows")) countWindowsExpected(rows, sfDir)
      if (wanted("streaming_quantiles")) quantilesExpected(rows, sfDir)
      if (wanted("streaming_ndv")) ndvExpected(rows, sfDir)
      if (wanted("streaming_count_min")) countMinExpected(rows, sfDir)
      if (wanted("streaming_dq")) dqSeed(spark, sfDir)
    }
    if (any("streaming_anomaly")) anomalySeed(spark, sfDir)
    if (any("streaming_topk")) {
      eventTypes(spark, sfDir); topKExpected(spark, sfDir)
    }
    if (any("streaming_interval_join", "streaming_interval_join_rocksdb")) {
      purchaseClickRows(spark, sfDir); intervalJoinExpected(spark, sfDir)
    }
    if (any("streaming_cdc_upsert")) cdcFeed(spark, sfDir)
    if (any("streaming_near_dup")) {
      docRows(spark, sfDir); nearDupExpected(spark, sfDir)
    }
    if (any("streaming_decontaminate")) {
      docRows(spark, sfDir); bloomSeed(spark, sfDir)
    }
    if (any("streaming_incremental_dedup")) incDedupSeed(spark, sfDir)
    if (any("streaming_token_budget", "streaming_ingest_card",
        "streaming_token_budget_trained", "streaming_packing"))
      tokenBudgetSeed(spark, sfDir)
    if (any("streaming_token_budget_trained")) trainedBudgetSeed(spark, sfDir)
    if (any("bpe_encode_deep")) deepBpeSeed(spark, sfDir)
    if (any("streaming_curation")) curationSeed(spark, sfDir)
    if (any("streaming_ttl_hotkey")) hotKeyFeed(spark, sfDir)
    if (any("streaming_pca")) pcaSeed(spark, sfDir)
    if (any("streaming_pca_topm")) {
      pcaSeed(spark, sfDir)
      graft.streaming.StreamingPca.axesFrom(spark, sfDir)
    }
    if (any("streaming_rrf")) rrfSeed(spark, sfDir)
    if (any("streaming_quality")) qualitySeed(spark, sfDir)
    if (any("streaming_lm_bigram")) lmSeed(spark, sfDir)
    if (any("streaming_semantic_dedup", "streaming_semantic_dedup_rocksdb"))
      semDedupSeed(spark, sfDir)
    if (any("streaming_profile_rocksdb", "streaming_profile_warm_rocksdb",
        "streaming_daily_close"))
      profileRows(spark, sfDir)
    if (any("streaming_gaps_watermarked")) gapsWmExpected(spark, sfDir)
    if (any("streaming_auc", "streaming_ks")) aucSeed(spark, sfDir)
    if (any("streaming_drift_panel")) panelSeed(spark, sfDir)
    if (any("streaming_drift")) driftSeed(spark, sfDir)
    if (any("streaming_recent_rocksdb")) transRows(spark, sfDir)
    if (any("streaming_transitions", "streaming_paths", "streaming_paths_agg",
        "streaming_funnel", "streaming_retention",
        "streaming_attribution", "streaming_session_funnel", "streaming_wau",
        "streaming_stickiness", "streaming_ab",
        "streaming_funnel_latency", "streaming_funnel_rocksdb"))
      transRows(spark, sfDir)
    if (any("streaming_ab")) abExpected(spark, sfDir)
    if (any("streaming_funnel", "streaming_funnel_rocksdb"))
      funnelExpected(spark, sfDir)
    if (any("streaming_retention")) retentionExpected(spark, sfDir)
    if (any("streaming_session_funnel")) sessionFunnelExpected(spark, sfDir)
    if (any("streaming_wau", "streaming_stickiness")) wauExpected(spark, sfDir)
    if (any("streaming_stickiness"))
      memoExpected("stickiness_dau", sfDir) {
        transRows(spark, sfDir).iterator
          .map(e => (e.user_id, Math.floorDiv(e.ts.getTime, 86400000L)))
          .toSet.size.toLong
      }
    if (any("streaming_funnel_latency")) funnelLatencyExpected(spark, sfDir)
  }

  /** Release the collected feed arrays. Bench.main calls this once the
    * streaming line items finish, so an embedded or multi-sfDir caller
    * doesn't accumulate whole collected tables for the JVM lifetime. */
  def clearMemo(): Unit = {
    rowsMemo.clear(); typesMemo.clear(); pcMemo.clear(); docsMemo.clear()
    cdcMemo.clear(); expectedMemo.clear(); incDedupMemo.clear()
    bloomMemo.clear(); tokenBudgetMemo.clear(); semMemo.clear()
    trainedBudgetMemo.clear(); deepBpeMemo.clear(); curationMemo.clear()
    hotKeyMemo.clear(); pcaBenchMemo.clear(); panelMemo.clear()
    rrfBenchMemo.clear(); qualityBenchMemo.clear(); lmBenchMemo.clear()
    aucMemo.clear()
    profileMemo.clear()
    transMemo.clear(); dqMemo.clear(); anomalyMemo.clear()
    progressLog.clear()
  }

  private def eventRows(spark: SparkSession, sfDir: String): Array[BEv] =
    rowsMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      Tables.events(spark, sfDir)
        .select(
          col("event_id"), col("user_id"), col("ts"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .as[BEv].collect()
    })

  private def eventTypes(spark: SparkSession, sfDir: String): Array[String] =
    typesMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      Tables.events(spark, sfDir).select(col("event_type")).as[String].collect()
    })

  /** Feed the two batches (cross-batch state and watermark-driven
    * cleanup both run, like a real incremental deployment), block until
    * drained, hand the sink row count to `check`. Callers with a
    * watermark must split on an event-time boundary — see
    * [[eventTimeBatches]]. */
  private def runTwoBatches[T](
      spark: SparkSession,
      stream: MemoryStream[T],
      out: org.apache.spark.sql.Dataset[_],
      batches: (IndexedSeq[T], IndexedSeq[T]),
      tag: String)(check: Long => Unit): Unit =
    runBatches(spark, stream, out, Seq(batches._1, batches._2), tag)(check)

  private def runBatches[T](
      spark: SparkSession,
      stream: MemoryStream[T],
      out: org.apache.spark.sql.Dataset[_],
      batches: Seq[IndexedSeq[T]],
      tag: String)(check: Long => Unit): Unit = {
    val sinkName = s"bench_${tag}_${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
      recordProgress(tag, query)
      if (sys.env.contains("GRAFT_BENCH_DEBUG"))
        query.recentProgress.foreach(p => System.err.println(
          s"[$tag] batch=${p.batchId} rows=${p.numInputRows} ${p.durationMs}"))
      check(spark.table(sinkName).count())
    } finally {
      query.stop()
      spark.catalog.dropTempView(sinkName)
    }
  }

  /** Two halves in full-µs event-time order, split on an event-time
    * BOUNDARY: the sort must be µs-precise (a ms-truncated key could
    * split a sub-ms tie across batches) and the cut must not land
    * inside a run of equal timestamps — Spark's late filter drops
    * ts <= watermark, so an exact-µs twin of batch 1's max event time
    * arriving in batch 2 would be discarded as late. */
  private[graft] def eventTimeBatches(rows: Array[BEv]): (IndexedSeq[BEv], IndexedSeq[BEv]) = {
    val sorted = rows.sortBy(r => (micros(r.ts), r.event_id)).toIndexedSeq
    var cut = sorted.length / 2
    while (cut < sorted.length && cut > 0 &&
      micros(sorted(cut).ts) == micros(sorted(cut - 1).ts)) cut += 1
    if (cut == sorted.length) {
      // the tie run reached the end: fall back to the nearest boundary
      // BEFORE the midpoint so the run stays whole in batch 2
      cut = sorted.length / 2
      while (cut > 0 && micros(sorted(cut).ts) == micros(sorted(cut - 1).ts)) cut -= 1
    }
    require(cut > 0 && cut < sorted.length,
      "degenerate timestamp distribution: no event-time boundary to split on — " +
        "a one-batch run would silently skip the cross-batch-state scenario")
    sorted.splitAt(cut)
  }

  private def requireCount(tag: String, expected: Long)(n: Long): Unit =
    require(n == expected, s"$tag emitted $n of $expected rows")

  /** Run `body` with shuffle partitions temporarily set to `n`:
    * streaming queries pin the value at START, so this scopes state-
    * partition sizing to queries started inside `body`. Every micro-
    * batch pays a state-store load+commit PER PARTITION (per store kind)
    * whether or not the partition holds data — a 4-group sketch pipeline
    * on 32 partitions commits 28 empty stores per batch for nothing.
    * Sizing state partitions to key cardinality/state volume is the
    * production posture; core count is the batch-side default only.
    *
    * SINGLE-THREADED by assumption: this mutates the session-global
    * `spark.sql.shuffle.partitions` and restores it in `finally` —
    * safe for the sequential bench, but a query started CONCURRENTLY in
    * the same session would silently pick up the temporary value. A
    * parallelized bench must scope the override to a dedicated
    * `SparkSession.newSession()` per line item instead. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Flagship: TTL-evicted keyed stateful map, event-time variant. */
  def ttlPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val stream = MemoryStream[BEv]
    val out = MapWithStateTTL.eventTime(
      stream.toDS().withWatermark("ts", "0 seconds"),
      ttl = 30.minutes, defaultState = 0L)(
      _.user_id, e => micros(e.ts), _.event_id)(
      (k, in, sum) => { val s2 = sum + in.cents; ((in.event_id, k, s2), s2) })
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, eventTimeBatches(rows), "ttl")(
        requireCount("ttl", rows.length.toLong)))
  }

  /** Native streaming SESSION WINDOWS (gap sessionization under
    * append-mode watermarking) — exact-count-checked against the BATCH
    * q21 aggregate: the same session boundaries must emerge
    * incrementally as from the one-shot groupBy. Emission determinism:
    * a session emits only when the watermark passes its end+gap, and
    * the watermark advances at batch START from the PREVIOUS batch's
    * max event time — so two trailing far-future flush events make
    * every real session emit inside DATA batches (no reliance on
    * no-data micro-batch scheduling). The two flush events share one
    * user and sit 10 min apart (< gap), forming a single OPEN session
    * whose end (last+30 min) always exceeds any watermark derived from
    * them — it can never emit, so the count is exact no matter how many
    * trailing no-data batches fire. (A `filter` on the flush user does
    * NOT work: Catalyst pushes deterministic predicates below the
    * EventTimeWatermark node, so filtered flush rows never reach the
    * watermark collector at all — measured, the watermark stalls.) */
  /** Expected session count from an INDEPENDENT driver-side model over
    * the memoized feed (per user: 1 + gaps ≥ 30 min between µs-sorted
    * events — an event at exactly session-end starts a new session,
    * Spark sessions are [start, end)). Replaces running the batch q21
    * aggregate inside the timed region: the check is cheaper AND
    * model-vs-engine rather than engine-vs-itself. */
  private def sessionExpected(rows: Array[BEv], sfDir: String): Long =
    memoExpected("session", sfDir) {
      val gapUs = 30L * 60 * 1000000
      rows.groupBy(_.user_id).valuesIterator.map { es =>
        val ts = es.map(e => micros(e.ts)).sorted
        1L + ts.iterator.zip(ts.iterator.drop(1)).count { case (a, b) => b - a >= gapUs }
      }.sum
    }

  def sessionWindowPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val expected = sessionExpected(rows, sfDir)
    val stream = MemoryStream[BEv]
    val out = stream.toDS().withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    val (b1, b2) = eventTimeBatches(rows)
    val maxMs = rows.iterator.map(e => micros(e.ts)).max / 1000
    def flush(minutes: Int) = IndexedSeq(
      BEv(-minutes.toLong, -1L,
        new java.sql.Timestamp(maxMs + 86400000L + minutes * 60000L), 0L))
    withStatePartitions(spark, 16)(
      runBatches(spark, stream, out, Seq(b1, b2, flush(0), flush(10)), "session")(
        requireCount("session", expected)))
  }

  /** Streaming CDC APPLY — the q42 snapshot + change set played through
    * the keyed-state materialized view ([[StreamingUpsert]]): batch 1
    * loads the orders snapshot, batch 2 applies the derived
    * update/insert/delete set; every applied change emits exactly one
    * row, so the expected count is loads + changes (content parity with
    * the batch MERGE is pinned row-for-row in StreamingUpsertSpec). */
  def cdcUpsertPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (loads, changes) = cdcFeed(spark, sfDir)
    val stream = MemoryStream[StreamingUpsert.Change]
    val out = StreamingUpsert(stream.toDS())
    withStatePartitions(spark, 16)(
      runBatches(spark, stream, out,
        Seq(loads.toIndexedSeq, changes.toIndexedSeq), "cdc")(
        requireCount("cdc", (loads.length + changes.length).toLong)))
  }

  private def cdcFeed(spark: SparkSession, sfDir: String)
      : (Array[StreamingUpsert.Change], Array[StreamingUpsert.Change]) =
    cdcMemo.getOrElseUpdate(sfDir, {
      val base = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
      val ld = base.collect().map(r => StreamingUpsert.Change(
        r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), "load"))
      val off = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0) /
        1000000000L * 1000000000L + 1000000000L
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .collect().map(r => StreamingUpsert.Change(
          r.getLong(0), r.getLong(1), "U", r.getDouble(3) + 100, "upsert"))
      val ins = base.filter(col("o_orderkey") % 17 === 0)
        .collect().map(r => StreamingUpsert.Change(
          r.getLong(0) + off, r.getLong(1), "N", r.getDouble(3), "upsert"))
      val del = base
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 10 =!= 0)
        .collect().map(r => StreamingUpsert.Change(
          r.getLong(0), 0L, "", 0.0, "delete"))
      (ld, upd ++ ins ++ del)
    })

  /** The flagship TTL pipeline on the RocksDB state store provider —
    * the 100 TB state posture (bounded heap, spill-to-disk); a
    * regression in the RocksDB round-trip cost shows up here. */
  /** Stream-static dimension ENRICHMENT — the pipeline shape that joins a
    * fact stream against a slowly-changing dimension snapshot: events
    * stream ⋈ broadcast(customer dim) on user key. The static side is
    * planned ONCE and broadcast to every micro-batch; no state store is
    * involved (stream-static inner joins are stateless — each batch
    * probes the broadcast hash relation), so this line isolates pure
    * per-batch join/plan overhead from the stateful items. Every event's
    * user has a dim row (user ids ⊂ customer keys in the testdata), so
    * the inner join emits exactly one enriched row per event — the count
    * check is exact. At 100 TB the dim side is the small one by
    * construction (dimensions grow with entities, facts with traffic);
    * a dim too big to broadcast becomes the stream-side-keyed
    * [[streaming.StreamingUpsert]] materialized view instead. */
  def enrichPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val dim = broadcast(graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")))
    val stream = MemoryStream[BEv]
    val out = stream.toDS()
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        col("c_nationkey"), col("cents"))
    runTwoBatches(spark, stream, out, eventTimeBatches(rows), "enrich")(
      requireCount("enrich", rows.length.toLong))
  }

  /** Streaming TEMPORAL (as-of) JOIN — the events stream enriched
    * against a versioned per-user dimension (two tier versions per
    * user, valid from the stream's start and midpoint) through
    * [[streaming.StreamingTemporalJoin]]'s keyed version-history state.
    * Dims ride in batch 1 ahead of the event-time-ordered fact halves,
    * so every fact finds its effective version; every fact emits exactly
    * one enriched row (matched or not) — the count check is exact.
    * Batch 2 runs with the watermark at batch 1's max event time, so the
    * retention path (evict dead versions, keep the effective one) is
    * exercised live, not just in the unit spec. */
  def temporalJoinPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val minMs = rows.iterator.map(e => micros(e.ts)).min / 1000
    val midMs = rows.iterator.map(e => micros(e.ts)).max / 1000 / 2 + minMs / 2
    val dims = rows.map(_.user_id).distinct.flatMap(u => Seq(
      StreamingTemporalJoin.dim(u, minMs, "bronze"),
      StreamingTemporalJoin.dim(u, midMs, "silver")))
    val stream = MemoryStream[StreamingTemporalJoin.Env]
    val out = StreamingTemporalJoin(
      stream.toDS().withWatermark("ts", "0 seconds"))
    val (b1, b2) = eventTimeBatches(rows)
    def facts(b: IndexedSeq[BEv]) = b.map(e =>
      StreamingTemporalJoin.fact(e.user_id, micros(e.ts) / 1000, e.cents))
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out,
        (dims.toIndexedSeq ++ facts(b1), facts(b2)), "temporal")(
        requireCount("temporal", rows.length.toLong)))
  }

  /** Run `body` with the RocksDB state store provider (queries pin the
    * provider at start, so this scopes it to queries started inside). */
  private def withRocksDB[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    progressSuffix = "_rocksdb"
    try body
    finally {
      progressSuffix = ""
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  def ttlPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark)(ttlPipeline(spark, sfDir))

  /** Hot-key feed for [[ttlHotKeyPipeline]]: the WHOLE events table
    * remapped onto ONE user key, event-time-sorted, pre-sliced into
    * [[HotKeySlices]] bounded admission chunks (memoized — the sort is
    * feed preparation, not engine work). */
  private val hotKeyMemo =
    scala.collection.mutable.Map.empty[String, Seq[IndexedSeq[BEv]]]
  private val HotKeySlices = 8

  private def hotKeyFeed(spark: SparkSession, sfDir: String): Seq[IndexedSeq[BEv]] =
    hotKeyMemo.getOrElseUpdate(sfDir, {
      val hot = eventRows(spark, sfDir)
        .map(e => e.copy(user_id = 1L))
        .sortBy(e => (micros(e.ts), e.event_id))
      val slice = math.max(1, (hot.length + HotKeySlices - 1) / HotKeySlices)
      hot.grouped(slice).map(_.toIndexedSeq).toSeq
    })

  /** HOT-KEY PROBE for the event-time TTL kernel's one documented
    * memory bound: the kernel buffers ONE KEY'S slice of ONE
    * micro-batch for its in-kernel event-time sort
    * ([[graft.streaming.TtlFold]]), so the envelope under a
    * pathological key is set by ADMISSION, not by the key's history.
    * This line drives the ENTIRE corpus through a single key in
    * [[HotKeySlices]] bounded micro-batches — each `addData` chunk is
    * one admission unit, the MemoryStream stand-in for a rate-limited
    * source's `maxOffsetsPerTrigger` — and the recorded per-batch
    * `trigger_ms` progress IS the measurement: peak batch duration
    * stays proportional to the slice, flat across batches (no
    * history-sized growth), while state holds one (sum, lastSeen)
    * envelope. Exact count model: the fold emits one row per event.
    * Slices are globally event-time ordered, so the 0-second watermark
    * never drops a row and the count is exact. */
  def ttlHotKeyPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val slices = hotKeyFeed(spark, sfDir)
    val total = slices.iterator.map(_.length.toLong).sum
    val stream = MemoryStream[BEv]
    val out = MapWithStateTTL.eventTime(
      stream.toDS().withWatermark("ts", "0 seconds"),
      ttl = 30.minutes, defaultState = 0L)(
      _.user_id, e => micros(e.ts), _.event_id)(
      (k, in, sum) => { val s2 = sum + in.cents; ((in.event_id, k, s2), s2) })
    withStatePartitions(spark, 4)(
      runBatches(spark, stream, out, slices, "ttl_hotkey")(
        requireCount("ttl_hotkey", total)))
  }

  /** The flagship pipeline on the Spark-4 `transformWithState` API
    * (MapWithStateTWS) — same feed, same running-sum kernel, same
    * exact-count check as [[ttlPipeline]], so the line is directly
    * comparable with `streaming_ttl_rocksdb` (transformWithState only
    * runs on the RocksDB provider, hence no default-provider twin). */
  def twsPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val stream = MemoryStream[BEv]
    val out = MapWithStateTWS.eventTime(
      stream.toDS().withWatermark("ts", "0 seconds"),
      ttl = 30.minutes, defaultState = 0L)(
      _.user_id, e => micros(e.ts), _.event_id)(
      (k, in, sum) => { val s2 = sum + in.cents; ((in.event_id, k, s2), s2) })
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, eventTimeBatches(rows), "tws")(
        requireCount("tws", rows.length.toLong)))
  }

  def twsPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark)(twsPipeline(spark, sfDir))

  /** `transformWithState` twin of the COUNT-WINDOW kernel (VERDICT r18
    * item 6): same feed, same expected window count as
    * [[countWindowsPipeline]], on the provider TWS requires. */
  def countWindowsTwsPipeline(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark) {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows = eventRows(spark, sfDir)
      val stream = MemoryStream[BEv]
      val out = CountWindows.keyedTws(stream.toDS(), size = 5)(
        _.user_id, e => micros(e.ts), _.event_id)(
        (k, items) => (k, items.map(_.cents).sum))
      val expected = countWindowsExpected(rows, sfDir)
      withStatePartitions(spark, 16)(
        runTwoBatches(spark, stream, out, eventTimeBatches(rows), "count_windows_tws")(
          requireCount("count_windows_tws", expected)))
    }

  /** `transformWithState` twin of the TTL'd RUNNING REDUCE (VERDICT r18
    * item 6): native TTLConfig state, per-event emission — expected
    * count matches the un-TTL'd [[runningReducePipeline]] because the
    * 30-minute ttl never elapses inside a bench run.
    *
    * Count-waited, NOT processAllAvailable: with processing-time TTL
    * state the engine always has "another batch" to run (the TTL sweep),
    * so processAllAvailable never observes quiescence and hangs —
    * the same engine behavior playByCount works around in the specs
    * (measured: the first runTwoBatches cut of this line hung >6 min). */
  def runningReduceTtlTwsPipeline(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark) {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows = eventRows(spark, sfDir)
      val stream = MemoryStream[BEv]
      val out = RunningReduce.keyedWithTtlTws(stream.toDS(), 0L, 30.minutes)(
        _.user_id, e => micros(e.ts), _.event_id)(
        (acc, e) => acc + e.cents)
      withStatePartitions(spark, 16)(
        runBatchesByCount(spark, stream, out, eventTimeBatches(rows),
          "running_reduce_ttl_tws"))
    }

  /** [[runBatches]] for pipelines whose state keeps the engine
    * perpetually non-quiescent (processing-time TTL/timeout state):
    * per-event emitters, so after each batch the sink must reach the
    * cumulative input count — waited by polling, with a dead query's
    * real exception surfaced instead of a misleading stuck-sink error. */
  private def runBatchesByCount[T](
      spark: SparkSession,
      stream: MemoryStream[T],
      out: org.apache.spark.sql.Dataset[_],
      batches: (IndexedSeq[T], IndexedSeq[T]),
      tag: String): Unit = {
    val sinkName = s"bench_${tag}_${System.nanoTime()}"
    // The wait reads a listener-accumulated output-row counter, NOT
    // spark.table(sink).count(): each count() scans the whole in-memory
    // sink AND runs a job competing with the engine's own batches, so
    // count-polling turned a 3M-row ×30 scale run super-linear (88 s vs
    // the ~linear trend) before this. recentProgress can't be summed
    // instead — the 50 ms TTL-sweep trigger floods past its 100-entry
    // retention. The listener callback is O(1) per batch.
    val emitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        // numOutputRows is -1 when a sink can't report; only fold real
        // counts so an unknown batch can't walk the counter backwards
        val n = e.progress.sink.numOutputRows
        if (e.progress.name == sinkName && n > 0) emitted.addAndGet(n): Unit
      }
    }
    spark.streams.addListener(listener)
    val query = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    // timeout still scales with the feed (×30 pushes 3M per-event rows)
    def waitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 120000 + n / 2
      while (emitted.get() < n && System.currentTimeMillis < deadline) {
        query.exception.foreach(e => throw new IllegalStateException(
          s"$tag query failed while bench waited", e))
        Thread.sleep(20)
      }
      val got = emitted.get()
      require(got == n, s"$tag sink at $got rows, expected $n")
    }
    try {
      var sent = 0L
      Seq(batches._1, batches._2).foreach { b =>
        stream.addData(b)
        sent += b.size
        waitRows(sent)
      }
      recordProgress(tag, query)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
      spark.catalog.dropTempView(sinkName)
    }
  }

  /** The HEAVIEST state shape (stream-stream interval join: 4 state
    * stores per partition, key-indexed row buffers both sides) on the
    * RocksDB provider — the provider delta that matters at 100 TB is on
    * this shape, not the single-value TTL map (VERDICT r6 item 7). */
  def intervalJoinPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark)(intervalJoinPipeline(spark, sfDir))

  /** Fixed-size, sfDir-independent CONTROL pipeline: 20k synthetic
    * events through the keyed running reduce on the same state-partition
    * count as the real items. Its cost is dominated by micro-batch +
    * state-store machinery, untouched round over round — so its drift
    * measures container load on the STREAMING segment the way
    * q2_filter_project does for the batch segment (a streaming line is
    * only a regression if it moved more than this control did). */
  def controlPipeline(spark: SparkSession): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Array.tabulate(20000) { i =>
      BEv(i.toLong, (i % 100).toLong, new java.sql.Timestamp(1700000000000L + i * 10L),
        (i % 997).toLong)
    }
    val stream = MemoryStream[BEv]
    val out = RunningReduce.keyed(stream.toDS(), 0L)(
      _.user_id, e => micros(e.ts), _.event_id)(
      (acc, e) => acc + e.cents)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, eventTimeBatches(rows), "control")(
        requireCount("control", rows.length.toLong)))
  }

  /** Keyed running reduce (B10): per-user running cents sum, one output
    * row per event. */
  def runningReducePipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val stream = MemoryStream[BEv]
    val out = RunningReduce.keyed(stream.toDS(), 0L)(
      _.user_id, e => micros(e.ts), _.event_id)(
      (acc, e) => acc + e.cents)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, eventTimeBatches(rows), "running_reduce")(
        requireCount("running_reduce", rows.length.toLong)))
  }

  /** Keyed count windows (B17): size-5 tumbling count window per user,
    * one output row per COMPLETED window (the incomplete tail stays
    * buffered in state — expected count derived from the input). */
  def countWindowsPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val stream = MemoryStream[BEv]
    val out = CountWindows.keyed(stream.toDS(), size = 5)(
      _.user_id, e => micros(e.ts), _.event_id)(
      (k, items) => (k, items.map(_.cents).sum))
    val expected = countWindowsExpected(rows, sfDir)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, eventTimeBatches(rows), "count_windows")(
        requireCount("count_windows", expected)))
  }

  private def countWindowsExpected(rows: Array[BEv], sfDir: String): Long =
    memoExpected("count_windows", sfDir)(
      rows.groupBy(_.user_id).valuesIterator.map(_.size / 5).sum.toLong)

  /** Snapshot-count model shared by the sketch pipelines: a group
    * invoked in a batch emits one snapshot row per batch. */
  private def quantilesExpected(rows: Array[BEv], sfDir: String): Long =
    memoExpected("quantiles", sfDir) {
      val groups = 4
      val batches = rows.map(_.cents.toDouble).toIndexedSeq.splitAt(rows.length / 2)
      def grp(v: Double) = math.floorMod(java.lang.Double.hashCode(v), groups)
      (0 until groups).map { g =>
        (if (batches._1.exists(grp(_) == g)) 1 else 0) +
          (if (batches._2.exists(grp(_) == g)) 1 else 0)
      }.sum.toLong
    }

  /** Streaming quantiles: QuantileSketch per group over the event value
    * stream (compacting regime — capacity 256 ≪ feed size), one
    * snapshot per invoked group per batch. */
  def quantilesPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val groups = 4
    val rows = eventRows(spark, sfDir)
    val values = rows.map(_.cents.toDouble)
    val stream = MemoryStream[Double]
    val out = graft.streaming.StreamingQuantiles.quantiles(
      stream.toDS(), groups, capacity = 256, fractions = Seq(0.25, 0.5, 0.95))
    val batches = values.toIndexedSeq.splitAt(values.length / 2)
    val expected = quantilesExpected(rows, sfDir)
    withStatePartitions(spark, groups)(
      runTwoBatches(spark, stream, out, batches, "quantiles")(
        requireCount("quantiles", expected)))
  }

  /** Streaming distinct-count: HLL registers per group over the user-id
    * stream — the classic live distinct-users metric; state is exactly
    * 2^p bytes per group however long the stream runs. */
  private def ndvExpected(rows: Array[BEv], sfDir: String): Long =
    memoExpected("ndv", sfDir) {
      val groups = 4
      val batches = rows.map(_.user_id.toString).toIndexedSeq.splitAt(rows.length / 2)
      def grp(t: String) = math.floorMod(t.hashCode, groups)
      (0 until groups).map { g =>
        (if (batches._1.exists(grp(_) == g)) 1 else 0) +
          (if (batches._2.exists(grp(_) == g)) 1 else 0)
      }.sum.toLong
    }

  def ndvPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val groups = 4
    val rows = eventRows(spark, sfDir)
    val users = rows.map(e => e.user_id.toString)
    val stream = MemoryStream[String]
    val out = graft.streaming.StreamingNdv.ndv(stream.toDS(), groups)
    val batches = users.toIndexedSeq.splitAt(users.length / 2)
    val expected = ndvExpected(rows, sfDir)
    withStatePartitions(spark, groups)(
      runTwoBatches(spark, stream, out, batches, "ndv")(
        requireCount("ndv", expected)))
  }

  /** KMV twin of [[ndvPipeline]]: same feed, same snapshot-count model
    * (one snapshot per active group per batch), the k-min state bounded
    * at KmvK longs per group. */
  def kmvPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val groups = 4
    val rows = eventRows(spark, sfDir)
    val users = rows.map(e => e.user_id.toString)
    val stream = MemoryStream[String]
    val out = graft.streaming.StreamingKmv.kmv(stream.toDS(), groups)
    val batches = users.toIndexedSeq.splitAt(users.length / 2)
    val expected = memoExpected("kmv", sfDir) {
      def grp(t: String) = math.floorMod(t.hashCode, groups)
      (0 until groups).map { g =>
        (if (batches._1.exists(grp(_) == g)) 1 else 0) +
          (if (batches._2.exists(grp(_) == g)) 1 else 0)
      }.sum.toLong
    }
    withStatePartitions(spark, groups)(
      runTwoBatches(spark, stream, out, batches, "kmv")(
        requireCount("kmv", expected)))
  }

  private val transMemo = scala.collection.mutable.HashMap
    .empty[String, Array[graft.streaming.StreamingTransitions.Ev]]

  private def transRows(spark: SparkSession, sfDir: String)
      : Array[graft.streaming.StreamingTransitions.Ev] =
    transMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[graft.streaming.StreamingTransitions.Ev].collect()
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    })

  /** Streaming transition extraction: the whole events table through
    * the last-type keyed state in two in-order batches; exactly ONE
    * output row per input event is the exact count model. */
  def transitionsPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingTransitions.transitions(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "transitions")(
        requireCount("transitions", rows.length.toLong)))
  }

  /** Streaming 3-gram journey paths (the q69 twin): the whole events
    * feed through the two-string suffix state in two in-order batches;
    * exact count model Σ_user max(0, n − 2) — every event from a
    * user's third on emits exactly one path row. */
  def pathsPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val expected = rows.groupBy(_.user_id).valuesIterator
      .map(es => math.max(0, es.length - 2).toLong).sum
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingPaths.paths(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "paths")(
        requireCount("paths", expected)))
  }

  /** The aggregated live-q69 form: path hits chained into the per-path
    * KMV/count state (two stacked append-mode flatMapGroupsWithState
    * operators in ONE query). Exact count model: one snapshot row per
    * (path TOUCHED in batch, batch) — replayed driver-side through the
    * same 3-gram state machine. */
  def pathsAggPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    val suffix = scala.collection.mutable.Map.empty[Long, (String, String)]
    val expected = Seq(batches._1, batches._2).map { b =>
      val touched = scala.collection.mutable.Set.empty[(String, String, String)]
      b.foreach { e =>
        val (p2, p1) = suffix.getOrElse(e.user_id, (null: String, null: String))
        if (p2 != null) touched += ((p2, p1, e.event_type))
        suffix.update(e.user_id, (p1, e.event_type))
      }
      touched.size.toLong
    }.sum
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingPaths.pathsAgg(stream.toDS())
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "paths_agg")(
        requireCount("paths_agg", expected)))
  }

  /** Composite-state live profile (transformWithState MapState + two
    * ValueStates; RocksDB-only by API contract): whole events feed in
    * two in-order batches. Exact count model: each batch, every
    * touched user emits one row per event type in its map — Σ over
    * batches of Σ_{touched users} |types seen so far|. */
  def profilePipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark) {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows = profileRows(spark, sfDir)
      val (b1, b2) = rows.toIndexedSeq.splitAt(rows.length / 2)
      val types1 = b1.groupBy(_.user_id).view
        .mapValues(_.map(_.event_type).toSet).toMap
      val types2 = b2.groupBy(_.user_id).view
        .mapValues(_.map(_.event_type).toSet).toMap
      val expected =
        types1.valuesIterator.map(_.size.toLong).sum +
          types2.map { case (u, ts) =>
            (types1.getOrElse(u, Set.empty) ++ ts).size.toLong
          }.sum
      val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
      val out = graft.streaming.StreamingProfile.profiles(stream.toDS())
      withStatePartitions(spark, 16)(
        runTwoBatches(spark, stream, out, (b1, b2), "profile")(
          requireCount("profile", expected)))
    }

  /** WARM-STARTED live profile: the first half of the feed enters as
    * INITIAL STATE (the batch-backfill aggregate rows, exactly what
    * `profilesFrom` takes — the lambda-architecture handoff), and only
    * the second half streams. The timed span therefore includes the
    * initial-state fold — the migration cost a backfill-then-stream
    * deployment budgets for (VERDICT r13 item 3). Exact count model:
    * one streamed batch, Σ_{users touched in it} |types seen so far|. */
  def profileWarmPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark) {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows = profileRows(spark, sfDir)
      val (b1, b2) = rows.toIndexedSeq.splitAt(rows.length / 2)
      val byUser = b1.groupBy(_.user_id)
      val init = byUser.iterator.flatMap { case (u, es) =>
        val total = es.map(_.cents).sum
        val last = es.map(e => micros(e.ts)).max
        es.groupBy(_.event_type).map { case (t, tes) =>
          graft.streaming.StreamingProfile.ProfileRow(
            u, t, tes.size.toLong, total, last)
        }
      }.toSeq
      val types1 = byUser.view.mapValues(_.map(_.event_type).toSet).toMap
      val expected = b2.groupBy(_.user_id).map { case (u, es) =>
        (types1.getOrElse(u, Set.empty[String]) ++
          es.map(_.event_type)).size.toLong
      }.sum
      val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
      val out = graft.streaming.StreamingProfile.profilesFrom(
        stream.toDS(), init.toDS())
      withStatePartitions(spark, 16)(
        runBatches(spark, stream, out, Seq(b2), "profile_warm")(
          requireCount("profile_warm", expected)))
    }

  /** Live daily-close extraction (the q74 streaming side): whole
    * events feed in two in-order batches. Exact count model:
    * Σ_user (distinct activity days − 1) — every day closes exactly
    * once except each user's still-open last day. */
  def dailyClosePipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = profileRows(spark, sfDir)
    val expected = memoExpected("daily_close", sfDir) {
      val userDays: Set[(Long, Long)] = rows.iterator
        .map(e => (e.user_id, Math.floorDiv(e.ts.getTime, 86400000L)))
        .toSet
      userDays.groupBy(_._1).valuesIterator
        .map(ds => (ds.size - 1).toLong).sum
    }
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingDailyClose.closes(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "daily_close")(
        requireCount("daily_close", expected)))
  }

  /** Stacked gap monitor (the q76 streaming side): per-user gap
    * emitter → per-type quantile sketch, two append-mode fMGWS stages.
    * Exact count model: one cumulative snapshot per (type touched by a
    * gap, batch) — a type is touched when a NON-FIRST event of some
    * user lands in the batch with that type. */
  def gapsPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = profileRows(spark, sfDir)
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    val expected = memoExpected("gaps", sfDir) {
      val seen = scala.collection.mutable.Set.empty[Long]
      Seq(batches._1, batches._2).map { b =>
        val touched = scala.collection.mutable.Set.empty[String]
        b.foreach { e =>
          if (seen.contains(e.user_id)) touched += e.event_type
          seen += e.user_id
        }
        touched.size.toLong
      }.sum
    }
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingGaps.monitor(stream.toDS())
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "gaps")(
        requireCount("gaps", expected)))
  }

  /** Watermark-driven gap emitter line (the out-of-order-safe form of
    * the gap family): the real event feed through
    * [[graft.streaming.StreamingGaps.gapsWatermarked]] at zero delay —
    * every event buffers in state until the watermark passes it, so
    * this prices the ripening buffer's write/flush machinery on top of
    * the plain emitter's. Exact count model: a gap is released for
    * every NON-FIRST per-user event strictly below the final watermark
    * (floor-millisecond of the feed's max event time at delay 0); the
    * sub-watermark tail stays buffered by contract. */
  def gapsWatermarkedPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = profileRows(spark, sfDir)
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    val expected = gapsWmExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingGaps
      .gapsWatermarked(stream.toDS(), "0 seconds")
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "gaps_wm")(
        requireCount("gaps_wm", expected)))
  }

  private def gapsWmExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("gaps_wm", sfDir) {
      val rows = profileRows(spark, sfDir)
      def usOf(e: graft.streaming.StreamingProfile.PEv) =
        graft.streaming.StreamingTransitions.tsMicros(e.ts)
      val wmUs = rows.iterator.map(usOf).max / 1000L * 1000L
      rows.groupBy(_.user_id).valuesIterator.map { es =>
        es.sortBy(e => (usOf(e), e.event_id)).drop(1)
          .count(e => usOf(e) < wmUs).toLong
      }.sum
    }

  /** Frozen reference + live feed for [[driftPipeline]], memoized per
    * sfDir. r20: the scaladoc below always CLAIMED the reference build
    * runs outside the timed region (it is the training-time artifact,
    * not serving-path work), but the pipeline rebuilt it — plus the
    * liveHalf collect — inside every timed sample (~1 s of batch jobs
    * per sample at sf0.1, JobProbe-attributed). The memo + the prepare
    * hook make the code match the documented contract — the same
    * discipline every other reference-fed pipeline (auc, panel, ks)
    * already follows. */
  private val driftMemo = scala.collection.mutable.Map.empty[String,
    (Map[String, graft.streaming.StreamingDrift.RefProfile],
      Array[graft.streaming.StreamingProfile.PEv])]
  private def driftSeed(spark: SparkSession, sfDir: String)
      : (Map[String, graft.streaming.StreamingDrift.RefProfile],
        Array[graft.streaming.StreamingProfile.PEv]) =
    driftMemo.getOrElseUpdate(sfDir, (
      graft.streaming.StreamingDrift.referenceFrom(spark, sfDir),
      graft.streaming.StreamingDrift.liveHalf(spark, sfDir)))

  /** Live chi-square drift monitor (the q79 streaming side): the
    * reference profile freezes from the batch half, the live half
    * streams in two batches. Exact count model: one cumulative row per
    * (touched type, batch). The reference build runs OUTSIDE the timed
    * region ([[driftSeed]] via prepare) — it is the training-time
    * artifact, not serving-path work. */
  def driftPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ref, live) = driftSeed(spark, sfDir)
    val batches = live.toIndexedSeq.splitAt(live.length / 2)
    val expected =
      Seq(batches._1, batches._2).map(_.map(_.event_type).toSet.size).sum.toLong
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingDrift.drift(stream.toDS(), ref)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "drift")(
        requireCount("drift", expected)))
  }

  /** Frozen reference + live feed + exact touched-type model for
    * [[aucPipeline]] (untimed prepare — the reference distribution is
    * the training-time artifact, the StreamingDrift discipline). */
  private val aucMemo = scala.collection.mutable.Map.empty[String,
    (Map[String, graft.streaming.StreamingAuc.RefDist],
      Array[graft.streaming.StreamingProfile.PEv], Long)]

  private def aucSeed(spark: SparkSession, sfDir: String):
      (Map[String, graft.streaming.StreamingAuc.RefDist],
        Array[graft.streaming.StreamingProfile.PEv], Long) =
    aucMemo.getOrElseUpdate(sfDir, {
      val ref = graft.streaming.StreamingAuc.referenceFrom(spark, sfDir)
      val live = graft.streaming.StreamingDrift.liveHalf(spark, sfDir)
      val (b1, b2) = live.toIndexedSeq.splitAt(live.length / 2)
      // only reference-known types emit (the kernels skip live-only
      // types) — count against ref.keySet like panelSeed does
      val expected = Seq(b1, b2)
        .map(_.map(_.event_type).toSet.count(ref.keySet)).sum.toLong
      (ref, live, expected)
    })

  /** Live AUC / Mann-Whitney monitor (the q84 streaming side): the
    * live half streams against the frozen reference distribution in
    * two micro-batches — two longs of state per type. Exact count
    * model: one cumulative row per (touched type, batch); the final
    * rows are bit-equal to batch q84 (StreamingAucSpec pins that). */
  def aucPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ref, live, expected) = aucSeed(spark, sfDir)
    val batches = live.toIndexedSeq.splitAt(live.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingAuc.auc(stream.toDS(), ref)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "auc")(
        requireCount("auc", expected)))
  }

  /** Live KS monitor (the q83 streaming side, completing the drift
    * trio): same frozen reference + live half as [[aucPipeline]]
    * (shared seed), state = one value-domain-bounded histogram per
    * type. Exact count model: one cumulative row per (touched type,
    * batch); final rows bit-equal to batch q83 (StreamingKsSpec). */
  def ksPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ref, live, expected) = aucSeed(spark, sfDir)
    val batches = live.toIndexedSeq.splitAt(live.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingKs.ks(stream.toDS(), ref)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "ks")(
        requireCount("ks", expected)))
  }

  /** Both frozen artifacts + live feed + exact touched-type model for
    * [[driftPanelPipeline]] (untimed prepare): the panel emits one row
    * per (touched type ∩ both artifacts, batch). */
  private val panelMemo = scala.collection.mutable.Map.empty[String,
    (Map[String, graft.streaming.StreamingAuc.RefDist],
      Map[String, graft.streaming.StreamingDrift.RefProfile],
      Array[graft.streaming.StreamingProfile.PEv], Long)]

  private def panelSeed(spark: SparkSession, sfDir: String):
      (Map[String, graft.streaming.StreamingAuc.RefDist],
        Map[String, graft.streaming.StreamingDrift.RefProfile],
        Array[graft.streaming.StreamingProfile.PEv], Long) =
    panelMemo.getOrElseUpdate(sfDir, {
      val (dists, profs) =
        graft.streaming.StreamingDriftPanel.referencesFrom(spark, sfDir)
      val live = graft.streaming.StreamingDrift.liveHalf(spark, sfDir)
      val keys = dists.keySet intersect profs.keySet
      val (b1, b2) = live.toIndexedSeq.splitAt(live.length / 2)
      val expected = Seq(b1, b2)
        .map(_.map(_.event_type).toSet.count(keys)).sum.toLong
      (dists, profs, live, expected)
    })

  /** Live drift panel (report_drift_panel's streaming side): ONE
    * histogram state per type prices chi-square + KS + U/AUC per
    * micro-batch; final rows bit-equal to the batch panel
    * (StreamingDriftPanelSpec pins that). */
  def driftPanelPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (dists, profs, live, expected) = panelSeed(spark, sfDir)
    val batches = live.toIndexedSeq.splitAt(live.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingDriftPanel.panel(stream.toDS(), dists, profs)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "drift_panel")(
        requireCount("drift_panel", expected)))
  }

  /** Stacked daily-close → EWMA feed (the q75 streaming side): two
    * append-mode fMGWS stages on the same user key. Exact count model
    * is the daily-close one — every closed (user, day) smooths into
    * exactly one row. */
  def ewmaPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = profileRows(spark, sfDir)
    val expected = memoExpected("daily_close", sfDir) {
      val userDays: Set[(Long, Long)] = rows.iterator
        .map(e => (e.user_id, Math.floorDiv(e.ts.getTime, 86400000L)))
        .toSet
      userDays.groupBy(_._1).valuesIterator
        .map(ds => (ds.size - 1).toLong).sum
    }
    val stream = MemoryStream[graft.streaming.StreamingProfile.PEv]
    val out = graft.streaming.StreamingEwma.ewma(
      graft.streaming.StreamingDailyClose.closes(stream.toDS()))
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "ewma")(
        requireCount("ewma", expected)))
  }

  /** ListState recent-events buffer (transformWithState; RocksDB-only
    * by API contract): exact count model — one snapshot row per
    * (touched user, batch). */
  def recentPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark) {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows = transRows(spark, sfDir)
      val (b1, b2) = rows.toIndexedSeq.splitAt(rows.length / 2)
      val expected =
        b1.map(_.user_id).distinct.size.toLong +
          b2.map(_.user_id).distinct.size.toLong
      val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
      val out = graft.streaming.StreamingRecent.recent(stream.toDS())
      withStatePartitions(spark, 16)(
        runTwoBatches(spark, stream, out, (b1, b2), "recent")(
          requireCount("recent", expected)))
    }

  private val profileMemo =
    scala.collection.mutable.Map.empty[String, Array[graft.streaming.StreamingProfile.PEv]]

  private def profileRows(spark: SparkSession, sfDir: String)
      : Array[graft.streaming.StreamingProfile.PEv] =
    profileMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .as[graft.streaming.StreamingProfile.PEv].collect()
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    })

  /** Σ of batch q50's four cohort counters — the funnel line's exact
    * output-row model (every stage advancement emits exactly one row). */
  private def funnelExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("funnel", sfDir) {
      graft.operators.Relational.q50Funnel(spark, sfDir).collect()
        .map(r => r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4)).sum
    }

  /** Streaming conversion funnel: the whole events table through the
    * per-user stage machine (three-longs GroupState) in two in-order
    * batches; output rows == Σ batch-q50 cohort counters. */
  def funnelPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val expected = funnelExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingFunnel.stages(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "funnel")(
        requireCount("funnel", expected)))
  }

  /** Streaming last-touch attribution: the whole events table through
    * the one-touch-per-user state in two in-order batches; exactly ONE
    * output row per purchase event is the exact count model. */
  def attributionPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val expected = memoExpected("attribution", sfDir) {
      rows.count(_.event_type == "purchase").toLong
    }
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingAttribution.hits(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "attribution")(
        requireCount("attribution", expected)))
  }

  /** Streaming DQ monitor: the events feed with deterministic planted
    * violations (every 89th an orphan user, 97th a non-positive amount,
    * 101st above-cap) screened by stream-static anti join + scan rules
    * in two batches; output rows == the driver-side violation model. */
  private val dqMemo = scala.collection.mutable.HashMap
    .empty[String, (Array[graft.streaming.StreamingDq.Fact], Long)]

  /** Planted feed + expected violation count for [[dqPipeline]], built
    * once per sfDir in the untimed prepare (the model discipline:
    * no timed region pays model cost). */
  private def dqSeed(spark: SparkSession, sfDir: String)
      : (Array[graft.streaming.StreamingDq.Fact], Long) =
    dqMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      import graft.streaming.StreamingDq
      val rows = eventRows(spark, sfDir)
      val facts = rows.zipWithIndex.map { case (e, i) =>
        StreamingDq.Fact(
          e.event_id,
          if (i % 89 == 0) e.user_id + 1000000000000L else e.user_id,
          if (i % 97 == 0) -5L
          else if (i % 101 == 0) StreamingDq.CentsCap + 7L
          else e.cents)
      }
      val userSet = Tables.customer(spark, sfDir)
        .select(col("c_custkey")).as[Long].collect().toSet
      val expected =
        (facts.count(f => !userSet(f.user_id)) +
          facts.count(_.cents <= 0L) +
          facts.count(_.cents > StreamingDq.CentsCap)).toLong
      (facts, expected)
    })

  def dqPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDq
    val (facts, expected) = dqSeed(spark, sfDir)
    val users = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"))
    val stream = MemoryStream[StreamingDq.Fact]
    val out = StreamingDq.violations(stream.toDS(), users)
    val batches = facts.toIndexedSeq.splitAt(facts.length / 2)
    runTwoBatches(spark, stream, out, batches, "dq")(
      requireCount("dq", expected))
  }

  /** [[funnelPipeline]] on the RocksDB provider — the product-analytics
    * keyed state (three longs per user, whole user population as keys)
    * on the 100 TB large-state posture. */
  def funnelPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark)(funnelPipeline(spark, sfDir))

  /** Σ of batch q56's `n_converted` — the conversion-latency line's
    * exact output-row model (one lag per converting user). */
  private def funnelLatencyExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("funnel_latency", sfDir) {
      graft.operators.Relational.q56FunnelLatency(spark, sfDir).collect()
        .map(_.getLong(1)).sum
    }

  /** Streaming conversion latency: the events table through the funnel
    * state machine emitting (tc − tv) at the click_after_view moment;
    * output rows == Σ batch-q56 converter counts. */
  def funnelLatencyPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val expected = funnelLatencyExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingFunnel.conversionLags(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "funnel_latency")(
        requireCount("funnel_latency", expected)))
  }

  private val anomalyMemo = scala.collection.mutable.HashMap
    .empty[String, (Array[graft.streaming.StreamingAnomaly.Metric],
      Map[String, (Double, Double)], Long)]

  /** Metric feed + trained thresholds + expected breach count for
    * [[anomalyPipeline]] — Σ of batch q59's `n_outliers` is the exact
    * output-row model (replayed decisions equal the batch rule). */
  private def anomalySeed(spark: SparkSession, sfDir: String)
      : (Array[graft.streaming.StreamingAnomaly.Metric],
        Map[String, (Double, Double)], Long) =
    anomalyMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      val thresholds =
        graft.streaming.StreamingAnomaly.trainThresholds(spark, sfDir)
      val feed = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[graft.streaming.StreamingAnomaly.Metric].collect()
      val expected = graft.operators.Relational.q59AnomalyMad(spark, sfDir)
        .collect().map(_.getLong(2)).sum
      (feed, thresholds, expected)
    })

  /** Streaming anomaly monitor: the events metric feed through the
    * stateless trained median/MAD probe in two batches; output rows ==
    * Σ batch-q59 outlier counts. */
  def anomalyPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (feed, thresholds, expected) = anomalySeed(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingAnomaly.Metric]
    val out = graft.streaming.StreamingAnomaly.breaches(stream.toDS(), thresholds)
    val batches = feed.toIndexedSeq.splitAt(feed.length / 2)
    runTwoBatches(spark, stream, out, batches, "anomaly")(
      requireCount("anomaly", expected))
  }

  /** Exact WAU-hit model: Σ over users of |∪ [d, d+w−1]| over their
    * distinct activity days (uncapped — the stream also covers trailing
    * wdays past the last observed day). */
  private def wauExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("wau", sfDir) {
      val w = graft.operators.Relational.WauWindowDays
      val userDays: Set[(Long, Long)] = transRows(spark, sfDir).iterator
        .map(e => (e.user_id, Math.floorDiv(e.ts.getTime, 86400000L)))
        .toSet
      userDays.groupBy(_._1).valuesIterator
        .map(ds => ds.flatMap { case (_, d) => d until (d + w) }.size.toLong)
        .sum
    }

  /** Streaming rolling-WAU: the whole events table through the per-user
    * coverage-bitmask state in two in-order batches; output rows ==
    * the exact (user, wday) coverage model. */
  def wauPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val expected = wauExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingWau.hits(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "wau")(
        requireCount("wau", expected)))
  }

  /** Live A/B monitor (the q81 streaming side): per-user conversion
    * latch emitting delta rows. Exact count model: per batch, the
    * number of users with NEWS — first ever seen, or crossing the
    * conversion bar with cumulative purchases (a user doing both in
    * one batch emits ONE combined row). */
  /** Exact news-count model for [[abPipeline]] (memoized — runs in the
    * untimed prepare): per batch, users first seen or crossing the
    * conversion bar. */
  private def abExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("ab", sfDir) {
      val rows = transRows(spark, sfDir)
      val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
      val bar = graft.operators.Relational.AbConvertPurchases
      val seen = scala.collection.mutable.Set.empty[Long]
      val purchases = scala.collection.mutable.Map.empty[Long, Long]
      val converted = scala.collection.mutable.Set.empty[Long]
      Seq(batches._1, batches._2).map { b =>
        var news = 0L
        b.groupBy(_.user_id).foreach { case (u, evs) =>
          val newUser = seen.add(u)
          val wasConv = converted.contains(u)
          if (!wasConv) {
            val np = purchases.getOrElse(u, 0L) +
              evs.count(_.event_type == "purchase")
            purchases(u) = np
            if (np >= bar) converted += u
          }
          if (newUser || (!wasConv && converted.contains(u))) news += 1L
        }
        news
      }.sum
    }

  def abPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    val expected = abExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingAb.deltas(stream.toDS())
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "ab")(
        requireCount("ab", expected)))
  }

  /** Two-mask stickiness: WAU + DAU hits from ONE keyed pass. Exact
    * count model: the WAU coverage model plus Σ_user |distinct
    * activity days| (one DAU hit per first activity on a day). */
  def stickinessPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val dauExpected = memoExpected("stickiness_dau", sfDir) {
      rows.iterator
        .map(e => (e.user_id, Math.floorDiv(e.ts.getTime, 86400000L)))
        .toSet.size.toLong
    }
    val expected = wauExpected(spark, sfDir) + dauExpected
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingStickiness.hits(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "stickiness")(
        requireCount("stickiness", expected)))
  }

  /** Σ of batch q63's four cohort counters — the session-funnel line's
    * exact STAGE model (rows are per-event StageHits; the stage count
    * is Σ sizes of the emitted stage arrays). */
  private def sessionFunnelExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("session_funnel", sfDir) {
      graft.operators.Relational.q63SessionFunnel(spark, sfDir).collect()
        .map(r => r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4)).sum
    }

  /** Event-time session funnel: the whole events table through the
    * flagship TTL operator carrying per-session funnel state, two
    * in-event-time-order batches with a 0-second watermark; Σ stage
    * emissions == Σ batch-q63 cohort counters. */
  def sessionFunnelPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._
    val rows = transRows(spark, sfDir)
    val expected = sessionFunnelExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val ttl = (graft.operators.Relational.TtlMicros / 1000L).millis
    val out = graft.streaming.StreamingFunnel.sessionStages(
      stream.toDS().withWatermark("ts", "0 seconds"), ttl)
      .toDF().select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("stages")).as("stage"))
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "session_funnel")(
        requireCount("session_funnel", expected)))
  }

  /** Σ of batch q57's `n_users` — the retention line's exact output-row
    * model (each (user, in-horizon week) pair emits exactly one hit). */
  private def retentionExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("retention", sfDir) {
      graft.operators.Relational.q57Retention(spark, sfDir).collect()
        .map(_.getLong(2)).sum
    }

  /** Streaming retention triangle: the whole events table through the
    * per-user cohort+bitmask state in two in-order batches; output rows
    * == Σ batch-q57 cohort counters. */
  def retentionPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = transRows(spark, sfDir)
    val expected = retentionExpected(spark, sfDir)
    val stream = MemoryStream[graft.streaming.StreamingTransitions.Ev]
    val out = graft.streaming.StreamingRetention.hits(stream.toDS())
    val batches = rows.toIndexedSeq.splitAt(rows.length / 2)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out, batches, "retention")(
        requireCount("retention", expected)))
  }

  /** Fixed watchlist for the streaming CMS line: user ids that exist at
    * every SF plus one that never does (estimates are defined for both). */
  private val CmProbes: Seq[String] = (0 until 8).map(i => (i * 97).toString)

  /** Snapshot rows = probes × active groups per batch (every active
    * group re-emits the full watchlist). */
  private def countMinExpected(rows: Array[BEv], sfDir: String): Long =
    memoExpected("count_min", sfDir) {
      val groups = 4
      val batches = rows.map(_.user_id.toString).toIndexedSeq.splitAt(rows.length / 2)
      def grp(t: String) = math.floorMod(t.hashCode, groups)
      (0 until groups).map { g =>
        ((if (batches._1.exists(grp(_) == g)) 1 else 0) +
          (if (batches._2.exists(grp(_) == g)) 1 else 0)) * CmProbes.size
      }.sum.toLong
    }

  /** Streaming point-frequency watch: CMS cells per group over the
    * user-id stream, probing a fixed watchlist every micro-batch; state
    * is d·2^wBits longs per group however long the stream runs. */
  def countMinPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val groups = 4
    val rows = eventRows(spark, sfDir)
    val users = rows.map(e => e.user_id.toString)
    val stream = MemoryStream[String]
    val out = graft.streaming.StreamingCountMin.pointFrequencies(
      stream.toDS(), groups, CmProbes)
    val batches = users.toIndexedSeq.splitAt(users.length / 2)
    val expected = countMinExpected(rows, sfDir)
    withStatePartitions(spark, groups)(
      runTwoBatches(spark, stream, out, batches, "count_min")(
        requireCount("count_min", expected)))
  }

  private val NearDupMaxBucket = 64

  /** EXACT driver-side replay of the streaming near-dup bucket
    * algorithm (signatures included) — the heaviest expected model, so
    * memoizing it matters most here: the replay runs once per sfDir,
    * never inside a timed region. */
  private def nearDupExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("near_dup", sfDir) {
      import graft.streaming.StreamingNearDup
      val sorted = docRows(spark, sfDir).sortBy(_._1)
      val (b1, b2) = sorted.splitAt(sorted.length / 2)
      val held = scala.collection.mutable.HashMap
        .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Long]]
      var expected = 0L
      Seq(b1, b2).foreach { batch =>
        batch.iterator
          .flatMap { case (id, text) =>
            StreamingNearDup.bandHashes(StreamingNearDup.signature(text))
              .zipWithIndex.map { case (h, b) => ((b, h), id) }
          }
          .toSeq.groupBy(_._1)
          .foreach { case (key, rows) =>
            val acc = held.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty)
            rows.map(_._2).distinct.sorted.filterNot(acc.contains).foreach { id =>
              expected += acc.size
              if (acc.size < NearDupMaxBucket) acc += id
            }
          }
      }
      expected
    }

  private def docRows(spark: SparkSession, sfDir: String): Array[(Long, String)] =
    docsMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    })

  /** Incremental near-dup index: the documents table streamed through
    * the MinHash-LSH bucket state in two batches; the expected emission
    * count is an exact driver-side replay ([[nearDupExpected]]). */
  def nearDupPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingNearDup
    val sorted = docRows(spark, sfDir).sortBy(_._1)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    val maxBucket = NearDupMaxBucket
    val expected = nearDupExpected(spark, sfDir)
    val stream = MemoryStream[(Long, String)]
    val out = StreamingNearDup.candidates(stream.toDS(), maxBucket)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream, out.toDF().as[StreamingNearDup.CandidatePair],
        (b1.toIndexedSeq, b2.toIndexedSeq), "near_dup")(
        requireCount("near_dup", expected)))
  }

  /** Codebook, sorted feed, and exact expected emission count for
    * [[semanticDedupPipeline]], built once per sfDir in the untimed
    * prepare. The expected count is a driver-side replay of the
    * per-cell state machine (same top-2 routing, same cosine, same cap,
    * same intra-batch vec_id order) — an engine/model equality check,
    * not a recount of engine output. */
  private val semMemo = scala.collection.mutable.HashMap.empty[
    String, (Array[Array[Float]], Array[(Long, Array[Float])], Long)]

  private val SemMaxCell = 512

  private def semDedupSeed(spark: SparkSession, sfDir: String)
      : (Array[Array[Float]], Array[(Long, Array[Float])], Long) =
    semMemo.getOrElseUpdate(sfDir, {
      import graft.functions.Similarity
      import graft.streaming.StreamingSemanticDedup
      val corpus = Similarity.corpusWithNearDupVectors(spark, sfDir)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
      val book = Similarity
        .ivfCodebookTrained(spark, Similarity.corpusWithNearDupVectors(spark, sfDir))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1).map(_._2)
      val held = scala.collection.mutable.HashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]]
      var expected = 0L
      val (b1, b2) = corpus.splitAt(corpus.length / 2)
      Seq(b1, b2).foreach { batch =>
        val perCell = scala.collection.mutable.HashMap
          .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]]
        batch.foreach { case (id, v) =>
          StreamingSemanticDedup.topCells(v, book).foreach(c =>
            perCell.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty)
              += ((id, v)))
        }
        perCell.foreach { case (c, arrivals) =>
          val acc = held.getOrElseUpdate(
            c, scala.collection.mutable.ArrayBuffer.empty)
          arrivals.sortInPlaceBy(_._1).foreach { case (id, v) =>
            acc.foreach { case (_, ov) =>
              if (StreamingSemanticDedup.cosine6(v, ov)
                  >= Similarity.EmbDupThreshold) expected += 1
            }
            if (acc.size < SemMaxCell) acc += ((id, v))
          }
        }
      }
      (book, corpus, expected)
    })

  /** Streaming SemDeDup: the near-dup embedding corpus through the
    * cell-keyed state in two batches against the offline-trained
    * codebook; the expected emission count is the exact driver-side
    * replay in [[semDedupSeed]]. */
  def semanticDedupPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSemanticDedup
    val (book, corpus, expected) = semDedupSeed(spark, sfDir)
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val stream = MemoryStream[(Long, Array[Float])]
    val out = StreamingSemanticDedup.pairs(stream.toDS(), book,
      maxCell = SemMaxCell)
    withStatePartitions(spark, 16)(
      runTwoBatches(spark, stream,
        out.toDF().as[StreamingSemanticDedup.DupPair],
        (b1.toIndexedSeq, b2.toIndexedSeq), "semantic_dedup")(
        requireCount("semantic_dedup", expected)))
  }

  /** [[semanticDedupPipeline]] on the RocksDB provider — the round-11
    * state shape (vector lists per cell, the fattest per-key state in
    * the suite) on the 100 TB large-state posture. */
  def semanticDedupPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark)(semanticDedupPipeline(spark, sfDir))

  /** [[kmvPipeline]] on the RocksDB provider — bounded k-longs-per-group
    * sketch state through the disk-backed store. */
  def kmvPipelineRocksDB(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark)(kmvPipeline(spark, sfDir))

  /** [[kmvPipeline]] on RocksDB with CHANGELOG checkpointing — the
    * 100-TB recovery posture: per-batch commits upload the delta
    * changelog instead of snapshotting the full store, so commit
    * latency stops scaling with state size (snapshots continue async
    * in the background). Benched against `streaming_kmv_rocksdb` to
    * measure the commit-latency delta; mid-stream RESTORE on this
    * path is pinned in CheckpointRecoverySpec. */
  def kmvPipelineRocksDBChangelog(spark: SparkSession, sfDir: String): Unit =
    withRocksDB(spark) {
      val key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      progressSuffix = "_rocksdb_changelog"
      try kmvPipeline(spark, sfDir)
      finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }

  /** Bitmap + expected quarantine count for [[decontaminationPipeline]],
    * built once per sfDir in the untimed prepare (the bitmap is the
    * rebuild-on-suite-change artifact a production pipeline persists;
    * batch/streaming decision parity is spec-pinned in
    * StreamingDecontaminationSpec). */
  private val bloomMemo =
    scala.collection.mutable.HashMap.empty[String, (Array[Byte], Long)]

  private def bloomSeed(spark: SparkSession, sfDir: String): (Array[Byte], Long) =
    bloomMemo.getOrElseUpdate(sfDir, {
      import graft.functions.Dedup
      val bm = Dedup.benchmarkBitmap(spark, sfDir)
      val expected = Tables.documents(spark, sfDir)
        .filter(Dedup.bloomOverlapCount(col("text"), bm) >= 4).count()
      (bm, expected)
    })

  /** Streaming benchmark decontamination: the whole documents table
    * through the stateless per-row Bloom probe
    * ([[graft.streaming.StreamingDecontamination]]) in two micro-batches
    * — no state store, no shuffle; the line prices the scan-speed
    * screening a continuously-ingesting curation pipeline pays per
    * batch. */
  def decontaminationPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (bm, expectedQ) = bloomSeed(spark, sfDir)
    val sorted = docRows(spark, sfDir).sortBy(_._1)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    val stream = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingDecontamination
      .quarantine(stream.toDS().toDF("doc_id", "text"), bm)
      .filter(col("action") === "quarantine").select("doc_id")
    runTwoBatches(spark, stream, out, (b1.toIndexedSeq, b2.toIndexedSeq),
      "decontaminate")(requireCount("decontaminate", expectedQ))
  }

  /** Feed + expected-count seed for [[tokenBudgetPipeline]]: the
    * (doc_id, source, text) rows in id order and the batch gate's
    * admitted count (oracle-gated `token_budget_mix` — streaming/batch
    * decision parity is spec-pinned in StreamingTokenBudgetSpec). */
  private val tokenBudgetMemo = scala.collection.mutable.HashMap
    .empty[String, (Array[graft.streaming.StreamingTokenBudget.DocIn], Long)]

  private def tokenBudgetSeed(spark: SparkSession, sfDir: String)
      : (Array[graft.streaming.StreamingTokenBudget.DocIn], Long) =
    tokenBudgetMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().sortBy(_._1)
        .map(t => graft.streaming.StreamingTokenBudget.DocIn(t._1, t._2, t._3))
      val admitted = graft.functions.TextAnalysis.tokenBudgetMix(spark, sfDir)
        .filter(col("action") === "admit").count()
      (docs, admitted)
    })

  /** Streaming mixture admission: the whole documents table through the
    * per-source token-budget running reduce in two micro-batches —
    * O(#sources) state however long the stream runs; the admitted count
    * must equal the batch gate's. */
  def tokenBudgetPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (docs, expectedAdmitted) = tokenBudgetSeed(spark, sfDir)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingTokenBudget.DocIn]
    val out = graft.streaming.StreamingTokenBudget.admissions(stream.toDS())
      .filter(col("action") === "admit").select("doc_id")
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1.toIndexedSeq, b2.toIndexedSeq),
        "token_budget")(requireCount("token_budget", expectedAdmitted)))
  }

  /** Trained-unit budget admission: the token-budget pipeline with
    * per-doc counts from the frozen merge table (BpeTrainedCount
    * native eval). The merge-table training runs in the UNTIMED
    * prepare — it is the training-time artifact. Exact count model:
    * admitted rows equal the batch token_budget_trained gate's. */
  /** Frozen merge table + expected admit count for
    * [[tokenBudgetTrainedPipeline]] (memoized — runs in the untimed
    * prepare): trains ONCE and feeds the trained table into the batch
    * adjudication via the `frozen` parameter. */
  private def trainedBudgetSeed(
      spark: SparkSession, sfDir: String): (Seq[(String, String)], Long) =
    trainedBudgetMemo.getOrElseUpdate(sfDir, {
      val m = graft.functions.TextAnalysis.trainedMerges(spark, sfDir)
      val exp = graft.functions.TextAnalysis
        .tokenBudgetTrained(spark, sfDir, frozen = Some(m))
        .filter(col("action") === "admit").count()
      (m, exp)
    })

  def tokenBudgetTrainedPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (docs, _) = tokenBudgetSeed(spark, sfDir)
    val (merges, expectedAdmitted) = trainedBudgetSeed(spark, sfDir)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingTokenBudget.DocIn]
    val out = graft.streaming.StreamingTokenBudget
      .admissionsTrained(stream.toDS(), merges)
      .filter(col("action") === "admit").select("doc_id")
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1.toIndexedSeq, b2.toIndexedSeq),
        "token_budget_trained")(
        requireCount("token_budget_trained", expectedAdmitted)))
  }

  private val trainedBudgetMemo =
    scala.collection.mutable.Map.empty[String, (Seq[(String, String)], Long)]

  /** Raw-document feed row for [[curationPipeline]] — event time is a
    * deterministic minute-per-doc_id ramp (the synthetic documents
    * table carries no timestamp column), so the two-batch feed is
    * in-horizon end to end and the expected count is exact. */
  case class CDoc(doc_id: Long, text: String, source: String,
      ts: java.sql.Timestamp)

  private val curationMemo =
    scala.collection.mutable.Map.empty[String, (Array[CDoc], Long)]

  /** Feed + exact model for [[curationPipeline]] (untimed prepare):
    * expected emissions = distinct content digests among stateless-gate
    * passers, computed by running the SAME gate expressions
    * ([[graft.streaming.StreamingCuration.statelessGates]]) on the
    * batch frame — the per-stage logic is shared, not replicated. */
  private def curationSeed(
      spark: SparkSession, sfDir: String): (Array[CDoc], Long) =
    curationMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().sortBy(_._1)
        .map(t => CDoc(t._1, t._3, t._2,
          // +1: epoch-0 event time ties the INITIAL watermark (0 ms) and
          // the dedup operator treats the tie as late — doc_id 0 vanished
          new java.sql.Timestamp((t._1 + 1L) * 60000L)))
      val expected = graft.streaming.StreamingCuration
        .statelessGates(graft.Tables.documents(spark, sfDir))
        .select("digest").distinct().count()
      (docs, expected)
    })

  /** The composed LIVE curation pipeline end to end (VERDICT r15
    * residual 3 — the batch composition got gate+bench in r15; this is
    * its streaming twin's line): the whole documents table through
    * quality gate → language gate → PII scrub → watermarked exact
    * dedup → fingerprint in two micro-batches. The horizon covers the
    * feed, so emissions must equal the batch model exactly. */
  def curationPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (docs, expected) = curationSeed(spark, sfDir)
    val (b1, b2) = docs.toIndexedSeq.splitAt(docs.length / 2)
    val stream = MemoryStream[CDoc]
    val out = graft.streaming.StreamingCuration
      .curate(stream.toDF(), "ts", "30 days")
      .select("doc_id")
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1, b2),
        "curation")(requireCount("curation", expected)))
  }

  /** Live sequence packing: the whole documents table through the
    * per-source offset/seq-id assignment reduce in two micro-batches —
    * O(#sources) state. Exact count model: one assignment per doc;
    * per-group equality with the batch gate is spec-pinned in
    * StreamingPackingSpec. */
  def packingPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (docs, _) = tokenBudgetSeed(spark, sfDir)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingTokenBudget.DocIn]
    val out = graft.streaming.StreamingPacking.assignments(stream.toDS())
      .select("doc_id")
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1.toIndexedSeq, b2.toIndexedSeq),
        "packing")(requireCount("packing", docs.length.toLong)))
  }

  /** Frozen axis + collected feed + exact emission model for
    * [[pcaPipeline]] (untimed prepare — axis training is the
    * deploy-time artifact): the cumulative monitor emits one row per
    * (touched label, micro-batch), so expected = Σ over batches of
    * |labels present in that batch|. */
  private val pcaBenchMemo = scala.collection.mutable.Map.empty[
    String, (Array[Long], Array[graft.streaming.StreamingPca.VecIn], Long)]

  private def pcaSeed(spark: SparkSession, sfDir: String)
      : (Array[Long], Array[graft.streaming.StreamingPca.VecIn], Long) =
    pcaBenchMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      val axis = graft.streaming.StreamingPca.axisFrom(spark, sfDir)
      val vecs = graft.Tables.embeddings(spark, sfDir)
        .select("vec_id", "label", "embedding")
        .as[graft.streaming.StreamingPca.VecIn].collect()
      val (b1, b2) = vecs.splitAt(vecs.length / 2)
      val expected =
        b1.map(_.label).distinct.length.toLong +
        b2.map(_.label).distinct.length.toLong
      (axis, vecs, expected)
    })

  /** Live PC1 projection-band monitor: the embeddings table through
    * the frozen-axis band kernel in two micro-batches — O(1) state per
    * label, final rows bit-equal to batch embed_pca_project
    * (spec-pinned in StreamingPcaSpec). */
  def pcaPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (axis, vecs, expected) = pcaSeed(spark, sfDir)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingPca.VecIn]
    val out = graft.streaming.StreamingPca.bands(stream.toDS(), axis)
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1.toIndexedSeq, b2.toIndexedSeq),
        "pca")(requireCount("pca", expected)))
  }

  /** Live TOP-M projection-band monitor (embed_pca_project_topm's
    * streaming side): same feed and touched-label model as
    * [[pcaPipeline]], m frozen axes, m rows per (touched label, batch)
    * — the exact count is the PC1 model × PcaTopM. Axes train in the
    * untimed prepare (the pcaTopMTrain memo). */
  def pcaTopmPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (_, vecs, expected) = pcaSeed(spark, sfDir)
    val axes = graft.streaming.StreamingPca.axesFrom(spark, sfDir)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingPca.VecIn]
    val out = graft.streaming.StreamingPca.bandsTopm(stream.toDS(), axes)
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1.toIndexedSeq, b2.toIndexedSeq),
        "pca_topm")(requireCount("pca_topm", expected * axes.length)))
  }

  /** Frozen bigram-LM model + doc feed + exact emission model for
    * [[lmBigramPipeline]] (untimed prepare; emission = one row per
    * touched source per batch). */
  private val lmBenchMemo = scala.collection.mutable.Map.empty[
    String, (graft.streaming.StreamingLmBigram.LmModel,
      Array[graft.streaming.StreamingLmBigram.LDoc], Long)]

  private def lmSeed(spark: SparkSession, sfDir: String)
      : (graft.streaming.StreamingLmBigram.LmModel,
        Array[graft.streaming.StreamingLmBigram.LDoc], Long) =
    lmBenchMemo.getOrElseUpdate(sfDir, {
      // the production deploy round-trip: train the frequency-cutoff
      // HEAD, persist it through the store, serve from the LOADED copy
      // (the in-closure model is bounded by construction — the full
      // map the monitor used to carry is not 100-TB driver-sized)
      val model =
        graft.util.TempArtifacts.withTempDir("graft-lm-head-bench-") { p =>
          graft.streaming.StreamingLmBigram.saveHeadModel(spark, sfDir, p)
          graft.streaming.StreamingLmBigram.loadHeadModel(spark, p)
        }
      val feed = graft.streaming.StreamingLmBigram.docFeed(spark, sfDir)
      val (b1, b2) = feed.toIndexedSeq.splitAt(feed.length / 2)
      val expected =
        Seq(b1, b2).map(_.map(_.source).toSet.size).sum.toLong
      (model, feed, expected)
    })

  /** Live bigram-LM quality monitor (text_lm_bigram_head's serving
    * side): the document corpus streams through the scorer frozen from
    * the HEAD artifact — three longs of state per source, per-source
    * sums bit-equal to the batch head frame (StreamingLmBigramSpec). */
  def lmBigramPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (model, feed, expected) = lmSeed(spark, sfDir)
    val (b1, b2) = feed.toIndexedSeq.splitAt(feed.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingLmBigram.LDoc]
    val out = graft.streaming.StreamingLmBigram.monitor(stream.toDS(), model)
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1, b2), "lm_bigram")(
        requireCount("lm_bigram", expected)))
  }

  /** Frozen quality model + doc feed + exact touched-source model for
    * [[qualityPipeline]] (untimed prepare — the model is the
    * deploy-time artifact). */
  private val qualityBenchMemo = scala.collection.mutable.Map.empty[
    String, (graft.functions.QualityModel.Model,
      Array[graft.streaming.StreamingQuality.QDoc], Long)]

  private def qualitySeed(spark: SparkSession, sfDir: String)
      : (graft.functions.QualityModel.Model,
        Array[graft.streaming.StreamingQuality.QDoc], Long) =
    qualityBenchMemo.getOrElseUpdate(sfDir, {
      val model = graft.functions.QualityModel.train(spark, sfDir)._2
      val feed = graft.streaming.StreamingQuality.docFeed(spark, sfDir)
      val (b1, b2) = feed.toIndexedSeq.splitAt(feed.length / 2)
      val expected =
        Seq(b1, b2).map(_.map(_.source).toSet.size).sum.toLong
      (model, feed, expected)
    })

  /** Live distilled-quality monitor (quality_perceptron's serving
    * side): the document corpus streams through the frozen-model
    * scorer in two micro-batches — four longs of state per source,
    * per-source confusions summing to the batch gate exactly
    * (StreamingQualitySpec). */
  def qualityPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (model, feed, expected) = qualitySeed(spark, sfDir)
    val (b1, b2) = feed.toIndexedSeq.splitAt(feed.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingQuality.QDoc]
    val out = graft.streaming.StreamingQuality.monitor(stream.toDS(), model)
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out, (b1, b2), "quality")(
        requireCount("quality", expected)))
  }

  /** Frozen ANN artifact + doc feed + exact emission model for
    * [[rrfPipeline]] (untimed prepare — the ANN ranking is the
    * deploy-time artifact; the expected count replays the kernel fold
    * driver-side via StreamingRrf.expectedRows). */
  private val rrfBenchMemo = scala.collection.mutable.Map.empty[
    String, (Map[Long, Seq[(Long, Long)]],
      Array[graft.streaming.StreamingRrf.RDoc], Long)]

  private def rrfSeed(spark: SparkSession, sfDir: String)
      : (Map[Long, Seq[(Long, Long)]],
        Array[graft.streaming.StreamingRrf.RDoc], Long) =
    rrfBenchMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      val ann = graft.functions.Similarity.annBrute(spark, sfDir)
        .select("qid", "cid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (q, rows) => q -> rows.sortBy(_._3).toSeq.map(t => (t._2, t._3)) }
      val feed = graft.streaming.StreamingRrf.docFeed(spark, sfDir)
      val (b1, b2) = feed.toIndexedSeq.splitAt(feed.length / 2)
      val expected = graft.streaming.StreamingRrf.expectedRows(Seq(b1, b2), ann)
      (ann, feed, expected)
    })

  /** Live hybrid-retrieval RRF (retrieval_rrf's streaming side): the
    * document corpus streams through the posting-bounded BM25-head
    * kernel in two micro-batches, each fusing against the frozen ANN
    * ranking; final fused table bit-equal to the batch gate
    * (StreamingRrfSpec). */
  def rrfPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ann, feed, expected) = rrfSeed(spark, sfDir)
    val (b1, b2) = feed.toIndexedSeq.splitAt(feed.length / 2)
    val stream = MemoryStream[graft.streaming.StreamingRrf.RDoc]
    val out = graft.streaming.StreamingRrf.rrf(stream.toDS(), ann)
    withStatePartitions(spark, 1)(
      runTwoBatches(spark, stream, out, (b1, b2), "rrf")(
        requireCount("rrf", expected)))
  }

  /** Deep merge table + exact sampled model for [[deepBpePipeline]]
    * (memoized — the driver merge loop is the training-time artifact
    * and runs in the untimed prepare): expected total trained-token
    * count over the `doc_id % 97 == 0` sample, computed driver-side
    * with the SAME codec + java.util.regex pretokenizer the cluster
    * expression uses. */
  private val deepBpeMemo =
    scala.collection.mutable.Map.empty[String, (Seq[(String, String)], Long, Long)]

  private def deepBpeSeed(
      spark: SparkSession, sfDir: String): (Seq[(String, String)], Long, Long) =
    deepBpeMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      val merges = graft.functions.TextAnalysis.trainedMergesDeep(spark, sfDir)
      val codec = graft.functions.BpeCodec(merges)
      val pat = java.util.regex.Pattern
        .compile(graft.functions.TextAnalysis.BpePretokenPattern)
      val texts = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 97 === 0).select("text").as[String].collect()
      var total = 0L
      texts.foreach { t =>
        val m = pat.matcher(t)
        while (m.find()) total += codec.encodedLen(m.group())
      }
      val nDocs = graft.Tables.documents(spark, sfDir).count()
      (merges, total, nDocs)
    })

  /** Realistic-merge-table batch encode: the whole documents table
    * through `bpeTrainedPerDoc` with the 1024-rule deep table (VERDICT
    * r15 residual 1 — the gate runs 24 rules because its DuckDB oracle
    * unrolls one CTE per rule; this line prices the geometry a real
    * token budget is denominated in). ONE aggregate consumes the full
    * per-doc frame (no sample pushdown escape: the row count pins the
    * corpus-wide scan) and the sampled sum must equal the driver-side
    * codec model exactly. */
  def deepBpePipeline(spark: SparkSession, sfDir: String): Unit = {
    val (merges, expectedSample, nDocs) = deepBpeSeed(spark, sfDir)
    val perDoc = graft.functions.TextAnalysis
      .bpeTrainedPerDoc(spark, sfDir, frozen = Some(merges))
    val row = perDoc.agg(
      count(lit(1)).as("n"),
      sum(when(col("doc_id") % 97 === 0, col("n_bpe_trained"))
        .otherwise(0L)).as("sample_sum")).collect()(0)
    require(row.getLong(0) == nDocs,
      s"bpe_encode_deep: ${row.getLong(0)} rows != $nDocs docs")
    require(row.getLong(1) == expectedSample,
      s"bpe_encode_deep: sampled sum ${row.getLong(1)} != driver model $expectedSample")
  }

  /** Live ingest QA card: the whole documents table through the
    * source-keyed counter kernel in two micro-batches. Exact count
    * model: one snapshot per (touched source, batch). */
  def ingestCardPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (docs, _) = tokenBudgetSeed(spark, sfDir)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val expected =
      Seq(b1, b2).map(_.map(_.source).toSet.size).sum.toLong
    val stream = MemoryStream[graft.streaming.StreamingTokenBudget.DocIn]
    val out = graft.streaming.StreamingIngestCard.cards(stream.toDS().toDF())
    withStatePartitions(spark, 4)(
      runTwoBatches(spark, stream, out.toDF(), (b1.toIndexedSeq, b2.toIndexedSeq),
        "ingest_card")(requireCount("ingest_card", expected)))
  }

  /** Seed state for [[incrementalDedupPipeline]], built once per sfDir in
    * the untimed prepare: the even-id index tables written to parquet
    * (the stored form a daily pipeline starts each increment from), the
    * collected odd-id incoming feed in id order, and the expected drop
    * count from the ONE-SHOT batched adjudication — the oracle-gated
    * `dedup_incremental` shape; sequential-through-storage equals batched
    * by the composability contract pinned in IncrementalDedupSpec. */
  private val incDedupMemo = scala.collection.mutable.HashMap
    .empty[String, (String, Array[(Long, String)], Long)]

  private def incDedupSeed(
      spark: SparkSession, sfDir: String): (String, Array[(Long, String)], Long) =
    incDedupMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      import graft.functions.Dedup
      val corpus = Dedup.corpusWithNearDupes(spark, sfDir)
      val (ish, ib) = Dedup.dedupIndexTables(corpus.filter(col("doc_id") % 2 === 0))
      val seed = java.nio.file.Files.createTempDirectory("graft-incdedup-seed-").toString
      ish.write.mode("overwrite").parquet(s"$seed/shingles")
      ib.write.mode("overwrite").parquet(s"$seed/bands")
      val incomingDf = corpus.filter(col("doc_id") % 2 =!= 0)
      val incoming = incomingDf.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val drops = Dedup.dedupIncrementalAgainst(
          spark.read.parquet(s"$seed/shingles"),
          spark.read.parquet(s"$seed/bands"), incomingDf)
        .filter(col("action") === "drop").count()
      (seed, incoming, drops)
    })

  /** The 100-TB daily-increment near-dup shape end-to-end as a stream:
    * documents arrive in two micro-batches; each batch is adjudicated by
    * `dedupIncrementalAgainst` against the PARQUET-STORED index tables,
    * decisions are written to storage and read back (the stored-decision
    * production shape), and only the keepers' increment tables are
    * appended as new parquet partitions — the seed index is never
    * rewritten, and the next batch reads the multi-path union. Per-batch
    * cost is O(increment × bucket occupancy), independent of corpus
    * size; storage grows by exactly the deduped increment. */
  def incrementalDedupPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Dedup
    val (seed, incoming, expectedDrops) = incDedupSeed(spark, sfDir)
    val run = java.nio.file.Files.createTempDirectory("graft-incdedup-run-").toString
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    var shPaths = Seq(s"$seed/shingles")
    var bandPaths = Seq(s"$seed/bands")
    var step = 0
    var decisions = 0L
    var drops = 0L
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          step += 1
          val ish = spark.read.parquet(shPaths: _*)
          val ib = spark.read.parquet(bandPaths: _*)
          Dedup.dedupIncrementalAgainst(ish, ib, batch)
            .write.mode("overwrite").parquet(s"$run/dec$step")
          val stored = spark.read.parquet(s"$run/dec$step")
          val keptRaw = batch.join(
            stored.filter(col("action") === "keep").select("doc_id"),
            Seq("doc_id"), "left_semi")
          val (shNew, bNew) = Dedup.dedupIndexTables(keptRaw)
          shNew.write.mode("overwrite").parquet(s"$run/idx$step/shingles")
          bNew.write.mode("overwrite").parquet(s"$run/idx$step/bands")
          shPaths :+= s"$run/idx$step/shingles"
          bandPaths :+= s"$run/idx$step/bands"
          decisions += stored.count()
          drops += stored.filter(col("action") === "drop").count()
        }
      }
      .start()
    try {
      Seq(b1, b2).foreach { b =>
        stream.addData(b.toIndexedSeq); query.processAllAvailable() }
      recordProgress("incremental_dedup", query)
      requireCount("incremental_dedup decisions", incoming.length.toLong)(decisions)
      requireCount("incremental_dedup drops", expectedDrops)(drops)
    } finally query.stop()
  }

  /** Streaming exact dedup (bounded state): every event fed TWICE —
    * in-batch duplicates — through dropDuplicatesWithinWatermark;
    * expected output is exactly one row per distinct event_id. */
  def dedupPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows(spark, sfDir)
    val stream = MemoryStream[BEv]
    val out = graft.streaming.StreamingDedup.withinWatermark(
      stream.toDS(), "ts", "1 hour", Seq("event_id"))
    val (b1, b2) = eventTimeBatches(rows)
    runTwoBatches(spark, stream, out, (b1 ++ b1, b2 ++ b2), "dedup")(
      requireCount("dedup", rows.length.toLong))
  }

  private def purchaseClickRows(
      spark: SparkSession, sfDir: String): (Array[BEv], Array[BEv]) =
    pcMemo.getOrElseUpdate(sfDir, {
      val s = spark
      import s.implicits._
      // one collect for both sides: type rides along, split driver-side
      val both = Tables.events(spark, sfDir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          (col("event_type") === "purchase").as("is_p"))
        .as[(Long, Long, java.sql.Timestamp, Long, Boolean)].collect()
      val (p, c) = both.partition(_._5)
      def rows(a: Array[(Long, Long, java.sql.Timestamp, Long, Boolean)]) =
        a.map(t => BEv(t._1, t._2, t._3, t._4))
      (rows(p), rows(c))
    })

  /** Exact expected pair count for the interval join: per user, sorted
    * click times + binary search per purchase. */
  private def intervalJoinExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("interval_join", sfDir) {
      val (pRows, cRows) = purchaseClickRows(spark, sfDir)
      val clicksByUser = cRows.groupBy(_.user_id)
        .map { case (u, cs) => u -> cs.map(e => micros(e.ts)).sorted }
      def below(arr: Array[Long], x: Long): Int = {
        var lo = 0; var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) < x) lo = mid + 1 else hi = mid
        }
        lo
      }
      pRows.iterator.map { pr =>
        clicksByUser.get(pr.user_id).fold(0L) { arr =>
          val t = micros(pr.ts)
          (below(arr, t) - below(arr, t - 3600L * 1000000)).toLong
        }
      }.sum
    }

  /** Stream-stream interval join (StreamJoin): clicks in the hour before
    * each purchase — the q23 window with BOTH sides fed as streams. The
    * two feeds split at one shared event-time boundary so neither
    * stream's second batch is late against the combined (min) watermark;
    * expected row count is the exact driver-side pair count. */
  def intervalJoinPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (pRows, cRows) = purchaseClickRows(spark, sfDir)
    val pIds = pRows.iterator.map(_.event_id).toSet
    val (b1, b2) = eventTimeBatches(pRows ++ cRows)
    val (p1, c1) = b1.partition(e => pIds(e.event_id))
    val (p2, c2) = b2.partition(e => pIds(e.event_id))
    val expected = intervalJoinExpected(spark, sfDir)

    val clicks = MemoryStream[BEv]
    val purchases = MemoryStream[BEv]
    val c = clicks.toDS().toDF("c_eid", "c_user", "c_ts", "c_cents")
      .withWatermark("c_ts", "0 seconds")
    val p = purchases.toDS().toDF("p_eid", "p_user", "p_ts", "p_cents")
      .withWatermark("p_ts", "0 seconds")
    val out = StreamJoin.intervalJoin(
        p, c, Seq("p_user" -> "c_user"), "p_ts", "c_ts", 1.hour)
      .select(col("p_eid"), col("c_eid"))
    val sinkName = s"bench_interval_join_${System.nanoTime()}"
    // A stream-stream join keeps 4 state stores per shuffle partition
    // (2 sides × key-count + key-indexed maps): at the 32-partition
    // batch default that was 128 store commits × 4 batches of pure
    // fixed cost (~2.5 s per batch, data or not); 8 partitions fit this
    // state volume. The query pins the value at start(), so wrapping
    // only the start is enough.
    val query = withStatePartitions(spark, 8)(
      out.writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start())
    try {
      purchases.addData(p1); clicks.addData(c1); query.processAllAvailable()
      purchases.addData(p2); clicks.addData(c2); query.processAllAvailable()
      recordProgress("interval_join", query)
      if (sys.env.contains("GRAFT_BENCH_DEBUG"))
        query.recentProgress.foreach(pr => System.err.println(
          s"[ij] batch=${pr.batchId} rows=${pr.numInputRows} ${pr.durationMs}"))
      requireCount("interval_join", expected)(spark.table(sinkName).count())
    } finally {
      query.stop()
      spark.catalog.dropTempView(sinkName)
    }
  }

  /** Exact expected snapshot rows: a group invoked in a batch emits
    * min(k, tracked) rows, and SpaceSaving tracks min(cumulative
    * distinct, capacity) items — derivable driver-side from the feed. */
  private def topKExpected(spark: SparkSession, sfDir: String): Long =
    memoExpected("topk", sfDir) {
      val types = eventTypes(spark, sfDir)
      val groups = 4; val capacity = 64; val k = 10
      val batches = types.toIndexedSeq.splitAt(types.length / 2)
      def grp(s: String) = math.floorMod(s.hashCode, groups)
      val b1 = batches._1.groupBy(grp); val b2 = batches._2.groupBy(grp)
      (0 until groups).map { g =>
        val seen1 = b1.getOrElse(g, IndexedSeq.empty).distinct.size
        val seenCum = (b1.getOrElse(g, IndexedSeq.empty) ++ b2.getOrElse(g, IndexedSeq.empty))
          .distinct.size
        (if (b1.contains(g)) math.min(k, math.min(seen1, capacity)) else 0) +
          (if (b2.contains(g)) math.min(k, math.min(seenCum, capacity)) else 0)
      }.sum.toLong
    }

  /** Streaming heavy hitters: SpaceSaving sketches over the event_type
    * stream (one sketch per group key), top-k snapshots per batch. */
  def topKPipeline(spark: SparkSession, sfDir: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = eventTypes(spark, sfDir)
    val groups = 4
    val stream = MemoryStream[String]
    val out = StreamingTopK.topK(stream.toDS(), groups, capacity = 64, k = 10)
    val batches = types.toIndexedSeq.splitAt(types.length / 2)
    val expected = topKExpected(spark, sfDir)
    withStatePartitions(spark, groups)(
      runTwoBatches(spark, stream, out, batches, "topk")(
        requireCount("topk", expected)))
  }
}
