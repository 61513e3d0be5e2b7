package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.QueryDef
import graft.streaming._
import graft.util.Parallel.inParallel
import graft.util.Tables.t

/** Oracle-graded END-TO-END replays of streaming components (the q168
  * pattern, extended): land a closed corpus as TIME-ORDERED micro-batch
  * files, run the real Structured Streaming component over them with
  * `Trigger.AvailableNow` + `maxFilesPerTrigger = 1`, and grade the
  * final emitted result against the BATCH operator's DuckDB oracle.
  * The continuous path and the batch path must agree on the same
  * snapshot — this graduates components from spec-pinned to
  * hash-graded.
  *
  * Why TIME-ordered slices (q168 uses hash-interleaved ones): the
  * upsert sink's keep-latest merge is order-insensitive by design, so
  * interleaving is the harder test there. Sessionization and SCD2 are
  * event-TIME components guarded by watermark/late-data rules —
  * replaying in time order is the semantics contract (a production
  * stream delivers roughly in order; the late-drop behavior itself is
  * pinned by the streaming specs). Slice boundaries cut on the ts value
  * only, so equal timestamps can never straddle a batch boundary, and
  * each later slice's minimum ts exceeds the previous slice's maximum —
  * the condition under which (a) the watermark never drops an on-time
  * row and (b) no session/version that a later batch could still extend
  * has been emitted (delay = gap: an emitted session's last event is
  * ≥ 2·gap behind the next batch's minimum, so no merge was possible).
  *
  * A FLUSH sentinel rides in as the final micro-batch, strictly later
  * than every real event, to push the watermark (and the SCD2 fold)
  * past all real state so the closed corpus drains completely — the
  * sentinel's own open state is never emitted and is filtered on read.
  */
object StreamReplayOps {

  /** Scratch base shared by EVERY replay harness: prefer tmpfs
    * (/dev/shm) over the disk-backed java tmpdir so the landing files,
    * sink, and state-store checkpoints stop paying — and stop VARYING
    * with — host disk I/O (VERDICT r12 #6: q266's driver timing spiked
    * 2× on checkpoint-commit I/O noise two rounds running; replay state
    * is a few MB, RAM-backed scratch is the right home). Falls back to
    * a plain temp dir when /dev/shm is absent.
    *
    * Cleanup is ONE static JVM shutdown hook draining a concurrent
    * registry of scratch dirs (ADVICE r13: a hook per invocation
    * retains a Thread + path each and grows unbounded over a long
    * bench session; per-invocation dirs with NO hook leak tmpfs
    * memory). Invocations just register their path.
    */
  private val scratchRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles()
        if (kids != null) kids.foreach(rm)
        p.delete(): Unit
      }
      var p = scratchRegistry.poll()
      while (p != null) { rm(p.toFile); p = scratchRegistry.poll() }
    }))
  }
  private def replayScratchBase(tag: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, tag)
      else java.nio.file.Files.createTempDirectory(tag)
    scratchRegistry.add(base)
    base
  }

  /** Land `df` as `nSlices` parquet files partitioned by equal ranges of
    * the BIGINT `slice_key` column (dropped from the output), plus an
    * optional flush frame as the strictly-latest file. File modification
    * times are stamped strictly increasing so the file source's
    * oldest-first order replays the slices chronologically. Acquisition
    * harness only (a production stream lands its own files): the
    * per-slice `coalesce(1)` and the O(nSlices) driver-side rename loop
    * are bounded by the slice count, never by data.
    */
  def landTimeSlices(spark: SparkSession, df: DataFrame, nSlices: Int,
      landingDir: String, flush: Option[DataFrame]): Unit = {
    require(nSlices >= 1, s"nSlices must be >= 1, got $nSlices")
    val bounds = df.agg(min(col("slice_key")).as("mn"),
      max(col("slice_key")).as("mx"))
    val sliced = df.crossJoin(broadcast(bounds))
      .withColumn("slice",
        least(lit(nSlices - 1),
          (col("slice_key") - col("mn")) * nSlices /
            (col("mx") - col("mn") + 1)).cast("int"))
      .drop("mn", "mx", "slice_key")
    landBySlice(spark, sliced, nSlices, landingDir, flush)
  }

  /** The replay conf: the stateful shuffle sized to the replay's data
    * volume. A stateful streaming operator materializes one-to-four
    * state-store instances PER shuffle partition PER micro-batch; at the
    * session's default partition count the store-commit overhead dwarfs
    * the replay's data — sizing the shuffle is the same decision a
    * production job makes when provisioning a stateful query. Partition
    * count never affects results (all replay grades re-verify under it).
    */
  private val ReplayPartitions = Map("spark.sql.shuffle.partitions" -> "8")

  /** [[ReplayPartitions]] with the RocksDB state store, which the
    * transformWithState components (timers, typed ValueState) require.
    */
  private val ReplayRocksDb = ReplayPartitions +
    ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Run `body` with `conf` set on the session, restoring each key's
    * previous value (or unsetting it) after. Queries run sequentially
    * under Verify/Bench; the try/finally keeps any other caller safe.
    */
  private def withConf[T](spark: SparkSession, conf: Map[String, String])(
      body: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The replay harness: make a fresh scratch base, `land` the arrivals
    * under its landing dir, run `start(landing, out, checkpoint)` under
    * [[withConf]], await the stream's termination and return `out`.
    */
  private def replay(spark: SparkSession, tag: String,
      conf: Map[String, String] = ReplayPartitions)(land: String => Unit)(
      start: (String, String, String) => StreamingQuery): String = {
    val base = replayScratchBase(tag)
    val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
    land(landing)
    withConf(spark, conf)(start(landing, out, ckpt).awaitTermination())
    out
  }

  /** The common landing: `df` as `nSlices` time slices of `key`, plus an
    * optional flush frame ([[landTimeSlices]]).
    */
  private def timeSlices(spark: SparkSession, df: DataFrame, key: Column,
      nSlices: Int, flush: Option[DataFrame] = None): String => Unit =
    landTimeSlices(spark, df.withColumn("slice_key", key), nSlices, _, flush)

  private val DocText = StructType.fromDDL("doc_id BIGINT, text STRING")
  private val DocLangText =
    StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING")

  /** A replay's landed slices as a stream, one file per trigger. */
  private def slices(spark: SparkSession, landing: String,
      schema: StructType): DataFrame =
    Streams.landed(spark, landing, schema, maxFilesPerTrigger = Some(1))

  /** The streamed-tier replays' shared body: land `arrivals` as three
    * `key`-ordered time slices, then drain them through one tier's
    * stream, `start(landing, checkpoint)`, which reads one file per
    * trigger.
    */
  private def replayTier(spark: SparkSession, tag: String,
      arrivals: DataFrame, key: String)(
      start: (String, String) => StreamingQuery): Unit =
    replay(spark, tag)(timeSlices(spark, arrivals, col(key), 3)) {
      (landing, _, ckpt) => start(landing, ckpt)
    }

  /** Land a frame carrying an EXPLICIT `slice` column (dropped from the
    * output) as one file per slice value in [0, nSlices), plus an
    * optional flush frame as the strictly-latest file. Callers that need
    * deliberate cross-batch placement (e.g. re-deliveries landing one
    * batch after their originals) compute the slice themselves and come
    * through here; the ts-range wrapper above covers the common case.
    */
  def landBySlice(spark: SparkSession, sliced: DataFrame, nSlices: Int,
      landingDir: String, flush: Option[DataFrame]): Unit = {
    val fs = new Path(landingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(landingDir))
    val base = System.currentTimeMillis()
    // the per-slice writes are independent single-file jobs over a tiny
    // frame each; submitting them sequentially serialized nSlices tiny
    // jobs per replay query (guide §2.6 — overlap independent jobs).
    // Files, contents and modification-time order are unchanged: each
    // slice still lands via its own coalesce(1) write, and the rename +
    // increasing-mtime stamp runs AFTER every write, in slice order.
    def writeOne(part: DataFrame, i: Int): Unit =
      part.coalesce(1).write.parquet(s"$landingDir/_tmp_$i")
    def finishOne(i: Int): Unit = {
      val tmp = s"$landingDir/_tmp_$i"
      val src = fs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      val dst = new Path(landingDir, f"slice-$i%03d.parquet")
      fs.rename(src, dst)
      fs.delete(new Path(tmp), true)
      fs.setTimes(dst, base + i * 2000L, -1)
    }
    val parts =
      (0 until nSlices).map(i =>
        i -> sliced.where(col("slice") === i).drop("slice")) ++
        flush.map(f => nSlices -> f).toSeq
    inParallel(spark, parts.map { case (i, p) => () => writeOne(p, i) })
    parts.foreach { case (i, _) => finishOne(i) }
  }

  /** q243 body: replay the event changelog through StreamingScd2's
    * flatMapGroupsWithState fold, one time-slice per micro-batch, then
    * reconstruct the full SCD2 dimension: rows the flush sentinel closed
    * ARE the still-open versions (valid_to back to NULL, is_current 1).
    * The graded frame must hash-match q120's batch dimension build.
    */
  def scd2Replay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ts_ms"))
    val bounds = ev.agg(max(col("ts_ms")).as("mx"))
    val flushMsCol = col("mx") + lit(86400000L) // strictly after every event
    val flush = ev.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), lit(Long.MaxValue / 2).as("event_id"),
        lit("__flush__").as("event_type"), flushMsCol.as("ts_ms"))
    val out = replay(spark, "graft-scd2-replay")(
        timeSlices(spark, ev, col("ts_ms"), 4, Some(flush))) {
      (landing, out, ckpt) =>
        Streams.toParquet(StreamingScd2(slices(spark, landing,
            Encoders.product[StreamingScd2.ChangeEvent].schema)
          .as[StreamingScd2.ChangeEvent]), out, ckpt)
    }
    val flushStamp = bounds.select(
      date_format(timestamp_millis(flushMsCol), "yyyy-MM-dd HH:mm:ss")
        .as("flush_stamp"))
    spark.read.schema(Encoders.product[StreamingScd2.ClosedVersion].schema)
      .parquet(out)
      .crossJoin(broadcast(flushStamp))
      // no real event shares the sentinel's timestamp, so valid_to ==
      // flush_stamp identifies exactly the flush-closed (still-open) rows
      .withColumn("is_current",
        when(col("valid_to") === col("flush_stamp"), 1).otherwise(0).cast("int"))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"),
        when(col("is_current") === 1, lit(null).cast("string"))
          .otherwise(col("valid_to")).as("valid_to"),
        col("is_current"))
      .orderBy("user_id", "version")
  }

  /** q244 body: replay events through the declarative watermarked
    * session-window aggregation (StreamingSessionWindow), one time-slice
    * per micro-batch; the flush sentinel (user −1, one day past the
    * corpus) advances the watermark past every real session end so the
    * closed corpus drains. The emitted sessions must hash-match q34's
    * batch sessionization oracle.
    */
  def sessionReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
    val flush = ev.agg(max(col("ts")).as("mx"))
      .select(lit(-1L).as("user_id"), lit("__flush__").as("event_type"),
        lit(0.0).as("value"), (col("mx") + expr("INTERVAL 1 DAY")).as("ts"))
    val out = replay(spark, "graft-sess-replay")(
        timeSlices(spark, ev, expr("unix_millis(ts)"), 4, Some(flush))) {
      StreamingSessionWindow.sessionAggAvailableNow(spark, _, _, _,
        StructType.fromDDL(
          "user_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP"),
        maxFilesPerTrigger = Some(1))
    }
    spark.read.schema(StructType.fromDDL(
      "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, " +
        "n_events BIGINT, sum_value DOUBLE"))
      .parquet(out)
      .where(col("user_id") >= 0) // drop the watermark-flush sentinel
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("sum_value").as("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** q248 body: replay events through the watermarked tumbling-window
    * aggregation (StreamingWindowedAgg, the canonical readStream →
    * withWatermark → groupBy(window) operator), one time-slice per
    * micro-batch; a flush sentinel one day past the corpus advances the
    * watermark past every real window end so the closed corpus drains.
    * The oracle recomputes the streaming component's exact semantics —
    * hour × event_type grid, DECIMAL(18,4) money — relationally.
    */
  def windowReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.events(spark, dir)
      .select(col("event_type"), col("value"), col("ts"))
    val flush = ev.agg(max(col("ts")).as("mx"))
      .select(lit("__flush__").as("event_type"), lit(0.0).as("value"),
        (col("mx") + expr("INTERVAL 1 DAY")).as("ts"))
    val out = replay(spark, "graft-win-replay")(
        timeSlices(spark, ev, expr("unix_millis(ts)"), 4, Some(flush))) {
      StreamingWindowedAgg.windowedAggAvailableNow(spark, _, _, _,
        StructType.fromDDL("event_type STRING, value DOUBLE, ts TIMESTAMP"),
        maxFilesPerTrigger = Some(1))
    }
    spark.read.schema(StructType.fromDDL(
      "window_start TIMESTAMP, window_end TIMESTAMP, event_type STRING, " +
        "n_events BIGINT, sum_value DOUBLE"))
      .parquet(out)
      .where(col("event_type") =!= "__flush__")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss")
          .as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** q249 body: replay events through StreamingLastTouch's per-user
    * single-record click state, one time-slice per micro-batch (the
    * component's cross-batch ingestion-order contract is exactly what
    * landTimeSlices provides), and roll the emitted per-purchase
    * attributions up to q181's bucket report. Purchases emit immediately
    * — no watermark, so no flush sentinel is needed. The graded frame
    * must hash-match q181's batch-window oracle.
    */
  def lastTouchReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"))
    val out = replay(spark, "graft-touch-replay")(
        timeSlices(spark, ev, col("ts_us"), 4)) { (landing, out, ckpt) =>
      Streams.toParquet(StreamingLastTouch.attribute(
        slices(spark, landing,
          Encoders.product[StreamingLastTouch.TouchEvent].schema)
          .as[StreamingLastTouch.TouchEvent]), out, ckpt)
    }
    spark.read.schema(Encoders.product[StreamingLastTouch.Attribution].schema)
      .parquet(out)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("bucket")
  }

  /** q250 body: replay events through StreamingInactivity's event-time
    * TIMERS (transformWithState, RocksDB provider). The inactivity gap
    * is set to the corpus time span + 1 day — no deadline can fire
    * mid-stream, so the replay is slice-boundary-independent — and the
    * flush sentinel lands past every deadline, firing exactly one churn
    * record per user with their true last-seen time. The oracle
    * recomputes both fields relationally (gap included, from the same
    * bounds). The one collect is the two-scalar bounds row (bounded
    * metadata, the StreamingUpsert doctrine).
    */
  def inactivityReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts)").as("ts_ms"))
    val b = ev.agg(min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val gapMs = (mx - mn) + 86400000L
    val flush = spark.range(1)
      .select(lit(-1L).as("user_id"), lit(mx + gapMs + 86400000L).as("ts_ms"))
    val out = replay(spark, "graft-ia-replay", ReplayRocksDb)(
        timeSlices(spark, ev, col("ts_ms"), 4, Some(flush))) {
      (landing, out, ckpt) =>
        val seen = slices(spark, landing,
            StructType.fromDDL("user_id BIGINT, ts_ms BIGINT"))
          .select(expr("timestamp_millis(ts_ms)").as("ts"), col("user_id"))
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), expr("unix_millis(ts)").as("ts_ms"))
          .as[StreamingInactivity.Seen]
        Streams.toParquet(StreamingInactivity.churnFlags(seen, gapMs), out,
          ckpt)
    }
    spark.read.schema(Encoders.product[StreamingInactivity.Churned].schema)
      .parquet(out)
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("last_seen_ms"), col("deadline_ms"))
      .orderBy("user_id")
  }

  /** q252 body: replay events PLUS planted re-deliveries through
    * StreamingDedup's `dropDuplicatesWithinWatermark`. Every event of
    * users ≡ 0 (mod 7) is re-sent verbatim ONE MICRO-BATCH LATER than
    * its original (explicit slice placement — the at-least-once
    * upstream's retry, landing after the first copy), so the drop
    * decision always crosses a batch boundary and exercises retained
    * key state, never just in-batch dedup. The watermark delay is the
    * corpus span + 1 day, putting every re-delivery inside the
    * guaranteed-dedup window (production uses the log-retention window;
    * the replay inflates it so the oracle stays exact). Survivors must
    * be EXACTLY the original events — the oracle aggregates the events
    * table untouched; any leaked duplicate breaks n/n_ids/total_value,
    * any dropped original breaks the counts.
    */
  def dedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val nSlices = 4
    val ev = EventOps.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    val b = ev.agg(min(expr("unix_millis(ts)")).as("mn"),
      max(expr("unix_millis(ts)")).as("mx")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val delayMs = (mx - mn) + 86400000L
    val sliceOf = least(lit(nSlices - 1),
      (expr("unix_millis(ts)") - lit(mn)) * nSlices / lit(mx - mn + 1))
      .cast("int")
    val originals = ev.withColumn("slice", sliceOf)
    val redeliveries = ev.where(col("user_id") % 7 === 0)
      .withColumn("slice", sliceOf + 1) // one batch AFTER the original
    val schema = StructType.fromDDL("event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, ts TIMESTAMP")
    val out = replay(spark, "graft-dedup-replay")(
        landBySlice(spark, originals.unionByName(redeliveries), nSlices + 1,
          _, None)) {
      StreamingDedup.dedupAvailableNow(spark, _, _, _, schema,
        tsCol = "ts", delay = s"$delayMs milliseconds", keys = Seq("event_id"))
    }
    spark.read.schema(schema)
      .parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_ids"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
          .as("total_value"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .orderBy("event_type")
  }

  /** q253 body: replay views and clicks as TWO live file streams through
    * StreamingIntervalJoin's watermarked stream-stream join (clicks
    * within 10 minutes after a view, 20-minute watermark), one
    * time-slice per micro-batch per side. Inner-join pairs emit in the
    * batch where the later side arrives, so no flush is needed; the
    * time-ordered slices guarantee no on-time row is late-dropped and
    * no view a future click could match has been evicted (eviction
    * needs watermark > view_ts + horizon, and a matching click would
    * then be ≤ the watermark — below every later batch's minimum).
    * Graded against the relational interval join over the same events.
    */
  def intervalJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    def side(kind: String): String => Unit =
      timeSlices(spark, ev.where(col("event_type") === kind)
        .select(col("user_id"), col("event_id"), col("ts")),
        expr("unix_millis(ts)"), 4)
    val schema = StructType.fromDDL(
      "user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
    val out = replay(spark, "graft-ij-replay") { landing =>
      side("view")(s"$landing/views"); side("click")(s"$landing/clicks")
    } { (landing, out, ckpt) =>
      Streams.toParquet(StreamingIntervalJoin.attribute(
        slices(spark, s"$landing/views", schema),
        slices(spark, s"$landing/clicks", schema), horizon = "2 hours"),
        out, ckpt)
    }
    spark.read.schema(StructType.fromDDL(
      "user_id BIGINT, view_id BIGINT, click_id BIGINT, " +
        "view_ts TIMESTAMP, click_ts TIMESTAMP"))
      .parquet(out)
      .select(col("user_id"), col("view_id"), col("click_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
      .orderBy("view_id", "click_id")
  }

  /** q266 body: the LEFT OUTER stream-stream interval join, replayed.
    * Same two live file streams as q253, but every view must emit
    * exactly once — paired when a click arrives, null-padded when the
    * WATERMARK proves no click can still qualify. Outer emission
    * happens on state eviction, so the replay appends a flush sentinel
    * (user -1, one day past the corpus) to BOTH streams: the final
    * batches' watermark then clears every real view's eviction bound
    * and the unmatched tail drains before the query stops. The two
    * sentinels carry DISTINCT negative users so they can never pair
    * with each other; each then stays buffered (its own eviction bound
    * is past the final watermark) and never reaches the sink — the
    * readback filter is belt-and-braces. Graded against the relational
    * LEFT JOIN over the same events — row-for-row, nulls included.
    */
  def leftOuterJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val flushTs = ev.agg((max(col("ts")) + expr("INTERVAL 1 DAY")).as("fts"))
    def side(kind: String, flushUser: Long): String => Unit = {
      val rows = ev.where(col("event_type") === kind)
        .select(col("user_id"), col("event_id"), col("ts"))
      val flush = flushTs.select(lit(flushUser).as("user_id"),
        lit(-1L).as("event_id"), col("fts").as("ts"))
      // 2 slices per side (VERDICT r12 #6, was 4): halves the
      // micro-batch count — and the state-store commit count, the
      // bench's most I/O-volatile component two rounds running — while
      // the replay contract still exercises: outer emission across
      // >= 2 batches per side, watermark-driven eviction, and the
      // flush drain. Output is row-identical at any slicing (the
      // oracle is the relational LEFT JOIN).
      timeSlices(spark, rows, expr("unix_millis(ts)"), 2, Some(flush))
    }
    val schema = StructType.fromDDL(
      "user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
    val out = replay(spark, "graft-loj-replay") { landing =>
      side("view", flushUser = -1L)(s"$landing/views")
      side("click", flushUser = -2L)(s"$landing/clicks")
    } { (landing, out, ckpt) =>
      Streams.toParquet(StreamingIntervalJoin.attributeLeftOuter(
        slices(spark, s"$landing/views", schema),
        slices(spark, s"$landing/clicks", schema), horizon = "2 hours"),
        out, ckpt)
    }
    spark.read.schema(StructType.fromDDL(
      "user_id BIGINT, view_id BIGINT, click_id BIGINT, " +
        "view_ts TIMESTAMP, click_ts TIMESTAMP"))
      .parquet(out)
      .where(col("user_id") >= 0L) // belt-and-braces: sentinels never emit
      .select(col("user_id"), col("view_id"), col("click_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
      .orderBy("view_id", "click_id")
  }

  /** q254 body: replay events through the IMPERATIVE sessionizer
    * (StatefulSessions' flatMapGroupsWithState state machine) and grade
    * it against the same q34 oracle as the declarative q244 — the two
    * streaming sessionization tiers must agree with the batch contract
    * independently. A per-user flush sentinel one day past the corpus
    * closes every open session (the flush event itself starts a new
    * open session that is never emitted and never read back).
    *
    * Money exactness: the fold accumulates doubles in event order, so
    * the replay feeds values as exact INTEGER MICRO-UNITS (the
    * DECIMAL(18,6) cast scaled by 10⁶ — integers ≤ 2^53 add exactly in
    * a double under any fold order) and converts the closed totals back
    * with the same half-up-to-cents rule the oracle's ROUND applies;
    * cents/100.0 and CAST(ROUND(dec, 2) AS DOUBLE) are both the
    * correctly-rounded double of the same exact rational.
    */
  def statefulSessionReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        (col("value").cast("decimal(18,6)") * 1000000)
          .cast("double").as("value"))
    val bounds = ev.agg(max(col("ts_us")).as("mx"))
    val flush = ev.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), (col("mx") + lit(86400000000L)).as("ts_us"),
        lit(0.0).as("value"))
    val out = replay(spark, "graft-fsess-replay")(
        timeSlices(spark, ev, col("ts_us"), 4, Some(flush))) {
      (landing, out, ckpt) =>
        val stream = slices(spark, landing,
            StructType.fromDDL("user_id LONG, ts_us LONG, value DOUBLE"))
          .as[StatefulSessions.SessionEvent]
        Streams.toParquet(
          StatefulSessions.sessionize(stream, gapUs = 30L * 60 * 1000000),
          out, ckpt)
    }
    spark.read.schema(StructType.fromDDL(
      "user_id BIGINT, session_start STRING, n_events BIGINT, " +
        "total_value DOUBLE"))
      .parquet(out)
      .withColumn("micro", col("total_value").cast("long"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        // half-up (away from zero) micro → cents, then the exact /100
        (expr("""CASE WHEN micro >= 0 THEN (micro + 5000) div 10000
                |ELSE -((-micro + 5000) div 10000) END""".stripMargin)
          .cast("double") / 100.0).as("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** q255 body: replay events through StreamingUserStats'
    * transformWithState profile processor (typed ValueState, RocksDB,
    * update-mode emission). Each micro-batch re-emits the running
    * profile of every touched user; the FINAL profile per user is the
    * emission from that user's last touching batch — selected by
    * max_by(batch_id) over a foreachBatch-stamped sink, no monotonicity
    * assumption. Money folds as exact integer cents (the component's
    * own contract), so the oracle is the plain relational per-user
    * aggregate.
    */
  def userStatsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = EventOps.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("ts_us"))
    val out = replay(spark, "graft-ustats-replay", ReplayRocksDb)(
        timeSlices(spark, ev, col("ts_us"), 4)) { (landing, out, ckpt) =>
      val stream = slices(spark, landing, StructType.fromDDL(
          "user_id LONG, event_type STRING, cents LONG, ts_us LONG"))
        .select("user_id", "event_type", "cents")
        .as[StreamingUserStats.UserEvent]
      Streams.stamped(StreamingUserStats.profile(stream), out, ckpt,
        StreamingUserStats.outputMode)(_.toDF())
    }
    Streams.latest(spark, out, "user_id BIGINT, n_events BIGINT, " +
        "total_cents BIGINT, n_purchases BIGINT", "user_id")
      .orderBy("user_id")
  }

  /** q256 body: replay events (category derived from the props JSON, the
    * q44 channel convention) through StreamingEnrichment's stream-static
    * broadcast dim join plus its complete-mode revenue aggregate. The
    * static 5-row dimension is re-planned (and broadcast) into every
    * micro-batch; complete mode re-emits the full aggregate per batch,
    * so the sink overwrites and the final batch IS the answer — graded
    * against the relational join+aggregate over the same events.
    */
  def enrichmentReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = EventOps.events(spark, dir)
      .select(
        concat(lit("ch"),
          get_json_object(col("props"), "$.k").cast("int") % 5).as("category"),
        lit(1L).as("quantity"), col("value").as("price"),
        expr("unix_micros(ts)").as("ts_us"))
    val dim = Seq("ch0" -> "grp_even", "ch1" -> "grp_odd",
      "ch2" -> "grp_even", "ch3" -> "grp_odd", "ch4" -> "grp_even")
      .toDF("category", "macro_category")
    val out = replay(spark, "graft-enrich-replay")(
        timeSlices(spark, ev, col("ts_us"), 4)) { (landing, out, ckpt) =>
      val stream = slices(spark, landing, StructType.fromDDL(
          "category STRING, quantity LONG, price DOUBLE, ts_us LONG"))
        .drop("ts_us")
      // complete mode re-emits the whole aggregate: the last batch wins
      Streams.foreachBatch(StreamingEnrichment.macroRevenue(
          StreamingEnrichment.enrich(stream, dim)), ckpt,
          OutputMode.Complete()) { (batch, _) =>
        batch.write.mode("overwrite").parquet(out)
      }
    }
    spark.read.schema(
      StructType.fromDDL("macro_category STRING, revenue DOUBLE"))
      .parquet(out)
      .orderBy("macro_category")
  }

  /** q257 body: replay documents through StreamingTermCounts'
    * mapGroupsWithState running counters (vocabulary-bounded state,
    * update-mode emission), one doc-id slice per micro-batch; the final
    * per-term emission (max_by batch) must equal the relational word
    * count exactly — the component's own "no sketch error" contract.
    */
  def termCountsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val out = replay(spark, "graft-tc-replay")(
        timeSlices(spark, docs, col("doc_id"), 4)) { (landing, out, ckpt) =>
      val stream = slices(spark, landing, DocText)
        .select(col("text")).as[String]
      Streams.stamped(
        StreamingTermCounts.countTerms(StreamingTermCounts.tokenDeltas(stream)),
        out, ckpt, StreamingTermCounts.outputMode)(_.toDF())
    }
    Streams.latest(spark, out, "term STRING, total BIGINT", "term")
      .orderBy("term")
  }

  /** q258 body: replay a 10% landing split of documents through
    * StreamingIncrementalDedup's stream-static MinHash flagging (the
    * static 90% corpus banded once, each micro-batch joining the
    * precomputed bucket relation). MinHash assignments are not
    * SQL-expressible, so the grade is the q56-style contract: the
    * replayed flags must equal the BATCH incremental-assign over the
    * same split frame-for-frame, the run must have spanned ≥ 2
    * micro-batches, and the landing row count is recomputed
    * relationally by the oracle.
    */
  def incrDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val existing = docs.where(col("doc_id") % 10 =!= 0)
    val delta = docs.where(col("doc_id") % 10 === 0)
    val out = replay(spark, "graft-idd-replay", conf = Map.empty)(
        timeSlices(spark, delta, col("doc_id"), 3)) {
      StreamingIncrementalDedup.flagAvailableNow(spark, _, existing, _, _,
        DocText, maxFilesPerTrigger = Some(1))
    }
    val streamed = spark.read.schema(StructType.fromDDL(
      "doc_id BIGINT, matched_id BIGINT, is_known_dup INT, batch_id BIGINT"))
      .parquet(out)
    val flags = streamed.select("doc_id", "matched_id", "is_known_dup")
    val batchRef = DedupOps.incrementalAssign(existing, delta)
    val matchesBatch = flags.exceptAll(batchRef).isEmpty &&
      batchRef.exceptAll(flags).isEmpty
    val multiBatch = streamed.select("batch_id").distinct().count() >= 2
    Seq((flags.count(), multiBatch, matchesBatch))
      .toDF("n_landing", "multi_batch", "matches_batch")
  }

  /** q259 body: the exactly-once file-source ingest (StreamingIngest's
    * bronze→silver AvailableNow stream) replayed over a seeded generated
    * bronze batch landed as four files, then RE-RUN against the same
    * checkpoint with no new files — the second run must add zero rows
    * (the checkpoint, not the data, carries the exactly-once guarantee).
    * Generated data never reaches DuckDB, so the grade is the contract
    * row: seeded row count (a constant both sides know), streamed silver
    * == the batch silver transform, and rerun-added-nothing.
    */
  def ingestReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 2000
    val bronze = graft.gen.SalesGen.initialBatch(spark, n = n).toDF()
    var firstCount = 0L
    val out = replay(spark, "graft-ingest-replay", conf = Map.empty)(
        timeSlices(spark, bronze,
          expr("CAST(substring(order_id, 5) AS BIGINT)"), 4)) {
      (landing, out, ckpt) =>
        StreamingIngest.silverAvailableNow(spark, landing, out, ckpt)
          .awaitTermination()
        firstCount = spark.read.parquet(out).count()
        // the rerun, with the same checkpoint and no new files:
        // exactly-once means zero additional rows
        StreamingIngest.silverAvailableNow(spark, landing, out, ckpt)
    }
    val streamed = spark.read.parquet(out)
    val batchRef = graft.etl.Pipeline.silverTransform(bronze)
    val matches = streamed.exceptAll(batchRef).isEmpty &&
      batchRef.exceptAll(streamed).isEmpty
    Seq((streamed.count(), matches, streamed.count() == firstCount))
      .toDF("n_rows", "matches_batch", "no_dup_after_rerun")
  }

  /** q260 body: the continuously-maintained Count-Min sketch — corpus
    * text streamed through StreamingCms's per-cell running counters
    * (state bounded at depth×width by construction), final cell totals
    * assembled from the update-mode emissions, then probed with the
    * exact top-10 heavy hitters and graded by q229's CMS contract
    * (never undercount; overcount ≤ slack·N/width), PLUS an engine-side
    * cell-for-cell equality check against the batch-built sketch — the
    * additive-merge law applied end-to-end through a real stream.
    */
  def cmsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (depth, width) = (4, 1024)
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val out = replay(spark, "graft-cms-replay")(
        timeSlices(spark, docs, col("doc_id"), 4)) { (landing, out, ckpt) =>
      val stream = slices(spark, landing, DocText)
        .select(col("text")).as[String]
      Streams.stamped(
        StreamingCms.foldCells(StreamingCms.cellDeltas(stream, depth, width)),
        out, ckpt, StreamingCms.outputMode)(_.toDF())
    }
    val sketch = Streams.latest(spark, out,
        "row INT, cell BIGINT, total BIGINT", "row", "cell")
      .withColumnRenamed("total", "cnt")
    val terms = docs.where(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
    val batchSketch = SketchOps.cmsBuild(terms, depth, width)
    val cellsEqual = sketch.exceptAll(batchSketch).isEmpty &&
      batchSketch.exceptAll(sketch).isEmpty
    val totals = terms.agg(count(lit(1)).as("n_terms"))
    val top = terms.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("term")).limit(10)
    SketchOps.cmsEstimate(sketch, top, depth, width)
      .crossJoin(broadcast(totals))
      .select(col("term"), col("true_cnt"),
        (col("est") >= col("true_cnt")).as("within_lower"),
        (col("est") <= col("true_cnt")
          + lit(4) * expr(s"n_terms div $width")).as("within_upper"),
        lit(cellsEqual).as("cells_equal_batch"))
      .orderBy("term")
  }

  /** q307 body: replay the delta slice of the embedding table
    * (vec_id % 5 == 0 — q233's split) through
    * [[graft.streaming.StreamingCentroidAssign]]'s stream-static
    * nearest-centroid enrichment, one time slice per micro-batch, and
    * grade the per-cell assignment census. The assignment arithmetic is
    * fully SQL-replayable (q233's cross-multiplied integers), so unlike
    * the MinHash replays this grades against a FULL DuckDB oracle — the
    * continuous path must land every delta vector in the same cell the
    * batch path computes. max_by(cl, batch_id) per vec_id keeps the
    * read idempotent under the sink's at-least-once appends.
    */
  def centroidAssignReplay(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val static = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    val out = replay(spark, "graft-ca-replay")(
        timeSlices(spark, delta, col("vec_id"), 3)) {
      StreamingCentroidAssign.assignAvailableNow(spark, _, static, _, _,
        StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"),
        maxFilesPerTrigger = Some(1))
    }
    Streams.latest(spark, out, "vec_id BIGINT, cl INT", "vec_id")
      .groupBy(col("cl").as("label"))
      .agg(count(lit(1)).as("n_assigned"))
      .orderBy("label")
  }

  private val centroidAssignReplaySql: String =
    """WITH x AS (
      |  SELECT vec_id, label,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS d,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
      |      AS HUGEINT) AS xq
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |old AS (SELECT * FROM x WHERE vec_id % 5 <> 0),
      |delta AS (SELECT * FROM x WHERE vec_id % 5 = 0),
      |cent AS (SELECT label AS cl, d, SUM(xq) AS s FROM old GROUP BY 1, 2),
      |nn AS (SELECT label AS cl, CAST(COUNT(DISTINCT vec_id) AS HUGEINT)
      |  AS n FROM old GROUP BY 1),
      |scored AS (
      |  SELECT delta.vec_id, cent.cl, nn.n,
      |    SUM((nn.n * delta.xq - cent.s) * (nn.n * delta.xq - cent.s))
      |      AS d2
      |  FROM delta JOIN cent ON cent.d = delta.d
      |  JOIN nn ON nn.cl = cent.cl
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT vec_id, cl,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY CAST(d2 AS DOUBLE) / CAST(n * n AS DOUBLE), cl)
      |      AS rn
      |  FROM scored),
      |assigned AS (SELECT vec_id, cl FROM ranked WHERE rn = 1)
      |SELECT cl AS label, CAST(COUNT(*) AS BIGINT) AS n_assigned
      |FROM assigned GROUP BY cl ORDER BY label""".stripMargin

  /** q318 body: replay the orders table in orderkey-ordered time slices
    * through [[graft.streaming.StreamingTopK]]'s per-segment bounded
    * leaderboard — the segment dimension joins stream-static (broadcast
    * customer lookup inside the streaming query), the cents conversion
    * is q187's exact integer expression, and the per-segment state is
    * the SAME BoundedTopK buffer the batch aggregate folds, so the
    * drained final leaderboards are graded against q187's own full SQL
    * oracle: window sort vs incremental bounded state, one output. The
    * fold's total ordering makes the result independent of slicing —
    * StreamingTopKSpec additionally pins an adversarial high-first
    * landing order. max_by(·, batch_id) per segment keeps the read
    * idempotent under the sink's at-least-once appends.
    */
  def topkReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val segments = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val out = replay(spark, "graft-topk-replay", ReplayRocksDb)(
        timeSlices(spark, orders, col("o_orderkey"), 4)) {
      (landing, out, ckpt) =>
        val stream = slices(spark, landing, StructType.fromDDL(
            "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE"))
          .join(broadcast(segments), col("o_custkey") === col("c_custkey"))
          .select(col("segment"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderkey"))
          .as[StreamingTopK.OrderRow]
        Streams.stamped(StreamingTopK.topkPerSegment(stream), out, ckpt,
          StreamingTopK.outputMode)(_.toDF())
    }
    Streams.latest(spark, out,
        "segment STRING, values ARRAY<BIGINT>, ids ARRAY<BIGINT>", "segment")
      .select(col("segment"),
        posexplode(arrays_zip(col("values"), col("ids"))))
      .select(col("segment"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.values").as("cents"), col("col.ids").as("o_orderkey"))
      .orderBy("segment", "rnk")
  }

  /** q314 body: replay the delta slice of the documents table
    * (doc_id % 5 == 0 — q233/q307's split) through
    * [[graft.streaming.StreamingClassifierScore]]'s stream-static
    * inference — the model is TRAINED IN BATCH (q301's two hard-sigmoid
    * integer epochs) on the static slice, then every landed document is
    * scored continuously against the static vocabulary and the trained
    * weight row. The whole pipeline is exact integer arithmetic, so
    * this grades against a FULL DuckDB oracle that recomputes training
    * AND inference end-to-end — the deploy path must land every delta
    * document on the same p4/prediction the batch path computes.
    * max_by(·, batch_id) per doc_id keeps the read idempotent under the
    * sink's at-least-once appends.
    */
  def classifierScoreReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val static = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val out = replay(spark, "graft-cs-replay")(
        timeSlices(spark, delta, col("doc_id"), 3)) {
      StreamingClassifierScore.scoreAvailableNow(spark, _, static, _, _,
        DocText, maxFilesPerTrigger = Some(1))
    }
    Streams.latest(spark, out, "doc_id BIGINT, p4 BIGINT, pred_en BOOLEAN",
        "doc_id")
      .orderBy("doc_id")
  }

  /** q333 body: replay the q328 SCORE slice (doc_id odd) through
    * [[graft.streaming.StreamingPerplexityScore]]'s stream-static
    * perplexity gate — the LM is trained in batch on the doc_id-even
    * slice, every landed document is scored continuously in the same
    * exact micro-bits arithmetic, and the drained per-doc scores census
    * into q328's whole-bit bands. Graded against q328's OWN full SQL
    * oracle (the q310/q318 shared-oracle convention): the deployment
    * seam — batch-trained model, continuous scoring, at-least-once sink
    * — must not move a single band count. max_by(·, batch_id) per
    * doc_id keeps the read idempotent under the sink's appends.
    */
  def perplexityScoreReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val train = docs.where(col("doc_id") % 2 === 0)
    val delta = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    val out = replay(spark, "graft-ppl-replay")(
        timeSlices(spark, delta, col("doc_id"), 3)) {
      StreamingPerplexityScore.scoreAvailableNow(spark, _, train, _, _,
        DocText, maxFilesPerTrigger = Some(1))
    }
    VocabModelOps.pplCensus(Streams.latest(spark, out,
      "doc_id BIGINT, ppl BIGINT, n BIGINT", "doc_id"))
  }

  /** q338 body: replay the WHOLE documents corpus in doc_id-ordered
    * time slices through [[graft.streaming.StreamingBudgetAdmission]]'s
    * per-language quota fold (budget = half each language's corpus
    * tokens, computed in batch and broadcast), then census the drained
    * verdicts per language. Graded against a RECURSIVE-CTE DuckDB
    * oracle that replays the same doc_id-ordered skip-fold — the
    * admission semantics (a rejected document consumes nothing; later
    * smaller documents may still fit) has no window-function
    * equivalent, which is the point of the stateful component.
    * max_by(·, batch_id) keeps the readback idempotent.
    */
  def budgetAdmissionReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val budgets = docs
      .select(col("lang"), expr("""CAST(size(filter(
        | split(coalesce(text, ''), ' '), t -> t <> '')) AS BIGINT)"""
        .stripMargin).as("n"))
      .groupBy("lang").agg(expr("sum(n) div 2").as("budget"))
    val out = replay(spark, "graft-adm-replay")(
        timeSlices(spark, docs, col("doc_id"), 3)) {
      StreamingBudgetAdmission.admitAvailableNow(spark, _, budgets, _, _,
        DocLangText, maxFilesPerTrigger = Some(1))
    }
    Streams.latest(spark, out,
        "doc_id BIGINT, lang STRING, n_toks BIGINT, admitted BOOLEAN",
        "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_toks")).otherwise(0L))
          .as("admitted_tokens"))
      .join(broadcast(budgets), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_admitted"),
        col("admitted_tokens"), col("budget"))
      .orderBy("lang")
  }

  private val budgetAdmissionSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
      |      x -> x <> '')) AS BIGINT) AS n
      |  FROM documents),
      |b AS (SELECT lang, CAST(SUM(n) // 2 AS BIGINT) AS budget
      |  FROM toks GROUP BY lang),
      |ord AS (SELECT toks.doc_id, toks.lang, toks.n, b.budget,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY toks.lang
      |      ORDER BY toks.doc_id) AS BIGINT) AS i
      |  FROM toks JOIN b ON toks.lang = b.lang),
      |adm AS (
      |  SELECT lang, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS spent,
      |    CAST(0 AS BIGINT) AS n_admitted,
      |    CAST(0 AS BIGINT) AS admitted_tokens
      |  FROM b
      |  UNION ALL
      |  SELECT o.lang, o.i,
      |    a.spent + CASE WHEN a.spent + o.n <= o.budget THEN o.n
      |      ELSE 0 END,
      |    a.n_admitted + CASE WHEN a.spent + o.n <= o.budget THEN 1
      |      ELSE 0 END,
      |    a.admitted_tokens + CASE WHEN a.spent + o.n <= o.budget THEN o.n
      |      ELSE 0 END
      |  FROM adm a JOIN ord o ON o.lang = a.lang AND o.i = a.i + 1),
      |cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM ord GROUP BY lang)
      |SELECT a.lang, cnt.n_docs, a.n_admitted, a.admitted_tokens, b.budget
      |FROM adm a
      |JOIN cnt ON a.lang = cnt.lang AND a.i = cnt.n_docs
      |JOIN b ON a.lang = b.lang
      |ORDER BY a.lang""".stripMargin

  /** q344 body: replay the corpus through
    * [[graft.streaming.StreamingCurationGate]] — the chained ingest
    * pipeline (row-local quality gate → per-language budget skip-fold,
    * budget = half each language's GATE-PASSING token mass, computed in
    * batch through the component's own gateFrame) — and census the
    * drained verdicts per language: arrivals, gated, admitted, admitted
    * token mass, budget. Graded against a RECURSIVE-CTE oracle that
    * replays the same gate predicate and doc_id-ordered skip-fold.
    */
  def curationGateReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val budgets = StreamingCurationGate.gateFrame(docs)
      .where(!col("gated"))
      .groupBy("lang").agg(expr("sum(n_toks) div 2").as("budget"))
    val out = replay(spark, "graft-gate-replay")(
        timeSlices(spark, docs, col("doc_id"), 3)) {
      StreamingCurationGate.gateAvailableNow(spark, _, budgets, _, _,
        DocLangText, maxFilesPerTrigger = Some(1))
    }
    Streams.latest(spark, out, "doc_id BIGINT, lang STRING, " +
        "n_toks BIGINT, gated BOOLEAN, admitted BOOLEAN", "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("gated"), 1L).otherwise(0L)).as("n_gated"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_toks")).otherwise(0L))
          .as("admitted_tokens"))
      .join(broadcast(budgets), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_gated"),
        col("n_admitted"), col("admitted_tokens"), col("budget"))
      .orderBy("lang")
  }

  private val curationGateSql: String =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id, lang,
      |    CAST(len(ws) AS BIGINT) AS n,
      |    NOT (len(ws) >= 20
      |      AND COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
      |        >= 3 * len(ws)
      |      AND COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
      |        <= 10 * len(ws)
      |      AND 10 * len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
      |        >= 8 * len(ws)) AS gated
      |  FROM (SELECT doc_id, lang,
      |      list_filter(string_split(COALESCE(text, ''), ' '),
      |        x -> x <> '') AS ws
      |    FROM documents)),
      |b AS (SELECT lang, CAST(SUM(n) // 2 AS BIGINT) AS budget
      |  FROM g WHERE NOT gated GROUP BY lang),
      |ord AS (SELECT g.doc_id, g.lang, g.n, g.gated, b.budget,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY g.lang
      |      ORDER BY g.doc_id) AS BIGINT) AS i
      |  FROM g JOIN b ON g.lang = b.lang),
      |adm AS (
      |  SELECT lang, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS spent,
      |    CAST(0 AS BIGINT) AS n_admitted,
      |    CAST(0 AS BIGINT) AS admitted_tokens
      |  FROM b
      |  UNION ALL
      |  SELECT o.lang, o.i,
      |    a.spent + CASE WHEN NOT o.gated AND a.spent + o.n <= o.budget
      |      THEN o.n ELSE 0 END,
      |    a.n_admitted + CASE WHEN NOT o.gated AND a.spent + o.n <= o.budget
      |      THEN 1 ELSE 0 END,
      |    a.admitted_tokens
      |      + CASE WHEN NOT o.gated AND a.spent + o.n <= o.budget
      |        THEN o.n ELSE 0 END
      |  FROM adm a JOIN ord o ON o.lang = a.lang AND o.i = a.i + 1),
      |cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(CASE WHEN gated THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_gated
      |  FROM ord GROUP BY lang)
      |SELECT a.lang, cnt.n_docs, cnt.n_gated, a.n_admitted,
      |  a.admitted_tokens, b.budget
      |FROM adm a
      |JOIN cnt ON a.lang = cnt.lang AND a.i = cnt.n_docs
      |JOIN b ON a.lang = b.lang
      |ORDER BY a.lang""".stripMargin

  /** q345 body: build the IVF-PQ index ONCE, then replay the query
    * vectors as a STREAM through
    * [[graft.streaming.StreamingAnnServe]] — the query-service
    * deployment of the q326 serve path. Every query's top-k depends
    * only on the frozen index and its own vector, so the drained
    * results are independent of batching and grade against q309's OWN
    * golden: inline-fit (q309), stored-serve (q326), and streamed-serve
    * (q345) are held to ONE output contract. max_by(·, batch_id) keeps
    * the readback idempotent.
    */
  def annServeReplay(spark: SparkSession, dir: String): DataFrame = {
    val v = SimilarityOps.vectors(spark, dir)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_annstream")
    val queries = SimilarityOps.queriesOf(v, 20)
    val out = replay(spark, "graft-ann-replay")(
        timeSlices(spark, queries, col("q_id"), 3)) {
      StreamingAnnServe.serveAvailableNow(spark, _, "graft_annstream", _, _,
        StructType.fromDDL("q_id BIGINT, qv ARRAY<DOUBLE>"),
        maxFilesPerTrigger = Some(1))
    }
    Streams.latest(spark, out, "q_id BIGINT, rnk INT, vec_id BIGINT",
        "q_id", "rnk")
      .orderBy("q_id", "rnk")
  }

  /** q351 body: streamed INDEX MAINTENANCE replay — the write side of
    * the ANN lifecycle deployed as a stream
    * ([[graft.streaming.StreamingAnnMaintain]]). Build the index on the
    * base slice (frozen fit), land the delta vectors as vec_id-ordered
    * time slices, append each micro-batch to the STORED index against
    * the frozen quantizers, then serve from the grown index. The grown
    * index is batching-independent (per-vector encode, frozen fit), so
    * the serve is graded against q330's OWN golden — one result
    * contract across batch append and streamed append. Exactly-once
    * (anti-join on already-indexed ids) is pinned by
    * StreamingAnnMaintainSpec's wiped-checkpoint re-run.
    */
  def annMaintainReplay(spark: SparkSession, dir: String): DataFrame = {
    val v = SimilarityOps.vectors(spark, dir)
    val baseSlice = v.where(col("vec_id") % 5 =!= 0)
    val delta = v.where(col("vec_id") % 5 === 0)
    AnnIndexOps.buildResidualIndex(spark, baseSlice, "graft_annmaint")
    replayTier(spark, "graft-annm-replay", delta, "vec_id")(
      StreamingAnnMaintain.maintainAvailableNow(
        spark, _, "graft_annmaint", _,
        StructType.fromDDL("vec_id BIGINT, label INT, v ARRAY<DOUBLE>"),
        maxFilesPerTrigger = Some(1)))
    AnnIndexOps.serveTopK(spark, SimilarityOps.queriesOf(v, 20),
      "graft_annmaint")
  }

  /** q356 body: streamed TAKEDOWN replay — the deletion side of the
    * ANN lifecycle as a stream ([[graft.streaming.StreamingAnnTakedown]]).
    * Build the full index, land the deletion requests (vec_id % 11 —
    * q350's ANN deletion set) as time slices, tombstone them per
    * micro-batch, then COMPACT ([[AnnIndexOps.applyTombstones]]) and
    * serve. The graded serve comes from the physically-swept index;
    * StreamingAnnTakedownSpec pins that the tombstone-filtered serve
    * (before the apply) is byte-identical — compaction invisible to
    * readers — plus redelivery idempotence and rebuild equivalence.
    */
  def annTakedownReplay(spark: SparkSession, dir: String): DataFrame = {
    val v = SimilarityOps.vectors(spark, dir)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_anntdstream")
    val dels = v.where(col("vec_id") % 11 === 0).select(col("vec_id"))
    replayTier(spark, "graft-anntd-replay", dels, "vec_id")(
      StreamingAnnTakedown.takedownAvailableNow(
        spark, _, "graft_anntdstream", _,
        StructType.fromDDL("vec_id BIGINT"),
        maxFilesPerTrigger = Some(1)))
    AnnIndexOps.applyTombstones(spark, "graft_anntdstream")
    AnnIndexOps.serveTopK(spark, SimilarityOps.queriesOf(v, 20),
      "graft_anntdstream")
  }

  /** q361 body: streamed CURATED MAINTENANCE replay — the curated
    * lifecycle's write side deployed as a stream
    * ([[graft.streaming.StreamingCuratedMaintain]]). Materialize the
    * base slice with provenance, land the id-ordered tail as time
    * slices, scrub+append each micro-batch against the STORED bucket
    * relation (q355's O(batch) doctrine per trigger), then read back
    * the census. The grown table is batching-independent under the
    * id-ordered append contract, so the census is graded against
    * q348's OWN golden — one result contract across from-scratch,
    * batch-append, and streamed-append materialization. Exactly-once
    * (doc_id high-watermark off the stored pars) is pinned by
    * StreamingCuratedMaintainSpec's wiped-checkpoint re-run.
    */
  def curatedMaintainReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    TakedownOps.curatedMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_cmstream")
    replayTier(spark, "graft-cm-replay", docs.where(col("doc_id") > cut),
        "doc_id")(
      StreamingCuratedMaintain.maintainAvailableNow(
        spark, _, "graft_cmstream", _, DocLangText,
        maxFilesPerTrigger = Some(1)))
    CurationOps.curatedCensusOf(spark.table("graft_cmstream_curated"))
  }

  /** q367 body: streamed LM MAINTENANCE replay — the model lifecycle's
    * write side deployed as a stream
    * ([[graft.streaming.StreamingLmMaintain]]). Materialize the q328
    * model on the id-leading train slice, land the train tail as time
    * slices, fold each micro-batch into the STORED count relations
    * (q366's additive-monoid doctrine per trigger), then score the odd
    * slice from the grown model. Addition is associative and
    * commutative, so the streamed model is batching-independent and
    * the census grades against q328's OWN full SQL oracle — streamed,
    * batch-append, and from-scratch training are one contract.
    * Exactly-once (the c12 relation's pinned doc_id high-watermark) is
    * pinned by StreamingLmMaintainSpec's wiped-checkpoint re-run.
    */
  def lmMaintainReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    VocabModelOps.lmMaterialize(spark,
      train.where(col("doc_id") <= cut), "graft_lmstream")
    replayTier(spark, "graft-lm-replay", train.where(col("doc_id") > cut),
        "doc_id")(
      StreamingLmMaintain.maintainAvailableNow(
        spark, _, "graft_lmstream", _, DocText,
        maxFilesPerTrigger = Some(1)))
    VocabModelOps.scoreFromStored(spark,
      docs.where(col("doc_id") % 2 === 1), "graft_lmstream")
  }

  /** q370 body: streamed SEARCH-INDEX maintenance replay — the
    * retrieval lifecycle's write side deployed as a stream
    * ([[graft.streaming.StreamingSearchIndexMaintain]]). Materialize
    * the postings/dl relations on the id-leading slice, land the tail
    * as time slices, append each micro-batch's disjoint rows, then
    * serve BM25 from the grown stored index. Graded against q245's OWN
    * full SQL oracle — streamed, batch-append, and from-scratch
    * indexing are one contract. Exactly-once (the dl relation's pinned
    * doc_id high-watermark) is pinned by SearchIndexSpec's
    * wiped-checkpoint re-runs.
    */
  def searchIndexMaintainReplay(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    CorpusStatsOps.searchIndexMaterialize(spark,
      docs.where(col("doc_id") <= cut), "graft_sistream")
    replayTier(spark, "graft-si-replay", docs.where(col("doc_id") > cut),
        "doc_id")(
      StreamingSearchIndexMaintain.maintainAvailableNow(
        spark, _, "graft_sistream", _, DocText,
        maxFilesPerTrigger = Some(1)))
    CorpusStatsOps.bm25FromStored(spark, CorpusStatsOps.Bm25Queries, 10,
      "graft_sistream")
  }

  /** q371 body: streamed CLUSTER-MAP maintenance replay — q360's
    * component-local merge deployed as a stream
    * ([[graft.streaming.StreamingClusterMaintain]]). Materialize the
    * base slice's cluster map with bucket provenance, land the
    * id-ordered tail as time slices, merge each micro-batch into the
    * stored closure, read back the grown map — graded against q51's
    * OWN golden: from-scratch, batch-merge, and streamed-merge
    * closures are one contract. Exactly-once (the cluster table's own
    * max doc_id is the watermark) is pinned by
    * StreamingClusterMaintainSpec's wiped-checkpoint re-run.
    */
  def clusterMaintainReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    TakedownOps.clustersMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_clmstream")
    replayTier(spark, "graft-clm-replay", docs.where(col("doc_id") > cut),
        "doc_id")(
      StreamingClusterMaintain.maintainAvailableNow(
        spark, _, "graft_clmstream", _, DocText,
        maxFilesPerTrigger = Some(1)))
    spark.table("graft_clmstream_clusters")
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
      .orderBy("doc_id")
  }

  /** q376 body: streamed MEDIA-FINGERPRINT maintenance replay — the
    * 30th streaming component, closing the one asymmetric cell of the
    * artifact matrix ([[graft.streaming.StreamingMediaMaintain]]).
    * Materialize the base slice's media tier, land the id-ordered tail
    * as time slices, fold each micro-batch in (ownership rows append,
    * decode only for never-seen payload keys, touched signature groups
    * recompute), read back the cluster relation — graded against
    * q293's OWN full SQL oracle: from-scratch, batch-append (q374),
    * and streamed-append media dedup are one contract. Exactly-once
    * (the keyed relation's own max doc_id is the watermark — every
    * processed doc leaves an ownership row) is pinned by
    * StreamingMediaMaintainSpec's wiped-checkpoint re-run.
    */
  def mediaMaintainReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    TakedownOps.mediaMaterialize(spark,
      docs.where(col("doc_id") <= cut), "graft_mmstream")
    replayTier(spark, "graft-mm-replay", docs.where(col("doc_id") > cut),
        "doc_id")(
      StreamingMediaMaintain.maintainAvailableNow(
        spark, _, "graft_mmstream", _,
        StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1)))
    spark.table("graft_mmstream_mclusters")
      .select(col("format"), col("width"), col("height"),
        col("resized_sum"), col("canonical_id"), col("n_members"))
      .orderBy("canonical_id")
  }

  /** q378 body: streamed SEARCH-INDEX TAKEDOWN replay — the deletion
    * side of the persisted-index lifecycle as a stream
    * ([[graft.streaming.StreamingSearchIndexTakedown]]), the q356
    * LSM doctrine one tier over. Materialize the full index, land the
    * deletion requests (doc_id % 13 — q350's RTBF set) as time slices,
    * tombstone them per micro-batch, then APPLY (one physical fold)
    * and serve. The graded serve comes from the physically-swept
    * index; SearchIndexSpec pins that the tombstone-filtered serve
    * BEFORE the apply is byte-identical — a deleted doc is unservable,
    * with survivor-exact idf/dl mass, the moment its tombstone lands.
    * Held to q369's oracle: a full DuckDB rebuild on the survivors.
    */
  def searchTakedownReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    CorpusStatsOps.searchIndexMaterialize(spark, docs, "graft_sitdstream")
    val dels = docs.where(col("doc_id") % 13 === 0).select(col("doc_id"))
    replayTier(spark, "graft-sitd-replay", dels, "doc_id")(
      StreamingSearchIndexTakedown.takedownAvailableNow(
        spark, _, "graft_sitdstream", _,
        StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1)))
    CorpusStatsOps.applySearchTombstones(spark, "graft_sitdstream")
    CorpusStatsOps.bm25FromStored(spark, CorpusStatsOps.Bm25Queries, 10,
      "graft_sitdstream")
  }

  /** q379 body: streamed CLUSTER-MAP TAKEDOWN replay — the deletion
    * side of the dedup-cluster lifecycle as a stream
    * ([[graft.streaming.StreamingClusterTakedown]]): materialize the
    * full closure with provenance, land q372's deletion set
    * (doc_id % 13) as time slices, repair component-locally per
    * micro-batch (splits where a deleted doc bridged, label migration
    * where it was the minimum), read back the census. The swept state
    * is the closure on the survivors — exactly the state q372's
    * composed lifecycle ends in — so the readback (census +
    * matches_rebuild recomputed against this replay's OWN from-scratch
    * closure) is graded against q372's golden: two independent
    * lifecycle paths (batch compose vs streamed deletions), one
    * output. Redelivery idempotence is pinned by the spec.
    */
  def clusterTakedownReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    TakedownOps.clustersMaterializeWithProvenance(spark, docs,
      "graft_cltdstream")
    val dels = docs.where(col("doc_id") % 13 === 0).select(col("doc_id"))
    replayTier(spark, "graft-cltd-replay", dels, "doc_id")(
      StreamingClusterTakedown.takedownAvailableNow(
        spark, _, "graft_cltdstream", _,
        StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1)))
    val swept = spark.table("graft_cltdstream_clusters")
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
      .localCheckpoint(true)
    val rebuild = DedupOps.starClusters(docs.where(col("doc_id") % 13 =!= 0))
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
    val matches =
      if (swept.count() == rebuild.count() && swept.exceptAll(rebuild).isEmpty)
        1 else 0
    swept.groupBy("is_dup")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .withColumn("matches_rebuild", lit(matches))
      .orderBy("is_dup")
  }

  /** q380 body: streamed MEDIA-ARTIFACT TAKEDOWN replay — q365's sweep
    * as a stream ([[graft.streaming.StreamingMediaTakedown]]),
    * completing streamed-deletion symmetry across the artifact tiers.
    * Materialize the full media tier, land q365's composed deletion
    * set (the RTBF sweep doc_id % 13 PLUS every owner of media key 7 —
    * the DMCA shape that makes fingerprint retirement non-vacuous) as
    * time slices, sweep per micro-batch, read back the cluster
    * relation — held to the q293 oracle REBUILT on the survivors in
    * DuckDB: the streamed sweep must equal a media tier that never saw
    * the deleted docs.
    */
  def mediaTakedownReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    TakedownOps.mediaMaterialize(spark, docs, "graft_mtdstream")
    val dels = docs
      .where(col("doc_id") % 13 === 0 || col("doc_id") % 97 === 7)
    replayTier(spark, "graft-mtd-replay", dels, "doc_id")(
      StreamingMediaTakedown.takedownAvailableNow(
        spark, _, "graft_mtdstream", _,
        StructType.fromDDL("doc_id BIGINT"),
        maxFilesPerTrigger = Some(1)))
    spark.table("graft_mtdstream_mclusters")
      .select(col("format"), col("width"), col("height"),
        col("resized_sum"), col("canonical_id"), col("n_members"))
      .orderBy("canonical_id")
  }

  /** q381 body: streamed LM UNLEARNING replay — the deletion side of
    * the trained-model lifecycle as a stream
    * ([[graft.streaming.StreamingLmUnlearn]]), completing
    * learn/unlearn symmetry for the model tier (q367 is the learn
    * side). Train on the even slice, persist the model, land the
    * takedown deletion set (train docs with doc_id % 13 == 0 — q362's)
    * as time slices, subtract each micro-batch's exact contributions,
    * then score the surviving odd docs from the unlearned STORED
    * model. Graded by q362's OWN full SQL oracle — DuckDB retrains
    * from scratch on the survivors, so streamed unlearning == batch
    * unlearning == retrain, proven by an independent engine.
    * Exactly-once (the persisted processed-ids gate — deletion ids
    * arrive unordered, so no watermark can dedup them) is pinned by
    * StreamingLmUnlearnSpec's wiped-checkpoint re-run.
    */
  def lmUnlearnReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    VocabModelOps.lmMaterialize(spark, train, "graft_lmustream")
    StreamingLmUnlearn.resetProcessed(spark,
      "graft_lmustream")
    replayTier(spark, "graft-lmu-replay",
        train.where(col("doc_id") % 13 === 0), "doc_id")(
      StreamingLmUnlearn.unlearnAvailableNow(
        spark, _, "graft_lmustream", _, DocText,
        maxFilesPerTrigger = Some(1)))
    VocabModelOps.scoreFromStored(spark,
      docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 13 =!= 0),
      "graft_lmustream")
  }

  /** q377 body: CENSUS-TRIGGERED SPLIT in the streamed ingest path —
    * q363's observe→repair loop composed with the streamed ANN
    * maintenance (VERDICT r15 #5), run where drift actually
    * accumulates. Build the index on the clean corpus, land the q363
    * drift pile (3× the corpus mass concentrated near e0) as time
    * slices, and stream it in with `censusSplit = true`: the appends
    * themselves CREATE the fat cell mid-stream, and the post-batch
    * census triggers the in-place split. Graded against the
    * batch-appended UNSPLIT twin (same content, no repair): the
    * maintained index must end with zero fat cells, identical row
    * count (the split moves list boundaries, never data), and
    * recall@topK at equal probes at-or-above the unsplit twin's —
    * q363's invariants, reproduced by the continuous-ingest path.
    * The streamed repair is NOT byte-identical to the batch split:
    * its sub-fits observe only the pile's landed PREFIX (a mid-stream
    * split fits children on the first slice; later arrivals encode
    * against those fixed children and may trigger further splits), so
    * intermediate-k recall can differ in either direction — the
    * contract, and GoldenInvariantSpec's pin, is the top-k serve.
    * Deterministic (frozen fits, salted-hash seeding, id-ordered
    * slices) → literal golden.
    */
  def annCensusSplitReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = SimilarityOps.vectors(spark, dir)
    val shifted = v
      .crossJoin(spark.range(3).select(col("id").as("copy")))
      .select(
        (col("vec_id") + lit(9200000000L) + col("copy") * lit(1000000L))
          .as("vec_id"),
        col("label"),
        expr("transform(v, (x, i) -> 0.05D * x + IF(i = 0, 0.95D, 0D))")
          .as("v"))
    AnnIndexOps.buildResidualIndex(spark, v, "graft_anncs_m")
    replayTier(spark, "graft-anncs-replay", shifted, "vec_id")(
      StreamingAnnMaintain.maintainAvailableNow(
        spark, _, "graft_anncs_m", _,
        StructType.fromDDL("vec_id BIGINT, label INT, v ARRAY<DOUBLE>"),
        maxFilesPerTrigger = Some(1), censusSplit = true))
    // the unsplit twin: batch-append the same content, no repair (the
    // base build is a memo clone — one append-encode, not two fits)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_anncs_u")
    AnnIndexOps.appendToIndex(spark, shifted, "graft_anncs_u")
    // q363's audit frame: queries from both regions, equal weight
    val full = v.unionByName(
      shifted.select(col("vec_id"), col("label"), col("v")))
    val q = SimilarityOps.queriesOf(v, 10).unionByName(
      full.where(col("vec_id") >= 9200000000L &&
          col("vec_id") < 9200000010L)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
    def fatCount(prefix: String): Long =
      AnnIndexOps.indexCellCensus(spark, prefix)
        .where(col("fat")).count()
    // one exact pass shared by both twins' audits (the q363 shape)
    val exact = SimilarityOps.bruteForceTopK(full, q, 5)
      .localCheckpoint(true)
    def recall(prefix: String): Map[Long, Long] =
      AnnIndexOps.serveRecallAudit(spark, full, q, prefix,
          exactOpt = Some(exact)).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val ru = recall("graft_anncs_u")
    val rm = recall("graft_anncs_m")
    val rows = Seq(
      ("fat_cells", fatCount("graft_anncs_u"), fatCount("graft_anncs_m")),
      ("n_cells", spark.table("graft_anncs_u_centroids").count(),
        spark.table("graft_anncs_m_centroids").count()),
      ("n_code_rows", spark.table("graft_anncs_u_codes").count(),
        spark.table("graft_anncs_m_codes").count())) ++
      (1L to 5L).map(k => (s"recall@$k", ru(k), rm(k)))
    rows.toDF("metric", "unsplit", "split").orderBy("metric")
  }

  /** q310 body: replay the documents corpus in doc_id-ordered time
    * slices through [[graft.streaming.StreamingMinHashDedup]]'s
    * stateful per-bucket fold. Under id-ordered delivery the continuous
    * assignment equals the batch 1-hop canonical exactly (see the
    * component doc), so the drained output is graded against q24's OWN
    * golden — the q308 doctrine: two independent mechanisms (stateless
    * batch window vs per-bucket GroupState across micro-batches) held
    * to one output. min() on the read side keeps at-least-once appends
    * idempotent; the left join restores any doc the stream never
    * emitted (none, by the singleton-bucket contract — a missing row
    * would fail the golden's row count).
    */
  def minhashDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val out = replay(spark, "graft-smh-replay")(
        timeSlices(spark, docs, col("doc_id"), 4)) {
      StreamingMinHashDedup.dedupAvailableNow(spark, _, _, _, DocText,
        maxFilesPerTrigger = Some(1))
    }
    val streamed = spark.read.schema(StructType.fromDDL(
        "doc_id BIGINT, canonical_id BIGINT, batch_id BIGINT"))
      .parquet(out)
      .groupBy("doc_id")
      .agg(min(col("canonical_id")).as("c"))
    docs.select(col("doc_id")).join(streamed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("c"), col("doc_id")).as("canonical_id"))
      .withColumn("is_dup", (col("canonical_id") < col("doc_id")).cast("int"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    // Stream-static centroid assignment replay: the continuous path of
    // q233's incremental index maintenance, graded by the batch tier's
    // full SQL oracle (per-cell assignment census).
    QueryDef("q307_centroidassign_replay", Some(centroidAssignReplaySql),
      (spark, dir) => centroidAssignReplay(spark, dir)),

    // Stateful streaming bounded top-k replay: per-segment BoundedTopK
    // state folded incrementally, graded against q187's OWN oracle
    // (window sort vs incremental bounded state, one output).
    QueryDef("q318_topk_replay", Some(WarehouseOps.topOrdersOracle),
      (spark, dir) => topkReplay(spark, dir)),

    // Stream-static classifier inference replay: train offline (q301's
    // exact-integer epochs on the static slice), score the landing
    // delta continuously; full SQL oracle recomputes training AND
    // inference.
    QueryDef("q314_classifier_score_replay",
      Some(VocabModelOps.classifierScoreReplaySql),
      (spark, dir) => classifierScoreReplay(spark, dir)),

    // Streamed ANN query service (23rd streaming component): the
    // stored-index serve per micro-batch, held to q309's own golden —
    // one result contract across inline, stored, and streamed serves.
    QueryDef("q345_ann_serve_replay",
      graft.util.Tables.literalOracle("q309_ivf_pq_residual"),
      (spark, dir) => annServeReplay(spark, dir)),

    // Streamed ANN index maintenance (24th streaming component): the
    // lifecycle's write side per micro-batch against frozen quantizers,
    // held to q330's own golden — batch append and streamed append are
    // one contract.
    QueryDef("q351_ann_maintain_replay",
      graft.util.Tables.literalOracle("q330_ann_append"),
      (spark, dir) => annMaintainReplay(spark, dir)),

    // Streamed takedown service (25th streaming component): deletion
    // requests land as tombstones per micro-batch, compaction folds
    // them into one canonical rewrite; served from the swept index.
    QueryDef("q356_ann_takedown_replay",
      graft.util.Tables.literalOracle("q356_ann_takedown_replay"),
      (spark, dir) => annTakedownReplay(spark, dir)),

    // Streamed curated maintenance (26th streaming component): the
    // q355 scrub-append per micro-batch against the stored provenance,
    // held to q348's own golden — from-scratch, batch-append, and
    // streamed-append are one contract.
    QueryDef("q361_curated_maintain_replay",
      graft.util.Tables.literalOracle("q348_curated_corpus"),
      (spark, dir) => curatedMaintainReplay(spark, dir)),

    // Streamed LM maintenance (27th streaming component): q366's
    // additive-monoid fold per micro-batch with a persisted doc_id
    // high-watermark; scored census held to q328's OWN full SQL
    // oracle — streamed, batch, and from-scratch training agree.
    QueryDef("q367_lm_maintain_replay",
      Some(VocabModelOps.bigramPerplexitySql),
      (spark, dir) => lmMaintainReplay(spark, dir)),

    // Streamed search-index maintenance (28th streaming component):
    // disjoint postings/dl row appends per micro-batch with a dl
    // high-watermark; served BM25 held to q245's OWN full SQL oracle.
    QueryDef("q370_index_maintain_replay",
      Some(CorpusStatsOps.bm25TopKSql),
      (spark, dir) => searchIndexMaintainReplay(spark, dir)),

    // Streamed cluster-map maintenance (29th streaming component):
    // q360's component-local merge per micro-batch, held to q51's OWN
    // golden — three independent closure paths, one output.
    QueryDef("q371_cluster_maintain_replay",
      graft.util.Tables.literalOracle("q51_dedup_clusters"),
      (spark, dir) => clusterMaintainReplay(spark, dir)),

    // Streamed media-fingerprint maintenance (30th streaming
    // component, the last asymmetric matrix cell): q374's append per
    // micro-batch with the keyed relation's own max doc_id as the
    // watermark; readback held to q293's OWN full SQL oracle.
    QueryDef("q376_media_maintain_replay",
      Some(MultimodalOps.mediaDedupSql),
      (spark, dir) => mediaMaintainReplay(spark, dir)),

    // Census-triggered split in the streamed ingest path: the appends
    // CREATE the fat cell mid-stream, the post-batch census repairs it
    // in place; graded against the batch-appended unsplit twin on
    // q363's invariants (fat 0, row conservation, recall >= unsplit).
    // Engine-side frozen fits + salted-hash seeding -> golden.
    QueryDef("q377_ann_census_split_replay",
      graft.util.Tables.literalOracle("q377_ann_census_split_replay"),
      (spark, dir) => annCensusSplitReplay(spark, dir)),

    // Streamed search-index takedown (31st streaming component):
    // tombstone appends per micro-batch (the q356 LSM amortization,
    // one tier over), survivor-exact serves before the apply, one
    // physical fold after; held to q369's oracle — a full DuckDB
    // rebuild on the survivors.
    QueryDef("q378_index_takedown_replay",
      Some(CorpusStatsOps.bm25Sql(CorpusStatsOps.Bm25Queries, 10,
        " AND doc_id % 13 <> 0")),
      (spark, dir) => searchTakedownReplay(spark, dir)),

    // Streamed cluster-map takedown (32nd streaming component):
    // component-local repair per micro-batch (tombstones CANNOT make
    // cluster reads correct — labels are component minima); the swept
    // state is the survivors' closure, the same state q372's composed
    // lifecycle ends in, so the census readback shares q372's golden.
    QueryDef("q379_cluster_takedown_replay",
      graft.util.Tables.literalOracle("q372_cluster_lifecycle"),
      (spark, dir) => clusterTakedownReplay(spark, dir)),

    // Streamed media takedown (33rd streaming component): q365's sweep
    // per micro-batch — ownership rows leave, last-owner fingerprints
    // retire, affected signature groups recompute; held to the q293
    // oracle rebuilt on the survivors in DuckDB.
    QueryDef("q380_media_takedown_replay",
      Some(MultimodalOps.mediaDedupSqlOn(
        "NOT (doc_id % 13 = 0 OR doc_id % 97 = 7)")),
      (spark, dir) => mediaTakedownReplay(spark, dir)),

    // Streamed LM unlearning (34th streaming component): exact count
    // subtraction per micro-batch behind a persisted processed-ids
    // gate (subtraction is not idempotent and deletion ids are
    // unordered); held to q362's full SQL oracle — DuckDB retrains
    // from scratch on the survivors.
    QueryDef("q381_lm_unlearn_replay",
      Some(VocabModelOps.unlearnedPerplexitySql),
      (spark, dir) => lmUnlearnReplay(spark, dir)),

    // Chained curation-gate replay (22nd streaming component):
    // row-local quality gate -> per-language budget skip-fold in one
    // stateful query; recursive-CTE oracle.
    QueryDef("q344_curation_gate_replay", Some(curationGateSql),
      (spark, dir) => curationGateReplay(spark, dir)),

    // Stateful budget-admission replay (21st streaming component):
    // per-language quota skip-fold, recursive-CTE oracle.
    QueryDef("q338_budget_admission_replay", Some(budgetAdmissionSql),
      (spark, dir) => budgetAdmissionReplay(spark, dir)),

    // Stream-static perplexity gate replay (20th streaming component):
    // batch-trained bigram LM, continuous exact-micro-bits scoring,
    // graded against q328's own full SQL oracle.
    QueryDef("q333_perplexity_score_replay",
      Some(VocabModelOps.bigramPerplexitySql),
      (spark, dir) => perplexityScoreReplay(spark, dir)),

    // Stateful streaming MinHash dedup replay: per-bucket GroupState
    // memory, graded against the batch 1-hop tier's own golden (q24).
    QueryDef("q310_streamminhash_replay",
      graft.util.Tables.literalOracle("q24_dedup_minhash"),
      (spark, dir) => minhashDedupReplay(spark, dir)),
    // Graded against the SAME oracle text as q120: the incremental
    // streaming dimension build must reproduce the batch dimension.
    QueryDef(
      "q243_scd2_replay",
      Some("""WITH c AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR event_type <> prev),
        |v AS (SELECT user_id, event_type AS state, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ts_to
        |  FROM ch)
        |SELECT user_id, CAST(version AS INT) AS version, state,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(ts_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  CAST(CASE WHEN ts_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin),
      (spark, dir) => scd2Replay(spark, dir)),

    // Graded against the SAME oracle text as q34: the watermarked
    // streaming sessionizer must reproduce the batch session windows.
    QueryDef(
      "q244_session_replay",
      Some("""WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
      (spark, dir) => sessionReplay(spark, dir)),

    // Oracle mirrors the streaming component's exact semantics: hour ×
    // event_type tumbling grid with DECIMAL(18,4) money (the streaming
    // tier's scale; q33's coarser hour-only/18,6 report stays separate).
    QueryDef(
      "q248_window_replay",
      Some("""SELECT
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
        |    '%Y-%m-%d %H:%M:%S') AS window_end,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin),
      (spark, dir) => windowReplay(spark, dir)),

    // Graded against the SAME oracle text as q181: the per-user
    // fixed-state streaming attribution must reproduce the batch window.
    QueryDef(
      "q249_lasttouch_replay",
      Some("""WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    MAX(CASE WHEN event_type = 'click' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click
        |  FROM events),
        |p AS (
        |  SELECT CASE
        |      WHEN last_click IS NULL THEN 'never_clicked'
        |      WHEN ts <= last_click + INTERVAL 1 HOUR THEN 'within_1h'
        |      WHEN ts <= last_click + INTERVAL 24 HOUR THEN 'within_1d'
        |      WHEN ts <= last_click + INTERVAL 168 HOUR THEN 'within_7d'
        |      ELSE 'stale' END AS bucket,
        |    user_id
        |  FROM e WHERE event_type = 'purchase')
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin),
      (spark, dir) => lastTouchReplay(spark, dir)),

    // Event-time timers graded end-to-end: with the gap set to the
    // corpus span + 1 day, exactly one churn record per user fires (at
    // the flush watermark), carrying the user's true last-seen ms and
    // the gap-derived deadline — both recomputed relationally here.
    QueryDef(
      "q250_inactivity_replay",
      Some("""WITH b AS (SELECT epoch_ms(MIN(ts)) AS mn, epoch_ms(MAX(ts)) AS mx
        |            FROM events)
        |SELECT user_id,
        |  epoch_ms(MAX(ts)) AS last_seen_ms,
        |  epoch_ms(MAX(ts)) + (b.mx - b.mn) + 86400000 AS deadline_ms
        |FROM events, b
        |GROUP BY user_id, b.mx, b.mn
        |ORDER BY user_id""".stripMargin),
      (spark, dir) => inactivityReplay(spark, dir)),

    // Running term counters: final update-mode emissions == the exact
    // relational word count.
    QueryDef(
      "q257_termcounts_replay",
      Some("""SELECT tt.term, CAST(COUNT(*) AS BIGINT) AS total
        |FROM documents, UNNEST(string_split(text, ' ')) AS tt(term)
        |WHERE text IS NOT NULL AND tt.term <> ''
        |GROUP BY tt.term ORDER BY term""".stripMargin),
      (spark, dir) => termCountsReplay(spark, dir)),

    // Stream-static MinHash flagging: q56-style contract (streamed ==
    // batch incremental assign, >= 2 micro-batches, relational count).
    QueryDef(
      "q258_incrdedup_replay",
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_landing,
        |  TRUE AS multi_batch, TRUE AS matches_batch
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
      (spark, dir) => incrDedupReplay(spark, dir)),

    // Exactly-once ingest: seeded count constant, streamed silver ==
    // batch transform, checkpoint rerun adds nothing.
    QueryDef(
      "q259_ingest_replay",
      Some("""SELECT CAST(2000 AS BIGINT) AS n_rows,
        |  TRUE AS matches_batch, TRUE AS no_dup_after_rerun""".stripMargin),
      (spark, dir) => ingestReplay(spark, dir)),

    // Streamed CMS graded by q229's contract plus cell-for-cell
    // equality with the batch-built sketch.
    QueryDef(
      "q260_cms_replay",
      Some("""WITH terms AS (
        |  SELECT term FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE term <> ''),
        |tc AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY 1),
        |top10 AS (
        |  SELECT term, CAST(cnt AS BIGINT) AS true_cnt
        |  FROM tc ORDER BY cnt DESC, term LIMIT 10)
        |SELECT term, true_cnt, TRUE AS within_lower, TRUE AS within_upper,
        |  TRUE AS cells_equal_batch
        |FROM top10 ORDER BY term""".stripMargin),
      (spark, dir) => cmsReplay(spark, dir)),

    // The IMPERATIVE sessionizer graded by the same q34 oracle text the
    // declarative q244 uses: both streaming tiers must independently
    // reproduce the batch session contract.
    QueryDef(
      "q254_statefulsession_replay",
      Some("""WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
      (spark, dir) => statefulSessionReplay(spark, dir)),

    // Update-mode typed-state profiles: the final per-user emission
    // must equal the relational per-user aggregate.
    QueryDef(
      "q255_userstats_replay",
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      (spark, dir) => userStatsReplay(spark, dir)),

    // Stream-static broadcast enrichment + complete-mode aggregate vs
    // the relational join+aggregate (the q44 channel convention derives
    // the category; the same VALUES dimension on both sides).
    QueryDef(
      "q256_enrichment_replay",
      Some("""WITH dim(category, macro_category) AS (VALUES
        |  ('ch0', 'grp_even'), ('ch1', 'grp_odd'), ('ch2', 'grp_even'),
        |  ('ch3', 'grp_odd'), ('ch4', 'grp_even')),
        |s AS (SELECT 'ch' || CAST(CAST(json_extract_string(props, '$.k')
        |          AS INT) % 5 AS VARCHAR) AS category,
        |        value AS price
        |      FROM events)
        |SELECT macro_category,
        |  CAST(ROUND(SUM(CAST(price AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS revenue
        |FROM s JOIN dim USING (category)
        |GROUP BY macro_category ORDER BY macro_category""".stripMargin),
      (spark, dir) => enrichmentReplay(spark, dir)),

    // Survivors of the dedup stream must be EXACTLY the original
    // events: the oracle aggregates the untouched events table.
    QueryDef(
      "q252_streamdedup_replay",
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS total_value,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (spark, dir) => dedupReplay(spark, dir)),

    // The watermarked stream-stream interval join vs its relational
    // equivalent: every (view, click-within-2-hours) pair, exactly
    // once. The eviction-safety argument is horizon-independent, so the
    // wider window only enriches the graded frame.
    QueryDef(
      "q253_intervaljoin_replay",
      Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        |FROM v JOIN c USING (user_id)
        |WHERE click_ts >= view_ts
        |  AND click_ts <= view_ts + INTERVAL 2 HOUR
        |ORDER BY view_id, click_id""".stripMargin),
      (spark, dir) => intervalJoinReplay(spark, dir)),

    QueryDef(
      "q266_leftouter_join_replay",
      Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id AS click_user, event_id AS click_id,
        |        ts AS click_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        |FROM v LEFT JOIN c ON v.user_id = c.click_user
        |  AND click_ts >= view_ts
        |  AND click_ts <= view_ts + INTERVAL 2 HOUR
        |ORDER BY view_id, click_id""".stripMargin),
      (spark, dir) => leftOuterJoinReplay(spark, dir)))
}
