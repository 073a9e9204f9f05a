package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming surface (reference: unbounded tables + pipeline-safe plans —
  * datafusion/core/src/datasource/stream.rs:249-296,
  * physical_optimizer/pipeline_checker.rs:38; incremental operators
  * SymmetricHashJoinExec joins/symmetric_hash_join.rs:167 and
  * BoundedWindowAggExec; tumbling windows = date_bin + GROUP BY).
  *
  * Spark mapping is Structured Streaming, a strict superset: watermarks,
  * tumbling/sliding/session windows, stream-stream interval joins, and
  * arbitrary keyed state. Every transform below takes a plain DataFrame,
  * so the SAME code runs batch (events.parquet) or streaming
  * (readStream/MemoryStream) — StreamingSpec asserts stream ≡ batch, the
  * Spark analogue of the reference's "a stream is an unbounded table".
  *
  * Scale: the watermark bounds state size; groupBy(window) shuffles on
  * (window, key) exactly like a batch aggregate; stream-stream joins keep
  * only the watermark-width buffer per side.
  */
object Streaming {

  /** Tumbling-window aggregate (reference: date_bin + group-by). */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("v"))

  /** Sliding-window aggregate. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Session windows per user (gap-based). */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n_events"))

  /** Stream-stream interval join: clicks joined to purchases by the same
    * user within [0, 30 min] after the click (reference capability:
    * SymmetricHashJoinExec with interval-pruned state). */
  def clickToPurchase(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(events, watermark, "inner")

  /** LEFT OUTER stream-stream interval join: every click emits exactly
    * once — matched rows immediately, unmatched rows with NULL purchase
    * columns once the watermark closes their 30-min match interval (the
    * reference's SymmetricHashJoinExec is inner-only; outer emission on
    * state eviction is the extension Structured Streaming adds). */
  def clickToPurchaseLeftOuter(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(events, watermark, "left_outer")

  /** RIGHT OUTER stream-stream interval join: every purchase emits
    * exactly once — matched rows immediately, purchases no click could
    * still match NULL-padded once the watermark passes their interval's
    * lower bound (the mirror of the left-outer eviction rule). */
  def clickToPurchaseRightOuter(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(events, watermark, "right_outer")

  /** FULL OUTER stream-stream interval join: unmatched rows from BOTH
    * sides emit NULL-padded once the watermark evicts their state —
    * clicks after their 30-min match interval closes, purchases once no
    * earlier click can still arrive. Completes the join-type set over
    * SymmetricHashJoinExec (inner/left/right/full). */
  def clickToPurchaseFullOuter(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(events, watermark, "full_outer")

  private def intervalJoin(events: DataFrame, watermark: String,
      joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL '30' MINUTE"),
      joinType)
  }

  /** Streaming deduplication — the training-pipeline staple: duplicate
    * records arriving within the watermark window are dropped by key;
    * state is bounded by the watermark (reference has no streaming dedup
    * — an extension, like as-of join). Batch mode degenerates to
    * dropDuplicates. */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Custom keyed state via flatMapGroupsWithState: running per-user event
    * count + cumulative value, emitting one update per input row batch.
    * (Reference has no equivalent — UDAF-over-stream is the closest.) */
  def runningUserTotals(
      events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { case (_, value) => n += 1; v += value }
          state.update((n, v))
          Iterator((user, n, math.round(v * 100) / 100.0))
      }
  }

  /** Running per-user totals via transformWithState — Spark 4's arbitrary
    * stateful processing API (successor to flatMapGroupsWithState): named
    * typed state handles (ValueState here; ListState/MapState/timers on the
    * same handle), per-state TTL, RocksDB-backed store. Output contract is
    * identical to runningUserTotals, and StreamingSpec asserts both paths
    * converge to the batch aggregate.
    *
    * Scale: state lives in the executor-local RocksDB instance keyed by
    * shuffle partition — per-key state never transits the driver, and
    * changelog checkpointing ships deltas, not full snapshots. */
  def runningUserTotalsTws(
      events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Idempotent foreachBatch parquet sink: each micro-batch lands in its
    * own `batch_id=<id>` partition directory with overwrite semantics, so
    * a replayed batch (failure after write, before the checkpoint commit)
    * overwrites its previous attempt instead of duplicating rows. This is
    * the standard exactly-once recipe for sinks without transactional
    * commit — Structured Streaming guarantees foreachBatch sees each
    * batchId at-least-once with identical content; overwrite-by-batchId
    * upgrades that to exactly-once. Readers see the sink as one
    * partitioned table (`spark.read.parquet(sinkDir)`). */
  def idempotentParquetSink(sinkDir: String): (DataFrame, Long) => Unit =
    (df: DataFrame, batchId: Long) =>
      df.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")

  /** Streaming incremental dedup against a GROWING persisted signature
    * store — the streaming face of
    * [[graft.pipeline.Dedup.incrementalDedupSimhashAuto]]: each
    * micro-batch is a "new snapshot" deduped against every signature
    * seen in EARLIER batches, then appends its own signatures, so
    * cross-batch duplicates are caught without any stream-side state
    * operator (the store IS the state, and it outlives the query —
    * exactly the production shape where history predates the stream).
    * The store carries the WIDE schema (id, sig0, sig1) from batch 0
    * and the router switches narrow→wide blocking at the measured
    * ~50k-signature knee (r13 verdict #2: an unbounded stream is
    * precisely the caller that crosses it unattended — the old
    * narrow-hardwired sink would have gone superlinear); `maxHamming`
    * is the narrow-scale knob, 2·maxHamming over 60 bits past the
    * knee.
    *
    * Exactly-once by the idempotentParquetSink recipe, applied twice:
    * both the per-batch report and the per-batch store delta land in
    * `batch_id=<id>` partitions with overwrite semantics, and the
    * store read for batch N filters `batch_id < N` — so a replayed
    * batch neither sees its own previous attempt nor duplicates it.
    * Within-batch duplicates use the operator's smaller-id rule, so a
    * full stream run equals the batch operator applied snapshot by
    * snapshot (StreamingSpec asserts stream ≡ incremental ≡ global).
    *
    * Scale: everything heavy is the batch operator's own shape (chunk
    * join + bloom prefilter, signatures only); the foreachBatch driver
    * work is two idempotent writes. Returns the foreachBatch function;
    * wire it as `stream.writeStream.foreachBatch(fn)`. */
  def incrementalDedupSink(
      storeDir: String, reportDir: String,
      idCol: String, textCol: String,
      maxHamming: Int = 1): (DataFrame, Long) => Unit =
    (df: DataFrame, batchId: Long) => {
      val spark = df.sparkSession
      // empty store ONLY when the directory genuinely does not exist
      // yet (bootstrap) — a schema-drifted or mis-pointed store must
      // fail loudly, not silently disable all cross-batch dedup (the
      // same silent-swallow trap the Bench baseline parse had, r13
      // review). Existence goes through Hadoop's FileSystem resolved
      // from the STORE PATH (r14 ADVICE): java.io.File only sees the
      // local filesystem, so on HDFS/S3 — the production default FS —
      // every batch would silently read an empty store and cross-batch
      // dedup would be off. An existing-but-childless directory (a
      // crash between mkdir and the first commit) is treated as
      // bootstrap too — letting parquet schema inference throw there
      // would brick the stream on a recoverable state.
      val hconf = spark.sessionState.newHadoopConf()
      val storePath = new org.apache.hadoop.fs.Path(storeDir)
      val fs = storePath.getFileSystem(hconf)
      val store =
        if (!fs.exists(storePath) ||
            !fs.listStatus(storePath).exists(s =>
              s.getPath.getName.startsWith("batch_id=")))
          graft.pipeline.Dedup.emptySigStore(spark, Seq("sig0", "sig1"))
        else spark.read.parquet(storeDir)
          .filter(col("batch_id") < batchId)
          .select(col("id"), col("sig0"), col("sig1"))
      // the router needs the store size; this count is parquet-metadata
      // work after batch_id partition pruning, not a data scan
      val n = store.count()
      // persistSigs=false: this sink runs once per micro-batch of an
      // unbounded query — a per-call materialization would pile up
      // batch after batch (r13 review); the recompute cost is one
      // extra signature pass over the micro-batch
      val report = graft.pipeline.Dedup.incrementalDedupSimhashAuto(
        store, df, idCol, textCol, maxHamming, n = n,
        persistSigs = false)
      report.write.mode("overwrite")
        .parquet(s"$reportDir/batch_id=$batchId")
      // the delta appends ALL batch signatures (kept and dropped) —
      // the same every-signature-seen store contract as the batch op
      spark.read.parquet(s"$reportDir/batch_id=$batchId")
        .select(col("doc_id").as("id"), col("sig0"), col("sig1"))
        .write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")
    }
}

/** (user, value) rows → running (user, count, rounded total); the count
  * and sum fold lives in one named ValueState handle. */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
      timers: TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, v0) = Option(totals.get()).getOrElse((0L, 0.0))
    var n = n0; var v = v0
    rows.foreach { case (_, value) => n += 1; v += value }
    totals.update((n, v))
    Iterator((user, n, math.round(v * 100) / 100.0))
  }
}
