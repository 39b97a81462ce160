package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.AggregationMethod
import graft.ops.Kernels
import graft.store.MetricStore

/** Streaming write path. Whisper has no streaming engine in-repo (carbon
  * is the sibling writer), but its update semantics DEFINE the streaming
  * contract (SURVEY.md §2.3): late data accepted within maxRetention
  * (watermark), last-write-wins on duplicate slots, tumbling-window
  * rollups continuously maintained.
  *
  * One stream writes a store:
  *   - `start`: micro-batch upsert into a MetricStore via foreachBatch —
  *     each batch runs the full update_many path (routing, LWW, cascade),
  *     so batch and streaming ingest share one code path and every coarse
  *     level stays the cascade of level 0.
  *
  * Two operators emit rollups for sinks OUTSIDE the store; neither writes
  * it. State stays bounded: tumbling windows only (whisper has no
  * sliding/session windows) and the watermark caps retained state.
  *   - `rollupStream`: append-mode watermarked window aggregate with the
  *     xff gate — one final row per window once lateness expires;
  *   - `rollupStateful`: update-mode refinement — provisional rows as
  *     slots arrive, the final row at the watermark timeout.
  */
object StreamingIngest {

  /** Micro-batch upsert into a store. `stream` columns:
    * (metric: string, ts: timestamp, value: double, seq: long).
    *
    * @param vacuumEvery run the store's retention sweep
    *        ([[MetricStore.vacuum]]) after every N non-empty batches —
    *        a long-running ingest session otherwise accretes expired
    *        time buckets until someone runs `cli vacuum` by hand (ring
    *        eviction is lazy by design). 0 = off. The sweep deletes
    *        whole expired bucket directories, so its cost is
    *        O(#partitions), not data size.
    */
  def start(stream: DataFrame, store: MetricStore, checkpoint: String,
            now: () => Long, vacuumEvery: Int = 0): StreamingQuery = {
    val batches = new java.util.concurrent.atomic.AtomicLong
    stream
      .select(col("metric"), col("ts").cast("long").as("ts"), col("value"), col("seq"))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          store.updateMany(batch, now())
          if (vacuumEvery > 0 && batches.incrementAndGet() % vacuumEvery == 0)
            store.vacuum(now())
        }
      }
      .start()
  }

  /** Continuous tumbling-window rollup: the streaming form of
    * Rollup.propagate. Watermark = allowed lateness (whisper's
    * maxRetention acceptance window, capped for bounded state —
    * SURVEY.md §7.4: very late data goes through the batch path).
    *
    * @param points streaming frame (metric, ts: timestamp, value)
    * @param sourceStep seconds per point of the incoming stream's grid
    */
  def rollupStream(points: DataFrame, sourceStep: Int, step: Int,
                   method: AggregationMethod, xff: Float,
                   maxLatenessSec: Long): DataFrame = {
    val slots = step / sourceStep
    points
      .withWatermark("ts", s"$maxLatenessSec seconds")
      .groupBy(window(col("ts"), s"$step seconds"), col("metric"))
      .agg(
        Kernels.kernel(method, col("value"), col("ts").cast("long"), lit(slots)).as("value"),
        count(col("value")).as("known"))
      .where(Kernels.xffGate(col("known"), lit(slots), xff))
      .select(
        col("metric"),
        col("window.start").cast("long").as("interval"),
        col("value"))
  }

  /** Streaming exact dedup for the training-data pipeline: drop documents
    * whose canonical fingerprint was already seen, with state bounded by
    * a watermark (a duplicate arriving later than `maxLatenessSec` after
    * its original passes through — the batch dedup sweep catches those).
    *
    * @param docs streaming frame with (ts: timestamp, text: string, ...)
    */
  def dedupStream(docs: DataFrame, maxLatenessSec: Long): DataFrame =
    docs
      .withColumn("fp", graft.ext.TextAnalysis.fingerprint(col("text")))
      .withWatermark("ts", s"$maxLatenessSec seconds")
      .dropDuplicates("fp")
      .drop("fp")

  // ---- stateful incremental rollup -----------------------------------

  /** `ts` stays a timestamp so the watermark annotation survives into the
    * typed Dataset (event-time timeouts require it).
    */
  final case class SlotPoint(metric: String, ts: java.sql.Timestamp, value: Double,
                             seq: Long) {
    def tsec: Long = ts.getTime / 1000L
  }
  final case class WindowKey(metric: String, interval: Long)
  /** Per-window state: higher-resolution slot → (winning seq, value).
    * Size is bounded by the window's slot capacity (step/sourceStep), and
    * the number of live windows is bounded by the watermark — so total
    * state is O(open windows × slots), independent of stream length.
    */
  final case class WindowState(slots: Map[Long, (Long, Double)])
  final case class RollupUpdate(
      metric: String, interval: Long, value: Double, known: Int, vsum: Double,
      finalized: Boolean)

  /** Incremental xff-gated rollup via flatMapGroupsWithState (update
    * mode): each micro-batch REFINES the affected windows immediately —
    * a window that passes the xff gate re-emits its consolidated value as
    * slots arrive (whisper's per-update `__propagate`, whisper.py:729-733,
    * where every write recomputes the covering lower window at once) —
    * and the event-time timeout emits the FINAL value once the watermark
    * passes the window, then drops the state.
    *
    * This is the streaming analog of `Rollup.propagateTouched`: per-batch
    * work ∝ touched windows, not history. Contrast `rollupStream`
    * (append-on-watermark): results arrive only after lateness expires;
    * here downstream sinks see provisional rollups with bounded state.
    */
  def rollupStateful(points: DataFrame, sourceStep: Int, step: Int,
                     method: AggregationMethod, xff: Float,
                     maxLatenessSec: Long): Dataset[RollupUpdate] = {
    val spark = points.sparkSession
    import spark.implicits._
    require(step % sourceStep == 0, s"$sourceStep does not divide $step")
    val slotsCap = step / sourceStep

    def consolidated(key: WindowKey, slots: Map[Long, (Long, Double)],
                     finalized: Boolean): Iterator[RollupUpdate] = {
      val known = slots.toSeq.sortBy(_._1).map(_._2._2)
      if (known.nonEmpty && known.size.toDouble / slotsCap >= xff) {
        val neighbor = (0 until slotsCap)
          .map(i => slots.get(key.interval + i.toLong * sourceStep).map(_._2))
        Iterator.single(RollupUpdate(key.metric, key.interval,
          AggregationMethod.aggregate(method, known, Some(neighbor)),
          known.size, known.sum, finalized))
      } else Iterator.empty
    }

    // duplicate-slot resolution mirrors updateMany so batch, cascade, and
    // stateful paths agree on contested slots: WITHIN a micro-batch the
    // winner is the max-timestamp point, first-arrival (min seq) on exact
    // ts ties — the reference's ring-write order (whisper.py:748,770,
    // 806-808; see Ingest.routeAndDedup) — while ACROSS batches the later
    // batch overwrites unconditionally (each micro-batch is one
    // update_many against the file; a later write always lands). A stream
    // without seq resolves exact-ts ties to the first row in the batch.
    val withSeq =
      if (points.columns.contains("seq")) points
      else points.withColumn("seq", lit(0L))
    withSeq
      .withWatermark("ts", s"$maxLatenessSec seconds")
      .select(col("metric"), col("ts"), col("value"), col("seq").cast("long").as("seq"))
      .as[SlotPoint]
      .groupByKey(p => WindowKey(p.metric, p.tsec - p.tsec % step))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: WindowKey, rows: Iterator[SlotPoint], state: GroupState[WindowState]) =>
          if (state.hasTimedOut) {
            val slots = state.get.slots
            state.remove()
            consolidated(key, slots, finalized = true)
          } else {
            val slots0 =
              if (state.exists) state.get.slots else Map.empty[Long, (Long, Double)]
            // batch-local winner per slot by (ts asc, seq desc), then the
            // batch's winners overwrite prior state unconditionally
            val batchWinners = rows
              .foldLeft(Map.empty[Long, (Long, Long, Double)]) { (m, p) =>
                val slot = p.tsec - p.tsec % sourceStep
                m.get(slot) match {
                  case Some((t0, s0, _))
                      if t0 > p.tsec || (t0 == p.tsec && s0 <= p.seq) => m
                  case _ => m + (slot -> ((p.tsec, p.seq, p.value)))
                }
              }
            val slots = slots0 ++ batchWinners.map {
              case (k, (_, s, v)) => k -> ((s, v))
            }
            state.update(WindowState(slots))
            val windowCloseMs = (key.interval + step + maxLatenessSec) * 1000L
            state.setTimeoutTimestamp(
              math.max(windowCloseMs, state.getCurrentWatermarkMs() + 1))
            consolidated(key, slots, finalized = false)
          }
      }
  }
}
