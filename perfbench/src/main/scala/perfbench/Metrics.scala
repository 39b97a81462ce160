package perfbench

/** The per-layer metrics a traced run reports, with their units. A layer a
  * workload does not exercise reports 0.
  */
object Metrics {
  private val pipelineFiles = Seq("StreamingCorpusPipeline", "FingerprintIndex", "MinHashIndex",
    "WinnowIndex", "Dedup", "TextAnalysis", "SegmentedTable")

  val units: Seq[(String, String)] =
    Seq(
      "updateMany.s" -> "s", "updateMany.jobs" -> "count", "updateMany.write_jobs" -> "count",
      "updateMany.tasks" -> "count", "updateMany.driver_gap_s" -> "s", "updateMany.busy_ratio" -> "ratio",
      "updateMany.bytes_written_per_point" -> "B", "updateMany.bytes_read_per_point" -> "B",
      "updateMany.shuffle_bytes" -> "B", "updateMany.spill_bytes" -> "B",
      "store.parquet_files" -> "count", "store.files_per_partition" -> "count") ++
    (0 to 3).map(i => s"store.level_rows.$i" -> "count") ++
    Seq(
      "routeAndDedup.s" -> "s", "routeAndDedup.lww_collisions" -> "count",
      "routeAndDedup.dropped_expired" -> "count", "routeAndDedup.direct_coarse" -> "count",
      "planFetch.us" -> "us", "fetch.jobs" -> "count", "fetch.tasks" -> "count",
      "fetch.driver_gap_ms" -> "ms", "fetch.input_bytes" -> "B", "fetch.records_per_slot" -> "ratio") ++
    Seq("1h", "6h", "1d", "7d").map(r => s"fetch.p50_ms.$r" -> "ms") ++
    Seq(
      "fetchFrame.jobs" -> "count", "fetchFrame.records_per_slot" -> "ratio", "fetchFrame.p50_ms" -> "ms",
      "sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms", "sql.input_bytes" -> "B",
      "sql.substituted_ratio" -> "ratio",
      "processBatch.s" -> "s", "processBatch.jobs" -> "count", "processBatch.stages" -> "count",
      "processBatch.tasks" -> "count", "processBatch.driver_gap_s" -> "s",
      "processBatch.busy_ratio" -> "ratio", "processBatch.shuffle_bytes" -> "B") ++
    pipelineFiles.map(f => s"processBatch.jobs.$f" -> "count") ++
    pipelineFiles.map(f => s"processBatch.busy_s.$f" -> "s") ++
    Seq("corpus.index_files" -> "count", "corpus.index_bytes_per_doc" -> "B") ++
    CorpusWorkload.VerdictClasses.map(c => s"corpus.verdicts.$c" -> "count") ++
    Seq("setup.store_ingest_s" -> "s") ++
    Seq("FingerprintIndex", "MinHashIndex", "WinnowIndex").map(i => s"setup.build_s.$i" -> "s") ++
    Seq("mem.heap_live_mb" -> "MB", "mem.native_peak_mb" -> "MB") ++
    Seq("trace.overhead" -> "ratio", "trace.unattributed_jobs" -> "count", "error_rate" -> "ratio")

  val perLayer: Seq[String] = units.map(_._1)
  private val unitMap = units.toMap
  def unitOf(name: String): String = unitMap(name)
}
