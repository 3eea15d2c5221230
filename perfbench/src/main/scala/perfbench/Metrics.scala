package perfbench

/** The metric catalogue. Every run reports every metric of its kind
  * (end-to-end untraced, per-layer traced); a per-layer metric whose layer
  * a workload never calls reads 0 there.
  */
object Metrics {
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "items_per_s" -> "1/s",
    "payload_mb_per_s" -> "MB/s")

  val queryNames: Seq[String] = QueryMixWorkload.expected.map(_._1)

  val perLayerUnits: Seq[(String, String)] = Seq(
    "core.io.fetch_s" -> "s", "core.io.fetch_objects" -> "count", "core.io.fetch_mb" -> "MB",
    "core.archive.explode_s" -> "s", "core.archive.entries" -> "count",
    "core.archive.explode_mb" -> "MB", "core.archive.package_s" -> "s",
    "core.archive.archives" -> "count", "core.archive.package_mb" -> "MB",
    "ops.validate.s" -> "s", "ops.validate.jobs" -> "count",
    "ops.validate.bags_ok" -> "count", "ops.validate.bags_error" -> "count",
    "ops.validate.checksum_mismatch" -> "count", "ops.validate.missing_file" -> "count",
    "ops.validate.not_in_manifest" -> "count", "ops.validate.count_mismatch" -> "count",
    "pipeline.full_s" -> "s", "pipeline.full_jobs" -> "count", "pipeline.full_tasks" -> "count",
    "pipeline.full_task_s" -> "s", "pipeline.full_shuffle_mb" -> "MB",
    "pipeline.full_busy_share" -> "ratio",
    "core.io.large_fetch_s" -> "s", "core.io.large_fetch_objects" -> "count",
    "core.io.large_fetch_mb" -> "MB",
    "pipeline.large_full_s" -> "s", "pipeline.large_full_jobs" -> "count",
    "pipeline.large_full_tasks" -> "count", "pipeline.large_full_task_s" -> "s",
    "pipeline.large_full_shuffle_mb" -> "MB", "pipeline.large_full_busy_share" -> "ratio",
    "ops.editorial.retry_s" -> "s", "ops.editorial.retry_rounds" -> "count",
    "ops.editorial.retry_jobs" -> "count", "ops.editorial.route_ok" -> "count",
    "ops.editorial.route_fail" -> "count", "ops.editorial.state_files" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.trigger_p50_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.handler_full_s" -> "s", "streaming.jobs_per_batch" -> "count",
    "streaming.state_rows" -> "count", "streaming.dedup_dropped" -> "count",
    "streaming.dlq" -> "count", "streaming.fail_routes" -> "count",
    "streaming.error_events" -> "count", "streaming.backlog_max" -> "count",
    "streaming.generator_late_max_s" -> "s", "streaming.drain_items_per_s" -> "1/s",
    "streaming.latency_p50_s" -> "s", "streaming.latency_p90_s" -> "s") ++
    queryNames.map(q => s"queries.$q.s" -> "s") ++ Seq(
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.jobs" -> "count", "queries.build_jobs" -> "count", "queries.tasks" -> "count",
    "queries.task_s" -> "s", "queries.shuffle_mb" -> "MB", "queries.spill_mb" -> "MB",
    "queries.busy_share" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  /** Which end-to-end figure each layer is expected to move, and where. */
  val layerMap: Map[String, String] = Map(
    "core.io" -> "items_per_s and wall_s on tre_intake (fetch_*: per-object cost of the small bags); payload_mb_per_s on tre_intake (large_fetch_*)",
    "core.archive" -> "payload_mb_per_s on tre_intake (inflate, SHA-256, deflate); measured over the small bags' archives",
    "ops.validate" -> "items_per_s on tre_intake (bag-grain joins)",
    "pipeline" -> "items_per_s and wall_s on tre_intake (full_*: jobs per runFull call over small bags); payload_mb_per_s on tre_intake (large_full_*: shuffle bytes, busy share)",
    "ops.editorial" -> "items_per_s and wall_s on tre_intake (retry state writes)",
    "streaming" -> "streaming.latency_p50_s/p90_s on tre_intake (jobs per handler call, trigger cadence)",
    "queries" -> "wall_s and items_per_s on query_mix",
    "jvm" -> "setup_s and memory on every workload")

  def endToEnd(values: Map[String, Double]): Map[String, (Double, String)] =
    endToEndUnits.map { case (k, u) =>
      k -> (values.getOrElse(k, sys.error(s"end-to-end metric $k was not measured")), u)
    }.toMap

  def perLayer(values: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = values.keySet -- perLayerUnits.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics outside the catalogue: $unknown")
    perLayerUnits.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }.toMap
  }
}
