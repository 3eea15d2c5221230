package perfbench

/** The TRE system end to end, as the paper runs it, in one JVM so the
  * phases share one set-up and warm-up:
  *  - a small-bag batch delivery (`batch_small`: fetch → `runFull` →
  *    retries), where per-consignment costs dominate;
  *  - a large-payload batch (`batch_large`: fetch → `runFull`), where
  *    inflate, SHA-256, deflate and shuffled bytes dominate;
  *  - live intake (`stream_intake`: open-loop event stream, then a backlog
  *    drain).
  *
  * Only the small batch has an untimed warm pass: it runs the `runFull`
  * code that the other two phases carry, and a run has no time for more.
  *
  * `wall_s` and `items_per_s` come from the small batch (one measurement:
  * bags over the iteration wall), `payload_mb_per_s` from the large batch.
  * The stream's per-consignment latency and drain rate are reported per
  * layer (`streaming.latency_p50_s`, `streaming.latency_p90_s`,
  * `streaming.drain_items_per_s`): a run holds too few open-loop samples
  * for a gated percentile.
  */
object TreIntakeWorkload extends Workload {
  val name = "tre_intake"
  val small: BatchWorkload = BatchWorkload.small
  val large: BatchWorkload = BatchWorkload.large
  val stream: StreamWorkload.type = StreamWorkload

  type Inputs = (small.Inputs, large.Inputs, stream.Inputs)

  def generate(ctx: Ctx): Inputs = (small.generate(ctx), large.generate(ctx), stream.generate(ctx))

  def run(ctx: Ctx, in: Inputs): Outcome = {
    val b = small.run(ctx, in._1)
    val l = large.run(ctx, in._2, warmFirst = false)
    val s = stream.run(ctx, in._3, warmFirst = false)
    val parts = Seq("small" -> b, "large" -> l, "stream" -> s)
    Outcome(
      attempted = parts.map(_._2.attempted).sum,
      failed = parts.map(_._2.failed).sum,
      mismatches = parts.flatMap { case (p, o) => o.mismatches.map(m => s"$p: $m") },
      endToEnd = Map(
        "wall_s" -> b.endToEnd("wall_s"),
        "items_per_s" -> b.endToEnd("items_per_s"),
        "payload_mb_per_s" -> l.endToEnd("payload_mb_per_s")),
      layers = ctx.layers.medians,
      diagnostics = parts.map { case (p, o) => p -> (o.diagnostics ++ Map("end_to_end" -> o.endToEnd)) }.toMap)
  }
}
