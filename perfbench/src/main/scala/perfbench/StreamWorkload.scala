package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.pipeline.TrePipeline
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** One queued `bagit-available` event. `kind` is what the stream must do
  * with it: `clean` → output message, `faulty` → validation error,
  * `overlimit` → fail route, `malformed` → DLQ, `duplicate` → dropped.
  */
final case class Event(pos: Int, kind: String, ref: String, json: String)

/** Stream intake: events dropped into a `FileDropSource` directory, at most
  * 10 per micro-batch, decoded with watermark dedup, retry-routed, and each
  * micro-batch dispatching `TrePipeline.runFull` over exactly the bags it
  * references (a brace glob, never the whole store).
  *
  * Two timed phases:
  *  - open loop: a generator thread drops one event every 1/`rate` seconds
  *    for `--seconds` while `readRaw → decoded(…, Some(watermark)) →
  *    withRetryRoute` runs under a continuous trigger; latency is the time
  *    from an event's scheduled send to its terminal record;
  *  - drain: `EventStream.writer` (AvailableNow) drains a pre-dropped
  *    backlog.
  */
object StreamWorkload extends Workload {
  val name = "stream_intake"
  /** Events per second in the open loop: about half of what the pipeline
    * drains as this benchmark was written (10 bags per ~3.5 s micro-batch
    * on 4 cores).
    */
  val rate = 1.4
  val backlogSize = 9
  val watermark = "10 minutes"
  val maxPerBatch = 10
  /** The paper's end-to-end envelope per consignment. */
  val envelopeS = 180.0

  final case class Inputs(store: File, bags: Map[String, Bag], openLoop: Seq[Event],
                          backlog: Seq[Event], warm: Seq[Event])

  private val epochNs = 1700000000000000000L

  def generate(ctx: Ctx): Inputs = {
    val opts = ctx.opts
    val rng = new scala.util.Random(opts.seed)
    val openN = if (opts.toy) 6 else math.round(rate * opts.seconds).toInt
    val backN = if (opts.toy) 6 else backlogSize
    var next = 0
    def plan(n: Int, phase: String): Seq[(Int, String, String)] = {
      // every anomaly appears at least once per phase, ~5% each
      val k = math.max(1, n / 20)
      val kinds = rng.shuffle(Vector.fill(k)("faulty") ++ Vector.fill(k)("overlimit") ++
        Vector.fill(k)("malformed") ++ Vector.fill(n - 3 * k)("clean"))
      val planned = kinds.zipWithIndex.map { case (kind, i) =>
        (next + i, kind, f"TDR-${opts.seed % 10000}%04d-$phase-$i%04d") }
      next += n
      planned
    }
    val openPlan = plan(openN, "o")
    val backPlan = plan(backN, "d")
    val warmPlan = plan(5, "w")
    val needBags = (openPlan ++ backPlan ++ warmPlan).filter(p => p._2 != "malformed")
    val faults = needBags.zipWithIndex.collect { case ((_, "faulty", _), i) => i -> (Fault.Checksum: Fault) }.toMap
    val store = new File(opts.work, "store")
    val generated = BagGen.generate(store, opts.seed, "TDR", needBags.size, 1,
      r => (8 << 10) + r.nextInt(8 << 10), faults)
    // bags are named by position; rename to the event's reference
    val bags = needBags.zip(generated).map { case ((_, _, ref), b) =>
      val target = new File(store, s"$ref.tar.gz")
      Files.move(new File(b.path).toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
      ref -> b.copy(ref = ref, path = target.getPath)
    }.toMap
    def events(p: Seq[(Int, String, String)]): Seq[Event] = {
      val base = p.map { case (pos, kind, ref) => Event(pos, kind, ref, eventJson(pos, kind, ref, rng)) }
      // ~5% duplicate resends, each at least two slots after its original
      val dupCount = math.max(1, p.size / 20)
      val originals = rng.shuffle(base.filter(e => e.kind == "clean" && e.pos < base.last.pos - 2))
        .take(dupCount)
      val out = ArrayBuffer(base: _*)
      originals.foreach { o =>
        val at = math.min(out.size, out.indexWhere(_.pos == o.pos) + 2 + rng.nextInt(3))
        out.insert(at, o.copy(kind = "duplicate"))
      }
      out.toSeq
    }
    Inputs(store, bags, events(openPlan), events(backPlan), events(warmPlan))
  }

  /** A TRE v2 `bagit-available` envelope (schema.json), or a malformed one. */
  private def eventJson(pos: Int, kind: String, ref: String, rng: scala.util.Random): String = {
    val uuid = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString
    val retries = if (kind == "overlimit") 3 else rng.nextInt(3)
    val params = s"""{"reference":"$ref","s3-bagit-url":"file://$ref.tar.gz",""" +
      s""""s3-sha-url":"file://$ref.tar.gz.sha256","number-of-retries":$retries}"""
    val ts = epochNs + pos * 400000000L
    val good = s"""{"version":"0.0.2","timestamp":$ts,"UUIDs":[{"TDR-UUID":"$uuid"}],""" +
      s""""producer":{"name":"TDR","process":"export","type":"judgment","environment":"dev",""" +
      s""""event-name":"bagit-available"},"parameters":{"bagit-available":$params}}"""
    if (kind != "malformed") good
    else pos % 3 match {
      case 0 => s"""not json: bagit-available $ref"""
      case 1 => good.replace(s""""UUIDs":[{"TDR-UUID":"$uuid"}],""", "")
      case _ => good.replace(uuid, "not-a-uuid")
    }
  }

  /** Terminal records and per-batch figures of one phase. */
  final class Phase(val name: String, store: File, out: File) {
    val terminal = new ConcurrentHashMap[String, (Long, String)]()
    val dlq = new ConcurrentHashMap[String, Long]()
    val seen = new ConcurrentHashMap[String, Integer]()
    val fullS = ArrayBuffer.empty[Double]
    val fullJobs = ArrayBuffer.empty[Double]
    val verdictRows = ArrayBuffer.empty[org.apache.spark.sql.Row]
    val outputRows = ArrayBuffer.empty[(File, org.apache.spark.sql.Row)]
    val batchRows = ArrayBuffer.empty[Double]
    @volatile var handled = 0L
    /** Events published so far (the open-loop generator advances it). */
    @volatile var dropped = 0L
    @volatile var backlogMax = 0L

    /** The per-micro-batch handler (`EventStream.BatchHandler`). */
    def handle(ctx: Ctx)(ok: DataFrame, dlqDf: DataFrame, batchId: Long): Unit = {
      val spark = ctx.spark
      val routed = ok.select(
        get_json_object(element_at(col("event.parameters"), col("event.producer.event-name")),
          "$.reference").as("ref"), col("route")).collect()
      val dead = dlqDf.select("json").collect().map(_.getString(0))
      val now = System.nanoTime()
      backlogMax = math.max(backlogMax, dropped - handled)
      dead.foreach(j => dlq.put(j, now))
      routed.foreach(r => seen.merge(r.getString(0), 1, (a, b) => a + b))
      routed.filter(_.getString(1) == "fail").foreach(r => terminal.put(r.getString(0), (now, "fail")))
      val refs = routed.filter(_.getString(1) == "ok").map(_.getString(0)).distinct.sorted
      if (refs.nonEmpty) {
        val outDir = new File(out, s"b$batchId")
        val ((verdicts, outputs), s, c) = ctx.probe.measure("streaming.handler.full") {
          val res = TrePipeline.runFull(spark, s"${store.getPath}/{${refs.mkString(",")}}.tar.gz",
            outDir.getPath)
          (res.validation.verdicts.select("bagId", "ok", "errors").collect(),
            res.outputMessages.select("bagId", "sha256", "s3_folder_url", "s3_sha256_url",
              "output_message").collect())
        }
        val done = System.nanoTime()
        val produced = outputs.map(_.getString(0)).toSet
        refs.foreach(r => terminal.put(r, (done, if (produced(r)) "ok" else "error")))
        synchronized {
          fullS += s; fullJobs += c.jobs.toDouble
          verdictRows ++= verdicts; outputRows ++= outputs.map(o => (outDir, o))
        }
      }
      handled += routed.length + dead.length
      if (routed.nonEmpty || dead.nonEmpty) synchronized { batchRows += (routed.length + dead.length).toDouble }
    }
  }

  /** One micro-batch's progress as the benchmark-owned listener saw it;
    * `rows` is Spark's count, which counts each action the handler runs on
    * the batch.
    */
  final case class StreamProgress(rows: Long, trigger: Long, addBatch: Long, planning: Long,
                                  wal: Long, stateRows: Long)

  /** Collects streaming progress (traced runs only). */
  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      events.add(StreamProgress(p.numInputRows, d("triggerExecution"), d("addBatch"),
        d("queryPlanning"), d("walCommit"), p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def run(ctx: Ctx, in: Inputs): Outcome = run(ctx, in, warmFirst = true)

  /** `warmFirst`: drain a small backlog through the same path first,
    * untimed.
    */
  def run(ctx: Ctx, in: Inputs, warmFirst: Boolean): Outcome = {
    val spark = ctx.spark
    val problems = ArrayBuffer.empty[String]
    val progress = new Progress
    if (ctx.opts.trace) spark.streams.addListener(progress)

    if (warmFirst) {
      val warm = new Phase("warm", in.store, ctx.dir("out-warm"))
      drain(ctx, in.warm, warm, "warm")
      check(in, in.warm, warm, problems, plantWrong = false)
    }

    progress.events.clear()
    ctx.startClock()
    val open = new Phase("open", in.store, ctx.dir("out-open"))
    val (scheduled, lateMax, openWall) =
      ctx.probe.measure("streaming.open_loop")(openLoop(ctx, in.openLoop, open))._1
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    val openProgress = progress.events.asScala.toSeq
    progress.events.clear()
    val back = new Phase("drain", in.store, ctx.dir("out-drain"))
    val drainWall = ctx.probe.measure("streaming.drain")(drain(ctx, in.backlog, back, "drain"))._1
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    val drainProgress = progress.events.asScala.toSeq
    if (ctx.opts.trace) spark.streams.removeListener(progress)

    check(in, in.openLoop, open, problems, ctx.opts.plantWrong)
    check(in, in.backlog, back, problems, plantWrong = false)

    val consignments = in.openLoop.filter(e => e.kind != "malformed" && e.kind != "duplicate")
    val latencies = consignments.flatMap(e =>
      Option(open.terminal.get(e.ref)).map(t => (t._1 - scheduled(e.pos)) / 1e9))
    val drained = in.backlog.filter(e => e.kind != "malformed" && e.kind != "duplicate")
    val drainedMb = drained.filter(e => e.kind != "overlimit").map(e => in.bags(e.ref).payloadBytes).sum / 1e6

    val L = ctx.layers
    if (ctx.opts.trace) {
      val all = (openProgress ++ drainProgress).filter(_.rows > 0)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      L.add("streaming.batches", all.size.toDouble)
      L.add("streaming.rows_per_batch", med((open.batchRows ++ back.batchRows).toSeq))
      L.add("streaming.trigger_p50_ms", med(all.map(_.trigger.toDouble)))
      L.add("streaming.add_batch_ms", med(all.map(_.addBatch.toDouble)))
      L.add("streaming.planning_ms", med(all.map(_.planning.toDouble)))
      L.add("streaming.wal_commit_ms", med(all.map(_.wal.toDouble)))
      L.add("streaming.handler_full_s", med((open.fullS ++ back.fullS).toSeq))
      L.add("streaming.jobs_per_batch", med((open.fullJobs ++ back.fullJobs).toSeq))
      L.add("streaming.state_rows",
        (openProgress.lastOption.map(_.stateRows).getOrElse(0L) +
          drainProgress.lastOption.map(_.stateRows).getOrElse(0L)).toDouble)
    }
    L.add("streaming.dedup_dropped",
      (in.openLoop.size - open.handled + in.backlog.size - back.handled).toDouble)
    L.add("streaming.dlq", (open.dlq.size + back.dlq.size).toDouble)
    L.add("streaming.fail_routes", (open.terminal.values.asScala ++ back.terminal.values.asScala)
      .count(_._2 == "fail").toDouble)
    L.add("streaming.error_events", (open.terminal.values.asScala ++ back.terminal.values.asScala)
      .count(_._2 == "error").toDouble)
    L.add("streaming.generator_late_max_s", lateMax)
    L.add("streaming.backlog_max", open.backlogMax.toDouble)
    L.add("streaming.drain_items_per_s", drained.size / drainWall)
    L.add("streaming.latency_p50_s", Stats.quantile(latencies, 0.5))
    L.add("streaming.latency_p90_s", Stats.quantile(latencies, 0.9))

    val attempted = (in.openLoop ++ in.backlog ++ (if (warmFirst) in.warm else Nil)).size.toLong
    Outcome(
      attempted = attempted,
      failed = if (problems.isEmpty) 0L else problems.size.toLong,
      mismatches = problems.toSeq,
      endToEnd = Map(
        "wall_s" -> openWall,
        "items_per_s" -> drained.size / drainWall,
        "payload_mb_per_s" -> drainedMb / drainWall),
      layers = L.medians,
      diagnostics = Map(
        "rate_per_s" -> rate, "open_loop_events" -> in.openLoop.size,
        "open_loop_consignments" -> consignments.size, "backlog_events" -> in.backlog.size,
        "drain_wall_s" -> drainWall, "generator_late_max_s" -> lateMax,
        "kinds" -> (in.openLoop ++ in.backlog).groupBy(_.kind).map { case (k, v) => k -> v.size },
        "open_micro_batches" -> open.fullS.size, "drain_micro_batches" -> back.fullS.size))
  }

  /** Atomically publish one event file into the watched directory. */
  private def drop(stage: File, dir: File, e: Event, k: Int): Unit = {
    val tmp = new File(stage, f"ev-$k%05d.json")
    Files.write(tmp.toPath, (e.json + "\n").getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(dir, tmp.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Pre-drop `events`, then drain them with `EventStream.writer`
    * (AvailableNow); returns the wall seconds from start to termination.
    */
  private def drain(ctx: Ctx, events: Seq[Event], phase: Phase, tag: String): Double = {
    val spark = ctx.spark
    val dir = ctx.dir(s"drop-$tag")
    val stage = ctx.dir(s"stage-$tag")
    events.zipWithIndex.foreach { case (e, k) => drop(stage, dir, e, k) }
    val t0 = System.nanoTime()
    val q = EventStream.writer(
        EventStream.decoded(EventStream.readRaw(spark, dir.getPath, maxPerBatch), Some(watermark)),
        phase.handle(ctx))
      .option("checkpointLocation", ctx.dir(s"ck-$tag").getPath)
      .start()
    if (!q.awaitTermination((envelopeS * 1000).toLong)) {
      q.stop()
      sys.error(s"$tag drain did not finish within ${envelopeS}s")
    }
    q.exception.foreach(e => throw e)
    (System.nanoTime() - t0) / 1e9
  }

  /** The open-loop phase: returns each position's scheduled send time, the
    * generator's worst lateness and the phase wall (first scheduled send to
    * the last terminal record).
    */
  private def openLoop(ctx: Ctx, events: Seq[Event], phase: Phase): (Map[Int, Long], Double, Double) = {
    val spark = ctx.spark
    val dir = ctx.dir("drop-open")
    val stage = ctx.dir("stage-open")
    val decoded = EventStream.withRetryRoute(
      EventStream.decoded(EventStream.readRaw(spark, dir.getPath, maxPerBatch), Some(watermark)))
    val handler = phase.handle(ctx) _
    val q: StreamingQuery = decoded.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ctx.dir("ck-open").getPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        handler(batch.filter(col("route") =!= "dlq").toDF(), batch.filter(col("route") === "dlq").toDF(), id)
      }
      .start()
    val periodNs = (1e9 / rate).toLong
    val t0 = System.nanoTime() + 200000000L
    val scheduled = events.zipWithIndex.map { case (e, k) => k -> (t0 + k * periodNs) }.toMap
    var lateMax = 0.0
    val gen = new Thread(() => {
      events.zipWithIndex.foreach { case (e, k) =>
        val wait = scheduled(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        drop(stage, dir, e, k)
        phase.dropped = k + 1L
        lateMax = math.max(lateMax, (System.nanoTime() - scheduled(k)) / 1e9)
      }
    }, "perfbench-open-loop-generator")
    gen.start()
    gen.join()
    // wait for every expected terminal record, within the paper's envelope
    val expectTerminal = events.filter(e => e.kind != "malformed" && e.kind != "duplicate").map(_.ref).toSet
    val expectDlq = events.count(_.kind == "malformed")
    val limit = System.nanoTime() + (envelopeS * 1e9).toLong
    while ((!expectTerminal.forall(phase.terminal.containsKey) || phase.dlq.size < expectDlq) &&
      System.nanoTime() < limit && q.isActive) q.awaitTermination(20)
    q.stop()
    q.exception.foreach(e => throw e)
    val last = (phase.terminal.values.asScala.map(_._1) ++ phase.dlq.values.asScala).max
    // event positions in `scheduled` are list indices; re-key by event pos
    val byPos = events.zipWithIndex.map { case (e, k) => e.pos -> scheduled(k) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).min }
    (byPos, lateMax, (last - t0) / 1e9)
  }

  private def check(in: Inputs, events: Seq[Event], phase: Phase, problems: ArrayBuffer[String],
                    plantWrong: Boolean): Unit = {
    val tag = phase.name
    val unique = events.filter(_.kind != "duplicate")
    unique.filter(_.kind != "malformed").foreach { e =>
      val expected = e.kind match {
        case "clean" => if (plantWrong && e == unique.head) "planted wrong expectation" else "ok"
        case "faulty" => "error"
        case "overlimit" => "fail"
      }
      Option(phase.terminal.get(e.ref)).map(_._2) match {
        case Some(got) if got == expected =>
        case other => problems += s"$tag: ${e.ref} (${e.kind}) ended $other, expected $expected"
      }
      val n = Option(phase.seen.get(e.ref)).map(_.intValue).getOrElse(0)
      if (n != 1) problems += s"$tag: ${e.ref} reached the handler $n times, expected once"
    }
    val dropped = events.size - phase.handled
    if (dropped != events.count(_.kind == "duplicate"))
      problems += s"$tag: dedup dropped $dropped events, planted ${events.count(_.kind == "duplicate")} resends"
    val malformed = events.filter(_.kind == "malformed").map(_.json).toSet
    if (phase.dlq.keySet.asScala.toSet != malformed)
      problems += s"$tag: DLQ held ${phase.dlq.size} events, planted ${malformed.size} malformed"
    val processed = unique.filter(e => e.kind == "clean" || e.kind == "faulty").map(e => in.bags(e.ref))
    Checks.verdicts(processed, phase.verdictRows.toSeq, problems, plantWrong = false)
    phase.outputRows.groupBy(_._1).foreach { case (dir, rows) =>
      val refs = rows.map(_._2.getString(0)).toSet
      Checks.outputs(processed.filter(b => refs(b.ref)), rows.map(_._2).toSeq, dir, problems)
    }
    val outputs = phase.outputRows.map(_._2.getString(0)).toSet
    val clean = unique.filter(_.kind == "clean").map(_.ref).toSet
    if (outputs != clean) problems += s"$tag: ${outputs.size} output messages for ${clean.size} clean consignments"
  }
}
