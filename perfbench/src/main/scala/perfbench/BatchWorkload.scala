package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import graft.core.archive.{Tar, TarEntry}
import graft.core.io.Ingest
import graft.ops.validate.BagitValidate
import graft.pipeline.TrePipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Sizes of one batch workload. `retry` sends the failing bags through
  * `TrePipeline.runWithRetries`, repairing the first half of them before
  * attempt 1.
  */
final case class BatchShape(bags: Int, dataFiles: Int, minBytes: Int, maxBytes: Int,
                            faults: Int, retry: Boolean)

/** One timed batch iteration: its wall seconds, the fetch+pipeline part
  * of it, per-consignment latencies and any outcome-check failures.
  */
final case class Iter(wall: Double, pipelineWall: Double, latencies: Seq[Double],
                      mismatches: Seq[String])

/** Batch TRE: `Ingest.fetchToStorage` → `TrePipeline.runFull` (→ retries).
  *
  * One iteration fetches every generated bag into a fresh storage
  * directory, runs the full pipeline and collects verdicts and output
  * messages, then (batch_small) retries the failing bags. Iterations repeat
  * until `--seconds` have passed and at least `minIters` ran; each is
  * checked against its planted faults before its timing is kept. Traced
  * fetch and pipeline figures are recorded as `core.io.<tag>fetch_*` and
  * `pipeline.<tag>full_*`; the archive and validation layer calls run for
  * the untagged workload only.
  */
final class BatchWorkload(val name: String, full: BatchShape, toy: BatchShape,
                          tag: String, minIters: Int) extends Workload {
  /** The timed shape and its bags, and the toy bags of the warm pass. */
  type Inputs = (BatchShape, Seq[Bag], Seq[Bag])

  private def bagsOf(dir: File, seed: Long, prefix: String, shape: BatchShape): Seq[Bag] =
    BagGen.generate(dir, seed, prefix, shape.bags, shape.dataFiles,
      r => shape.minBytes + r.nextInt(shape.maxBytes - shape.minBytes + 1),
      BagGen.plantFaults(seed, shape.bags, shape.faults))

  def generate(ctx: Ctx): Inputs = {
    val opts = ctx.opts
    val shape = if (opts.toy) toy else full
    (shape, bagsOf(new File(opts.work, s"inputs-$name"), opts.seed, "TDR", shape),
      bagsOf(new File(opts.work, s"inputs-$name-warm"), opts.seed + 1, "WARM", toy))
  }

  def run(ctx: Ctx, in: Inputs): Outcome = run(ctx, in, warmFirst = true)

  /** `warmFirst`: one untimed iteration over the toy-sized bags first. */
  def run(ctx: Ctx, in: Inputs, warmFirst: Boolean): Outcome = {
    val (shape, bags, warmBags) = in
    var n = 0
    def next(): Int = { n += 1; n }
    val warm =
      if (warmFirst) Some(iteration(ctx, toy.copy(retry = shape.retry), warmBags, next(), traced = false))
      else None
    val iters = ArrayBuffer.empty[Iter]
    ctx.startClock()
    while (iters.size < minIters || (ctx.timeLeft && iters.size < 50))
      iters += iteration(ctx, shape, bags, next(), ctx.opts.trace)
    val warmBad = warm.exists(_.mismatches.nonEmpty)
    val mismatches = warm.toSeq.flatMap(_.mismatches) ++ iters.flatMap(_.mismatches)
    val payloadMb = bags.map(_.payloadBytes).sum / 1e6
    val walls = iters.map(_.wall).toSeq
    Outcome(
      attempted = iters.size.toLong * bags.size + (if (warm.isDefined) warmBags.size else 0),
      failed = iters.count(_.mismatches.nonEmpty).toLong * bags.size +
        (if (warmBad) warmBags.size else 0),
      mismatches = mismatches.toSeq,
      endToEnd = Map(
        "wall_s" -> Stats.median(walls),
        "items_per_s" -> Stats.median(walls.map(bags.size / _)),
        "payload_mb_per_s" -> Stats.median(walls.map(payloadMb / _))),
      layers = ctx.layers.medians,
      diagnostics = Map(
        "iterations" -> iters.size, "bags" -> bags.size, "payload_mb" -> payloadMb,
        "faults" -> bags.groupBy(_.fault.name).map { case (k, v) => k -> v.size },
        "iteration_walls_s" -> walls, "warm_wall_s" -> warm.map(_.wall).getOrElse(0.0),
        "latency_p50_s" -> Stats.quantile(iters.flatMap(_.latencies).toSeq, 0.5),
        "latency_p90_s" -> Stats.quantile(iters.flatMap(_.latencies).toSeq, 0.9)))
  }

  private def iteration(ctx: Ctx, shape: BatchShape, bags: Seq[Bag], i: Int,
                        traced: Boolean): Iter = {
    val spark = ctx.spark
    import spark.implicits._
    val probe = ctx.probe
    val root = ctx.dir(s"$name-iter$i")
    val store = new File(root, "store"); store.mkdirs()
    val out = new File(root, "out")
    val state = new File(root, "state")
    val requests = bags.map(b => (new File(b.path).toURI.toString,
      new File(store, s"${b.ref}.tar.gz").getPath)).toDF("url", "target")
    val repairSet = bags.filter(_.fault != Fault.None).map(_.ref).sorted
      .take((shape.faults + 1) / 2).toSet

    // the retry seam: re-fetch the repaired half from upstream, through the
    // same storage path as the first fetch
    def refetch(attempt: Int): Unit = {
      val again = bags.filter(b => repairSet(b.ref)).map(b => (new File(b.repairedPath.get).toURI.toString,
        new File(store, s"${b.ref}.tar.gz").getPath)).toDF("url", "target")
      probe.measure("core.io.refetch")(Ingest.fetchToStorage(again, overwrite = true).collect())._1
        .filter(_.getAs[String]("error") != null)
        .foreach(r => sys.error(s"re-fetch before attempt $attempt: ${r.getAs[String]("error")}"))
    }

    val t0 = System.nanoTime()
    def since(t: Long = t0) = (System.nanoTime() - t) / 1e9
    val (fetched, fetchS, _) = probe.measure("core.io.fetch")(Ingest.fetchToStorage(requests).collect())
    val ((verdicts, outputs), fullS, fullC) = probe.measure("pipeline.full") {
      val res = TrePipeline.runFull(spark, s"${store.getPath}/*.tar.gz", out.getPath)
      (res.validation.verdicts.select("bagId", "ok", "errors").collect(),
        res.outputMessages.select("bagId", "sha256", "s3_folder_url", "s3_sha256_url",
          "output_message").collect())
    }
    val pipelineWall = since()
    val failing = verdicts.filter(r => !r.getBoolean(1)).map(_.getString(0)).sorted
    val (history, retryS, retryC) =
      if (shape.retry && failing.nonEmpty) probe.measure("ops.editorial.retry") {
        TrePipeline.runWithRetries(spark, s"${store.getPath}/{${failing.mkString(",")}}.tar.gz",
          state.getPath, onAttempt = a => if (a == 1) refetch(a))
          .select("bagId", "attempt", "route").collect()
      } else (Array.empty[Row], 0.0, Counters(0, 0, 0, 0, 0))
    val wall = since()
    val latencies = bags.map(b =>
      if (b.fault == Fault.None || !shape.retry) pipelineWall else wall)

    val problems = ArrayBuffer.empty[String]
    checkFetch(bags, fetched.toSeq, store, problems)
    Checks.verdicts(bags, verdicts.toSeq, problems, ctx.opts.plantWrong)
    Checks.outputs(bags.filter(_.fault == Fault.None), outputs.toSeq, out, problems)
    if (shape.retry) checkRetries(bags, repairSet, history.toSeq, problems)

    if (traced) {
      val L = ctx.layers
      L.add(s"core.io.${tag}fetch_s", fetchS)
      L.add(s"core.io.${tag}fetch_objects", fetched.length.toDouble)
      L.add(s"core.io.${tag}fetch_mb", fetched.map(_.getAs[Long]("bytes")).sum / 1e6)
      L.add(s"pipeline.${tag}full_s", fullS)
      L.addWork(s"pipeline.${tag}full_", fullS, fullC, probe)
      if (shape.retry) {
        L.add("ops.editorial.retry_s", retryS)
        L.add("ops.editorial.retry_rounds", history.map(_.getInt(1)).max.toDouble)
        L.add("ops.editorial.retry_jobs", retryC.jobs.toDouble)
        val finals = finalRoutes(history.toSeq)
        L.add("ops.editorial.route_ok", finals.values.count(_._2 == "ok").toDouble)
        L.add("ops.editorial.route_fail", finals.values.count(_._2 == "fail").toDouble)
        L.add("ops.editorial.state_files", countFiles(state).toDouble)
      }
      if (tag.isEmpty) layerCalls(ctx, bags, new File(root, "layer-pkg"), problems)
    }
    Checks.deleteTree(root)
    Iter(wall, pipelineWall, latencies, problems.toSeq.map(p => s"iteration $i: $p"))
  }

  /** Traced only: the archive and validation layers called on their own,
    * from outside, over the generated archives (the planted faults as
    * shipped).
    */
  private def layerCalls(ctx: Ctx, bags: Seq[Bag], pkgDir: File,
                         problems: ArrayBuffer[String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val probe = ctx.probe
    val L = ctx.layers
    val inputs = new File(bags.head.path).getParentFile
    val entries = Tar.explodePath(spark, s"${inputs.getPath}/*.tar.gz")
      .map(e => e.copy(source = e.source.stripSuffix(".tar.gz")))
    val (exploded, explodeS, _) = probe.measure("core.archive.explode") {
      val cached = entries.persist()
      val agg = cached.agg(count(lit(1)), coalesce(sum(length(col("bytes"))), lit(0L))).head()
      (cached, agg.getLong(0), agg.getLong(1))
    }
    val (cached, nEntries, nBytes) = exploded
    L.add("core.archive.explode_s", explodeS)
    L.add("core.archive.entries", nEntries.toDouble)
    L.add("core.archive.explode_mb", nBytes / 1e6)

    val files = cached.filter(!_.isDir)
      .map(e => (e.source, e.name.substring(e.name.indexOf('/') + 1), e.bytes))
      .toDF("bagId", "name", "content")
    val (validated, validateS, validateC) = probe.measure("ops.validate") {
      val manifest = files.filter(col("name") === "manifest-sha256.txt")
        .select(col("bagId"), explode(split(decode(col("content"), "UTF-8"), "\n")).as("line"))
        .filter(length(trim(col("line"))) > 0)
        .select(col("bagId"), lower(substring(col("line"), 1, 64)).as("checksum"),
          trim(expr("substring(line, 65)")).as("file"))
      val statuses = BagitValidate.verifyChecksums(files.filter(col("name").startsWith("data/")), manifest)
        .groupBy("bagId", "status").count().collect()
      val counts = BagitValidate.reconcileCounts(
        files.filter(!col("name").startsWith("data/") && col("name") =!= "manifest-sha256.txt")
          .select(col("bagId"), col("name").as("file")),
        manifest.select("bagId", "file"), files.select("bagId", "name"))
        .select("bagId", "counts_ok").collect()
      (statuses, counts)
    }
    val (statuses, counts) = validated
    def nStatus(s: String) = statuses.filter(_.getString(1) == s).map(_.getLong(2)).sum
    val badBags = (statuses.filter(_.getString(1) != "ok").map(_.getString(0)) ++
      counts.filter(!_.getBoolean(1)).map(_.getString(0))).toSet
    L.add("ops.validate.s", validateS)
    L.add("ops.validate.jobs", validateC.jobs.toDouble)
    L.add("ops.validate.bags_ok", (counts.length - badBags.size).toDouble)
    L.add("ops.validate.bags_error", badBags.size.toDouble)
    Seq("checksum_mismatch", "missing_file", "not_in_manifest").foreach(s =>
      L.add(s"ops.validate.$s", nStatus(s).toDouble))
    L.add("ops.validate.count_mismatch", counts.count(!_.getBoolean(1)).toDouble)
    def planted(f: Fault) = bags.count(_.fault == f)
    val expect = Map(
      "checksum_mismatch" -> planted(Fault.Checksum), "missing_file" -> planted(Fault.Missing),
      "not_in_manifest" -> planted(Fault.Extra))
    expect.foreach { case (s, k) =>
      if (nStatus(s) != k) problems += s"validate layer: $s=${nStatus(s)}, planted $k" }
    if (badBags != bags.filter(_.fault != Fault.None).map(_.ref).toSet)
      problems += s"validate layer: ${badBags.size} bags in error, planted ${bags.count(_.fault != Fault.None)}"

    val okDocs = bags.filter(_.fault == Fault.None).map(b => (b.ref, s"${b.ref}/${b.judgmentDoc}"))
      .toDF("ok_ref", "ok_name")
    val toPack = cached.join(okDocs, col("source") === col("ok_ref") && col("name") === col("ok_name"))
      .select(cached.columns.map(col).toIndexedSeq: _*).as[TarEntry]
    val (packed, packageS, _) = probe.measure("core.archive.package")(
      Tar.packageBags(toPack, pkgDir.getPath).collect())
    L.add("core.archive.package_s", packageS)
    L.add("core.archive.archives", packed.length.toDouble)
    L.add("core.archive.package_mb", packed.flatMap(_.items.map(_.size)).sum / 1e6)
    if (packed.length != bags.count(_.fault == Fault.None))
      problems += s"package layer: ${packed.length} archives for ${bags.count(_.fault == Fault.None)} ok bags"
    cached.unpersist(blocking = true)
  }

  private def checkFetch(bags: Seq[Bag], fetched: Seq[Row], store: File,
                         problems: ArrayBuffer[String]): Unit = {
    val byTarget = fetched.map(r => r.getAs[String]("target") -> r).toMap
    if (fetched.size != bags.size) problems += s"fetch: ${fetched.size} results for ${bags.size} bags"
    bags.foreach { b =>
      byTarget.get(new File(store, s"${b.ref}.tar.gz").getPath) match {
        case None => problems += s"fetch: no result for ${b.ref}"
        case Some(r) =>
          if (r.getAs[String]("error") != null) problems += s"fetch: ${b.ref}: ${r.getAs[String]("error")}"
          else if (r.getAs[Long]("bytes") != b.archiveBytes || r.getAs[String]("sha256") != b.archiveSha)
            problems += s"fetch: ${b.ref}: digest or size differs from the source object"
      }
    }
  }

  private def finalRoutes(history: Seq[Row]): Map[String, (Int, String)] =
    history.groupBy(_.getString(0)).map { case (ref, rows) =>
      val last = rows.maxBy(_.getInt(1))
      ref -> (last.getInt(1), last.getString(2))
    }

  private def checkRetries(bags: Seq[Bag], repaired: Set[String], history: Seq[Row],
                           problems: ArrayBuffer[String]): Unit = {
    val finals = finalRoutes(history)
    bags.filter(_.fault != Fault.None).foreach { b =>
      val expected = if (repaired(b.ref)) (1, "ok") else (3, "fail")
      finals.get(b.ref) match {
        case Some(got) if got == expected =>
        case other => problems += s"retry: ${b.ref} ended $other, expected $expected"
      }
    }
    if (finals.size != bags.count(_.fault != Fault.None))
      problems += s"retry: ${finals.size} consignments retried"
  }

  private def countFiles(d: File): Int =
    Option(d.listFiles()).getOrElse(Array.empty[File]).map(f =>
      if (f.isDirectory) countFiles(f) else if (f.getName.startsWith(".")) 0 else 1).sum

}

object BatchWorkload {
  /** ~20 KB incompressible docx per bag; per-consignment fixed costs dominate. */
  val small = new BatchWorkload("batch_small",
    full = BatchShape(bags = 60, dataFiles = 1, minBytes = 16 << 10, maxBytes = 24 << 10,
      faults = 3, retry = true),
    toy = BatchShape(bags = 12, dataFiles = 1, minBytes = 4 << 10, maxBytes = 8 << 10,
      faults = 4, retry = true),
    tag = "", minIters = 2)

  /** Bags of 2 × 4 MB incompressible files; bytes dominate. */
  val large = new BatchWorkload("batch_large",
    full = BatchShape(bags = 5, dataFiles = 2, minBytes = 4 << 20, maxBytes = 4 << 20,
      faults = 1, retry = false),
    toy = BatchShape(bags = 3, dataFiles = 2, minBytes = 64 << 10, maxBytes = 64 << 10,
      faults = 1, retry = false),
    tag = "large_", minIters = 2)
}
