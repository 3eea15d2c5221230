package perfbench

import java.io.File
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: File, toy: Boolean, plantWrong: Boolean)

/** What one workload hands back: end-to-end samples, per-layer medians,
  * operation accounting and the outcome-check failures (an empty list
  * means every planted fault was accounted for exactly).
  */
final case class Outcome(attempted: Long, failed: Long, mismatches: Seq[String],
                         endToEnd: Map[String, Double], layers: Map[String, Double],
                         diagnostics: Map[String, Any])

/** Everything a workload needs while it runs. */
final class Ctx(val spark: SparkSession, val probe: Probe, val opts: Opts) {
  val layers = new Layers
  /** When the timed phase must stop starting new iterations. */
  var deadlineNs: Long = Long.MaxValue
  def startClock(): Unit = deadlineNs = System.nanoTime() + (opts.seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
  def dir(name: String): File = { val d = new File(opts.work, name); d.mkdirs(); d }
}

trait Workload {
  type Inputs
  def name: String
  /** Seeded inputs, written under the run's work directory (untimed). */
  def generate(ctx: Ctx): Inputs
  /** Untimed warm pass, then the timed phase (`ctx.startClock()` first). */
  def run(ctx: Ctx, in: Inputs): Outcome
}

/** Benchmark entry point: one workload per JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--toy] [--plant-wrong]
  * }}}
  *
  * Prints one JSON line: `correct`, `attempted`, `failed` and `metrics`
  * (end-to-end metrics untraced, per-layer metrics traced). A traced or
  * untraced run also writes `<work>/artifact.json` with the diagnostics.
  * A run whose outcomes disagree with its planted faults prints
  * `"correct": false` with no metrics and exits 1.
  */
object Main {
  val workloads: Map[String, Workload] =
    Seq(TreIntakeWorkload, QueryMixWorkload, BatchWorkload.small, BatchWorkload.large,
      StreamWorkload)
      .map(w => w.name -> w).toMap

  def parse(args: Array[String]): Opts = {
    def value(flag: String): Option[String] = {
      val i = args.indexOf(flag)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    def need(flag: String) = value(flag).getOrElse(sys.error(s"missing $flag"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")).getAbsoluteFile,
      args.contains("--toy"), args.contains("--plant-wrong"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val wl = workloads.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    opts.work.mkdirs()
    val load0 = Jvm.loadAvg1()

    val (spark, setupS) = Setup.timed(opts)
    val probe = new Probe(spark, opts.trace)
    val ctx = new Ctx(spark, probe, opts)
    var genS = 0.0
    val outcome =
      try {
        val tGen = System.nanoTime()
        val inputs = wl.generate(ctx)
        genS = (System.nanoTime() - tGen) / 1e9
        Jvm.resetHeapPeak()
        val gc0 = Jvm.gcMs()
        val o = wl.run(ctx, inputs)
        o.copy(layers = o.layers ++ Map(
          "jvm.gc_s" -> (Jvm.gcMs() - gc0) / 1e3, "jvm.heap_peak_mb" -> Jvm.heapPeakMb()))
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Outcome(1, 1, Seq(s"workload threw: $e"), Map.empty, Map.empty, Map.empty)
      } finally probe.close()
    spark.stop()

    val correct = outcome.mismatches.isEmpty && outcome.failed == 0
    val endToEnd = outcome.endToEnd + ("setup_s" -> setupS)
    val metrics: Map[String, (Double, String)] =
      if (!correct) Map.empty
      else if (opts.trace) Metrics.perLayer(outcome.layers)
      else Metrics.endToEnd(endToEnd)
    val health = Map(
      "cores" -> probe.cores,
      "load1_start" -> load0,
      "load1_end" -> Jvm.loadAvg1(),
      "gen_s" -> genS)
    val artifact = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "toy" -> opts.toy, "correct" -> correct,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "mismatches" -> outcome.mismatches.take(50),
      "health" -> health,
      "end_to_end" -> endToEnd,
      "per_layer" -> (if (opts.trace) Metrics.perLayer(outcome.layers).map { case (k, v) => k -> v._1 } else Map.empty),
      "layer_to_end_to_end" -> Metrics.layerMap,
      "diagnostics" -> outcome.diagnostics,
      "span_totals_s" -> probe.spanTotals.map { case (n, (total, self)) =>
        n -> Map("total" -> total, "self" -> self) },
      "spans" -> probe.spanList.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)))
    val w = new java.io.PrintWriter(new File(opts.work, "artifact.json"), "UTF-8")
    try w.println(Json.render(artifact)) finally w.close()

    outcome.mismatches.take(20).foreach(m => System.err.println(s"MISMATCH: $m"))
    val line = Map(
      "correct" -> correct,
      "attempted" -> outcome.attempted,
      "failed" -> (if (correct) 0L else math.max(1L, outcome.failed)),
      "metrics" -> metrics.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) })
    println(Json.render(line))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Session set-up, timed: build the session the way the repository's
  * entry points do (`graft.Sessions`), register the graft SQL functions
  * and run a fixed warm-up job. It is the first session of the JVM, so the
  * time includes class loading and first-session initialisation; the
  * workload runs on this session.
  */
object Setup {
  def build(opts: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val local = new File(opts.work, "spark-local"); local.mkdirs()
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").toURI.toString)
      .config("spark.sql.streaming.checkpointLocation",
        new File(opts.work, "checkpoints").toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    spark
  }

  /** A few small jobs through the SQL layer and a graft function. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(0, 20000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS k", "percent_encode(CAST(id AS STRING)) AS v")
      .groupBy("k").count().collect()
    ()
  }

  /** The session and the seconds its build and warm-up took. */
  def timed(opts: Opts): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = build(opts)
    warmUp(spark)
    (spark, (System.nanoTime() - t0) / 1e9)
  }
}
