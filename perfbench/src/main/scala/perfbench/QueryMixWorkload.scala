package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus-operator layer: a fixed list of `SparkEntry.queries` over a
  * generated TESTDATA-shaped corpus, each written through the `noop` sink.
  * One warm pass (which also checks every query's row count), then at least
  * two timed passes, more while `--seconds` have not passed, with cleanup
  * between queries. A query's time is its best over the passes.
  *
  * The corpus and the query order are fixed (corpus seed 42), so the
  * expected row counts below hold for every run; they were cross-checked
  * against the queries' DuckDB oracles (`oracle_rows.py`). `--seed` does not
  * change this workload's inputs.
  */
object QueryMixWorkload extends Workload {
  val name = "query_mix"
  val corpusSeed = 42L

  /** Query → rows on the corpus, and the tables it reads. */
  val expected: Seq[(String, Long, Seq[String])] = Seq(
    ("graph_pagerank", 30, Seq("lineitem", "orders")),
    ("graph_kcore", 143, Seq("lineitem")),
    ("dedup_minhash_lsh", 49, Seq("documents")),
    ("ann_pq_topk", 50, Seq("embeddings")),
    ("emb_sim_histogram", 10, Seq("embeddings")),
    ("q1_pricing_summary", 6, Seq("lineitem")),
    ("j3_checksum_verify", 72, Seq("documents")),
    ("s7_tar_roundtrip", 500, Seq("documents")),
    ("p13_latest_uuid", 500, Seq("documents")))

  final case class Inputs(dir: String, order: Seq[String], inputMb: Map[String, Double])

  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
                        p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                            l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String, l_linestatus: String,
                            l_shipdate: Timestamp)
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

  def generate(ctx: Ctx): Inputs = {
    val dir = ctx.dir("corpus")
    writeCorpus(ctx.spark, dir, corpusSeed)
    def mb(t: String) = dirBytes(new File(dir, s"$t.parquet")) / 1e6
    Inputs(dir.getPath, expected.map(_._1), expected.map { case (q, _, ts) => q -> ts.map(mb).sum }.toMap)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  /** A TESTDATA-shaped corpus at about sf0.001: 6000 line items, 1500
    * orders, 200 parts, 500 documents over a 40-word vocabulary and 500
    * unit-norm 64-d embeddings.
    */
  def writeCorpus(spark: SparkSession, dir: File, seed: Long): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val day = 86400000L
    val epoch1995 = 788918400000L   // 1995-01-01T00:00:00Z
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    def round2(d: Double) = math.round(d * 100) / 100.0

    val parts = (0 until 200).map(i => Part(i, s"${pick(Seq("cold", "small", "large", "shiny"))} widget",
      s"Brand#${1 + rng.nextInt(25)}", pick(Seq("ECONOMY", "STANDARD", "PROMO", "LARGE")),
      1 + rng.nextInt(50), round2(900 + i * 0.1)))
    val orders = (0 until 1500).map(i => Order(i, rng.nextInt(150), pick(Seq("F", "O", "P")),
      round2(1000 + rng.nextDouble() * 200000), new Timestamp(epoch1995 + rng.nextInt(2500) * day),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    val lines = (0 until 6000).map { i =>
      val qty = (1 + rng.nextInt(50)).toDouble
      LineItem(rng.nextInt(1500), rng.nextInt(200), rng.nextInt(10), 1 + rng.nextInt(7), qty,
        round2(qty * (900 + rng.nextInt(1100))), rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("O", "F")),
        new Timestamp(epoch1995 + rng.nextInt(2500) * day))
    }
    val vocab = ("a the key agg row scan slow fast table value part hash merge batch spark line " +
      "sort window order data column join small customer query big stream group filter vector " +
      "index shuffle plan cache disk node edge graph rank").split(" ").toIndexedSeq
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    // one document in twelve is a near-duplicate of an earlier one (a tenth
    // of its words replaced), so the dedup operators have clusters to find
    val texts = ArrayBuffer.empty[IndexedSeq[String]]
    (0 until 500).foreach { i =>
      texts += (if (i >= 20 && rng.nextInt(12) == 0)
        texts(rng.nextInt(i)).map(w => if (rng.nextInt(10) == 0) pick(vocab) else w)
      else IndexedSeq.fill(10 + rng.nextInt(80))(pick(vocab)))
    }
    val docs = texts.zipWithIndex.map { case (words, i) =>
      val text = words.mkString(" ")
      Document(i, text, pick(langs), s"src${i % 20}", text.length.toLong)
    }.toSeq
    val embs = (0 until 500).map { i =>
      val v = Seq.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), rng.nextInt(10))
    }
    def save(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"$t.parquet").getPath)
    save(parts.toDF(), "part")
    save(orders.toDF(), "orders")
    save(lines.toDF(), "lineitem")
    save(docs.toDF(), "documents")
    save(embs.toDF(), "embeddings")
  }

  private final case class Timing(wall: Double, build: Double, plan: Double, exec: Double,
                                  buildJobs: Long, work: Counters)

  /** Build, plan and execute one query through the noop sink, then clean up.
    * Jobs that run while the DataFrame is built (eager checkpoints) count as
    * build jobs.
    */
  private def timeQuery(ctx: Ctx, q: String, dir: String): Timing = {
    val probe = ctx.probe
    val ((build, plan, exec), wall, work) = probe.measure(s"queries.$q") {
      val (df, buildS, buildC) = probe.measure("queries.build")(graft.SparkEntry.queries(q)(ctx.spark, dir))
      val (_, planS, _) = probe.measure("queries.plan")(df.queryExecution.executedPlan)
      val (_, execS, _) = probe.measure("queries.exec")(df.write.format("noop").mode("overwrite").save())
      ((buildS, buildC.jobs), planS, execS)
    }
    cleanup(ctx.spark)
    Timing(wall, build._1, plan, exec, build._2, work)
  }

  private def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(ctx: Ctx, in: Inputs): Outcome = {
    val spark = ctx.spark
    val problems = ArrayBuffer.empty[String]
    // warm pass: every query once, with its row count checked
    in.order.foreach { q =>
      val rows = graft.SparkEntry.queries(q)(spark, in.dir).collect().length.toLong
      cleanup(spark)
      val want = expected.find(_._1 == q).get._2
      val planted = if (ctx.opts.plantWrong && q == in.order.head) want + 1 else want
      if (rows != planted) problems += s"$q returned $rows rows, expected $planted"
    }
    val passes = ArrayBuffer.empty[Map[String, Timing]]
    ctx.startClock()
    while (passes.size < 2 || (ctx.timeLeft && passes.size < 20))
      passes += in.order.map(q => q -> timeQuery(ctx, q, in.dir)).toMap
    // each query's best time over the passes: a stall in one pass does not
    // count against the query
    val perQuery = in.order.map(q => q -> passes.map(_(q).wall).min).toMap
    val wall = perQuery.values.sum
    val passWalls = passes.map(_.values.map(_.wall).sum).toSeq

    val L = ctx.layers
    passes.zip(passWalls).foreach { case (p, wall) =>
      p.foreach { case (q, t) => L.add(s"queries.$q.s", t.wall) }
      val ts = p.values.toSeq
      L.add("queries.build_s", ts.map(_.build).sum)
      L.add("queries.plan_s", ts.map(_.plan).sum)
      L.add("queries.exec_s", ts.map(_.exec).sum)
      L.add("queries.build_jobs", ts.map(_.buildJobs).sum.toDouble)
      val work = ts.map(_.work).reduce(_ + _)
      L.add("queries.jobs", work.jobs.toDouble)
      L.add("queries.tasks", work.tasks.toDouble)
      L.add("queries.task_s", work.taskS)
      L.add("queries.shuffle_mb", work.shuffleMb)
      L.add("queries.spill_mb", work.spillMb)
      L.add("queries.busy_share", ctx.probe.busyShare(work, wall))
    }

    val inputMb = in.inputMb.values.sum
    Outcome(
      attempted = (passes.size + 1).toLong * in.order.size,
      failed = problems.size.toLong,
      mismatches = problems.toSeq,
      endToEnd = Map(
        "wall_s" -> wall,
        "items_per_s" -> in.order.size / wall,
        "payload_mb_per_s" -> inputMb / wall),
      layers = L.medians,
      diagnostics = Map("passes" -> passes.size, "order" -> in.order, "pass_walls_s" -> passWalls,
        "query_s" -> perQuery, "input_mb" -> in.inputMb))
  }
}
