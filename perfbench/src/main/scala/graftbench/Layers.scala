package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.arrow.ArrowEdge
import org.apache.spark.sql.DataFrame

/** The traced run: the same fixed probe of every layer whichever workload
  * is named, with spans around each call into a layer. Spans are kept in
  * memory and written to `spans.jsonl` in the run directory at the end.
  *  - api, arrow, client: tickets on the synthetic chain, alternately traced
  *    and not; the difference of their medians is the tracing overhead;
  *  - arrow: `writeIpc` of a cached DataFrame, `readIpc`, the client read;
  *  - sources: synthetic scans to `noop`; tickets and a short subscription
  *    against the in-process node, counted by the node;
  *  - operators: the catalog subset with its build / plan / exec split;
  *  - functions: every function `GraftFunctions.register` installs, over
  *    generated input.
  */
object Layers {
  def run(ctx: Ctx): Outcome = {
    val m = Map.newBuilder[String, Metric]
    Trace.enabled = true
    Seq[(String, Ctx => Map[String, Metric])]("tickets" -> tickets, "arrow" -> arrow,
      "scans" -> scans, "node" -> node, "functions" -> functions, "operators" -> operators)
      .foreach { case (name, probe) => m ++= probe(ctx); ctx.log(s"$name probe done") }
    ctx.finishTiming()
    ctx.outcome(1, 0, 0, Nil, m.result())
  }

  private def p50(name: String) = Stats.median(Trace.durations(name))

  /** Logs tickets of 2,000 blocks, every other one traced. */
  def tickets(ctx: Ctx): Map[String, Metric] = {
    val runner = new TicketRunner(ctx.spark,
      Map("rpc" -> "synthetic", "seed" -> ctx.seed.toString, "head" -> TicketArrow.Head.toString),
      ctx.dir("tickets"))
    val mix = new TicketMix(ctx.seed, TicketArrow.WarmEnd, TicketArrow.Head, Nil)
    Trace.enabled = false
    TicketMix.warmUp(ctx.seed, runner)
    ctx.startTiming()
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val (traced, plain) = (0 until 40).map { i =>
      val start = TicketArrow.WarmEnd + rnd.nextLong(TicketArrow.Head - 2 * TicketArrow.WarmEnd)
      Trace.enabled = i % 2 == 1
      val s = Trace.op(i + 1)(Trace.span("ticket")(runner.serve(mix.make("logs", start, start + 1999))))
      (Trace.enabled, Stats.ms(s.nanos))
    }.partition(_._1)
    Trace.enabled = true
    val self = Trace.selfMs()
    val n = traced.size.toDouble
    val on = Stats.median(traced.map(_._2)); val off = Stats.median(plain.map(_._2))
    Map(
      "api.parse_ms" -> Metric(p50("api.parse"), "ms"),
      "api.route_ms" -> Metric(p50("api.route"), "ms"),
      "trace.overhead_pct" -> Metric((on - off) / off * 100, "%"),
      "trace.api_self_ms" -> Metric((self("api.parse") + self("api.route")) / n, "ms"),
      "trace.arrow_self_ms" -> Metric(self("arrow.write") / n, "ms"),
      "trace.client_self_ms" -> Metric(self("client.read") / n, "ms"))
  }

  /** `writeIpc` of a cached logs DataFrame, then both readers on its files. */
  def arrow(ctx: Ctx): Map[String, Metric] = {
    val df = ctx.spark.read.format("graft-eth").option("dataset", "logs")
      .option("seed", ctx.seed.toString).option("head", "100000")
      .option("startBlock", "0").option("endBlock", "49999").load().cache()
    val rows = df.count()
    val dir = ctx.dir("arrow-probe")
    ArrowEdge.writeIpc(df, new File(dir, "warm").getPath)
    val out = new File(dir, "timed")
    val t0 = System.nanoTime()
    Trace.span("arrow.write_cached")(ArrowEdge.writeIpc(df, out.getPath))
    val t1 = System.nanoTime()
    val bytes = out.listFiles().filter(_.getName.endsWith(".arrow")).map(_.length).sum.toDouble
    val read = Trace.span("arrow.read_ipc")(ArrowEdge.readIpc(out.getPath))
    val t2 = System.nanoTime()
    val client = Trace.span("client.read_probe")(ArrowClient.read(out, "logs"))
    val t3 = System.nanoTime()
    require(read.size == rows && client.digest.rows == rows, "arrow probe lost rows")
    df.unpersist()
    Files.deleteTree(dir)
    val mb = bytes / 1048576.0
    Map(
      "arrow.write_mb_per_s" -> Metric(mb / ((t1 - t0) / 1e9), "MB/s"),
      "arrow.bytes_per_row" -> Metric(bytes / rows, "B"),
      "arrow.read_mb_per_s" -> Metric(mb / ((t2 - t1) / 1e9), "MB/s"),
      "arrow.client_read_mb_per_s" -> Metric(mb / ((t3 - t2 - client.digestNanos) / 1e9), "MB/s"))
  }

  /** Synthetic `graft-eth` scans forced with `noop`. */
  def scans(ctx: Ctx): Map[String, Metric] = {
    def scan(dataset: String, blocks: Long): (Double, Double) = {
      val df = ctx.spark.read.format("graft-eth").option("dataset", dataset)
        .option("seed", ctx.seed.toString).option("head", "10000000")
        .option("startBlock", "1000000").option("endBlock", (1000000 + blocks - 1).toString).load()
      val listener = new WorkListener
      ctx.spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      Trace.span(s"sources.scan_$dataset")(df.write.format("noop").mode("overwrite").save())
      val s = (System.nanoTime() - t0) / 1e9
      org.apache.spark.BenchListeners.drain(ctx.spark.sparkContext)
      ctx.spark.sparkContext.removeSparkListener(listener)
      (listener.inputRows.toDouble, s)
    }
    val (logRows, logS) = scan("logs", 200000)
    val (blockRows, blockS) = scan("blocks", 50000)
    Map("sources.scan_rows_per_s" -> Metric(logRows / logS, "rows/s"),
      "sources.block_rows_per_s" -> Metric(blockRows / blockS, "rows/s"))
  }

  /** Blocks and logs tickets, then a short subscription, against the
    * in-process node.
    */
  def node(ctx: Ctx): Map[String, Metric] = {
    val n = NodeHttp.node(ctx)
    try {
      val runner = new TicketRunner(ctx.spark, Map("rpc" -> "http", "url" -> n.url), ctx.dir("node-tickets"))
      val oracle = new ChainOracle(ctx.seed, NodeHttp.Head0)
      def pass(kind: String): (ClosedLoop.Result, Double, Double) = {
        val kinds = Seq(kind -> (if (kind == "blocks") 500L else 8000L))
        n.resetCounters()
        val loop = ClosedLoop.tickets(ctx, new TicketMix(ctx.seed, 100000L, NodeHttp.Head0, kinds),
          runner, oracle, minTickets = kinds.size, seconds = 0.001)
        require(loop.failed == 0 && loop.wrong == 0, s"node tickets failed: ${loop.problems.take(3)}")
        (loop, n.calls.get.toDouble, n.capped.get.toDouble)
      }
      val (blocks, blockCalls, _) = pass("blocks")
      require(n.blocksServed.get >= blocks.blocks,
        s"the node served ${n.blocksServed.get} blocks for tickets of ${blocks.blocks}")
      val service = Stats.median(n.serviceNanos.asScala.toSeq.map(x => Stats.ms(x)))
      val blockMb = n.bytesOut.get / 1048576.0
      val (_, logCalls, capped) = pass("logs")
      val nodeMetrics = Map(
        "sources.node_calls" -> Metric(blockCalls + logCalls, "count"),
        "sources.node_calls_per_block" -> Metric(blockCalls / blocks.blocks, "calls/block"),
        "sources.node_capped" -> Metric(capped, "count"),
        "sources.node_mb" -> Metric(blockMb + n.bytesOut.get / 1048576.0, "MB"),
        "sources.node_service_ms" -> Metric(service, "ms"))
      val listener = new WorkListener
      ctx.spark.sparkContext.addSparkListener(listener)
      val tail = NodeHttp.tailRun(ctx, n, 3.0)
      org.apache.spark.BenchListeners.drain(ctx.spark.sparkContext)
      ctx.spark.sparkContext.removeSparkListener(listener)
      require(tail.wrong == 0, s"subscription delivered wrongly: ${tail.problems.take(3)}")
      val batches = tail.progress.filter(_.numInputRows > 0)
      def dur(key: String) = Metric(Stats.median(batches.map(_.durationMs.get(key).toDouble)), "ms")
      nodeMetrics ++ Map(
        "sources.tasks" -> Metric(listener.tasks.toDouble, "count"),
        "stream.trigger_ms" -> dur("triggerExecution"),
        "stream.latest_offset_ms" -> dur("latestOffset"),
        "stream.planning_ms" -> dur("queryPlanning"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.batches" -> Metric(batches.size.toDouble, "count"),
        "stream.rows_per_batch" -> Metric(batches.map(_.numInputRows).sum.toDouble / batches.size, "rows"),
        "stream.catchup_s" -> Metric(tail.catchupS, "s"),
        "stream.backfill_rows_per_s" -> Metric(tail.backfillRows / tail.catchupS, "rows/s"),
        "stream.lag_p50_ms" -> Metric(Stats.median(tail.lagMs), "ms"))
    } finally n.stop()
  }

  /** Every registered function over generated input of `Rows` rows. */
  val Rows = 50000L
  val Kernels: Seq[(String, String)] = Seq(
    "hex_to_long" -> "hex_to_long(hex)",
    "hex_to_decimal" -> "hex_to_decimal(hex)",
    "word_shingles" -> "word_shingles(text, 3)",
    "word_ngrams" -> "word_ngrams(text, 2)",
    "simhash64" -> "simhash64(text)",
    "minhash_signature" -> "minhash_signature(text, 3, 64)",
    "scaled_dot" -> "scaled_dot(v, w)",
    "scaled_l2" -> "scaled_l2(v, w)",
    "hyperplane_bucket" -> "hyperplane_bucket(v, 16)",
    "word_set_counts" -> "word_set_counts(text, array(array('spark', 'stream'), array('key', 'value', 'row')))",
    "token_fingerprint" -> "token_fingerprint(text)",
    "doc_pairs" -> "doc_pairs(ds)",
    "sum_of_squares" -> "sum_of_squares(id)")

  def functions(ctx: Ctx): Map[String, Metric] = {
    val fresh = ctx.spark.newSession()
    val t0 = System.nanoTime()
    Trace.span("functions.register")(graft.functions.GraftFunctions.register(fresh))
    val registerMs = Stats.ms(System.nanoTime() - t0)
    val spark = ctx.spark
    graft.functions.GraftFunctions.register(spark)
    val vocab = "a the data spark stream batch query scan filter join group agg sort hash key value row column"
      .split(" ").map(w => s"'$w'").mkString("array(", ",", ")")
    val input = spark.range(Rows).selectExpr(
      "id",
      "format_string('0x%x', id * 2654435761) AS hex",
      s"concat_ws(' ', transform(sequence(1, 40), i -> element_at($vocab, cast(pmod(hash(id, i), 18) + 1 AS INT)))) AS text",
      "transform(sequence(1, 64), i -> cast(sin(id * i) AS FLOAT)) AS v",
      "transform(sequence(1, 64), i -> cast(cos(id + i) AS FLOAT)) AS w",
      "transform(sequence(1, 8), i -> named_struct('d', id * 8 + i, 'sz', cast(i AS INT))) AS ds"
    ).cache()
    input.count()
    Kernels.map { case (name, call) =>
      val df: DataFrame = input.selectExpr(call)
      df.write.format("noop").mode("overwrite").save() // first use: code generation
      val s0 = System.nanoTime()
      Trace.span(s"functions.$name")(df.write.format("noop").mode("overwrite").save())
      s"functions.$name.rows_per_s" -> Metric(Rows / ((System.nanoTime() - s0) / 1e9), "rows/s")
    }.toMap ++ Map("functions.register_ms" -> Metric(registerMs, "ms")) ++ {
      input.unpersist(); Map.empty[String, Metric]
    }
  }

  def operators(ctx: Ctx): Map[String, Metric] = {
    val dir = ctx.fixture.getOrElse(throw new IllegalArgumentException("the traced run needs --fixture"))
    CatalogRun.warmUp(ctx.spark, dir, ctx.work)
    val listener = new WorkListener
    ctx.spark.sparkContext.addSparkListener(listener)
    val timed = CatalogRun.Subset.map { case (name, _) =>
      CatalogRun.timeQuery(ctx.spark, dir, graft.operators.Catalog.byName(name), listener)
    }
    ctx.spark.sparkContext.removeSparkListener(listener)
    CatalogRun.operatorMetrics(timed) ++
      Map("operators.catalog_s" -> Metric(timed.map(_.totalS).sum, "s"))
  }
}
