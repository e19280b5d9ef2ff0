package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.RequestRouter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The request path over the real JSON-RPC transport (`rpc=http`), against
  * the benchmark's own in-process node. The traced run sends history
  * tickets to it and runs one hybrid subscription: it starts `Backfill`
  * blocks behind the head, catches up in `BatchSize`-block micro-batches
  * (whose `eth_getLogs` hit the node's result cap and get bisected), then
  * tails the live chain while the node mines on its own schedule, an open
  * loop.
  */
object NodeHttp {
  val Head0 = 400000L
  val BlocksPerS = 20.0
  val DelayMs = 2L
  val Cap = 1000
  val Backfill = 4000L
  val BatchSize = 500L

  def node(ctx: Ctx): RpcNode =
    new RpcNode(ctx.seed, Head0, BlocksPerS, DelayMs, Cap, Runtime.getRuntime.availableProcessors())

  /** One block's logs as the sink received them. */
  final case class Arrival(batch: Long, atNanos: Long, rows: Seq[Row])

  /** `backfillRows`: the rows delivered up to catch-up. */
  final case class Tail(
      blocks: Long, wrong: Long, problems: Seq[String], catchupS: Double, backfillRows: Long,
      lagMs: Seq[Double], progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  def tailRun(ctx: Ctx, n: RpcNode, liveS: Double): Tail = {
    val oracle = new ChainOracle(ctx.seed, Long.MaxValue)
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Arrival]()
    n.resetCounters()
    val headAtStart = n.head
    val start = headAtStart - Backfill
    val t0 = System.nanoTime()
    val df = Trace.span("api.route")(RequestRouter.route(ctx.spark,
      RequestRouter.parseTicket(s"""{"dataset":"logs","startBlock":"$start","batch_size":$BatchSize}"""),
      Map("rpc" -> "http", "url" -> n.url)))
    val sq: StreamingQuery = df.writeStream
      .foreachBatch((b: DataFrame, id: Long) => {
        val rows = b.collect().toSeq
        arrivals.add(Arrival(id, System.nanoTime(), rows))
        ()
      })
      .option("checkpointLocation", ctx.dir("tail-ckpt").getPath)
      .start()
    // caught up: the first batch holding the last block, at or below the
    // head seen at the start, that has any logs
    val target = (headAtStart to start by -1).find(b => oracle.chain.logsInBlock(b) > 0).get
    def caughtUpAt: Option[Long] = arrivals.asScala.toSeq.sortBy(_.batch)
      .find(_.rows.exists(_.getAs[Long]("blockNumber") >= target)).map(_.atNanos)
    val deadline = t0 + 60e9.toLong
    while (caughtUpAt.isEmpty && System.nanoTime() < deadline && sq.isActive) Thread.sleep(5)
    val caught = caughtUpAt.getOrElse(throw new IllegalStateException(
      s"subscription did not catch up: ${Option(sq.exception).flatten}"))
    Thread.sleep((liveS * 1000).toLong)
    val last = n.freeze()
    def processed: Long = Option(sq.lastProgress)
      .flatMap(p => Option(p.sources.head.endOffset)).map(_.trim.toLong).getOrElse(-1L)
    while (processed < last && System.nanoTime() < deadline + 30e9.toLong && sq.isActive) Thread.sleep(5)
    val progress = sq.recentProgress.toSeq
    sq.stop()

    // every block from start to the final head arrives exactly once, with
    // exactly its logs
    val all = arrivals.asScala.toSeq
    val byBlock = mutable.Map.empty[Long, mutable.ArrayBuffer[Row]]
    all.foreach(a => a.rows.foreach(r => byBlock.getOrElseUpdate(r.getAs[Long]("blockNumber"), mutable.ArrayBuffer.empty) += r))
    val problems = Seq.newBuilder[String]
    var wrong = 0L
    (start to last).foreach { b =>
      val want = oracle.logs(b, b, LogFilter(Nil, Nil))
      val got = byBlock.getOrElse(b, Nil).foldLeft(Digest.empty)((d, r) => d.add(rowText(r)))
      if (got != want) { wrong += 1; problems += s"block $b: got $got, want $want" }
    }
    val stray = byBlock.keys.filter(b => b < start || b > last)
    if (stray.nonEmpty) { wrong += stray.size; problems += s"blocks outside [$start, $last]: ${stray.take(5)}" }

    val firstArrival = mutable.Map.empty[Long, Long]
    all.sortBy(_.batch).foreach(a => a.rows.foreach(r =>
      firstArrival.getOrElseUpdate(r.getAs[Long]("blockNumber"), a.atNanos)))
    val lag = firstArrival.toSeq.collect { case (b, at) if n.minedAt(b) > caught => Stats.ms(at - n.minedAt(b)) }
    val backfillRows = all.filter(_.atNanos <= caught).map(_.rows.size.toLong).sum
    Tail(last - start + 1, wrong, problems.result(), (caught - t0) / 1e9, backfillRows, lag, progress)
  }

  private def rowText(r: Row): String = Digest.logText(r.getAs[String]("address"), r.getAs[String]("data"),
    r.getAs[scala.collection.Seq[String]]("topics").toSeq, r.getAs[Long]("blockNumber"), r.getAs[String]("transactionHash"),
    r.getAs[Int]("transactionIndex"), r.getAs[String]("blockHash"), r.getAs[Int]("logIndex"),
    r.getAs[Boolean]("removed"))
}
