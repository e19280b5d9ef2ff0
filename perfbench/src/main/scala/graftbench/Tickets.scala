package graftbench

import java.io.File
import java.util.SplittableRandom

import graft.api.{GraftRequest, RequestRouter}
import graft.arrow.ArrowEdge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One historical ticket as a client sends it, with the answer the chain's
  * pure functions give for it.
  */
final case class Ticket(kind: String, json: String, start: Long, end: Long, filter: LogFilter) {
  def dataset: String = if (kind == "blocks") "blocks" else "logs"
  def blocks: Long = end - start + 1
  def expected(oracle: ChainOracle): Digest =
    if (dataset == "blocks") oracle.blocks(start, end) else oracle.logs(start, end, filter)
}

/** A seeded ticket mix: every round asks for the same tickets, by kind and
  * size in blocks; the seed picks where each starts, its filter values and
  * the order.
  */
final class TicketMix(seed: Long, lo: Long, hi: Long, sizes: Seq[(String, Long)]) {
  private val rnd = new SplittableRandom(seed)
  private val oracle = new ChainOracle(seed, hi)

  def round(): Seq[Ticket] = shuffle(sizes.map { case (kind, n) =>
    val start = lo + (rnd.nextDouble() * (hi - lo - n)).toLong
    make(kind, start, start + n - 1)
  })

  private def shuffle(xs: Seq[Ticket]): Seq[Ticket] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Mixed case, as a checksumming client writes an address. */
  private def mixCase(a: String): String =
    "0x" + a.drop(2).map(c => if (c.isLetter && rnd.nextBoolean()) c.toUpper else c)

  private def num(v: Long): String = if (rnd.nextBoolean()) v.toString else "\"" + v + "\""

  def make(kind: String, start: Long, end: Long): Ticket = {
    val (addrs, topics) = kind match {
      case "logs_address" =>
        val picks = (0 until 4).flatMap { _ =>
          val b = start + (rnd.nextDouble() * (end - start + 1)).toLong
          oracle.logsOf(b).headOption.map(_.address)
        }.distinct
        (picks.map(mixCase), Seq.empty[String])
      case "logs_topic" =>
        val pool = (0L until 64L).flatMap(b => oracle.logsOf(start + b).map(_.topics.head)).distinct.sorted
        (Seq.empty[String], Seq(pool(rnd.nextInt(pool.size))))
      case _ => (Seq.empty[String], Seq.empty[String])
    }
    val fields = Seq(s""""dataset":"${if (kind == "blocks") "blocks" else "logs"}"""",
      s""""startBlock":${num(start)}""", s""""endBlock":${num(end)}""") ++
      (if (addrs.nonEmpty) Seq(addrs.map("\"" + _ + "\"").mkString("\"contractAddresses\":[", ",", "]")) else Nil) ++
      (if (topics.nonEmpty) Seq(topics.map("\"" + _ + "\"").mkString("\"topics\":[", ",", "]")) else Nil)
    Ticket(kind, fields.mkString("{", ",", "}"), start, end, LogFilter(addrs, topics))
  }
}

object TicketMix {
  /** `k` tickets of one kind with sizes log-spaced over [min, max]. */
  def grid(kind: String, k: Int, min: Long, max: Long): Seq[(String, Long)] =
    (0 until k).map(j => kind -> math.round(min * math.pow(max.toDouble / min, (j + 0.5) / k)))

  /** Small tickets of every kind below block 100k, where no timed ticket
    * goes: they pay for first-use class loading and code generation.
    */
  def warmUp(seed: Long, runner: TicketRunner): Unit = {
    val mix = new TicketMix(seed ^ 0x5eedL, 0L, 100000L, Nil)
    for (pass <- 0 until 2; kind <- Seq("logs", "logs_address", "logs_topic", "blocks")) {
      val start = 1000L + pass * 5000
      runner.serve(mix.make(kind, start, start + (if (kind == "blocks") 15 else 999)))
    }
  }
}

/** Serves one ticket the way the product's request path does:
  * `parseTicket` → `route` → `ArrowEdge.writeIpc`, then reads the Arrow
  * stream back as the Flight client would.
  */
final class TicketRunner(spark: SparkSession, rpcOptions: Map[String, String], workDir: File) {
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  def serve(t: Ticket): Served = {
    val dir = new File(workDir, s"ticket-${counter.incrementAndGet()}")
    val t0 = System.nanoTime()
    val req: GraftRequest = Trace.span("api.parse")(RequestRouter.parseTicket(t.json))
    val df: DataFrame = Trace.span("api.route")(RequestRouter.route(spark, req, rpcOptions))
    Trace.span("arrow.write")(ArrowEdge.writeIpc(df, dir.getPath))
    val read = Trace.span("client.read")(ArrowClient.read(dir, t.dataset))
    val nanos = System.nanoTime() - t0 - read.digestNanos
    Files.deleteTree(dir)
    Served(nanos, read)
  }
}

/** A served ticket: its time, from submit to the last batch the client
  * loaded, and what the client read.
  */
final case class Served(nanos: Long, read: ArrowClient.Read)

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
