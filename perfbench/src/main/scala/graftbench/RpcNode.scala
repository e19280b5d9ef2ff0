package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{EthBlock, EthLog, SyntheticRpc}

/** An in-process Ethereum JSON-RPC node serving the synthetic chain, shaped
  * like a hosted node:
  *  - every request waits `delayMs` before it is answered;
  *  - `eth_getLogs` refuses a range with more than `cap` logs, in the
  *    reference's wording ("query returned more than N results");
  *  - the head advances `rate` blocks a second from `head0`, whether or not
  *    anyone reads (an open loop), until [[freeze]];
  *  - `eth_getLogs` and `eth_getBlockByNumber` see nothing past the head;
  *  - it answers from at most `threads` daemon threads.
  * TCP_NODELAY needs `-Dsun.net.httpserver.nodelay=true` on the JVM: without
  * it each small response stalls for the peer's delayed ACK.
  */
final class RpcNode(seed: Long, head0: Long, rate: Double, delayMs: Long, cap: Int, threads: Int) {
  private val chain = new SyntheticRpc(seed, Long.MaxValue)
  private val mapper = new ObjectMapper()
  private val t0 = System.nanoTime()
  @volatile private var frozenAt: Option[Long] = None

  val calls = new AtomicLong()
  val capped = new AtomicLong()
  val bytesOut = new AtomicLong()
  val blocksServed = new AtomicLong()
  val serviceNanos = new ConcurrentLinkedQueue[java.lang.Long]()

  def head: Long = frozenAt.getOrElse(headAt(System.nanoTime()))
  private def headAt(now: Long): Long = head0 + ((now - t0) / 1e9 * rate).toLong
  /** When block `b` was mined, on the System.nanoTime clock. */
  def minedAt(b: Long): Long = t0 + math.ceil((b - head0) / rate * 1e9).toLong

  /** Stop mining: the head stays where it is now. */
  def freeze(): Long = synchronized {
    if (frozenAt.isEmpty) frozenAt = Some(headAt(System.nanoTime()))
    frozenAt.get
  }

  def resetCounters(): Unit = {
    calls.set(0); capped.set(0); bytesOut.set(0); blocksServed.set(0); serviceNanos.clear()
  }

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"bench-rpc-node-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    try {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      if (delayMs > 0) Thread.sleep(delayMs)
      val body = respond(req).getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      bytesOut.addAndGet(body.length)
    } finally {
      ex.close()
      calls.incrementAndGet()
      serviceNanos.add(System.nanoTime() - start)
    }
  }

  private def respond(req: JsonNode): String = {
    val id = req.path("id").asLong(0)
    val params = req.path("params")
    def ok(result: String) = s"""{"jsonrpc":"2.0","id":$id,"result":$result}"""
    req.path("method").asText() match {
      case "eth_blockNumber" => ok(q(hex(head)))
      case "eth_getBlockByNumber" =>
        val n = RpcNode.parseHex(params.get(0).asText())
        if (n > head) ok("null")
        else { blocksServed.incrementAndGet(); ok(RpcNode.blockJson(chain.getBlock(n).get)) }
      case "eth_getLogs" =>
        val f = params.get(0)
        val from = RpcNode.parseHex(f.path("fromBlock").asText("0x0"))
        val to = math.min(RpcNode.parseHex(f.path("toBlock").asText(hex(head))), head)
        val addrs = f.path("address") match {
          case a if a.isArray => a.elements().asScala.map(_.asText).toSeq
          case a if a.isTextual => Seq(a.asText)
          case _ => Seq.empty
        }
        val topic0 = f.path("topics").path(0) match {
          case t if t.isArray => t.elements().asScala.map(_.asText).toSeq
          case t if t.isTextual => Seq(t.asText)
          case _ => Seq.empty
        }
        var total = 0L
        var b = from
        while (b <= to) { total += chain.logsInBlock(b); b += 1 }
        if (total > cap) {
          capped.incrementAndGet()
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32005,"message":"query returned more than $cap results"}}"""
        } else {
          val filter = LogFilter(addrs, topic0)
          val out = new StringBuilder("[")
          var first = true
          b = from
          while (b <= to) {
            (0 until chain.logsInBlock(b)).foreach { i =>
              val l = chain.logAt(b, i)
              if (filter.accepts(l.address, l.topics)) {
                if (!first) out.append(',')
                first = false
                out.append(RpcNode.logJson(l))
              }
            }
            b += 1
          }
          ok(out.append(']').toString)
        }
      case other =>
        s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"the method $other does not exist/is not available"}}"""
    }
  }

  private def hex(v: Long): String = RpcNode.hex(v)
  private def q(s: String): String = "\"" + s + "\""
}

object RpcNode {
  def hex(v: Long): String = "0x" + java.lang.Long.toHexString(v)
  def parseHex(s: String): Long = java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
  private def q(s: String): String = if (s == null) "null" else "\"" + s + "\""
  private def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")

  def logJson(l: EthLog): String =
    s"""{"address":${q(l.address)},"topics":${arr(l.topics)},"data":${q(l.data)},""" +
      s""""blockNumber":"${hex(l.blockNumber)}","transactionHash":${q(l.transactionHash)},""" +
      s""""transactionIndex":"${hex(l.transactionIndex)}","blockHash":${q(l.blockHash)},""" +
      s""""logIndex":"${hex(l.logIndex)}","removed":${l.removed}}"""

  def blockJson(b: EthBlock): String =
    s"""{"number":"${hex(b.number)}","hash":${q(b.hash)},"parentHash":${q(b.parentHash)},""" +
      s""""nonce":${q(b.nonce)},"sha3Uncles":${q(b.sha3Uncles)},"logsBloom":${q(b.logsBloom)},""" +
      s""""transactionsRoot":${q(b.transactionsRoot)},"stateRoot":${q(b.stateRoot)},""" +
      s""""receiptsRoot":${q(b.receiptsRoot)},"author":${q(b.author)},"miner":${q(b.miner)},""" +
      s""""mixHash":${q(b.mixHash)},"difficulty":${q(b.difficulty)},""" +
      s""""totalDifficulty":${q(b.totalDifficulty)},"extraData":${q(b.extraData)},""" +
      s""""size":"${hex(b.size)}","gasLimit":"${hex(b.gasLimit)}","gasUsed":"${hex(b.gasUsed)}",""" +
      s""""timestamp":"${hex(b.timestamp)}","transactions":${arr(b.transactions)},""" +
      s""""uncles":${arr(b.uncles)},"sealFields":${arr(b.sealFields)}}"""
}
