package graftbench

import graft.sources.{HttpRpc, SyntheticRpc, TooManyResultsException}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: the row digest, the brute-force filter, and
  * the in-process node's JSON as the project's `HttpRpc` reads it.
  */
class ChecksSpec extends AnyFunSuite {
  private val chain = new SyntheticRpc(7L, 1000000L)
  private val oracle = new ChainOracle(7L, 1000000L)
  private def digest(logs: Seq[graft.sources.EthLog]) =
    logs.foldLeft(Digest.empty)((d, l) => d.add(Digest.logText(l)))

  test("the digest ignores row order and sees every field") {
    val logs = oracle.logsOf(10) ++ oracle.logsOf(11) ++ oracle.logsOf(12)
    assert(logs.size > 2)
    assert(digest(logs) == digest(logs.reverse))
    assert(digest(logs) != digest(logs.tail))
    val changed = logs.head.copy(logIndex = logs.head.logIndex + 100)
    assert(digest(changed +: logs.tail) != digest(logs))
    assert(digest(logs.head +: logs) != digest(logs), "a duplicated row must change the digest")
  }

  test("addresses compare case-insensitively") {
    val l = (5L to 50L).flatMap(oracle.logsOf).head
    val mixed = "0x" + l.address.drop(2).toUpperCase
    assert(LogFilter(Seq(mixed), Nil).accepts(l.address, l.topics))
    assert(!LogFilter(Seq("0x" + "0" * 40), Nil).accepts(l.address, l.topics))
  }

  test("topics are an OR-set on topic0 that a log with no topics passes") {
    val f = LogFilter(Nil, Seq("0xaa", "0xbb"))
    assert(f.accepts("0x1", Seq("0xbb", "0xcc")))
    assert(!f.accepts("0x1", Seq("0xcc", "0xaa")))
    assert(f.accepts("0x1", Nil))
  }

  test("the brute-force filter agrees with the synthetic chain's node-side filter") {
    val addrs = (100L until 104L).flatMap(b => oracle.logsOf(b).headOption.map(_.address))
    assert(addrs.nonEmpty)
    val topic = (200L to 300L).flatMap(oracle.logsOf).head.topics.head
    for ((a, t) <- Seq((Nil, Nil), (addrs.map(_.toUpperCase.replace("0X", "0x")), Nil), (Nil, Seq(topic)))) {
      assert(oracle.logs(100, 900, LogFilter(a, t)) == digest(chain.getLogs(100, 900, a, t)))
    }
  }

  test("the node serves blocks and logs that HttpRpc decodes to the synthetic chain's values") {
    val node = new RpcNode(7L, head0 = 5000L, rate = 0.0, delayMs = 0L, cap = 1000, threads = 2)
    try {
      val rpc = new HttpRpc(node.url, maxRetries = 0)
      assert(rpc.blockNumber() == 5000L)
      for (b <- Seq(0L, 1L, 4321L, 5000L)) assert(rpc.getBlock(b) == chain.getBlock(b))
      assert(rpc.getBlock(5001L).isEmpty, "no block past the head")
      val addrs = oracle.logsOf(300).map(_.address).take(2).map(_.toUpperCase.replace("0X", "0x"))
      assert(digest(rpc.getLogs(250, 400, Nil, Nil)) == oracle.logs(250, 400, LogFilter(Nil, Nil)))
      assert(digest(rpc.getLogs(250, 400, addrs, Nil)) == oracle.logs(250, 400, LogFilter(addrs, Nil)))
      assert(digest(rpc.getLogs(4990, 6000, Nil, Nil)) == oracle.logs(4990, 5000, LogFilter(Nil, Nil)),
        "eth_getLogs stops at the head")
      val capped = intercept[TooManyResultsException](rpc.getLogs(0, 2000, Nil, Nil))
      assert(capped.getMessage == "query returned more than 1000 results")
      assert(node.capped.get == 1)
    } finally node.stop()
  }
}
