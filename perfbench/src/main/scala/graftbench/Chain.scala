package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.sources.{EthBlock, EthLog, SyntheticRpc}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** Order-independent digest of a row set: the row count and the wrapping
  * sum of a 64-bit hash of each row's canonical text. Two sets with the
  * same rows in any order get the same digest.
  */
final case class Digest(rows: Long, sum: Long) {
  def add(canonical: String): Digest = Digest(rows + 1, sum + Digest.hash(canonical))
}

object Digest {
  val empty: Digest = Digest(0, 0)

  /** FNV-1a over UTF-8 bytes, then the splitmix64 finalizer. */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def logText(address: String, data: String, topics: Seq[String], blockNumber: Long,
      txHash: String, txIndex: Int, blockHash: String, logIndex: Int, removed: Boolean): String =
    s"${Option(address).map(_.toLowerCase).orNull}|$data|${topics.mkString(",")}|$blockNumber|" +
      s"$txHash|$txIndex|$blockHash|$logIndex|$removed"

  def logText(l: EthLog): String =
    logText(l.address, l.data, l.topics, l.blockNumber, l.transactionHash,
      l.transactionIndex, l.blockHash, l.logIndex, l.removed)

  val BlockFields: Seq[String] = Seq("number", "hash", "parentHash", "nonce", "sha3Uncles",
    "logsBloom", "transactionsRoot", "stateRoot", "receiptsRoot", "author", "miner", "mixHash",
    "difficulty", "totalDifficulty", "extraData", "size", "gasLimit", "gasUsed", "timestamp",
    "transactions", "uncles", "sealFields")

  def blockText(b: EthBlock): String = Seq[Any](b.number, b.hash, b.parentHash, b.nonce,
    b.sha3Uncles, b.logsBloom, b.transactionsRoot, b.stateRoot, b.receiptsRoot,
    Option(b.author).map(_.toLowerCase).orNull, Option(b.miner).map(_.toLowerCase).orNull,
    b.mixHash, b.difficulty, b.totalDifficulty, b.extraData, b.size, b.gasLimit, b.gasUsed,
    b.timestamp, b.transactions.mkString(","), b.uncles.mkString(","), b.sealFields.mkString(","))
    .mkString("|")
}

/** The benchmark's own reading of the reference's log filter: addresses
  * compare case-insensitively; `topics` is an OR-set on topic0, and a log
  * with no topics passes it.
  */
final case class LogFilter(addresses: Seq[String], topics: Seq[String]) {
  private val addrSet = addresses.map(_.toLowerCase).toSet
  private val topicSet = topics.toSet
  def accepts(address: String, logTopics: Seq[String]): Boolean =
    (addrSet.isEmpty || (address != null && addrSet.contains(address.toLowerCase))) &&
      (topicSet.isEmpty || logTopics.isEmpty || topicSet.contains(logTopics.head))
}

/** Brute-force answers over the synthetic chain's pure functions
  * (`logsInBlock`, `logAt`, `getBlock`), with no Spark and no connector.
  */
final class ChainOracle(seed: Long, head: Long) {
  val chain = new SyntheticRpc(seed, head)

  def logsOf(b: Long): Seq[EthLog] = (0 until chain.logsInBlock(b)).map(chain.logAt(b, _))

  def logs(start: Long, end: Long, f: LogFilter): Digest = {
    var d = Digest.empty
    var b = start
    while (b <= end) {
      logsOf(b).foreach(l => if (f.accepts(l.address, l.topics)) d = d.add(Digest.logText(l)))
      b += 1
    }
    d
  }

  def blocks(start: Long, end: Long): Digest =
    (start to end).foldLeft(Digest.empty)((d, b) => d.add(Digest.blockText(chain.getBlock(b).get)))
}

/** The Flight client's side of a ticket: reads the Arrow IPC stream files
  * a ticket wrote and digests every row, without ArrowEdge's reader.
  */
object ArrowClient {
  /** `digestNanos`: time spent hashing rows, which is the benchmark's own
    * work and is taken out of the ticket's time.
    */
  final case class Read(digest: Digest, digestNanos: Long)

  def read(dir: File, dataset: String): Read = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".arrow"))
    val allocator = new RootAllocator()
    try files.foldLeft(Read(Digest.empty, 0L)) { (acc, f) =>
      val in = new java.io.FileInputStream(f)
      val reader = new ArrowStreamReader(in, allocator)
      var d = acc.digest
      var hashing = 0L
      try {
        val root = reader.getVectorSchemaRoot
        while (reader.loadNextBatch()) {
          val h0 = System.nanoTime()
          val n = root.getRowCount
          var i = 0
          if (dataset == "logs") {
            val v = (name: String) => root.getVector(name)
            val addr = v("address").asInstanceOf[VarCharVector]
            val data = v("data").asInstanceOf[VarCharVector]
            val topics = v("topics").asInstanceOf[ListVector]
            val bn = v("blockNumber").asInstanceOf[BigIntVector]
            val tx = v("transactionHash").asInstanceOf[VarCharVector]
            val txi = v("transactionIndex").asInstanceOf[IntVector]
            val bh = v("blockHash").asInstanceOf[VarCharVector]
            val li = v("logIndex").asInstanceOf[IntVector]
            val rm = v("removed").asInstanceOf[BitVector]
            while (i < n) {
              d = d.add(Digest.logText(str(addr, i), str(data, i), strList(topics, i), bn.get(i),
                str(tx, i), txi.get(i), str(bh, i), li.get(i), rm.get(i) == 1))
              i += 1
            }
          } else {
            val vecs = Digest.BlockFields.map(root.getVector)
            while (i < n) {
              d = d.add(vecs.map {
                case v: VarCharVector => str(v, i)
                case v: BigIntVector => v.get(i).toString
                case v: ListVector => strList(v, i).mkString(",")
                case v => v.getObject(i).toString
              }.mkString("|"))
              i += 1
            }
          }
          hashing += System.nanoTime() - h0
        }
      } finally { reader.close(); in.close() }
      Read(d, acc.digestNanos + hashing)
    } finally allocator.close()
  }

  private def str(v: VarCharVector, i: Int): String =
    if (v.isNull(i)) null else new String(v.get(i), "UTF-8")

  private def strList(v: ListVector, i: Int): Seq[String] =
    if (v.isNull(i)) Seq.empty
    else v.getObject(i).asScala.toSeq.map(_.toString)
}
