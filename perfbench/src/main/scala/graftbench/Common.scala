package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics over samples. Percentiles use the nearest-rank rule. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def ms(nanos: Long): Double = nanos / 1e6
}

/** JVM-wide counters read through the public management beans. */
object Jvm {
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Samples the live thread count over the timed phase; a run that passes
    * `ceiling` fails. Every partition reader builds its own RPC client, and
    * every HTTP client owns a selector thread, so a long live tail grows the
    * count.
    */
  final class ThreadGuard(ceiling: Int) {
    private val bean = ManagementFactory.getThreadMXBean
    @volatile var crossed = false
    @volatile private var running = true
    @volatile private var peakSeen = 0
    private val sampler = new Thread(() => {
      while (running) {
        val n = bean.getThreadCount
        peakSeen = math.max(peakSeen, n)
        if (n > ceiling) crossed = true
        Thread.sleep(20)
      }
    }, "bench-thread-guard")
    sampler.setDaemon(true)
    def start(): Unit = sampler.start()
    def peak: Int = peakSeen
    def stop(): Unit = if (running) { running = false; sampler.join() }
  }
  val ThreadCeiling = 800
}

/** Spans recorded by the benchmark around each call into a layer. Kept in
  * memory and written out when the run ends. With tracing off, `span`
  * only runs its body.
  */
object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long)

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val opId = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def op[T](id: Long)(body: => T): T = {
    val prev = opId.get; opId.set(id)
    try body finally opId.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized { spans += Span(id, parents.headOption.getOrElse(0), opId.get, name, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => Stats.ms(s.end - s.start))

  /** Self time per span name, in ms: a span's length minus the part of it
    * that its child spans cover.
    */
  def selfMs(): Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
        var covered = 0L; var upTo = s.start
        kids.foreach { case (a, b) =>
          val lo = math.max(a, upTo); val hi = math.min(b, s.end)
          if (hi > lo) { covered += hi - lo; upTo = hi }
        }
        Stats.ms(s.end - s.start - covered)
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One metric as the result line reports it. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]: operations attempted, those that
  * failed (threw), and those that answered wrongly.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    wrong: Long,
    problems: Seq[String],
    metrics: Map[String, Metric])
