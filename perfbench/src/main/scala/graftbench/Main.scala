package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, its inputs and the clocks. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val traced: Boolean,
    val work: File,
    val fixture: Option[String]) {

  val threads = new Jvm.ThreadGuard(Jvm.ThreadCeiling)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  @volatile private var setupS: Option[Double] = None
  private var gcAtStart = (0L, 0L)

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Marks the first timed operation: set-up ends here. */
  def startTiming(): Unit = if (setupS.isEmpty) {
    setupS = Some((System.currentTimeMillis() - jvmStartMs) / 1e3)
    gcAtStart = Jvm.gc()
    threads.start()
    log(f"set-up done in ${setupS.get}%.2f s")
  }

  /** Marks the end of the timed phase: GC counters and the thread guard
    * stop here. In the traced run the phase spans every probe.
    */
  def stopTiming(): Unit = if (!traced) finishTiming()

  def finishTiming(): Unit = if (gcAtStop.isEmpty) {
    gcAtStop = Some(Jvm.gc())
    threads.stop()
    log("timed phase done")
  }
  private var gcAtStop: Option[(Long, Long)] = None

  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f] $msg")

  /** The result line's metrics, plus those every workload reports. */
  def outcome(attempted: Long, failed: Long, wrong: Long, problems: Seq[String],
      own: Map[String, Metric]): Outcome = {
    finishTiming()
    val (gcMs, gcCount) = gcAtStop.get
    val guard =
      if (threads.crossed) Seq(s"live threads passed ${Jvm.ThreadCeiling} (peak ${threads.peak})")
      else Nil
    Outcome(attempted, failed + (if (threads.crossed) 1 else 0), wrong, problems ++ guard, own ++ Map(
      "setup_s" -> Metric(setupS.getOrElse(Double.NaN), "s"),
      "retained_heap_mb" -> Metric(Jvm.retainedHeapMb(), "MB"),
      "jvm.gc_ms" -> Metric((gcMs - gcAtStart._1).toDouble, "ms"),
      "jvm.gc_count" -> Metric((gcCount - gcAtStart._2).toDouble, "count"),
      "sources.peak_threads" -> Metric(threads.peak.toDouble, "count")))
  }
}

/** Runs one workload in this JVM and writes its result as one JSON object:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE [--fixture DIR]`.
  */
object Main {
  val Workloads = Seq("ticket_arrow", "catalog")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = new File(opts("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), work, opts.get("fixture"))
    ctx.log("session ready")
    val result =
      try {
        val o = if (ctx.traced) Layers.run(ctx) else workload match {
          case "ticket_arrow" => TicketArrow.run(ctx)
          case "catalog" => CatalogRun.run(ctx)
        }
        if (ctx.traced) Trace.write(new File(work, "spans.jsonl").toPath)
        o
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(1, 1, 0, Seq(s"workload aborted: $e"), Map.empty)
      }
    ctx.log("checks done")
    spark.stop()
    JFiles.writeString(Paths.get(opts("out")), json(result) + "\n")
    ctx.log("session stopped")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  } + "\""

  def json(o: Outcome): String = {
    val metrics = o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":${o.attempted},"failed":${o.failed},"wrong":${o.wrong},"problems":${o.problems.take(20).map(str).mkString("[", ",", "]")},"metrics":$metrics}"""
  }
}
