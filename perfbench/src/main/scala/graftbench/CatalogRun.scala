package graftbench

import java.io.File
import java.nio.file.{Files => JFiles}

import scala.collection.mutable

import graft.operators.{Catalog, Q}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Job, task, shuffle and spill counts from the scheduler, plus the rows
  * tasks read from their inputs.
  */
final class WorkListener extends SparkListener {
  @volatile var jobs, tasks, inputRows, shuffleWriteBytes, spillBytes = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      inputRows += m.inputMetrics.recordsRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot: Seq[Long] = synchronized(Seq(jobs, tasks, inputRows, shuffleWriteBytes, spillBytes))
}

/** `catalog`: one pass, one query at a time, over a fixed subset of the
  * catalog on a seeded fixture; each query is forced with a `noop` write.
  */
object CatalogRun {
  /** The subset, with why each query is in it. */
  val Subset: Seq[(String, String)] = Seq(
    "c67_bool_aggs" -> "StockOps: boolean aggregates; the query the correctness record flags",
    "t30_bigram_lm" -> "TextOps: eager builder (bigram count tables)",
    "d02_ngram_jaccard" -> "DedupOps: eager builder, shingles and the doc_pairs kernel",
    "sim01_topk_cosine" -> "SimilarityOps: brute-force top-k with the scaled_dot kernel",
    "g02_degree_histogram" -> "GraphOps: edge build and degree aggregate",
    "r04_gap_fill" -> "TemporalOps: eager builder (day grid)",
    "m02_media_features" -> "MultimodalOps: binary feature extraction",
    "k01_salted_agg" -> "SkewOps: salted two-phase aggregate",
    "e01_eth_logs_scan" -> "EngineOps: graft-eth logs scan, the notebook's first cell",
    "e07_eth_logs_blocks_join" -> "EngineOps: logs joined to blocks",
    "e08_erc20_decode" -> "EngineOps: ERC-20 decode with the hex kernels",
    "e13_topic_histogram" -> "EngineOps: topic histogram")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** The Catalog object a query belongs to, by name prefix. */
  def objectOf(name: String): String = name.takeWhile(_.isLetter) match {
    case "c" => "StockOps"; case "t" | "p" => "TextOps"; case "d" => "DedupOps"
    case "sim" => "SimilarityOps"; case "g" => "GraphOps"; case "r" => "TemporalOps"
    case "m" => "MultimodalOps"; case "k" => "SkewOps"; case "e" | "s" => "EngineOps"
    case other => other
  }

  final case class Timed(name: String, buildS: Double, planS: Double, execS: Double,
      work: Seq[Long], df: DataFrame) {
    def totalS: Double = buildS + planS + execS
  }

  /** Another path to the fixture. Artifacts are memoized per (JVM, input
    * directory), so a pass through a link builds every artifact again.
    */
  def link(work: File, name: String, dir: String): String = {
    val l = new File(work, name).toPath
    JFiles.createSymbolicLink(l, new File(dir).getAbsoluteFile.toPath)
    l.toString
  }

  /** Touches every input table and the function registry, then runs the
    * whole subset once through a link, so the timed pass runs on loaded
    * classes and compiled code but builds its own artifacts.
    */
  def warmUp(spark: SparkSession, dir: String, work: File): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Tables.foreach(t => Catalog.t(spark, dir, t).write.format("noop").mode("overwrite").save())
    val warm = link(work, "warm-fixture", dir)
    Subset.foreach { case (name, _) =>
      Catalog.byName(name).build(spark, warm).write.format("noop").mode("overwrite").save()
    }
  }

  def timeQuery(spark: SparkSession, dir: String, q: Q, listener: WorkListener): Timed = {
    val before = listener.snapshot
    val t0 = System.nanoTime()
    val df: DataFrame = Trace.span("operators.build")(q.build(spark, dir))
    val t1 = System.nanoTime()
    Trace.span("operators.plan")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    Trace.span("operators.exec")(df.write.format("noop").mode("overwrite").save())
    val t3 = System.nanoTime()
    org.apache.spark.BenchListeners.drain(spark.sparkContext)
    val work = listener.snapshot.zip(before).map { case (a, b) => a - b }
    Timed(q.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, work, df)
  }

  /** Timed passes per run. Each reads the fixture through its own link, so
    * each builds its artifacts again. A query counts with its fastest pass:
    * a burst of load on the host slows one pass, not every one.
    */
  val Passes = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.fixture.getOrElse(throw new IllegalArgumentException("catalog needs --fixture"))
    warmUp(spark, dir, ctx.work)
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    ctx.startTiming()
    val problems = Seq.newBuilder[String]
    var failed = 0L
    val passes = (1 to Passes).map { p =>
      val passDir = link(ctx.work, s"pass-$p", dir)
      Subset.zipWithIndex.flatMap { case ((name, _), i) =>
        try Some(Trace.op(p * 100 + i)(Trace.span("query")(
          timeQuery(spark, passDir, Catalog.byName(name), listener))))
        catch { case e: Exception => failed += 1; problems += s"pass $p, $name: $e"; None }
      }
    }
    passes.zipWithIndex.foreach { case (ts, p) => ctx.log(f"pass ${p + 1}: ${ts.map(_.totalS).sum}%.2f s") }
    ctx.stopTiming()
    val perQuery = passes.flatten.groupBy(_.name).values.map(_.minBy(_.totalS)).toSeq.sortBy(_.name)
    perQuery.foreach(t => ctx.log(f"${t.name}%-26s build ${t.buildS}%6.2f plan ${t.planS}%5.2f " +
      f"exec ${t.execS}%6.2f s  jobs ${t.work(0)} tasks ${t.work(1)}"))
    val rows = dumpForOracle(ctx, passes.last)
    ctx.log(s"results of pass $Passes written: $rows rows")
    val times = perQuery.map(_.totalS * 1e3)
    val passS = perQuery.map(_.totalS).sum
    ctx.outcome(Subset.size * Passes, failed, 0, problems.result(), Map(
      "op_p50_ms" -> Metric(Stats.median(times), "ms"),
      "op_p90_ms" -> Metric(Stats.pct(times, 0.9), "ms"),
      "rows_per_s" -> Metric(rows / passS, "rows/s"),
      "operators.catalog_s" -> Metric(passS, "s")) ++ operatorMetrics(perQuery))
  }

  /** Per-object build/plan/exec seconds and the scheduler's counts. */
  def operatorMetrics(timed: Seq[Timed]): Map[String, Metric] = {
    val byObject = timed.groupBy(t => objectOf(t.name)).flatMap { case (obj, ts) =>
      Seq(s"operators.$obj.build_s" -> Metric(ts.map(_.buildS).sum, "s"),
        s"operators.$obj.plan_s" -> Metric(ts.map(_.planS).sum, "s"),
        s"operators.$obj.exec_s" -> Metric(ts.map(_.execS).sum, "s"))
    }
    def total(i: Int) = timed.map(_.work(i)).sum.toDouble
    byObject ++ Map(
      "operators.jobs" -> Metric(total(0), "count"),
      "operators.tasks" -> Metric(total(1), "count"),
      "operators.shuffle_write_mb" -> Metric(total(3) / 1048576.0, "MB"),
      "operators.spill_mb" -> Metric(total(4) / 1048576.0, "MB"))
  }

  /** Writes each timed query's rows and oracle SQL, and the dumps the
    * EngineOps oracles read, for the DuckDB comparison that
    * follows the run. This happens after timing, from the DataFrames one
    * timed pass built. Returns the number of rows the queries returned.
    */
  def dumpForOracle(ctx: Ctx, timed: Seq[Timed]): Long = {
    val out = ctx.dir("results")
    graft.Verify.dumpSyntheticChain(ctx.spark)
    timed.foreach(t => t.df.write.mode("overwrite").parquet(new File(out, t.name).getPath))
    val names = timed.map(_.name)
    val oracles = names.flatMap(n => Catalog.byName(n).oracle.map(sql => n -> Catalog.alignWs(sql)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    oracles.foreach { case (n, sql) => node.put(n, sql) }
    JFiles.writeString(new File(out, "oracle_sql.json").toPath, mapper.writeValueAsString(node))
    timed.map(t => ctx.spark.read.parquet(new File(out, t.name).getPath).count()).sum
  }
}
