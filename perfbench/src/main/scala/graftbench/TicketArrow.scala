package graftbench

/** `ticket_arrow`: one client in a closed loop sends historical tickets on
  * the in-process synthetic chain (`rpc=synthetic`). Each ticket goes
  * `parseTicket` → `route` → `ArrowEdge.writeIpc` and is read back by the
  * benchmark's own Arrow stream reader.
  */
object TicketArrow {
  val Head = 2000000L
  /** Timed tickets start above this block; warm-up tickets stay below. */
  val WarmEnd = 200000L
  val WarmRounds = 3
  val Round: Seq[(String, Long)] =
    TicketMix.grid("logs", 8, 500, 8000) ++ TicketMix.grid("logs_address", 4, 500, 8000) ++
      TicketMix.grid("logs_topic", 4, 500, 8000) ++ TicketMix.grid("blocks", 4, 250, 2000)

  def run(ctx: Ctx): Outcome = {
    val runner = new TicketRunner(ctx.spark,
      Map("rpc" -> "synthetic", "seed" -> ctx.seed.toString, "head" -> Head.toString), ctx.dir("tickets"))
    val oracle = new ChainOracle(ctx.seed, Head)
    // the JIT speeds tickets up over the first rounds (about 120 ms at the
    // median in the first, 75 ms from the fourth): run those below WarmEnd
    val warm = new TicketMix(ctx.seed ^ 0x5eedL, 0L, WarmEnd, Round)
    (1 to WarmRounds).foreach(_ => warm.round().foreach(runner.serve))
    val mix = new TicketMix(ctx.seed, WarmEnd, Head, Round)
    val loop = ClosedLoop.tickets(ctx, mix, runner, oracle, minTickets = 100, endsTiming = true)
    ctx.outcome(loop.attempted, loop.failed, loop.wrong, loop.problems, Map(
      "op_p50_ms" -> Metric(Stats.median(loop.roundLatencyMs.map(Stats.median)), "ms"),
      "op_p90_ms" -> Metric(Stats.median(loop.roundLatencyMs.map(Stats.pct(_, 0.9))), "ms"),
      "rows_per_s" -> Metric(Stats.median(loop.roundRowsPerS), "rows/s")))
  }
}

/** A closed loop of whole ticket rounds, for at least `ctx.seconds` and at
  * least `minTickets` tickets. Every ticket's rows are checked against the
  * chain oracle after its time is taken.
  */
object ClosedLoop {
  /** Per round: the tickets' times (`roundLatencyMs`), and the rows the
    * client read over the round's ticket time (`roundRowsPerS`).
    */
  final case class Result(attempted: Long, failed: Long, wrong: Long, problems: Seq[String],
      roundLatencyMs: Seq[Seq[Double]], blocks: Long, roundRowsPerS: Seq[Double])

  def tickets(ctx: Ctx, mix: TicketMix, runner: TicketRunner, oracle: ChainOracle,
      minTickets: Int, seconds: Double = -1, endsTiming: Boolean = false): Result = {
    val budget = if (seconds > 0) seconds else ctx.seconds.toDouble
    val served = Seq.newBuilder[(Ticket, Served)]
    val problems = Seq.newBuilder[String]
    val rates = Seq.newBuilder[Double]
    val latencies = Seq.newBuilder[Seq[Double]]
    var attempted, failed = 0L
    ctx.startTiming()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < budget || attempted < minTickets) {
      var roundRows, roundNanos = 0L
      val roundMs = Seq.newBuilder[Double]
      mix.round().foreach { t =>
        attempted += 1
        try {
          val s = Trace.op(attempted)(Trace.span("ticket")(runner.serve(t)))
          served += t -> s
          roundRows += s.read.digest.rows
          roundNanos += s.nanos
          roundMs += Stats.ms(s.nanos)
        }
        catch {
          case e: Exception =>
            failed += 1
            problems += s"ticket ${t.json}: $e"
        }
      }
      if (roundNanos > 0) {
        rates += roundRows / (roundNanos / 1e9)
        latencies += roundMs.result()
        ctx.log(f"round ${latencies.knownSize}: p50 ${Stats.median(roundMs.result())}%.1f ms, " +
          f"p90 ${Stats.pct(roundMs.result(), 0.9)}%.1f ms, ${roundRows / (roundNanos / 1e9)}%.0f rows/s")
      }
    }
    if (endsTiming) ctx.stopTiming()
    val done = served.result()
    // the oracle checks run once timing has stopped, on every core
    val wrong = Checks.parallel(done) { case (t, s) =>
      val want = t.expected(oracle)
      if (s.read.digest == want) None else Some(s"ticket ${t.json}: got ${s.read.digest}, want $want")
    }
    Result(attempted, failed, wrong.size, problems.result() ++ wrong, latencies.result(),
      done.map(_._1.blocks).sum, rates.result())
  }
}

object Checks {
  /** Runs `check` over `xs` on every core; returns the problems found. */
  def parallel[T](xs: Seq[T])(check: T => Option[String]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val futures = xs.map(x => pool.submit(() => check(x)))
      futures.flatMap(_.get())
    } finally pool.shutdown()
  }
}
