package perfbench

import graft.functions.{ProtoWire, Snappy}
import graft.metrics.{MetricsServer, Observed, PromQlParser}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Remote writes beside reads on one read-only `MetricsServer` bound to
  * the events as PromQlQueries binds them, as a closed loop with one
  * client. A round is a fixed number of cycles on a server that starts
  * with no ingested data. Each cycle posts one snappy-compressed protobuf
  * v1 write request (fresh series, timestamps after the stored data),
  * then reads the fresh series back and reads the stored data. An op is
  * one read; writes are timed on their own. */
object Ingest extends Workload {
  final case class State(src: PromQlParser.PromSource, obs: Observed, server: MetricsServer)
  val name = "ingest"

  val cycles = 10
  val warmCycles = 3
  /** Nominal length of one round, s (a round took 17–22 s on four cores). */
  val roundS = 20
  val seriesPerWrite = 500
  val samplesPerSeries = 4

  private val writeHeaders = Map(
    "Content-Encoding" -> "snappy",
    "Content-Type" -> "application/x-protobuf",
    "X-Prometheus-Remote-Write-Version" -> "0.1.0")

  def body(c: Plans.WriteCycle): Array[Byte] = Snappy.compress(ProtoWire.encode(c.series))

  def bind(spark: SparkSession, dataDir: String): State = {
    val src = PromQlParser.PromSource(graft.Tables.events(spark, dataDir), "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    val obs = new Observed(spark)
    State(src, obs, new MetricsServer(obs, promSource = Some(src)))
  }

  def setup(spark: SparkSession, dataDir: String): State = bind(spark, dataDir)

  /** Untimed cycles on a throwaway server, so that the measured server
    * starts with no ingested data but with its code paths compiled. */
  override def warm(ctx: Ctx, st: State): Unit = {
    val scratch = bind(ctx.spark, ctx.dataDir)
    try round(ctx, scratch, new Outcome, ArrayBuffer.empty, warmCycles)
    finally close(scratch)
  }

  override def close(st: State): Unit = { st.server.close(); st.obs.close() }

  def freshPath(c: Plans.WriteCycle): String =
    s"/api/v1/query?query=${c.metric}&time=${c.readAtSec}"

  /** `ctx.rounds(roundS)` rounds: the first on the set-up's server, each
    * later one on a freshly bound server (binding is outside the measured
    * wall time). */
  def run(ctx: Ctx, st: State, out: Outcome): Unit = {
    val writes = ArrayBuffer.empty[Double]
    (1 to ctx.rounds(roundS)).foreach { r =>
      val server = if (r == 1) st else bind(ctx.spark, ctx.dataDir)
      try out.wallMs += round(ctx, server, out, writes)
      finally if (r > 1) close(server)
    }
    if (writes.nonEmpty) {
      out.extra("write_p50_ms") = Stats.percentile(writes.toSeq, 0.5)
      out.extra("write_p90_ms") = Stats.percentile(writes.toSeq, 0.9)
    }
    out.extra("server_ms") = Stats.mean(out.latencies.toSeq)
  }

  /** One round of the first `n` cycles; its wall time in ms. */
  private def round(ctx: Ctx, st: State, out: Outcome, writes: ArrayBuffer[Double],
                    n: Int = cycles): Double = {
    val port = st.server.boundPort
    val stored = ArrayBuffer.empty[(Int, String, Long, String)]
    val reads = Plans.storedReads(ctx.seed, cycles)
    val t0 = System.nanoTime()
    (0 until n).foreach { i =>
      val c = Plans.writeCycle(ctx.seed, i, seriesPerWrite, samplesPerSeries)
      val b = body(c)
      val w0 = System.nanoTime()
      val (wc, wb) = ctx.tracer.span("write")(Http.post(port, "/api/v1/write", b, writeHeaders))
      if (wc == 200 && !wb.contains("\"status\":\"error\"")) writes += (System.nanoTime() - w0) / 1e6
      else out.fail(s"cycle $i write: HTTP $wc ${wb.take(200)}")

      // the fresh series: every written series, newest values
      read(ctx, port, freshPath(c), out) { resp =>
        val got = Http.values(resp)
        if (Http.sameValues(got, c.newest.values.toSeq)) None
        else Some(s"cycle $i fresh read: ${got.length} values, wrote ${c.newest.size} series")
      }
      // the stored data, which the writes must leave unchanged (checked
      // after the round against a direct evaluation)
      val (q, at) = reads(i)
      read(ctx, port, s"/api/v1/query?query=${Plans.enc(q)}&time=$at", out) { resp =>
        stored += ((i, q, at, resp)); None
      }
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    stored.foreach { case (i, q, at, resp) =>
      if (!Http.sameValues(Http.values(resp), direct(st.src, q, at)))
        out.fail(s"cycle $i stored read '$q' differs from a direct evaluation")
    }
    wallMs
  }

  def direct(src: PromQlParser.PromSource, q: String, timeSec: Long): Seq[Double] =
    PromQlParser.eval(src, q, Http.plainTs(timeSec)).collect().map(_.getAs[Double]("value")).toSeq

  /** One timed read; `check` runs after the timing and returns a failure. */
  private def read(ctx: Ctx, port: Int, path: String, out: Outcome)(check: String => Option[String]): Unit = {
    val s0 = System.nanoTime()
    val (code, resp) = ctx.tracer.span("read")(Http.get(port, path))
    val ms = (System.nanoTime() - s0) / 1e6
    if (code != 200 || resp.contains("\"status\":\"error\"")) out.fail(s"$path: HTTP $code ${resp.take(200)}")
    else check(resp) match {
      case None => out.ok(ms)
      case Some(why) => out.fail(why)
    }
  }

  override def layers(ctx: Ctx, st: State, out: Outcome, probe: SparkProbe): Map[String, Double] = {
    val bodies = (0 until cycles).map(i => body(Plans.writeCycle(ctx.seed, i, seriesPerWrite, samplesPerSeries)))
    val snappy = bodies.map(b => Timing.ms(Snappy.decompress(b)))
    val raw = bodies.map(Snappy.decompress)
    val decode = raw.map(r => Timing.ms(ProtoWire.decode(r)))
    val reads = ctx.tracer.spans.filter(_.name == "read")
    val plans = Layers.plansIn(ctx.tracer, probe, Set("read")).sortBy(_.startMs)
    val jobs = probe.snapshotJobs.filter(j => ctx.tracer.enclosing(j.startMs.toDouble).exists(_.name == "read"))
    // reads alternate fresh, stored: the fresh reads' plans show growth
    val fresh = plans.zipWithIndex.collect { case (p, i) if i % 2 == 0 => p.leaves.toDouble }
    val n = math.max(1, reads.length).toDouble
    val queries = (0 until cycles).map { i =>
      val c = Plans.writeCycle(ctx.seed, i, 1, 1)
      c.metric -> c.readAtSec
    } ++ Plans.storedReads(ctx.seed, cycles)
    // the PromQlParser share of each read's query, by direct calls
    // outside the loop (parse, then compile to a plan without running it)
    val parse = queries.map { case (q, _) => Timing.ms(ctx.tracer.span("parse")(PromQlParser.parse(q))) }
    val eval = queries.map { case (q, t) =>
      Timing.ms(ctx.tracer.span("eval")(PromQlParser.eval(st.src, q, Http.plainTs(t))))
    }
    // the server's own share of a read: its mean service time minus the
    // Spark action time per read
    val sparkMs = plans.map(_.durationMs).sum
    Map(
      "PromQlParser.parse_ms" -> Stats.mean(parse),
      "PromQlParser.eval_ms" -> Stats.mean(eval),
      "MetricsServer.self_ms" -> (out.extra("server_ms") - sparkMs / math.max(1, out.latencies.length)),
      "Snappy.decompress_ms" -> Stats.mean(snappy),
      "ProtoWire.decode_ms" -> Stats.mean(decode),
      "ingest.plan_leaves" -> fresh.lastOption.getOrElse(0.0),
      "ingest.leaves_per_write" ->
        (if (fresh.length > 1) (fresh.last - fresh.head) / (fresh.length - 1) else 0.0),
      "ingest.read_plan_ms" -> plans.map(p => (p.analysisMs + p.optimizationMs + p.planningMs).toDouble).sum / n,
      "ingest.read_exec_ms" -> jobs.map(j => (j.endMs - j.startMs).toDouble).sum / n,
      "ingest.read_tasks" -> jobs.map(_.tasks).sum / n,
      "ingest.write_p50_ms" -> out.extra.getOrElse("write_p50_ms", 0.0),
      "ingest.write_p90_ms" -> out.extra.getOrElse("write_p90_ms", 0.0))
  }
}
