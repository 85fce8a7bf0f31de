package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** The query catalogue (`SparkEntry.queries`) as a closed loop with one
  * caller, over a fixed per-family sample in seeded order: an untimed
  * pass in `warm`, then `ctx.rounds(passS)` timed passes. An op is one query:
  * construction (`fn(spark, dir)`, including any eager jobs) plus an
  * action that reads every output column. The `CacheBag` drain after
  * each query is outside the op's time and inside the pass's wall time. */
object Catalogue extends Workload {
  type State = Map[String, (SparkSession, String) => DataFrame]
  val name = "catalogue"

  /** The sample: one query of each query family of `SparkEntry.queries`
    * (two of PromQL, the largest: an instant and a range query), chosen
    * for what the family's ops run, at under about 2 s each. */
  val sample: Seq[(String, String)] = Seq(
    "relational" -> "q04_join_fact",
    "window" -> "q20_lag_lead",
    "function" -> "q28_json_funcs",
    "anomaly" -> "q42_anomaly_topk",
    "metric" -> "q45_metric_summary",
    "registry" -> "q98_pca_recon", // Pca.fit: eager jobs in graft.anomaly
    "text" -> "q55_doc_fingerprint",
    "extra" -> "q77_prom_source",
    "reshape" -> "q82_pivot",
    "curation" -> "q87_pii_scrub",
    "promql" -> "q102_promql_delta",
    "promql" -> "q107_range_rate",
    "native-histogram" -> "q212_two_sided_histogram",
    "ingest" -> "q217_tenant_limits",
    "streaming" -> "s94_stream_increase") // StreamOps.replayEvents micro-batches

  /** Nominal length of one timed pass over the sample, s (a pass took
    * 9–13 s on four cores). */
  val passS = 8

  final case class Expect(mode: String, value: String)

  /** Pinned results: `name<TAB>hash|rows<TAB>value`. */
  def expected(benchDir: String): Map[String, Expect] = {
    val f = new File(benchDir, "expected/catalogue.tsv")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, mode, v) = l.split("\t")
      n -> Expect(mode, v)
    }.toMap
    finally src.close()
  }

  def setup(spark: SparkSession, dataDir: String): State = graft.SparkEntry.queries

  /** Runs one query; its digest and construction time in ms, or the
    * failure. */
  def runOne(ctx: Ctx, fn: (SparkSession, String) => DataFrame): Either[Throwable, (Checksum.Digest, Double)] =
    try {
      val c0 = System.nanoTime()
      val df = ctx.tracer.span("construct")(fn(ctx.spark, ctx.dataDir))
      val constructMs = (System.nanoTime() - c0) / 1e6
      Right((ctx.tracer.span("action")(Checksum.of(df)), constructMs))
    } catch { case e: Throwable => Left(e) }

  def check(d: Checksum.Digest, e: Option[Expect]): Boolean = e match {
    case Some(Expect("hash", v)) => d.render == v
    case Some(Expect("rows", v)) => d.rows.toString == v
    case _ => false
  }

  /** An untimed pass in the timed passes' order: a query's first run in
    * a JVM pays class loading and code generation, which would make each
    * op's time depend on which queries ran before it. */
  override def warm(ctx: Ctx, queries: State): Unit =
    Plans.catalogueOrder(sample.map(_._2), ctx.seed).foreach { n =>
      runOne(ctx, queries(n))
      graft.CacheBag.drain(blocking = true)
    }

  def run(ctx: Ctx, queries: State, out: Outcome): Unit = {
    val pinned = expected(ctx.benchDir)
    val order = Plans.catalogueOrder(sample.map(_._2), ctx.seed)
    var streamConstructMs = 0.0
    val byQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    val t0 = System.nanoTime()
    (1 to ctx.rounds(passS)).foreach { pass =>
      val p0 = System.nanoTime()
      val from = out.latencies.length
      order.foreach { n =>
        val s0 = System.nanoTime()
        val r = ctx.tracer.span("query")(runOne(ctx, queries(n)))
        val ms = (System.nanoTime() - s0) / 1e6
        ctx.tracer.span("drain")(graft.CacheBag.drain(blocking = true))
        r match {
          case Right((d, c)) if check(d, pinned.get(n)) =>
            out.ok(ms)
            byQuery(n) = ms :: byQuery.getOrElse(n, Nil)
            if (n.startsWith("s")) streamConstructMs += c
          case Right((d, _)) => out.fail(s"$n: wrong result ${d.render}, expected ${pinned.get(n)}")
          case Left(e) => out.fail(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      }
      val ms = out.latencies.drop(from).toSeq
      if (ms.nonEmpty) out.extra(s"pass${pass}_p50_ms") = Stats.median(ms)
      out.extra(s"pass${pass}_s") = (System.nanoTime() - p0) / 1e9
    }
    out.wallMs = (System.nanoTime() - t0) / 1e6
    out.extra("queries") = order.length.toDouble
    out.extra("stream_construct_ms") = streamConstructMs
    order.sorted.foreach(n => byQuery.get(n).foreach(ms => out.extra(s"$n.median_ms") = Stats.median(ms)))
  }

  /** The streaming query's replay, as a whole: its construction (start,
    * micro-batches, stop) minus the summed trigger times is the fixed
    * cost around the batches; events over construction time is its rate. */
  override def layers(ctx: Ctx, queries: State, out: Outcome, probe: SparkProbe): Map[String, Double] = {
    val ps = probe.snapshotProgress
    val runs = ps.map(_.runId).distinct.length
    val replayMs = out.extra("stream_construct_ms")
    val triggerMs = ps.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
    Map(
      "stream.fixed_ms" -> (if (runs > 0) (replayMs - triggerMs) / runs else 0.0),
      "stream.events_per_s" -> (if (replayMs > 0) ps.map(_.inputRows).sum * 1000.0 / replayMs else 0.0))
  }
}
