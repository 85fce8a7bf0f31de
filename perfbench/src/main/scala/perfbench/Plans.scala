package perfbench

import scala.util.Random

/** Every seeded input of the benchmark. A plan depends on the seed and
  * on fixed constants only, never on a measured speed: the same seed
  * gives the same op sequence on every machine and every commit. Each
  * workload derives its own generator so that changing one plan cannot
  * shift another's draws. */
object Plans {

  private def rng(seed: Long, stream: String): Random =
    new Random(seed * 1000003L ^ stream.hashCode.toLong)

  // ---------- catalogue ----------

  /** The catalogue's op sequence: the fixed sample in a seed-permuted
    * order (the sample itself never depends on the seed). */
  def catalogueOrder(sample: Seq[String], seed: Long): Seq[String] =
    rng(seed, "catalogue").shuffle(sample.sorted)

  // ---------- ingest ----------

  /** Instant queries over the stored events, binding as in PromQlQueries
    * (metric = event_type, series = user_id × event_type). Windows are
    * days long because each series carries about one sample per two days
    * at sf0.01. */
  val instantQueries: Seq[String] = Seq(
    "topk(3, rate(purchase[3d]))",
    """sum by (event_type) (max_over_time({event_type!~"err.*"}[2d]))""",
    "sum by (event_type) (delta(signup[3d]))",
    """max by (event_type) (irate({event_type=~"click|view"}[3d]))""",
    "sum by (user_id) (rate(click[7d])) / sum by (user_id) (rate(view[7d]))",
    """count by (event_type) (count_over_time({event_type=~".+"}[1d]))""",
    "avg_over_time(error[2d])",
    "max_over_time(purchase[3d]) - on (user_id, event_type) min_over_time(purchase[3d])")

  /** Evaluation instants fall on whole seconds inside the stored data
    * (2024-01-01 .. 2024-01-30, UTC). */
  val dataStartSec: Long = 1704067200L + 86400L // 2024-01-02T00:00:00Z
  val dataEndSec: Long = 1704067200L + 29L * 86400L // 2024-01-30T00:00:00Z

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** First timestamp written by the ingest workload: after every stored
    * sample (2024-02-01T00:00:00Z). */
  val ingestBaseMs: Long = 1706745600000L

  final case class WriteCycle(cycle: Int, metric: String,
                              series: Seq[graft.functions.ProtoWire.Series]) {
    /** Instant at which every written series' newest sample is current. */
    def readAtSec: Long = series.head.samples.map(_.timestamp).max / 1000L + 1L
    /** user_id → newest written value. */
    def newest: Map[String, Double] = series.map { s =>
      s.labels.find(_.name == "user_id").get.value -> s.samples.maxBy(_.timestamp).value
    }.toMap
  }

  /** Cycle `c`'s remote-write payload: `nSeries` fresh series of metric
    * `ingest_c<c>` (label user_id = 0..nSeries-1), `nSamples` samples
    * each, 15 s apart, one hour per cycle after [[ingestBaseMs]]. Values
    * have three decimals so that they survive text round trips exactly. */
  def writeCycle(seed: Long, c: Int, nSeries: Int, nSamples: Int): WriteCycle = {
    import graft.functions.ProtoWire.{Label, Sample, Series}
    val r = rng(seed, s"ingest-$c")
    val metric = s"ingest_c$c"
    val t0 = ingestBaseMs + c * 3600000L
    WriteCycle(c, metric, (0 until nSeries).map { s =>
      Series(Seq(Label("__name__", metric), Label("user_id", s.toString)),
        (0 until nSamples).map(k =>
          Sample(r.nextInt(1000000) / 1000.0, t0 + k * 15000L)))
    })
  }

  /** The stored-data reads of `cycles` cycles: the instant queries in
    * turn (a fixed multiset), in seeded order, at seeded instants. */
  def storedReads(seed: Long, cycles: Int): Seq[(String, Long)] = {
    val r = rng(seed, "ingest-read")
    r.shuffle((0 until cycles).map(i => instantQueries(i % instantQueries.length)))
      .map(q => (q, dataStartSec + (r.nextDouble() * (dataEndSec - dataStartSec)).toLong))
  }
}
