package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one measured pass of a workload produced. Failed ops (thrown,
  * error response, wrong result) count in `failed` and never as a
  * timing. */
final class Outcome {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Measured wall time of the pass, ms. */
  var wallMs = 0.0
  /** Workload-specific extras, by metric name. */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def ok(ms: Double): Unit = synchronized { attempted += 1; latencies += ms }

  def fail(why: String): Unit = synchronized {
    attempted += 1
    failed += 1
    if (failures.length < 20) failures += why
  }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, dataDir: String, benchDir: String,
                     seed: Long, seconds: Int, tracer: Tracer) {

  /** How many rounds of a workload's fixed op sequence a pass runs:
    * `seconds` over the round's nominal length, rounded up, at least one.
    * The count never depends on a measured speed, so every run with the
    * same `seconds` times the same ops. */
  def rounds(nominalS: Int): Int = math.max(1, math.ceil(seconds.toDouble / nominalS).toInt)
}

trait Workload {
  type State
  def name: String

  /** Set-up: the engine work a user pays before the first op (inside
    * the `setup_s` timer, after the session is built). Runs several times
    * per run to report its median; must not depend on the seed. */
  def setup(spark: SparkSession, dataDir: String): State

  /** The harness's own warm-up before the measured passes: class loading
    * and code generation on the paths the ops take. Runs once, outside
    * the `setup_s` timer. */
  def warm(ctx: Ctx, state: State): Unit = ()

  /** Release what `setup` built. */
  def close(state: State): Unit = ()

  /** One measured pass: `ctx.rounds` rounds of the workload's fixed op
    * sequence. */
  def run(ctx: Ctx, state: State, out: Outcome): Unit

  /** Layer metrics this workload computes itself (traced runs only). */
  def layers(ctx: Ctx, state: State, out: Outcome, probe: SparkProbe): Map[String, Double] = Map.empty
}
