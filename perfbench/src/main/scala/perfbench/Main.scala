package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <sf dir> --bench <benchmark dir> --work <scratch dir>`.
  *
  * Prints human-readable `#` lines, then one JSON object as the last
  * line: `correct`, `attempted`, `failed` and `metrics` (end-to-end
  * metrics untraced, per-layer metrics traced). Exits 1 when an output
  * is wrong or an op failed. `--pin <file>` instead runs every catalogue
  * query twice and writes the expected-results file. */
object Main {

  val workloads: Map[String, Workload] =
    Seq[Workload](Catalogue, Ingest).map(w => w.name -> w).toMap

  val setupReps = 9

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val work = new File(arg("work"))
    work.mkdirs()
    args.get("pin") match {
      case Some(out) => Pin.run(arg("data"), work, new File(out)); return
      case None =>
    }
    if (args.contains("archive")) { archive(new File(arg("data")).getAbsolutePath, work); return }
    val wl = workloads.getOrElse(arg("workload"), sys.error(s"unknown workload ${arg("workload")}"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val dataDir = new File(arg("data")).getAbsolutePath
    val benchDir = new File(arg("bench")).getAbsolutePath

    facts(wl.name, seed, dataDir)

    // Set-up, repeated: each repetition starts a fresh session and
    // prepares the workload; the last one is kept for the measurement.
    // The harness's warm-up runs after the last one, outside the timer.
    var spark: SparkSession = null
    var state: wl.State = null.asInstanceOf[wl.State]
    val setupS = (1 to setupReps).map { i =>
      if (spark != null) { wl.close(state); spark.stop() }
      val t0 = System.nanoTime()
      spark = Session.build(work)
      state = wl.setup(spark, dataDir)
      (System.nanoTime() - t0) / 1e9
    }
    val hygiene = new Hygiene(spark)
    // a traced run measures one round per pass, so that it stays short
    val plainCtx = Ctx(spark, dataDir, benchDir, seed, if (traced) 0 else seconds, new Tracer(false))
    wl.warm(plainCtx, state)
    Jvm.resetPeaks()
    val gc0 = Jvm.gcMs

    val plain = new Outcome
    wl.run(plainCtx, state, plain)
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb

    val layer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        // a fresh set-up, so the traced pass starts where the plain one did
        wl.close(state)
        val tracer = new Tracer(true)
        val probe = new SparkProbe(spark)
        probe.start()
        val traceOut = new Outcome
        state = tracer.span("setup")(wl.setup(spark, dataDir))
        val ctx = plainCtx.copy(seconds = 0, tracer = tracer)
        wl.run(ctx, state, traceOut)
        probe.settle()
        val m = wl.layers(ctx, state, traceOut, probe)
        probe.stop()
        // a second plain pass after the traced one: the tracing overhead
        // is measured against both, so JIT warm-up does not count as
        // (negative) overhead
        wl.close(state)
        val after = new Outcome
        state = wl.setup(spark, dataDir)
        wl.run(plainCtx.copy(seconds = 0), state, after)
        val all = Layers.common(ctx, traceOut, probe, Seq(plain, after)) ++ m
        Seq(traceOut, after).foreach { o =>
          plain.attempted += o.attempted
          plain.failed += o.failed
          plain.failures ++= o.failures
        }
        all
      }
    wl.close(state)
    val hyg = hygiene.probe()
    val liveHeap = Jvm.liveHeapMb
    spark.stop()
    hygiene.cleanShm()

    val lat = plain.latencies.toSeq
    val correct = plain.failed == 0 && lat.nonEmpty
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_ms", if (lat.isEmpty) 0.0 else Stats.percentile(lat, 0.5), "ms"),
      ("op_p90_ms", if (lat.isEmpty) 0.0 else Stats.percentile(lat, 0.9), "ms"),
      ("ops_per_s", if (plain.wallMs > 0) lat.length * 1000.0 / plain.wallMs else 0.0, "1/s"),
      ("live_heap_mb", liveHeap, "MB"))

    plain.failures.foreach(f => println(s"# FAILED $f"))
    println(f"# ${wl.name}: ${plain.attempted} ops, ${plain.failed} failed, " +
      f"failed_share ${if (plain.attempted > 0) plain.failed.toDouble / plain.attempted else 0.0}%.4f, " +
      f"wall ${plain.wallMs / 1000}%.3f s, setup reps ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    e2e.foreach { case (n, v, u) => println(s"# $n $v $u") }
    plain.extra.foreach { case (n, v) => println(s"# $n $v") }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        val all = layer ++ hyg ++ Map("jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_peak_mb" -> heapPeak)
        Layers.catalog.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    if (traced) metrics.foreach { case (n, v, u) => println(s"# $n $v $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${plain.attempted}, "failed": ${plain.failed}, "metrics": {$body}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** A short tour of every workload's code paths. run.py runs it once
    * after a build with the JVM recording the classes it loads into a
    * class-data-sharing archive, which later runs map instead of loading
    * Spark's classes one by one. */
  private def archive(dataDir: String, work: File): Unit = {
    val spark = Session.build(work)
    val hygiene = new Hygiene(spark)
    val ctx = Ctx(spark, dataDir, "", 0L, 0, new Tracer(false))
    Catalogue.warm(ctx, Catalogue.setup(spark, dataDir))
    val st = Ingest.setup(spark, dataDir)
    Ingest.warm(ctx, st)
    Ingest.close(st)
    spark.stop()
    hygiene.cleanShm()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def facts(workload: String, seed: Long, dataDir: String): Unit = {
    val rt = Runtime.getRuntime
    println(s"# facts workload=$workload seed=$seed nproc=${rt.availableProcessors()} " +
      s"cores=${Session.cores} java=${sys.props("java.version")} " +
      s"jvm=${sys.props("java.vm.name").replace(' ', '_')} " +
      s"spark=${org.apache.spark.SPARK_VERSION} max_heap_mb=${rt.maxMemory() / 1048576} " +
      s"sf_dir=$dataDir")
  }
}
