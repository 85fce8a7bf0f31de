package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark's own code around each call into a
  * layer, plus what Spark's public listeners report while they are open.
  * A disabled tracer runs the body and records nothing, so untraced runs
  * pay one branch per span. Everything stays in memory until the
  * workload ends. */
final class Tracer(val on: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Wall-clock ms with sub-ms resolution, comparable with listener
    * event times (which are driver wall-clock ms). */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.set(stack.get.tail)
        done.synchronized { done += Span(id, name, parent, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Per span name: total duration minus the part covered by its own
    * child spans (self time), in ms. */
  def selfMs: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        (s.endMs - s.startMs) - kids.getOrElse(s.id, Nil).map(k => k.endMs - k.startMs).sum
      }.sum
    }
  }

  /** The innermost span (latest start) open at wall-clock `ms`. */
  def enclosing(ms: Double): Option[Span] =
    spans.filter(s => s.startMs - 1.0 <= ms && ms <= s.endMs + 1.0).maxByOption(_.startMs)
}

/** Spark jobs, tasks, query plans and micro-batches, read from the
  * public listener APIs. The benchmark registers these itself; nothing
  * in the engine is changed. */
final class SparkProbe(spark: SparkSession) {

  final class Job(val id: Int, val startMs: Long, val module: String) {
    @volatile var endMs: Long = startMs
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  final case class Plan(startMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, durationMs: Double, leaves: Int)


  private val jobs = ArrayBuffer.empty[Job]
  private val plans = ArrayBuffer.empty[Plan]
  private val progress = ArrayBuffer.empty[SparkProbe.Progress]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Job]

  /** The module a job's call site names: the first frame outside Spark
    * and the Scala library in the long call site. */
  private def moduleOf(details: String): String = {
    val frame = details.split("\n").map(_.trim).find(f =>
      !f.startsWith("org.apache.spark.") && !f.startsWith("scala.") &&
        !f.startsWith("java.") && f.nonEmpty && f != "<unknown>").getOrElse("")
    if (frame.contains("(Tables.scala:")) "Tables"
    else if (frame.startsWith("graft.anomaly.")) "anomaly"
    else if (frame.startsWith("graft.")) "graft"
    else "other"
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val j = new Job(e.jobId, e.time, moduleOf(site))
      jobs += j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkProbe.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs).getOrElse(0L)
      val leaves = try qe.optimizedPlan.collectLeaves().length catch { case _: Throwable => 0 }
      val p = Plan(start, ms("analysis"), ms("optimization"), ms("planning"), durationNs / 1e6, leaves)
      SparkProbe.this.synchronized { plans += p }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (e.progress.numInputRows > 0) {
        val p = SparkProbe.Progress.of(e.progress)
        SparkProbe.this.synchronized { progress += p }
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener bus so every event of finished work is counted. */
  def settle(): Unit = org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)

  def stop(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def snapshotJobs: Seq[Job] = synchronized(jobs.toList)
  def snapshotPlans: Seq[Plan] = synchronized(plans.toList)
  def snapshotProgress: Seq[SparkProbe.Progress] = synchronized(progress.toList)
}

object SparkProbe {
  /** One micro-batch's progress report, reduced to what the metrics use. */
  final case class Progress(query: String, runId: String, inputRows: Long,
                            durations: Map[String, Long], stateRows: Long, stateCommitMs: Long)

  object Progress {
    def of(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Progress = {
      val ops = p.stateOperators.toSeq
      Progress(Option(p.name).getOrElse(""), String.valueOf(p.runId), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
    }
  }
}
