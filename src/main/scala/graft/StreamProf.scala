package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Read-only diagnostic: where does a streaming replay's wall time go?
  * Replays the events table through a minimal stateless pipeline and a
  * stateful one, printing per-phase wall times (collect, start, each
  * processAllAvailable, stop) and the engine's own per-batch durationMs
  * breakdown from StreamingQueryProgress. No query results are produced
  * or persisted — measurement only (guide §1).
  * Usage: `sbt "runMain graft.StreamProf [chunks] [stateParts]"`. */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val chunks = args.headOption.map(_.toInt).getOrElse(3)
    val stateParts = args.drop(1).headOption.getOrElse("4")
    val extraConf: Seq[(String, String)] = args.drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // streaming warmup identical to Bench's
    try {
      val ms = MemoryStream[Long]
      val q = ms.toDS().groupBy($"value").count()
        .writeStream.outputMode("complete").format("memory").queryName("warmup").start()
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable(); q.stop()
    } catch { case _: Throwable => () }

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    def runOne(tag: String, stateful: Boolean): Unit = {
      println(s"== $tag (chunks=$chunks stateParts=$stateParts stateful=$stateful) ==")
      val rows = t("collect events") {
        Tables.events(spark, sfDir)
          .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
          .as[graft.stream.Ev].orderBy($"ts", $"event_id").collect()
      }
      val stream = MemoryStream[graft.stream.Ev]
      val ckpt = new java.io.File("/dev/shm",
        s"graft-prof-${java.util.UUID.randomUUID().toString.take(8)}")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", stateParts)
      val prevExtra = extraConf.map { case (k, _) =>
        k -> scala.util.Try(spark.conf.get(k)).toOption }
      extraConf.foreach { case (k, v) => spark.conf.set(k, v) }
      val df =
        if (stateful)
          stream.toDS().withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "6 hours"), col("event_type"))
            .agg(count(lit(1)).as("n"))
        else stream.toDS().toDF().filter(col("value") > 1e18) // empty project
      val q = t("start query") {
        try df.writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .format("memory").queryName(s"prof_$tag").start()
        finally {
          spark.conf.set("spark.sql.shuffle.partitions", prev)
          prevExtra.foreach { case (k, ov) =>
            ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        }
      }
      val per = math.max(1, math.ceil(rows.length.toDouble / chunks).toInt)
      var i = 0
      rows.grouped(per).foreach { chunk =>
        i += 1
        t(s"addData+process batch $i") {
          stream.addData(chunk.toSeq)
          q.processAllAvailable()
        }
      }
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        println(s"[prof]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${new java.util.TreeMap[String, java.lang.Long](d)}")
      }
      t("stop query") { q.stop() }
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(ckpt)
    }

    runOne("stateless", stateful = false)
    runOne("stateless2", stateful = false)
    runOne("stateful", stateful = true)
    runOne("stateful2", stateful = true)
    spark.stop()
  }
}
