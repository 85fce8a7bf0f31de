package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The Spark session every workload runs in, with all of Spark's scratch
  * space under the benchmark's work directory. */
object Session {
  val cores = 4

  def build(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a workload leaves behind in the session and on the machine.
  * This reports leaks; it fixes none of them (beyond deleting the
  * `/dev/shm` entries the run itself created, so runs stay independent). */
final class Hygiene(spark: SparkSession) {
  private val shm = new File("/dev/shm")
  private def shmEntries: Set[String] =
    Option(shm.listFiles()).map(_.toSeq.map(_.getName).filter(_.startsWith("graft")).toSet)
      .getOrElse(Set.empty)
  private def conf: Map[String, String] = spark.conf.getAll

  private val shmBefore = shmEntries
  private val confBefore = conf

  /** Counts after the workload: persistent RDDs, active streams, new
    * `/dev/shm/graft*` entries, and session conf keys added or changed. */
  def probe(): Map[String, Double] = {
    val after = conf
    val changed = (after.keySet ++ confBefore.keySet).count(k => after.get(k) != confBefore.get(k))
    Map(
      "hygiene.persistent_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      "hygiene.active_streams" -> spark.streams.active.length.toDouble,
      "hygiene.shm_dirs" -> (shmEntries -- shmBefore).size.toDouble,
      "hygiene.conf_changed" -> changed.toDouble)
  }

  /** Delete the `/dev/shm/graft*` entries that appeared during the run. */
  def cleanShm(): Unit = (shmEntries -- shmBefore).foreach(n => Files.deleteTree(new File(shm, n)))
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

/** JVM-wide counters. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections. Spark frees some blocks only
    * after a collection has cleared their weak references, so collect
    * until the figure stops falling. */
  def liveHeapMb: Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used
    var next = { Thread.sleep(200); used }
    var rounds = 0
    while (next < last * 0.99 && rounds < 5) { last = next; Thread.sleep(200); next = used; rounds += 1 }
    math.min(last, next)
  }
}
