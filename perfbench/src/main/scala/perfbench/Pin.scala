package perfbench

import java.io.{File, PrintWriter}

/** Writes `expected/catalogue.tsv`: every catalogue query runs twice, in
  * name order and in reverse. A query whose digest agrees across the two
  * runs is pinned by digest, otherwise by row count. Run it on the
  * commit whose results are correct (they are checked by the oracle):
  * `run.py --pin`. */
object Pin {
  def run(dataDir: String, work: File, out: File): Unit = {
    val spark = Session.build(work)
    val hygiene = new Hygiene(spark)
    val queries = Catalogue.setup(spark, dataDir)
    val ctx = Ctx(spark, dataDir, "", 0L, 0, new Tracer(false))
    def pass(names: Seq[String]): Map[String, (Checksum.Digest, Double)] = names.map { n =>
      val t0 = System.nanoTime()
      val r = Catalogue.runOne(ctx, queries(n))
      val ms = (System.nanoTime() - t0) / 1e6
      graft.CacheBag.drain(blocking = true)
      n -> (r.fold(e => throw new IllegalStateException(s"$n failed", e), _._1), ms)
    }.toMap
    val names = queries.keys.toSeq.sorted
    val a = pass(names)
    val b = pass(names.reverse)
    spark.stop()
    hygiene.cleanShm()
    val w = new PrintWriter(out, "UTF-8")
    try {
      w.println("# name\tmode\tvalue — written by perfbench.Pin; rows = digest differed between two runs")
      names.foreach { n =>
        val (da, ta) = a(n)
        val (db, tb) = b(n)
        if (da == db) w.println(s"$n\thash\t${da.render}")
        else {
          require(da.rows == db.rows, s"$n: row count differs between runs")
          w.println(s"$n\trows\t${da.rows}")
        }
        println(f"# pin $n ${ta}%.1f ${tb}%.1f ${if (da == db) "hash" else "rows"}")
      }
    } finally w.close()
  }
}
