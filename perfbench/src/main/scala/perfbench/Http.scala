package perfbench

object Timing {
  def ms(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }
}

/** A minimal HTTP client on one loopback connection per call. */
object Http {
  def get(port: Int, path: String): (Int, String) = send(port, path, None)

  def post(port: Int, path: String, body: Array[Byte], headers: Map[String, String]): (Int, String) =
    send(port, path, Some(body -> headers))

  private def send(port: Int, path: String, post: Option[(Array[Byte], Map[String, String])]): (Int, String) = {
    val c = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    try {
      post.foreach { case (bytes, hs) =>
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        hs.foreach { case (k, v) => c.setRequestProperty(k, v) }
        val os = c.getOutputStream
        try os.write(bytes) finally os.close()
      }
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (code, body)
    } catch {
      case e: java.io.IOException => (-1, String.valueOf(e.getMessage))
    } finally c.disconnect()
  }

  private val valueRe = """"value":\[[0-9.]+,"([^"]+)"\]""".r

  /** The sample values of a `vector` response. */
  def values(body: String): Seq[Double] =
    valueRe.findAllMatchIn(body).map(m => m.group(1) match {
      case "+Inf" => Double.PositiveInfinity
      case "-Inf" => Double.NegativeInfinity
      case v => v.toDouble
    }).toSeq

  /** Equal as multisets, to 1e-9 relative. */
  def sameValues(a: Seq[Double], b: Seq[Double]): Boolean = {
    def key(d: Double) = if (d.isNaN) Double.MaxValue else d
    a.length == b.length && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    }
  }

  def plainTs(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
}
