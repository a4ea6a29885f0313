package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** A blocking JSON client over plain sockets (keep-alive connections). */
final class Http(port: Int) {
  def call(method: String, path: String, tenant: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("Hawkular-Tenant", tenant)
    conn.setRequestProperty("Accept", "application/json")
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    val status = conn.getResponseCode
    val in = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (status, text)
  }
}

object Json {
  val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
  def d(n: JsonNode, f: String): Double =
    if (n.hasNonNull(f)) n.get(f).asDouble else Double.NaN
  def elems(n: JsonNode): Seq[JsonNode] = {
    val b = Seq.newBuilder[JsonNode]
    n.elements().forEachRemaining(e => b += e)
    b.result()
  }
}
