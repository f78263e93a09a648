package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A REST client for one harness thread: JDK HttpClient over loopback,
  * HTTP/1.1, synchronous sends. */
final class Rest(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port/vector_db"

  /** POSTs a JSON body: (status, parsed body or null, response bytes,
    * wall ms). */
  def post(path: String, body: String): Rest.Reply = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    val t0 = System.nanoTime()
    val resp = client.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
    val ms = (System.nanoTime() - t0) / 1e6
    val bytes = resp.body()
    val json = if (bytes.isEmpty) null else Rest.mapper.readTree(bytes)
    Rest.Reply(resp.statusCode(), json, bytes.length, ms)
  }
}

object Rest {
  val mapper = new ObjectMapper()

  final case class Reply(status: Int, json: JsonNode, bytes: Int, ms: Double)

  def vec(v: Array[Float]): String = v.map(java.lang.Float.toString).mkString("[", ",", "]")
}

/** Minimal JSON writing: request bodies, staged input files and the
  * report lines. */
object Json {
  def str(s: String): String = Rest.mapper.writeValueAsString(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def opt(d: Option[Double]): String = d.map(num).getOrElse("null")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metric(m: Metric): String = obj(Seq("name" -> str(m.name), "unit" -> str(m.unit),
    "value" -> opt(m.value), "samples" -> m.samples.toString) ++
    m.note.map(n => "note" -> str(n)): _*)
}

