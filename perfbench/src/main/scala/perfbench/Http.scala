package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Reads of the program's `MetricsHttpServer`. */
object Http {
  val windowsPath = "/metrics/event/windows?limit=120"

  def client(): HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def get(client: HttpClient, port: Int, path: String): (Int, String) =
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    } catch { case _: java.io.IOException => (0, "") }

  private val startRe = """"window_start_ms":(\d+)""".r
  /** The windows a `/metrics/event/windows` body lists, in its order. */
  def windowStarts(body: String): Seq[Long] = startRe.findAllMatchIn(body).map(_.group(1).toLong).toSeq
}

final case class Read(sentMs: Double, headersMs: Double, doneMs: Double, status: Int)
