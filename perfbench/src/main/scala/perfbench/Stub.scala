package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.connect.MiniJson
import graft.connect.MiniJson._

/** Client of the loopback DRM/DMP stub (`stub.py`), which runs in its own
  * process. Only the harness uses it: it reads the stub's counters and the
  * groups it received, outside timing.
  */
final class Stub(val url: String) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def call(method: String, path: String): String = {
    val req = HttpRequest.newBuilder(URI.create(url + path))
      .method(method, HttpRequest.BodyPublishers.noBody()).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"stub $path: HTTP ${resp.statusCode()}")
    resp.body()
  }

  def stats(): Stub.Stats = Stub.Stats.parse(call("GET", "/__stats"))

  /** Forget the groups received so far (counters keep running). */
  def resetGroups(): Unit = { call("POST", "/__reset"); () }
}

object Stub {
  /** Cumulative stub counters plus, per group id, the member refs of the
    * last upload whose checksum and payloads matched what the stub served.
    */
  final case class Stats(requests: Long, tokenRequests: Long, uploads: Long,
                         invalidUploads: Long, downloadBytes: Long,
                         uploadBytes: Long, groups: Map[String, Seq[String]]) {
    def since(o: Stats): Stats = Stats(requests - o.requests,
      tokenRequests - o.tokenRequests, uploads - o.uploads,
      invalidUploads - o.invalidUploads, downloadBytes - o.downloadBytes,
      uploadBytes - o.uploadBytes, groups)
  }

  object Stats {
    def parse(json: String): Stats = MiniJson.parse(json) match {
      case JObj(f) =>
        def n(k: String): Long = f.get(k) match {
          case Some(JNum(v)) => v.toLong
          case other => throw new IllegalStateException(s"stub stats: bad $k: $other")
        }
        val groups = f.get("groups") match {
          case Some(JObj(g)) => g.map {
            case (k, JArr(items)) => k -> items.collect { case JStr(s) => s }.toSeq
            case (k, v) => throw new IllegalStateException(s"stub stats: group $k: $v")
          }
          case other => throw new IllegalStateException(s"stub stats: groups: $other")
        }
        Stats(n("requests"), n("token_requests"), n("uploads"),
          n("invalid_uploads"), n("download_bytes"), n("upload_bytes"), groups)
      case other => throw new IllegalStateException(s"stub stats: $other")
    }
  }
}
