package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** Blocking HTTP calls with the JDK client; connections are kept alive
  * per thread by the JDK's connection cache.
  */
object Http {
  final case class Reply(status: Int, body: String)

  private def call(url: String, method: String, body: Option[String]): Reply = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val status = c.getResponseCode
    val is = if (status >= 400) c.getErrorStream else c.getInputStream
    val text = if (is == null) "" else try new String(is.readAllBytes(), UTF_8) finally is.close()
    Reply(status, text)
  }

  def post(url: String, body: String): Reply = call(url, "POST", Some(body))
  def get(url: String): Reply = call(url, "GET", None)
  def enc(s: String): String = URLEncoder.encode(s, UTF_8)
}
