package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import java.io.IOException
import java.net.InetSocketAddress
import java.net.http.HttpTimeoutException
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.Duration
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** [[InReachSource.httpFetcher]] against a loopback JDK `HttpServer`
  * (no network): a 2xx body comes back decoded with its charset; any
  * other status (a redirect included), a body over the size cap or a
  * server that never answers throws without the share's password or
  * auth header in the message; every fetch opens its own connection. */
class InReachSourceSpec extends AnyFunSuite {

  /** Serves `/<status>` with that status and a short body (a 3xx
    * points its `Location` at `/200`); `/latin1` and `/utf8` a `°` in
    * that encoding, the charset named only for Latin-1; `/auth` the
    * request's `Authorization` header or `no auth`; `/port` the
    * client's port; `/bytes/<n>` n bytes. `/hang` reads the request and
    * sends nothing until `body` returns. */
  def withServer[T](body: String => T): T = {
    val release = new CountDownLatch(1)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => try {
      def send(status: Int, bytes: Array[Byte], contentType: String = "text/plain"): Unit = {
        ex.getResponseHeaders.set("Content-Type", contentType)
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      }
      ex.getRequestURI.getPath.stripPrefix("/").split('/') match {
        case Array("hang") => release.await(60, TimeUnit.SECONDS)
        case Array("latin1") =>
          send(200, "°".getBytes(ISO_8859_1), "application/vnd.google-earth.kml+xml; charset=ISO-8859-1")
        case Array("utf8") => send(200, "°".getBytes(UTF_8), "application/vnd.google-earth.kml+xml")
        case Array("auth") =>
          send(200, Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("no auth")
            .getBytes(UTF_8))
        case Array("port") => send(200, ex.getRemoteAddress.getPort.toString.getBytes(UTF_8))
        case Array("bytes", n) => send(200, Array.fill(n.toInt)('x'.toByte))
        case Array(code) =>
          val status = code.toInt
          if (status / 100 == 3) ex.getResponseHeaders.set("Location", "/200")
          send(status, s"body $status".getBytes(UTF_8))
      }
    } finally ex.close())
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally { release.countDown(); server.stop(0) }
  }

  test("httpFetcher returns the body of a 200") {
    withServer { base =>
      assert(InReachSource.httpFetcher(s"$base/200", Some("pw")) == "body 200")
    }
  }

  test("httpFetcher throws on 401 and 500, naming the status but no credentials") {
    withServer { base =>
      Seq(401, 500).foreach { status =>
        val err = intercept[IOException] {
          InReachSource.httpFetcher(s"$base/$status?d1=x", Some("s3cret-pw"))
        }
        assert(err.getMessage == s"HTTP $status for share feed")
        assert(!err.getMessage.contains("s3cret-pw"))
        assert(!err.getMessage.contains(InReachSource.basicAuth("s3cret-pw").stripPrefix("Basic ")))
      }
    }
  }

  test("httpFetcher gives up on a server that never answers, naming no credentials") {
    val fetch = InReachSource.httpFetcherWithin(Duration.ofSeconds(5), Duration.ofMillis(300))
    withServer { base =>
      val t0 = System.nanoTime()
      val err = intercept[HttpTimeoutException] {
        fetch(s"$base/hang?d1=x", Some("s3cret-pw"))
      }
      val waitedMs = (System.nanoTime() - t0) / 1000000
      assert(waitedMs < 5000, s"timed out after $waitedMs ms")
      assert(!err.toString.contains("s3cret-pw"), err.toString)
      assert(!err.toString.contains(InReachSource.basicAuth("s3cret-pw").stripPrefix("Basic ")),
        err.toString)
    }
  }

  test("httpFetcher decodes the body with the Content-Type charset, else UTF-8") {
    withServer { base =>
      assert(InReachSource.httpFetcher(s"$base/latin1", None) == "°")
      assert(InReachSource.httpFetcher(s"$base/utf8", None) == "°")
    }
  }

  test("httpFetcher does not follow a redirect") {
    withServer { base =>
      val err = intercept[IOException](InReachSource.httpFetcher(s"$base/302", None))
      assert(err.getMessage == "HTTP 302 for share feed")
    }
  }

  test("httpFetcher sends the basic-auth header only for a password") {
    withServer { base =>
      assert(InReachSource.httpFetcher(s"$base/auth", Some("pw")) == InReachSource.basicAuth("pw"))
      assert(InReachSource.httpFetcher(s"$base/auth", None) == "no auth")
    }
  }

  test("httpFetcher opens a new connection for every fetch") {
    withServer { base =>
      val ports = Seq.fill(3)(InReachSource.httpFetcher(s"$base/port", None))
      assert(ports.distinct.size == 3, ports)
    }
  }

  test("httpFetcher returns a body at the size cap and throws one byte over it") {
    val fetch = InReachSource.httpFetcherWithin(Duration.ofSeconds(5), Duration.ofSeconds(5), 16)
    withServer { base =>
      assert(fetch(s"$base/bytes/16", Some("s3cret-pw")) == "x" * 16)
      val err = intercept[IOException](fetch(s"$base/bytes/17?d1=x", Some("s3cret-pw")))
      assert(err.getMessage == "feed body over 16 bytes")
    }
  }
}
