package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import java.io.IOException
import java.net.InetSocketAddress
import java.net.http.HttpTimeoutException
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** [[InReachSource.httpFetcher]] against a loopback JDK `HttpServer`
  * (no network): a 2xx body comes back as is, any other status or a
  * server that never answers throws without the share's password or
  * auth header in the message. */
class InReachSourceSpec extends AnyFunSuite {

  /** Serves `/<status>` with that status and a short body; `/hang`
    * reads the request and sends nothing until `body` returns. */
  def withServer[T](body: String => T): T = {
    val release = new CountDownLatch(1)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => try {
      val path = ex.getRequestURI.getPath.stripPrefix("/")
      if (path == "hang") release.await(60, TimeUnit.SECONDS)
      else {
        val status = path.toInt
        val bytes = s"body $status".getBytes(UTF_8)
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
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
}
