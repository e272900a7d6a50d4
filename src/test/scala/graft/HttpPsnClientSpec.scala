package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.psn._

/** Gates the production HTTP boundary (SURVEY §2.1 S1/S2/S5, §2.7 E10;
  * reference main.py:304-320, 85-91) against a local fixture server: the
  * same JSON shapes PSNAWP would return, served by the JDK's HttpServer.
  * Closes the two seams VERDICT r6 flagged: a real `java.net.http` client
  * behind [[PsnClient]], and a spec-gated env→sanitize→client config path.
  */
class HttpPsnClientSpec extends AnyFunSuite {
  import TestSpark._

  private val fake = FakePsnClient.default

  /** JSON for one fixture page of titles [from, until). */
  private def titlesPage(from: Int, limit: Int): String = {
    val all = fake.titleStats()
    val page = all.slice(from, from + limit).map { g =>
      s"""{"titleId":"${g.title_id}","name":"${g.name}",
         |"imageUrl":"${g.image_url}","category":"${g.category}",
         |"firstPlayedDateTime":"${g.first_played_date_time.toInstant}",
         |"lastPlayedDateTime":"${g.last_played_date_time.toInstant}",
         |"playCount":${g.play_count},
         |"playDuration":"${g.play_duration}"}""".stripMargin
    }.mkString(",")
    val next =
      if (from + limit >= all.size) "null" else (from + limit).toString
    s"""{"titles":[$page],"nextOffset":$next,"totalItemCount":${all.size}}"""
  }

  private val profileJson = {
    val t = fake.profileTrophies()
    s"""{"profile":{"trophySummary":{"earnedTrophies":
       |{"bronze":${t.bronze},"silver":${t.silver},
       |"gold":${t.gold},"platinum":${t.platinum}}}}}""".stripMargin
  }

  /** Runs `body` against a live fixture server; records every request's
    * (path, Authorization header). */
  private def withServer[A](body: String => A): (A, Seq[(String, String)]) = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, json: String): Unit = {
      val bytes = json.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/profile", (ex: HttpExchange) => {
      seen.add((ex.getRequestURI.toString,
        ex.getRequestHeaders.getFirst("Authorization")))
      reply(ex, profileJson)
    })
    server.createContext("/titles", (ex: HttpExchange) => {
      seen.add((ex.getRequestURI.toString,
        ex.getRequestHeaders.getFirst("Authorization")))
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val kv = q.split("&").filter(_.contains("="))
        .map { p => val Array(k, v) = p.split("=", 2); k -> v }.toMap
      reply(ex, titlesPage(kv("offset").toInt, kv("limit").toInt))
    })
    server.start()
    try {
      val r = body(s"http://127.0.0.1:${server.getAddress.getPort}")
      (r, seen.asScala.toSeq)
    } finally server.stop(0)
  }

  test("HTTP client reproduces the fake across a paged fixture API") {
    val ((trophies, titles), requests) = withServer { base =>
      val c = new HttpPsnClient(base, "tok", pageSize = 2)
      (c.profileTrophies(), c.titleStats())
    }
    assert(trophies == fake.profileTrophies())
    assert(titles == fake.titleStats())
    // 3 titles at limit=2 → exactly two /titles pages were fetched
    assert(requests.count(_._1.startsWith("/titles")) == 2)
  }

  test("titleCount reads metadata via a single record-free request") {
    val (n, requests) = withServer { base =>
      new HttpPsnClient(base, "tok", pageSize = 2).titleCount()
    }
    assert(n == fake.titleStats().size)
    // one limit-0 request, no record-bearing page fetch
    assert(requests.map(_._1) == Seq("/titles?offset=0&limit=0"))
  }

  test("S5 config path: env token is sanitized before reaching the wire") {
    // main.py:311-313: non-ASCII runs → space, newlines dropped, trimmed
    val env = Map("psn" -> "  abéécd\nef  ")
    assert(PsnConfig.tokenFrom(env).contains("ab cdef"))
    assert(PsnConfig.tokenFrom(Map.empty).isEmpty)
    assert(PsnConfig.tokenFrom(Map("psn" -> " \n ")).isEmpty)

    val (_, requests) = withServer { base =>
      PsnConfig.clientFrom(env, base).profileTrophies()
    }
    assert(requests.nonEmpty &&
      requests.forall(_._2 == "Bearer ab cdef"))

    val err = intercept[IllegalStateException] {
      PsnConfig.clientFrom(Map.empty, "http://unused")
    }
    assert(err.getMessage.contains("psn"))
  }

  test("a stalled upstream fails the fetch with a timeout instead of hanging") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val release = new java.util.concurrent.CountDownLatch(1)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // accepts the request, never answers
    server.createContext("/profile", (_: HttpExchange) => release.await())
    server.start()
    try {
      // a short per-attempt bound: 3 attempts and their backoff take ~1 s
      val client = new HttpPsnClient(
        s"http://127.0.0.1:${server.getAddress.getPort}", "tok",
        java.net.http.HttpClient.newHttpClient(), 50,
        java.time.Duration.ofMillis(100))
      val t0 = System.nanoTime
      val outcome = Future(scala.util.Try(client.profileTrophies()))
      // well above the client's total wait: a client without a timeout
      // fails here instead of hanging the suite
      val bound = 30.seconds
      val failure = Await.result(outcome, bound).failed.get
      assert(failure.isInstanceOf[java.net.http.HttpTimeoutException],
        failure.toString)
      assert((System.nanoTime - t0).nanos < bound)
    } finally {
      release.countDown()
      server.stop(0)
    }
  }

  /** A fixture `/profile` answering `statuses` in turn, then 200 with the
    * profile; returns the fetch's outcome and how many requests arrived.
    * Status 0 closes the exchange before any response: the client sees
    * the connection drop, an IOException. */
  private def flaky(statuses: Int*): (scala.util.Try[TrophySummary], Int) = {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/profile", (ex: HttpExchange) => {
      val i = hits.getAndIncrement()
      val (code, body) =
        if (i < statuses.length) (statuses(i), "{}") else (200, profileJson)
      if (code != 0) {
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    try {
      val client = new HttpPsnClient(
        s"http://127.0.0.1:${server.getAddress.getPort}", "tok")
      (scala.util.Try(client.profileTrophies()), hits.get)
    } finally server.stop(0)
  }

  test("transient 503s and 429s are retried with backoff until the fetch succeeds") {
    val (ok, n) = flaky(503, 503)
    assert(ok.get == fake.profileTrophies() && n == 3)
    val (ok2, n2) = flaky(429, 503)
    assert(ok2.get == fake.profileTrophies() && n2 == 3)
  }

  test("a connection dropped before any response is retried until the fetch succeeds") {
    // java.net.http re-sends an idempotent request once by itself when the
    // connection closes before the status line, so one attempt of the
    // client is two dropped exchanges
    val (ok, n) = flaky(0, 0)
    assert(ok.get == fake.profileTrophies() && n == 3)
  }

  test("a page that repeats its own nextOffset fails the fetch instead of paging forever") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // offset 0 pages on to 2; the page at 2 names 2 again
    server.createContext("/titles", (ex: HttpExchange) => {
      val offset = ex.getRequestURI.getQuery.split("&")
        .collectFirst { case p if p.startsWith("offset=") => p.drop(7).toInt }.get
      val body = titlesPage(offset, 2)
        .replace("\"nextOffset\":null", s"\"nextOffset\":$offset")
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val client = new HttpPsnClient(
        s"http://127.0.0.1:${server.getAddress.getPort}", "tok", pageSize = 2)
      val err = TimeLimits.failAfter(10.seconds) {
        intercept[IllegalStateException](client.titleStats())
      }
      assert(err.getMessage.contains("nextOffset 2"), err.getMessage)
    } finally server.stop(0)
  }

  test("an upstream that drops every exchange sees 2 × MaxAttempts exchanges, then the fetch fails") {
    // each of the 3 attempts is two exchanges: java.net.http re-sends the
    // GET once when the connection closes before the status line
    val (failed, n) = flaky(Seq.fill(10)(0): _*)
    assert(failed.failed.get.isInstanceOf[java.io.IOException], failed.toString)
    assert(n == 6)
  }

  test("a persistent 5xx fails after the fixed number of attempts") {
    val (failed, n) = flaky(Seq.fill(10)(500): _*)
    assert(failed.failed.get.getMessage.contains("HTTP 500"))
    assert(n == 3)
  }

  test("401 and 404 fail on the first attempt") {
    Seq(401, 404).foreach { code =>
      val (failed, n) = flaky(code)
      assert(failed.failed.get.getMessage.contains(s"HTTP $code"))
      assert(n == 1, s"HTTP $code")
    }
  }

  test("fixture-server JSON through DailyRun matches the FakePsnClient run") {
    val (whHttp, _) = withServer { base =>
      val client = new HttpPsnClient(base, "tok", pageSize = 2)
      val wh = Files.createTempDirectory("psn_http_wh").toString
      val store = new TableStore(spark, wh)
      Bootstrap.run(spark, client, store)
      DailyRun.run(spark, client, store)
      wh
    }
    val whFake = Files.createTempDirectory("psn_fake_wh").toString
    val storeFake = new TableStore(spark, whFake)
    Bootstrap.run(spark, fake, storeFake)
    DailyRun.run(spark, fake, storeFake)

    val storeHttp = new TableStore(spark, whHttp)
    // identical day-1 data → zero deltas → no time_play table on either side
    for (t <- Seq("game", "trophee")) {
      val a = storeHttp.read(t)
      val b = storeFake.read(t)
      val cols = a.columns.sorted.map(org.apache.spark.sql.functions.col)
      assert(a.select(cols: _*).collect().sortBy(_.toString).toSeq ==
        b.select(cols: _*).collect().sortBy(_.toString).toSeq,
        s"table $t diverges between HTTP and fake ingestion")
    }
  }
}
