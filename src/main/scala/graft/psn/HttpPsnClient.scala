package graft.psn

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.time.Instant

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Env-style configuration for the PSN boundary (SURVEY §2.1 S5, §2.7 E10).
  *
  * The reference resolves its npsso token from the `psn` environment
  * variable and scrubs it before handing it to the HTTP client
  * (/root/reference/main.py:75-82 and 304-313): non-ASCII runs collapse to
  * a single space, embedded newlines are removed, and the result is
  * trimmed. The same two regex passes (in the same order) live here so the
  * driver-side factory and any test can share one semantics.
  */
object PsnConfig {
  val TokenKey = "psn"

  /** main.py:80-82 / 311-313 verbatim semantics: `[^\x00-\x7F]+` → " ",
    * strip, then drop newlines, strip again. */
  def sanitizeToken(raw: String): String = {
    val ascii = raw.replaceAll("[^\\x00-\\x7F]+", " ").trim
    ascii.replaceAll("\n", "").trim
  }

  /** Resolve + sanitize the token from an env-style map (injectable so the
    * gate spec runs hermetically; production passes `sys.env`). Mirrors the
    * reference's `if psn_value:` guard — absent or blank → None. */
  def tokenFrom(env: Map[String, String]): Option[String] =
    env.get(TokenKey).map(sanitizeToken).filter(_.nonEmpty)

  /** The full config→client factory the daily job uses: resolve the token,
    * fail loudly when missing (the reference would crash inside PSNAWP with
    * a worse error), and bind it to the endpoint. */
  def clientFrom(env: Map[String, String], baseUri: String): PsnClient = {
    val token = tokenFrom(env).getOrElse(
      throw new IllegalStateException(
        s"PSN token missing: set the '$TokenKey' env var (main.py:309)"))
    new HttpPsnClient(baseUri, token)
  }
}

/** Production [[PsnClient]] over `java.net.http` — the seam the reference
  * fills with PSNAWP (/root/reference/main.py:315-320 profile fetch,
  * main.py:85-91 per-title stats iterator). Endpoint shapes follow the
  * public PSN web API that PSNAWP wraps:
  *
  *  - `GET {base}/profile` → legacy profile JSON; trophy counts at
  *    `profile.trophySummary.earnedTrophies.{bronze,silver,gold,platinum}`
  *    (the exact dict path main.py:319-320 indexes).
  *  - `GET {base}/titles?offset=N&limit=M` → `{"titles":[…],"nextOffset":K}`
  *    pages, `nextOffset` null/absent on the last page — the pagination the
  *    reference's `client.title_stats()` iterator hides.
  *
  * Timestamps travel as ISO-8601 instants and convert through
  * `Instant.parse`, so the values are zone-independent end to end. This is
  * a driver-side fetch (one user's library is KB-sized); the DSv2
  * [[graft.sources.PsnSource]] is the executor-side scale path and takes
  * any [[PsnClient]] — including this one — through its factory seam.
  */
final class HttpPsnClient private[graft] (
    baseUri: String,
    token: String,
    http: HttpClient,
    pageSize: Int,
    requestTimeout: java.time.Duration) extends PsnClient {

  def this(baseUri: String, token: String,
      http: HttpClient = HttpClient.newHttpClient(), pageSize: Int = 50) =
    this(baseUri, token, http, pageSize, HttpPsnClient.RequestTimeout)

  private val mapper = new ObjectMapper()

  private def get(path: String): JsonNode = {
    val req = HttpRequest.newBuilder(URI.create(baseUri + path))
      .header("Authorization", s"Bearer $token")
      .timeout(requestTimeout)
      .GET().build()
    // Every request is an idempotent GET, so a throttled (429), failing
    // (5xx) or failed-in-transport attempt (timed out, refused, reset:
    // any IOException) is retried, up to MaxAttempts with a doubling
    // backoff; any other status fails at once. java.net.http itself
    // re-sends an idempotent GET once when the connection closes before
    // the status line, so one request reaches the upstream in at most
    // 2 × MaxAttempts exchanges.
    @annotation.tailrec
    def attempt(n: Int): HttpResponse[String] = {
      val resp =
        try Right(http.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case e: java.io.IOException => Left(e) }
      val transient = resp.fold(_ => true,
        r => r.statusCode() == 429 || r.statusCode() >= 500)
      if (transient && n < HttpPsnClient.MaxAttempts) {
        Thread.sleep(HttpPsnClient.BackoffMillis << (n - 1))
        attempt(n + 1)
      } else resp.fold(e => throw e, identity)
    }
    val resp = attempt(1)
    if (resp.statusCode() != 200)
      throw new RuntimeException(
        s"PSN API $path returned HTTP ${resp.statusCode()}")
    mapper.readTree(resp.body())
  }

  private def ts(node: JsonNode, field: String): Timestamp =
    Timestamp.from(Instant.parse(node.get(field).asText()))

  override def profileTrophies(): TrophySummary = {
    val earned = get("/profile")
      .path("profile").path("trophySummary").path("earnedTrophies")
    require(!earned.isMissingNode,
      "profile JSON missing profile.trophySummary.earnedTrophies")
    TrophySummary(
      bronze = earned.path("bronze").asLong(),
      silver = earned.path("silver").asLong(),
      gold = earned.path("gold").asLong(),
      platinum = earned.path("platinum").asLong())
  }

  override def titleCount(): Int = {
    // One limit-0 page request: records stay on the server, only the
    // `totalItemCount` metadata field travels. Loud failure if the remote
    // omits it — silently falling back to a full fetch here would
    // reintroduce the plan-time driver bottleneck this method exists to
    // prevent.
    val meta = get("/titles?offset=0&limit=0").path("totalItemCount")
    require(!meta.isMissingNode && !meta.isNull,
      "titles metadata missing totalItemCount: the paged API must expose " +
        "a record-free count for plan-time partition sizing")
    meta.asInt()
  }

  override def titleStats(): Seq[GameTitleRaw] = {
    val out = Seq.newBuilder[GameTitleRaw]
    var offset: Option[Long] = Some(0L)
    while (offset.isDefined) {
      val page = get(s"/titles?offset=${offset.get}&limit=$pageSize")
      val titles = page.path("titles")
      (0 until titles.size()).foreach { i =>
        val t = titles.get(i)
        out += GameTitleRaw(
          title_id = t.path("titleId").asText(),
          name = t.path("name").asText(),
          image_url = t.path("imageUrl").asText(),
          category = t.path("category").asText(),
          first_played_date_time = ts(t, "firstPlayedDateTime"),
          last_played_date_time = ts(t, "lastPlayedDateTime"),
          play_count = t.path("playCount").asLong(),
          play_duration = t.path("playDuration").asText())
      }
      // a nextOffset that does not advance would page forever
      val next = page.path("nextOffset")
      offset = if (next.isNull || next.isMissingNode) None
               else if (next.asLong() > offset.get) Some(next.asLong())
               else throw new IllegalStateException(
                 s"PSN API /titles: nextOffset ${next.asLong()} does not " +
                   s"advance past offset ${offset.get}")
    }
    out.result()
  }
}

object HttpPsnClient {
  /** The production bound on one attempt, until the response headers
    * arrive: a stalled upstream fails the fetch with `HttpTimeoutException`
    * instead of hanging the daily run. A response is one profile or one
    * page of titles, a few KB, so the bound waits out a server that stalls,
    * not a transfer. With the retries below a request waits up to 3 × 10 s
    * plus 0.75 s of backoff in all. The real endpoints' latency is not
    * measured here (ROADMAP item 3); specs pass a shorter bound through the
    * `graft`-private constructor. */
  private val RequestTimeout = java.time.Duration.ofSeconds(10)

  /** Attempts per request, and the first retry's wait (doubling after).
    * An attempt is one `HttpClient.send`, which re-sends a GET once by
    * itself when the connection drops before the status line: at most
    * 2 × `MaxAttempts` exchanges per request. */
  private val MaxAttempts = 3
  private val BackoffMillis = 250L
}
