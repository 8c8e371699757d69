package graft.sources.paged

import scala.io.Source

/** Transport abstraction for [[PagedSource]] — the shape of the
  * reference's REST layer (S1/S2/S3/S5, SURVEY.md §2.1) without the
  * network. A production client would issue HTTP GETs; the contract is
  * identical: server-side pagination, predicate + field projection
  * parameters, a cheap `total`, and batched multi-gets.
  */
trait PageClient {

  /** Total rows the endpoint reports (REST APIs return `total` with the
    * first page). With a market filter, the FILTERED total — pagination
    * is over the filtered result, so partition planning must be too. */
  def total(market: Option[String] = None): Long

  /** S4: fetch rows [offset, offset+limit), already filtered by `market`
    * (F3) and projected to `fields` in endpoint order (P8). */
  def fetchPage(offset: Long, limit: Int, market: Option[String],
                fields: Array[String]): Seq[Array[String]]

  /** S5: batched multi-get by id (the `/tracks?ids=a,b,c` shape with the
    * endpoint's max batch size applied by the caller). */
  def fetchByIds(ids: Seq[String], fields: Array[String]): Seq[Array[String]]
}

/** File-backed client: each line is `id|name|popularity|market`. Stands in
  * for the remote endpoint in this no-egress environment; everything above
  * it (partition planning, pushdown, retry) is production-shaped. The file
  * is read and split once per client, on first use: a partition reader
  * builds one client and fetches a run of pages through it. */
class LineFileClient(path: String) extends PageClient {

  private val columns = Array("id", "name", "popularity", "market")

  private lazy val all: Vector[Array[String]] = {
    val src = Source.fromFile(path)
    // split with limit -1: a trailing empty field (empty market) must
    // survive, or downstream index-3 access dies on a 3-element array
    try src.getLines().map(_.split("\\|", -1)).toVector
    finally src.close()
  }

  private def rows(market: Option[String]): Vector[Array[String]] = market match {
    case Some(m) => all.filter(_(3) == m)
    case None => all
  }

  override def total(market: Option[String] = None): Long =
    rows(market).size.toLong

  override def fetchPage(offset: Long, limit: Int, market: Option[String],
                         fields: Array[String]): Seq[Array[String]] = {
    val idx = fields.map(f => columns.indexOf(f))
    rows(market).slice(offset.toInt, offset.toInt + limit).map(r => idx.map(r))
  }

  override def fetchByIds(ids: Seq[String],
                          fields: Array[String]): Seq[Array[String]] = {
    val want = ids.toSet
    val idx = fields.map(f => columns.indexOf(f))
    all.filter(r => want(r(0))).map(r => idx.map(r))
  }
}

/** S2: retry-on-failure with the reference's re-auth semantics
  * (401 → refresh token → retry, 01_TestingPy/Spotify_API.py:54-57;
  * plain errors → bounded retries). Token state is per-executor — no
  * driver round-trip per request.
  *
  * 429 handling: a [[RateLimitedException]] is retried AFTER a pause —
  * the server's `Retry-After` value when it sent one, else exponential
  * backoff from 500 ms (the reference's own pacing unit,
  * 01_TestingPy/Spotify_API3.py:62-63). An immediate replay of a 429
  * just burns an attempt against a server that already said "slow
  * down". `sleeper` is injectable so specs run on a fake clock.
  */
class RetryingClient(inner: PageClient, maxRetries: Int = 3,
                     auth: TokenProvider = new TokenProvider,
                     sleeper: Long => Unit = Thread.sleep) extends PageClient {

  private def withRetry[T](f: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try {
        auth.token // S1: ensure a live token before each call
        return f
      } catch {
        case e: UnauthorizedException =>
          auth.invalidate(); last = e; attempt += 1
        case e: RateLimitedException =>
          last = e; attempt += 1
          sleeper(e.retryAfterMs.getOrElse(500L << (attempt - 1)))
        case e: java.io.IOException =>
          last = e; attempt += 1
      }
    }
    throw last
  }

  override def total(market: Option[String] = None): Long =
    withRetry(inner.total(market))
  override def fetchPage(offset: Long, limit: Int, market: Option[String],
                         fields: Array[String]): Seq[Array[String]] =
    withRetry(inner.fetchPage(offset, limit, market, fields))
  override def fetchByIds(ids: Seq[String],
                          fields: Array[String]): Seq[Array[String]] =
    withRetry(inner.fetchByIds(ids, fields))
}

final class UnauthorizedException extends RuntimeException("401")

/** 429 from the endpoint. Extends IOException (transient class) but is
  * caught specifically by [[RetryingClient]] so the retry waits —
  * honoring the server's `Retry-After` (milliseconds here) if present. */
final class RateLimitedException(val retryAfterMs: Option[Long], url: String)
    extends java.io.IOException(s"rate limited: $url")

/** One TokenProvider per executor JVM (the documented S1 semantic):
  * partition readers share this instead of minting a token per page. */
object ExecutorAuth {
  /** The credential-less default: backends with no token endpoint
    * (LineFileClient, canned spec transports) get a local opaque token —
    * there is no credential exchange to perform. */
  val provider: TokenProvider = new TokenProvider

  // One provider per credential config per executor JVM: page readers
  // scanning the same credentialed endpoint share one cached token (and
  // one mint round-trip per ttl) instead of minting per page reader.
  // Bounded by distinct credential sets ever scanned — in practice 1.
  private val minted =
    scala.collection.concurrent.TrieMap.empty[MintConfig, TokenProvider]

  def providerFor(cfg: Option[MintConfig]): TokenProvider = cfg match {
    case None => provider
    case Some(c) => minted.getOrElseUpdate(c,
      new TokenProvider(mint = Some(new ClientCredentialsMint(
        Endpoint.mintTransport, c.tokenUrl, c.clientId, c.clientSecret))))
  }
}

/** S1: client-credentials token cache with expiry — the reference's
  * `get_token` caching semantics (01_TestingPy/Spotify_API.py:16-40).
  * Thread-safe: one token per executor JVM, refreshed on expiry or 401.
  *
  * `mint` is the credential-exchange seam: `() => (token, ttlMs)`.
  * Production wires [[ClientCredentialsMint]] (the X1 Basic-auth POST);
  * `None` — transportless backends, where no token endpoint exists —
  * mints a local opaque token with the provider's own ttl. A minted ttl
  * of 0 means the token is already expired: every call re-mints, which
  * is the honest reading of an endpoint that refuses to cache.
  *
  * `refreshMarginMs`: the token is treated as expiring this much BEFORE
  * the endpoint's ttl (capped at ttl/2 so short-ttl endpoints keep real
  * cache coverage). Without it, the first request at/after the boundary
  * always pays a guaranteed 401 + re-mint round-trip per executor per
  * ttl; with it, the boundary request re-mints proactively and the 401
  * path is reserved for genuine revocation. `clock` is injectable so
  * the margin arithmetic is spec-testable on a fake clock. */
class TokenProvider(ttlMs: Long = 3600000L,
                    mint: Option[() => (String, Long)] = None,
                    refreshMarginMs: Long = 30000L,
                    clock: () => Long = () => System.currentTimeMillis()) {
  @volatile private var cached: Option[(String, Long)] = None

  /** A live bearer token, refreshing if absent or expired. */
  def token: String = synchronized {
    val now = clock()
    cached match {
      case Some((t, exp)) if exp > now => t
      case _ =>
        val (t, ttl) = mint match {
          case Some(m) => m()
          case None    => (s"token-${now}", ttlMs)
        }
        cached = Some((t, now + ttl - math.min(refreshMarginMs, ttl / 2)))
        t
    }
  }

  /** Drop the cached token (called on 401). */
  def invalidate(): Unit = synchronized { cached = None }
}
