package graft.sources.paged

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector modeling the reference's REST extraction layer
  * (SURVEY.md §2.1) with Spark-native scan planning:
  *
  *   - **S4 paginated scan**: each `InputPartition` is a [[PageRange]],
  *     a run of consecutive pages, so a 10^9-row endpoint scans as
  *     parallel page runs across executors instead of the reference's
  *     sequential driver loop (01_TestingPy/Spotify_API4.py:327-356).
  *     Partitions are sized to the cluster, not to the wire format: the
  *     scan plans `max(defaultParallelism, ceil(rows / MaxRowsPerPartition))`
  *     partitions (never more than there are pages; see
  *     [[PagedSource.planRanges]]). Every request is still one
  *     `pageSize` page, so retries and re-auth stay per page.
  *   - **F3 predicate pushdown**: `market = 'X'` equality filters reach
  *     the client as request parameters (the reference auto-injects
  *     `market='ID'`, Spotify_API3.py:56-61); pushed filters are removed
  *     from Spark's post-scan evaluation.
  *   - **P8 projection pushdown**: pruned columns become the client's
  *     `fields=` projection (Spotify_API4.py:252,338) — the reader never
  *     materializes unrequested columns.
  *
  * The transport is a pluggable [[PageClient]], selected by [[Endpoint]]:
  * `option("path", file)` serves pages from a local `|`-delimited file
  * ([[LineFileClient]]); `option("url", base)` hits a real REST endpoint
  * through [[RestPageClient]] + throttled [[JdkHttpTransport]]
  * (exercised over a loopback socket by LoopbackEndpointSpec). Both run
  * under the reference's retry-on-failure and re-auth-on-401 semantics
  * ([[RetryingClient]]).
  *
  * Usage: `spark.read.format("graft.sources.paged.PagedSource")
  *   .option("path", file).option("pageSize", 50).load()` — or
  *   `.option("url", "https://host/v1/things")`, optionally with
  *   `.option("ratePerSec", 5.0).option("burst", 8)` to tune the
  *   per-executor throttle for that endpoint (defaults: reference
  *   pacing, [[Endpoint.DefaultRatePerSec]]/[[Endpoint.DefaultBurst]]).
  */
class PagedSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // DSv2 options are conventionally case-insensitive; the raw
    // properties map is not. Without the wrapper, .option("ratepersec",…)
    // would silently fall back to the default — the exact silent-fallback
    // mode the hasTransport spec exists to catch.
    val opts = new CaseInsensitiveStringMap(properties)
    // Client credentials (X1): all three options or none — a partial
    // triple is a misconfiguration, not "no auth", and must not
    // silently degrade to the credential-less local token.
    val mint = (Option(opts.get("tokenUrl")), Option(opts.get("clientId")),
                Option(opts.get("clientSecret"))) match {
      case (Some(tu), Some(ci), Some(cs)) => Some(MintConfig(tu, ci, cs))
      case (None, None, None)             => None
      case _ => throw new IllegalArgumentException(
        "tokenUrl, clientId and clientSecret must be set together")
    }
    new PagedTable(
      Endpoint(Option(opts.get("path")), Option(opts.get("url")),
        ratePerSec = Option(opts.get("ratePerSec"))
          .map(_.toDouble).getOrElse(Endpoint.DefaultRatePerSec),
        burst = Option(opts.get("burst"))
          .map(_.toInt).getOrElse(Endpoint.DefaultBurst),
        mint = mint),
      Option(opts.get("pageSize")).map(_.toInt).getOrElse(50))
  }
}

/** Where the scan's pages come from: a local `|`-delimited file (`path`,
  * the no-egress stand-in) or a real REST endpoint (`url`, served by
  * [[RestPageClient]] over [[JdkHttpTransport]]). Serializable — shipped
  * to executors inside [[PagedReaderFactory]]; the client itself is
  * built on arrival (HTTP clients and file handles don't serialize). */
final case class Endpoint(path: Option[String], url: Option[String],
                          ratePerSec: Double = Endpoint.DefaultRatePerSec,
                          burst: Int = Endpoint.DefaultBurst,
                          mint: Option[MintConfig] = None) {
  require(path.isDefined ^ url.isDefined,
    "exactly one of 'path' or 'url' must be set")
  require(ratePerSec > 0, s"ratePerSec must be positive, got $ratePerSec")
  require(burst >= 1, s"burst must be at least 1, got $burst")
  require(mint.isEmpty || url.isDefined,
    "client credentials only apply to a 'url' endpoint")

  def describe: String = url.orElse(path).get

  /** Build the client stack on the current JVM: transport (shared
    * per-executor per-endpoint, throttled) → REST/file client →
    * retry/re-auth. The SAME provider instance goes to both layers:
    * RestPageClient reads the token for the Bearer header, and
    * RetryingClient invalidates that very cache on 401 — two providers
    * would refresh one cache and send from the other. */
  def client(): PageClient = {
    val auth = ExecutorAuth.providerFor(mint)
    new RetryingClient(
      url match {
        case Some(u) =>
          new RestPageClient(Endpoint.transport(u, ratePerSec, burst), u, auth)
        case None => new LineFileClient(path.get)
      },
      auth = auth)
  }
}

object Endpoint {
  /** Reference pacing: ≤2 req/s sustained
    * (01_TestingPy/Spotify_API3.py:62-63); burst 4 so a cold scan's
    * first pages aren't serialized behind an empty bucket. Overridable
    * per scan via DSv2 options `ratePerSec` / `burst`. */
  val DefaultRatePerSec = 2.0
  val DefaultBurst = 4

  /** The ONE `java.net.http` client per executor JVM. Only the token
    * buckets are per-endpoint; keying whole transports would mint a new
    * HttpClient (each with its own selector thread) per distinct option
    * set, accumulating unboundedly in a long-lived executor scanning
    * many endpoints. The JDK client pools connections per-host
    * internally, so sharing it across endpoints costs nothing. */
  private lazy val sharedHttp: HttpTransport = new JdkHttpTransport()

  /** Transport for token mints ([[ExecutorAuth.providerFor]]): the
    * shared JDK client, deliberately UNthrottled — the token host is a
    * different endpoint from the data host (accounts vs api in the
    * reference), and a mint happens once per ttl per executor, so
    * running it through a data endpoint's bucket would only delay
    * recovery after a 401. */
  private[paged] def mintTransport: HttpTransport = sharedHttp

  private val buckets =
    scala.collection.concurrent.TrieMap.empty[String, TokenBucketTransport]

  /** One throttled transport per endpoint base URL per executor JVM
    * (the S3 semantic — TokenBucketTransport's rate is per-executor):
    * page readers on an executor scanning the same endpoint share one
    * bucket instead of each minting an unthrottled client, while two
    * DIFFERENT endpoints get independent budgets — one slow API must
    * not starve a scan against a fast one. Keyed by URL ONLY: a scan
    * arriving with different rate options reconfigures the endpoint's
    * existing bucket in place (last config wins), so concurrent
    * mixed-config scans of one endpoint are jointly capped at the most
    * recent config rather than summing independent buckets — the
    * pacing the throttle exists to enforce stays enforced. Buckets are
    * never evicted, deliberately: each is a handful of plain fields
    * (the costly HttpClient is the one shared instance above), so the
    * map grows only with distinct endpoints ever scanned — and an
    * endpoint's pacing state must survive between scans anyway, or a
    * scan-per-page driver pattern would reset the budget each time. */
  def transport(baseUrl: String, ratePerSec: Double, burst: Int): HttpTransport = {
    val bucket = buckets.getOrElseUpdate(baseUrl,
      new TokenBucketTransport(sharedHttp, ratePerSec, burst))
    // volatile pre-check before the synchronized reconfigure: the common
    // case (every page reader of one scan arriving with the same options)
    // must not queue behind a sibling's in-flight rate-limit wait — even
    // with acquire() sleeping outside the lock, entering the monitor here
    // would serialize reader construction for no state change.
    // Check-then-act caveat: under concurrent MIXED-config callers, a
    // caller whose config matches the currently-installed value may skip
    // reconfigure just as a different-config sibling overwrites it, so no
    // interleaving is guaranteed to leave THIS caller's config installed.
    // That stays inside the documented last-config-wins envelope (some
    // caller's config is in force, pacing enforced throughout); only the
    // per-caller "my reconfigure ran" reading is deliberately not promised.
    if (bucket.config != (ratePerSec -> burst))
      bucket.reconfigure(ratePerSec, burst)
    bucket
  }

  /** Test hook: whether this endpoint's bucket exists WITH this exact
    * pacing in force, WITHOUT creating or reconfiguring anything
    * ([[transport]] would) — lets specs prove a scan's DSv2 options
    * actually reached the transport layer rather than silently falling
    * back to defaults. */
  private[graft] def hasTransport(baseUrl: String, ratePerSec: Double,
                                  burst: Int): Boolean =
    buckets.get(baseUrl).exists(_.config == (ratePerSec -> burst))
}

object PagedSource {
  /** The artist-endpoint shape the connector serves (fixed schema — the
    * endpoint's contract, like a REST API's documented payload). */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("popularity", IntegerType),
    StructField("market", StringType)))

  /** The most rows one planned partition reads. */
  val MaxRowsPerPartition = 10000L

  /** Groups `pages` consecutive pages of `pageSize` rows, out of an
    * endpoint reporting `total` rows, into runs, one per partition,
    * spread evenly (run lengths differ by at most one).
    *
    * The rule sizes the partition count to the cluster:
    * `max(parallelism, ceil(pages / (MaxRowsPerPartition / pageSize)))`,
    * which is `max(parallelism, ceil(rows / MaxRowsPerPartition))` for a
    * page size that divides [[MaxRowsPerPartition]], capped at the page
    * count. The cap is on rows per partition, not on the partition
    * count, so a 10^9-row endpoint still fans out across executors. */
  def planRanges(pages: Long, pageSize: Int, total: Long,
                 parallelism: Int): Array[PageRange] = {
    val maxPages = math.max(1L, MaxRowsPerPartition / pageSize)
    val n = math.min(pages, math.max(parallelism.toLong, (pages + maxPages - 1) / maxPages))
    val (base, extra) = (pages / n, pages % n)
    Array.tabulate(n.toInt) { i =>
      val first = i * base + math.min(i.toLong, extra)
      PageRange(first * pageSize, (base + (if (i < extra) 1 else 0)).toInt, pageSize, total)
    }
  }
}

final class PagedTable(endpoint: Endpoint, pageSize: Int) extends Table with SupportsRead {
  override def name(): String = s"paged(${endpoint.describe})"
  override def schema(): StructType = PagedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(endpoint, pageSize)
}

final class PagedScanBuilder(endpoint: Endpoint, pageSize: Int)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var requiredSchema: StructType = PagedSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedLimit: Option[Int] = None

  /** LIMIT pushdown: fetch only ceil(limit / pageSize) pages instead of
    * the whole endpoint. Safe under pushed filters too: the endpoint
    * paginates the FILTERED result (server-side filter params, dense
    * pages), so the first pages always hold the first qualifying rows.
    * PARTIAL pushdown — pushLimit returns true (we did push) and
    * isPartiallyPushed returns true (a page may overshoot the limit), so
    * Spark keeps its own Limit to trim the excess. Returning false here
    * while still capping pages would take the side effect of an API the
    * scan reports as failed. */
  override def pushLimit(l: Int): Boolean = {
    pushedLimit = Some(l)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** F3: accept equality filters on `market` (what the endpoint supports);
    * everything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("market", _: String) => true
      case _ => false
    }
    pushed = supported
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** P8: the pruned schema is the `fields=` projection. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = requiredSchema
    override def toBatch: Batch = this
    override def description(): String =
      s"PagedScan(endpoint=${endpoint.describe}, pageSize=$pageSize, " +
      s"PushedFilters=${pushed.mkString("[", ", ", "]")}, " +
      s"PushedLimit=${pushedLimit.getOrElse("none")})"

    override def planInputPartitions(): Array[InputPartition] = {
      // Runs of consecutive pages (see PagedSource.planRanges). Row count
      // comes from the endpoint's total (a REST API returns `total`; the
      // file client counts lines) — a single tiny driver-side call, same
      // as the reference's first page fetch, made through the retry/
      // re-auth wrapper like every other call (a transient failure at
      // plan time shouldn't kill the scan).
      // With a pushed filter the FILTERED total plans the pages — the
      // endpoint paginates the filtered result, so the unfiltered count
      // would schedule mostly-empty page tasks. A pushed limit then caps
      // the page count.
      val marketFilter = pushed.collectFirst { case EqualTo("market", v: String) => v }
      val total = endpoint.client().total(marketFilter)
      val allPages = math.max(1L, (total + pageSize - 1) / pageSize)
      val pages = pushedLimit
        .map(l => math.min(allPages, math.max(1L, (l.toLong + pageSize - 1) / pageSize)))
        .getOrElse(allPages)
      val parallelism = SparkSession.active.sparkContext.defaultParallelism
      PagedSource.planRanges(pages, pageSize, total, parallelism)
        .toArray[InputPartition]
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val marketFilter = pushed.collectFirst { case EqualTo("market", v: String) => v }
      PagedReaderFactory(endpoint, requiredSchema.fieldNames, marketFilter)
    }
  }
}

/** A run of `pages` consecutive pages of the remote scan, the first at
  * row `firstOffset`: rows [firstOffset, firstOffset + pages * pageSize).
  * `total` is the row count the endpoint reported when the scan was
  * planned; it tells the reader how many rows each page must hold. */
final case class PageRange(firstOffset: Long, pages: Int, pageSize: Int, total: Long)
    extends InputPartition

final case class PagedReaderFactory(endpoint: Endpoint, fields: Array[String],
                                    market: Option[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[PageRange]
    // endpoint.client() on the executor: shared per-JVM auth + throttled
    // transport, one cached token per JVM rather than one per page reader
    new PagedReader(endpoint.client(), range, fields, market)
  }
}

/** Reads a run of pages through the client, emitting only the pruned
  * fields. Pages are fetched lazily, one `fetchPage` each, so a fault on
  * one page replays that page only and at most one page is held in
  * memory. Every page of the run is read. A page with fewer rows than
  * the planned total puts there (a 2xx reply without `items`, an API
  * that caps `limit` below `pageSize`, rows deleted since planning)
  * fails the task: read on, it would silently drop the rows it lacks. */
final class PagedReader(client: PageClient, range: PageRange,
                        fields: Array[String], market: Option[String])
    extends PartitionReader[InternalRow] {

  private var rows: Iterator[Array[String]] = Iterator.empty
  private var fetched = 0

  private var current: Array[String] = _

  override def next(): Boolean = {
    while (!rows.hasNext && fetched < range.pages) {
      val offset = range.firstOffset + fetched.toLong * range.pageSize
      val page = client.fetchPage(offset, range.pageSize, market, fields)
      val want = math.max(0L, math.min(range.pageSize.toLong, range.total - offset))
      if (page.length < want)
        throw new IllegalStateException(
          s"page at offset $offset returned ${page.length} rows, expected $want " +
            s"(pageSize ${range.pageSize}, endpoint total ${range.total} at planning)")
      fetched += 1
      rows = page.iterator
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow = {
    val values: Array[Any] = fields.zipWithIndex.map { case (f, i) =>
      f match {
        // quarantine, don't crash: a malformed numeric cell (endpoint
        // serving "n/a", an empty string, a quoted number with junk)
        // nulls the field — schema is nullable — instead of throwing
        // NumberFormatException out of the task and killing the whole
        // scan. Same convention as ImageIoCodec for corrupt payloads:
        // one bad row must not take down the partition.
        case "popularity" =>
          val s = current(i)
          if (s == null) null else s.toIntOption.map(Int.box).orNull
        case _ => UTF8String.fromString(current(i))
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = ()
}
