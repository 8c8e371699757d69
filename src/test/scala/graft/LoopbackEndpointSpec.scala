package graft

import scala.jdk.CollectionConverters._

import graft.sources.paged._

/** End-to-end smoke of the production transport stack over a real socket:
  * every request here crosses 127.0.0.1 TCP through `java.net.http`,
  * covering status mapping, header plumbing (Authorization out,
  * Retry-After back), and the DSv2 scan's planning calls — the paths
  * RestClientSpec's canned in-memory transport cannot execute. */
class LoopbackEndpointSpec extends SparkSpec {

  test("DSv2 url scan reads all pages over a real socket") {
    LoopbackApi.withApi { api =>
      val df = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", api.base).option("pageSize", 50).load()
      val got = df.collect().map(r => (r.getString(0), r.getString(1),
        r.getInt(2), r.getString(3))).sortBy(_._1)
      assert(got.toSeq === LoopbackApi.fixtureRows.sortBy(_._1))
      // planning made one cheap total() probe; readers fetched 2 pages
      assert(api.queries.exists(q => q.contains("offset=0") && q.contains("limit=1")))
      assert(api.queries.exists(q => q.contains("offset=0") && q.contains("limit=50")))
      assert(api.queries.exists(q => q.contains("offset=50") && q.contains("limit=50")))
      assert(api.authHeaders.asScala.forall(_.startsWith("Bearer ")),
        "every request must carry the bearer token")
    }
  }

  test("401/429/503 replies on pages inside a run still land exactly the fixture rows") {
    LoopbackApi.withApi { api =>
      // 10 pages of 10 in four runs of two or three pages (local[4])
      val rdd = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", api.base).option("pageSize", 10).load().rdd
      assert(rdd.getNumPartitions === 4) // planned: the total probe is done
      val probes = api.queries.size
      // queued after planning, so the replies land on page fetches
      Seq((401, None), (429, Some(0L)), (503, None)).foreach(api.failures.add)
      val got = rdd.collect().map(r => (r.getString(0), r.getString(1),
        r.getInt(2), r.getString(3))).sortBy(_._1)
      assert(got.toSeq === LoopbackApi.fixtureRows.sortBy(_._1))
      assert(api.failures.isEmpty, "every queued fault was served")
      val pages = api.queries.drop(probes)
      assert(pages.size === 10 + 3, "ten page fetches plus one replay per fault")
      assert(pages.distinct.size === 10, "a replay repeats its own page's query")
    }
  }

  test("a 10^9-row total plans ceil(rows / MaxRowsPerPartition) runs and fetches no page") {
    LoopbackApi.withMangledApi(_.replace("\"total\":100,", "\"total\":1000000000,")) { api =>
      val df = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", api.base).option("pageSize", 50).load()
      assert(df.rdd.getNumPartitions ===
        math.ceil(1e9 / PagedSource.MaxRowsPerPartition).toInt)
      assert(api.queries.nonEmpty && api.queries.forall(_.split("&").contains("limit=1")),
        s"planning must only probe the total: ${api.queries}")
    }
  }

  test("filter + projection pushdown arrive at the endpoint as request params") {
    LoopbackApi.withApi { api =>
      import org.apache.spark.sql.functions.col
      val names = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", api.base).option("pageSize", 50).load()
        .filter(col("market") === "ID").select("name")
        .collect().map(_.getString(0)).sorted
      val expect = LoopbackApi.fixtureRows.filter(_._4 == "ID").map(_._2).sorted
      assert(names.toSeq === expect)
      // F3: the market equality reached the server as a query param on
      // both the planning probe and the page fetch; P8: pruned columns
      // became the fields= projection.
      assert(api.queries.nonEmpty && api.queries.forall(_.contains("market=ID")))
      assert(api.queries.exists(_.contains("fields=name")))
    }
  }

  test("a malformed numeric cell is quarantined as null, not a task kill") {
    // the endpoint serves "popularity":"n/a" for id3 (a live API drifting
    // its payload shape); the reader must null that one field — the
    // schema is nullable — and still deliver all 100 rows, instead of
    // throwing NumberFormatException out of the partition and killing
    // the whole scan. Same quarantine convention as ImageIoCodec for
    // corrupt media payloads.
    LoopbackApi.withMangledApi(
        _.replace("\"popularity\":3,", "\"popularity\":\"n/a\",")) { api =>
      val df = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", api.base).option("pageSize", 50).load()
      val rows = df.collect()
      assert(rows.length === 100, "the corrupt row must not kill the scan")
      val corrupt = rows.filter(_.getString(0) == "id3")
      assert(corrupt.length === 1 && corrupt.head.isNullAt(2),
        "the malformed cell must surface as null")
      val rest = rows.filter(_.getString(0) != "id3")
      assert(rest.forall(!_.isNullAt(2)), "intact rows keep their values")
      assert(rest.find(_.getString(0) == "id7").get.getInt(2) === 7)
    }
  }

  test("401 over the socket triggers token refresh and replay") {
    LoopbackApi.withApi { api =>
      val auth = new TokenProvider()
      val client = new RetryingClient(
        new RestPageClient(new JdkHttpTransport(), api.base, auth), auth = auth)
      api.failures.add((401, None))
      assert(client.total(None) === 100L)
      assert(api.queries.size === 2, "one 401 then one replayed success")
    }
  }

  test("429 Retry-After from real response headers drives the backoff wait") {
    LoopbackApi.withApi { api =>
      var slept = List.empty[Long]
      val client = new RetryingClient(
        new RestPageClient(new JdkHttpTransport(), api.base),
        sleeper = ms => slept ::= ms)
      api.failures.add((429, Some(7L)))
      assert(client.total(None) === 100L)
      assert(slept === List(7000L),
        "the server's Retry-After (7s) must be honored, not blind backoff")
    }
  }

  test("5xx retries are bounded: transient recovers, persistent throws") {
    LoopbackApi.withApi { api =>
      var slept = List.empty[Long]
      val client = new RetryingClient(
        new RestPageClient(new JdkHttpTransport(), api.base),
        sleeper = ms => slept ::= ms)
      api.failures.add((500, None)); api.failures.add((503, None))
      assert(client.total(None) === 100L) // 2 failures, 3rd attempt lands
      api.failures.clear()
      (0 to 4).foreach(_ => api.failures.add((500, None)))
      intercept[java.io.IOException](client.total(None))
    }
  }

  test("301 redirect is followed: the client lands on the redirected body") {
    LoopbackApi.withApi { api =>
      // point the client at the moved alias; JdkHttpTransport's
      // Redirect.NORMAL must chase the 301 to the real context and hand
      // the page client the redirected envelope, not the 301 itself
      val client = new RetryingClient(
        new RestPageClient(new JdkHttpTransport(), api.movedBase))
      assert(client.total(None) === 100L,
        "the envelope must come from the redirect target")
      assert(api.redirectHits.get() === 1, "exactly one hit on the alias")
      assert(api.queries.exists(q => q.contains("offset=0") && q.contains("limit=1")),
        "the query string must survive the redirect to the real context")
    }
  }

  test("one bucket per endpoint; a config change reconfigures it in place") {
    // same endpoint → ONE shared bucket regardless of config (the S3
    // semantic, and the guarantee that concurrent mixed-config scans of
    // one endpoint can't sum their rates past the intended pacing);
    // different endpoint → independent budget
    val a = Endpoint.transport("http://h1/v1", 2.0, 4)
    assert(a eq Endpoint.transport("http://h1/v1", 2.0, 4))
    assert(!(a eq Endpoint.transport("http://h2/v1", 2.0, 4)))
    // a re-scan with new pacing gets the SAME bucket, reconfigured:
    // last config wins for everyone still scanning this endpoint
    assert(a eq Endpoint.transport("http://h1/v1", 9.0, 6))
    assert(Endpoint.hasTransport("http://h1/v1", 9.0, 6))
    assert(!Endpoint.hasTransport("http://h1/v1", 2.0, 4),
      "the old pacing must no longer be in force")
  }

  test("same-config transport() never touches a held bucket monitor") {
    // the common case — every page reader of one scan arriving with the
    // same options — must not queue behind a sibling thread that holds
    // the bucket's monitor (ADVICE round 12: client() construction used
    // to enter the synchronized reconfigure unconditionally). Hold the
    // monitor from another thread and prove a same-config transport()
    // call still completes; a regression re-introducing the lock would
    // trip the 2s bound instead of hanging the suite.
    val url = "http://h3/v1"
    val b = Endpoint.transport(url, 2.0, 4).asInstanceOf[TokenBucketTransport]
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => b.synchronized {
      held.countDown(); release.await()
    })
    holder.start(); held.await()
    try {
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var same = false
      new Thread(() => {
        same = Endpoint.transport(url, 2.0, 4) eq b
        done.countDown()
      }).start()
      assert(done.await(2, java.util.concurrent.TimeUnit.SECONDS),
        "same-config transport() must not block on the bucket monitor")
      assert(same, "it must still return the endpoint's shared bucket")
      assert(b.config === ((2.0, 4)), "config reads lock-free too")
    } finally { release.countDown(); holder.join() }
  }

  test("reconfigure does not mint a free burst") {
    // a bucket drained at burst=2 then reconfigured to burst=8 must not
    // suddenly hold 8 tokens — accrual continues from the drained state
    val clock = new Clock {
      var t = 0L
      def nowMs: Long = t
      def sleep(ms: Long): Unit = t += ms
    }
    var calls = 0
    val counting = new HttpTransport {
      def get(url: String, headers: Map[String, String]): (Int, String) =
        { calls += 1; (200, "{}") }
    }
    val b = new TokenBucketTransport(counting, ratePerSec = 1.0, burst = 2,
      clock = clock)
    b.get("http://x", Map.empty); b.get("http://x", Map.empty) // drain both
    b.reconfigure(4.0, 8)
    assert(b.config === ((4.0, 8)))
    val t0 = clock.t
    b.get("http://x", Map.empty) // tokens ~0 → must wait ~1/4s at the NEW rate
    assert(clock.t - t0 >= 200L && clock.t - t0 <= 300L,
      s"expected ~250ms wait for one token at 4/s from empty, got ${clock.t - t0}ms")
    assert(calls === 3)
  }

  test("DSv2 rate options plumb through to the endpoint") {
    LoopbackApi.withApi { api =>
      // a generous per-scan budget (loopback has no pacing contract).
      // hasTransport (no-create probe) before/after proves the scan
      // itself built its bucket from the scan's own option values — a
      // silent parse/key miss would fall back to defaults and the scan
      // would still return 100 rows, so row count alone proves nothing.
      assert(!Endpoint.hasTransport(api.base, 100.0, 16))
      val df = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", api.base).option("pageSize", 50)
        .option("ratePerSec", "100").option("burst", "16").load()
      assert(df.count() === 100L)
      assert(Endpoint.hasTransport(api.base, 100.0, 16),
        "the scan must key its throttle by the options it was given")
    }
    // invalid pacing must fail loudly at planning, not silently default
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.paged.PagedSource")
        .option("url", "http://127.0.0.1:1/v1/things")
        .option("ratePerSec", "-5").load()
    }
  }

  test("DSv2 options are case-insensitive") {
    LoopbackApi.withApi { api =>
      // the DSv2 convention: .option("ratepersec", …) must be honored,
      // not silently dropped to the default — proven by the no-create
      // probe, since the scan returns 100 rows either way
      val df = spark.read.format("graft.sources.paged.PagedSource")
        .option("URL", api.base).option("PAGESIZE", "50")
        .option("ratepersec", "50").option("BURST", "12").load()
      assert(df.count() === 100L)
      assert(Endpoint.hasTransport(api.base, 50.0, 12),
        "mis-cased rate options must reach the transport layer")
    }
  }

  test("batched multi-get round-trips over the socket") {
    LoopbackApi.withApi { api =>
      val client = new RetryingClient(
        new RestPageClient(new JdkHttpTransport(), api.base))
      val rows = client.fetchByIds(Seq("id3", "id7"), Array("id", "popularity"))
      assert(rows.map(_.toSeq).sortBy(_.head) ===
        Seq(Seq("id3", "3"), Seq("id7", "7")))
      assert(api.queries.exists(q =>
        q.contains("ids=id3%2Cid7") || q.contains("ids=id3,id7")))
    }
  }
}
