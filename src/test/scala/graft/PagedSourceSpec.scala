package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.paged._

class PagedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def withDataFile(n: Int)(body: String => Unit): Unit = {
    val f = Files.createTempFile("paged", ".txt").toFile
    try {
      val lines = (1 to n).map { i =>
        val market = if (i % 3 == 0) "US" else "ID"
        f"a$i%03d|artist-$i|${i % 100}|$market"
      }
      Files.write(f.toPath, String.join("\n", lines: _*).getBytes)
      body(f.getPath)
    } finally f.delete()
  }

  private def read(path: String, pageSize: Int = 10) =
    spark.read.format("graft.sources.paged.PagedSource")
      .option("path", path).option("pageSize", pageSize).load()

  private def drain(reader: PagedReader): Seq[String] =
    Iterator.continually(reader).takeWhile(_.next()).map(_.get().getString(0)).toSeq

  test("scans all pages in parallel partitions") {
    withDataFile(95) { path =>
      val df = read(path, pageSize = 10)
      assert(df.count() === 95)
      // ceil(95/10) = 10 pages grouped into one run per core (local[4])
      assert(df.rdd.getNumPartitions === 4)
      assert(df.select("id").as[String].collect().toSet.size === 95)
    }
  }

  test("grouped runs at the core-count boundaries land every row once") {
    assert(spark.sparkContext.defaultParallelism === 4,
      "the boundary counts below assume local[4]")
    // 3 pages (fewer than cores), 8 (2 x cores), 9 (2 x cores + 1)
    for ((rows, parts) <- Seq(25 -> 3, 80 -> 4, 90 -> 4)) withDataFile(rows) { path =>
      val df = read(path, pageSize = 10)
      assert(df.rdd.getNumPartitions === parts, s"$rows rows")
      val ids = df.select("id").as[String].collect()
      assert(ids.length === rows && ids.toSet.size === rows, s"$rows rows")
    }
  }

  test("planRanges covers every page once, evenly, under the row cap") {
    def check(pages: Long, pageSize: Int, par: Int, parts: Long): Unit = {
      val rs = PagedSource.planRanges(pages, pageSize, pages * pageSize, par)
      assert(rs.length === parts, s"pages=$pages pageSize=$pageSize")
      assert(rs.map(_.pages.toLong).sum === pages)
      assert(rs.head.firstOffset === 0L)
      rs.sliding(2).foreach {
        case Array(a, b) => assert(b.firstOffset === a.firstOffset + a.pages.toLong * pageSize)
        case _ => ()
      }
      assert(rs.map(_.pages).max - rs.map(_.pages).min <= 1, "runs differ by at most a page")
      assert(rs.forall(_.pages <= math.max(1L, PagedSource.MaxRowsPerPartition / pageSize)),
        "runs stay under the cap")
    }
    check(3, 10, 4, 3)
    check(8, 10, 4, 4)
    check(9, 10, 4, 4)
    check(250, 50, 4, 4)
    check(1000, 50, 4, 5) // 50,000 rows: the row cap, not the cores, sets the count
    check(2, 20000, 4, 2) // a page above the cap is still one run
  }

  test("a pushed limit that ends inside a run returns exactly the limit") {
    withDataFile(95) { path =>
      // ceil(37/5) = 8 pages in four runs of two; row 37 is inside the
      // last run's second page
      val df = read(path, pageSize = 5).limit(37)
      assert(df.queryExecution.executedPlan.toString.contains("PushedLimit=37"))
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scan.inputRDD.getNumPartitions === 4)
      assert(df.count() === 37)
      assert(df.select("id").as[String].collect().toSet.size === 37)
    }
  }

  test("a run of pages is fetched one page at a time; a fault replays its page only") {
    withDataFile(30) { path =>
      val fetches = scala.collection.mutable.Buffer.empty[Long]
      var faults = List[() => Nothing](
        () => throw new UnauthorizedException,
        () => throw new RateLimitedException(Some(0L), "page 1"),
        () => throw new java.io.IOException("503"))
      val inner = new LineFileClient(path) {
        override def fetchPage(o: Long, l: Int, m: Option[String],
                               f: Array[String]): Seq[Array[String]] = {
          fetches += o
          if (o == 10 && faults.nonEmpty) { val f0 = faults.head; faults = faults.tail; f0() }
          super.fetchPage(o, l, m, f)
        }
      }
      val reader = new PagedReader(new RetryingClient(inner, sleeper = _ => ()),
        PageRange(0, 3, 10, 30), Array("id"), None)
      assert(drain(reader) === (1 to 30).map(i => f"a$i%03d"))
      // page 1 is replayed three times; every other page is fetched once
      assert(fetches.toSeq === Seq(0L, 10L, 10L, 10L, 10L, 20L))
    }
  }

  test("a short page inside the data fails the run instead of dropping rows") {
    withDataFile(30) { path =>
      def reader(serve: (Long, Int) => Seq[Array[String]]) = new PagedReader(
        new LineFileClient(path) {
          override def fetchPage(o: Long, l: Int, m: Option[String],
                                 f: Array[String]): Seq[Array[String]] = serve(o, l)
        }, PageRange(0, 3, 10, 30), Array("id"), None)
      def rows(o: Long, l: Int) = (o + 1 to math.min(o + l, 30L)).map(i => Array(f"a$i%03d"))
      // a 2xx reply without `items` on page 1
      val empty = intercept[IllegalStateException](
        drain(reader((o, l) => if (o == 10) Seq.empty else rows(o, l))))
      assert(empty.getMessage.contains("offset 10 returned 0 rows, expected 10"), empty.getMessage)
      // an API that caps limit below pageSize
      val capped = intercept[IllegalStateException](drain(reader((o, l) => rows(o, 5))))
      assert(capped.getMessage.contains("offset 0 returned 5 rows, expected 10"), capped.getMessage)
      // the last page of the data may be short
      assert(drain(new PagedReader(new LineFileClient(path), PageRange(20, 2, 8, 30),
        Array("id"), None)) === (21 to 30).map(i => f"a$i%03d"))
    }
  }

  test("market equality filter is pushed to the client") {
    withDataFile(30) { path =>
      val df = read(path).filter($"market" === "US")
      assert(df.count() === 10) // every 3rd row
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") || !plan.contains("Filter("),
        s"expected pushed filter in:\n$plan")
      // correctness against unfiltered scan
      assert(df.select("id").as[String].collect().toSet ===
             read(path).collect().filter(_.getAs[String]("market") == "US")
               .map(_.getAs[String]("id")).toSet)
    }
  }

  test("column pruning reaches the reader schema") {
    withDataFile(20) { path =>
      val df = read(path).select("id", "popularity")
      assert(df.schema.fieldNames.toSeq === Seq("id", "popularity"))
      assert(df.as[(String, Int)].collect().length === 20)
      val scan = df.queryExecution.executedPlan.toString
      // the batch scan must not read name/market
      assert(scan.contains("ReadSchema") || scan.contains("id#"),
        s"unexpected plan:\n$scan")
      assert(df.agg(sum("popularity")).as[Long].head() ===
             (1 to 20).map(_ % 100).sum)
    }
  }

  test("limit pushdown caps the planned pages and keeps results exact") {
    withDataFile(95) { path =>
      val limited = read(path, pageSize = 10).limit(7)
      assert(limited.count() === 7)
      // the physical scan fetched ceil(7/10) = 1 page, not 10
      val plan = limited.queryExecution.executedPlan.toString
      assert(plan.contains("PushedLimit=7"), plan)
      // composes with a pushed filter: dense server-side-filtered pages
      val both = read(path, pageSize = 10).filter($"market" === "US").limit(4)
      assert(both.count() === 4)
      assert(both.select("market").distinct().as[String].collect().toSeq === Seq("US"))
    }
  }

  test("retrying client refreshes token on 401 and retries IO errors") {
    class Flaky(inner: PageClient) extends PageClient {
      var calls = 0
      override def total(market: Option[String]): Long = inner.total(market)
      override def fetchPage(o: Long, l: Int, m: Option[String],
                             f: Array[String]): Seq[Array[String]] = {
        calls += 1
        if (calls == 1) throw new UnauthorizedException
        if (calls == 2) throw new java.io.IOException("flaky")
        inner.fetchPage(o, l, m, f)
      }
      override def fetchByIds(ids: Seq[String],
                              f: Array[String]): Seq[Array[String]] =
        inner.fetchByIds(ids, f)
    }
    withDataFile(5) { path =>
      val flaky = new Flaky(new LineFileClient(path))
      val client = new RetryingClient(flaky)
      val rows = client.fetchPage(0, 10, None, Array("id"))
      assert(rows.length === 5)
      assert(flaky.calls === 3) // 401, IOException, success
    }
  }

  test("token provider caches until invalidated") {
    val tp = new TokenProvider(ttlMs = 3600000)
    val t1 = tp.token
    assert(tp.token === t1) // cached
    tp.invalidate()
    // after invalidate a fresh token is minted (may collide on ms; just
    // assert liveness)
    assert(tp.token.nonEmpty)
  }

  test("batched multi-get returns rows for requested ids only (S5)") {
    withDataFile(50) { path =>
      val client = new LineFileClient(path)
      val got = client.fetchByIds(Seq("a001", "a007", "nope"), Array("id", "name"))
      assert(got.map(_(0)).toSet === Set("a001", "a007"))
      assert(got.forall(_.length == 2))
    }
  }
}
