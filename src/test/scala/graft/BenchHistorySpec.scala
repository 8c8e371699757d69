package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH_HISTORY provenance additions: the machine-load
  * covariates (/proc/loadavg + /proc/stat steal ticks at run start and
  * end), the numeric `sf_num`, the `jvm_run` repeat index, and the
  * composed history-line shape. These exist so a VM-disturbance
  * adjudication (the d57/d58 two-fresh-runs protocol) reads as one-run
  * evidence straight off the history line — a shape drift would silently
  * break every future adjudication, so the shape is spec-pinned. */
class BenchHistorySpec extends AnyFunSuite {

  private def tmpFile(content: String): String = {
    val p = java.nio.file.Files.createTempFile("benchhist", ".txt")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("readLoadAvg parses the three averages from a loadavg line") {
    val p = tmpFile("0.52 1.10 2.00 1/123 4567\n")
    assert(Bench.readLoadAvg(p) === Some((0.52, 1.10, 2.00)))
  }

  test("readLoadAvg is None on a missing or malformed file") {
    assert(Bench.readLoadAvg("/no/such/file").isEmpty)
    assert(Bench.readLoadAvg(tmpFile("not numbers here\n")).isEmpty)
  }

  test("readStealTicks takes field 8 of the aggregate cpu line") {
    // cpu user nice system idle iowait irq softirq STEAL guest guest_nice
    val p = tmpFile(
      "cpu  100 0 50 1000 20 0 5 42 0 0\ncpu0 50 0 25 500 10 0 2 21 0 0\n")
    assert(Bench.readStealTicks(p) === Some(42L))
  }

  test("readStealTicks is None when the cpu line is short or absent") {
    assert(Bench.readStealTicks(tmpFile("cpu 1 2 3\n")).isEmpty)
    assert(Bench.readStealTicks(tmpFile("intr 12345\n")).isEmpty)
    assert(Bench.readStealTicks("/no/such/file").isEmpty)
  }

  test("the live /proc files are readable on the bench host") {
    // the covariates only earn their keep on the machine the bench runs
    // on — this suite runs there, so pin that both reads actually work
    // (skipping silently on a non-Linux dev box)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get("/proc/loadavg"))) {
      val load = Bench.readLoadAvg()
      assert(load.isDefined, "/proc/loadavg must parse")
      val (a, b, c) = load.get
      assert(a >= 0 && b >= 0 && c >= 0)
      assert(Bench.readStealTicks().exists(_ >= 0L), "/proc/stat must parse")
    }
  }

  test("covariateJson shape: loadavg triple + steal ticks, null when absent") {
    assert(JsonMethods.parse(Bench.covariateJson(Some((0.5, 0.25, 0.125)), Some(42L)))
      === JsonMethods.parse("""{"loadavg":[0.5,0.25,0.125],"steal_ticks":42}"""))
    assert(JsonMethods.parse(Bench.covariateJson(None, None))
      === JsonMethods.parse("""{"loadavg":null,"steal_ticks":null}"""))
  }

  test("sfNumber parses the testdata dir's scale factor, None otherwise") {
    assert(Bench.sfNumber("/root/testdata/sf0.1") === Some(0.1))
    assert(Bench.sfNumber("/root/testdata/sf0.001") === Some(0.001))
    assert(Bench.sfNumber("sf1") === Some(1.0))
    assert(Bench.sfNumber("/tmp/data") === None)
  }

  test("parseArgs: positional dir and --repeat compose; garbage fails loudly") {
    assert(Bench.parseArgs(Array.empty) === ((None, 1)))
    assert(Bench.parseArgs(Array("/data/sf1")) === ((Some("/data/sf1"), 1)))
    assert(Bench.parseArgs(Array("--repeat", "3")) === ((None, 3)))
    assert(Bench.parseArgs(Array("/d", "--repeat", "2")) === ((Some("/d"), 2)))
    assert(Bench.parseArgs(Array("--repeat", "2", "/d")) === ((Some("/d"), 2)))
    // a driver typo must never silently bench the wrong thing once
    intercept[RuntimeException](Bench.parseArgs(Array("--repeat")))
    intercept[RuntimeException](Bench.parseArgs(Array("--repeat", "zero")))
    intercept[IllegalArgumentException](Bench.parseArgs(Array("--repeat", "0")))
    intercept[RuntimeException](Bench.parseArgs(Array("--rounds", "3")))
    intercept[IllegalArgumentException](Bench.parseArgs(Array("/a", "/b")))
  }

  test("jsonStr escapes quotes, backslashes, and control chars") {
    assert(Bench.jsonStr("/root/testdata/sf0.1") === "\"/root/testdata/sf0.1\"")
    assert(JsonMethods.parse(s"""{"sf":${Bench.jsonStr("a\"b\\c\nd")}}""")
      \ "sf" === JString("a\"b\\c\nd"))
  }

  test("lineHead: cpus is a JSON number; a hostile sfDir stays valid JSON") {
    // round-13 lines carried "cpus":"32" (string); the adjudication
    // tooling compares loadavg against cpus arithmetically, so from
    // round 14 the line carries a number — this test is the pin
    val cov0 = Bench.covariateJson(Some((1.0, 2.0, 3.0)), Some(7L))
    val cov1 = Bench.covariateJson(Some((4.0, 5.0, 6.0)), Some(9L))
    val parsed = JsonMethods.parse(
      "{" + Bench.lineHead(32, "/root/testdata/sf0.1", cov0, cov1) + "}")
    assert(parsed \ "cpus" === JInt(32))
    assert(parsed \ "metric" === JString("total"))
    assert(parsed \ "mode" === JString("both"))
    assert(parsed \ "sf" === JString("/root/testdata/sf0.1"))
    assert(parsed \ "sf_num" === JDouble(0.1))
    // round 15: the covariates ride in the line itself, under the SAME
    // top-level keys the round-13/14 history splice used — the history
    // tooling must keep reading both vintages unchanged
    assert(parsed \ "load_start" \ "loadavg" === JArray(List(
      JDouble(1.0), JDouble(2.0), JDouble(3.0))))
    assert(parsed \ "load_start" \ "steal_ticks" === JInt(7))
    assert(parsed \ "load_end" \ "steal_ticks" === JInt(9))
    // a dir with JSON structural chars must round-trip, not corrupt the line
    val hostile = JsonMethods.parse(
      "{" + Bench.lineHead(8, "/tmp/we\"ird\\dir", cov0, cov1) + "}")
    assert(hostile \ "cpus" === JInt(8))
    assert(hostile \ "sf" === JString("/tmp/we\"ird\\dir"))
    assert(hostile \ "sf_num" === JNull)
  }

  test("stealDeltaOf differences the endpoints, None unless both readable") {
    // the bench records only the endpoint ticks; the history tool's
    // steal_delta differences them, so feed it lines as lineHead writes them
    def head(s0: Option[Long], s1: Option[Long]): String =
      "{" + Bench.lineHead(32, "/root/testdata/sf0.1",
        Bench.covariateJson(Some((1.0, 1.0, 1.0)), s0),
        Bench.covariateJson(Some((1.0, 1.0, 1.0)), s1)) + "}"
    val lines = Seq(head(Some(100L), Some(142L)), head(None, Some(142L)),
      head(Some(100L), None), head(None, None))
    val p = new ProcessBuilder("python3", "-c",
      "import json, sys; sys.path.insert(0, 'tools'); " +
        "from bench_history import steal_delta; " +
        "[print(steal_delta(json.loads(l))) for l in sys.stdin if l.strip()]")
      .redirectErrorStream(true).start()
    p.getOutputStream.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.getOutputStream.close()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, out)
    assert(out.linesIterator.toSeq === Seq("42", "None", "None", "None"))
  }

  test("historyLine splices provenance ahead of the bench line's fields") {
    // the covariates are part of the bench line itself since round 15;
    // the splice adds only ts/sha/jvm_run (old lines with spliced
    // load_start/load_end keep the same top-level keys, so readers
    // handle both vintages identically)
    val benchLine =
      """{"metric":"total","unit":"sec","sf_num":0.1,""" +
        """"load_start":{"loadavg":[1.0,2.0,3.0],"steal_ticks":7},""" +
        """"load_end":{"loadavg":[4.0,5.0,6.0],"steal_ticks":9},""" +
        """"value":1.5,"steal_delta":2,"noncomparable":false}"""
    val parsed = JsonMethods.parse(Bench.historyLine(
      benchLine, "2026-08-13T00:00:00Z", "a" * 40, 2))
    assert(parsed \ "ts" === JString("2026-08-13T00:00:00Z"))
    assert(parsed \ "sha" === JString("a" * 40))
    assert(parsed \ "jvm_run" === JInt(2))
    assert(parsed \ "load_start" \ "loadavg" === JArray(List(
      JDouble(1.0), JDouble(2.0), JDouble(3.0))))
    assert(parsed \ "load_start" \ "steal_ticks" === JInt(7))
    assert(parsed \ "load_end" \ "steal_ticks" === JInt(9))
    // the original line's verdict-bearing fields survive untouched
    assert(parsed \ "metric" === JString("total"))
    assert(parsed \ "sf_num" === JDouble(0.1))
    assert(parsed \ "value" === JDouble(1.5))
    assert(parsed \ "steal_delta" === JInt(2))
    assert(parsed \ "noncomparable" === JBool(false))
  }
}
