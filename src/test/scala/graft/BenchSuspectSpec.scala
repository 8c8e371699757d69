package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the offline history tool (`tools/bench_history.py`), where every
  * weather rule lives: suspect bands, prior leads, the reference grade
  * and the --compare classes. Its `--selftest` prints one `ok: NAME` or
  * `FAIL: NAME` line per rule case, and each becomes one test here,
  * so a broken rule fails under its own name. The default summary view
  * and `--suspect-replay` also run on the committed BENCH_HISTORY.jsonl.
  * A missing `python3` fails every test here: there is no skip. */
class BenchSuspectSpec extends AnyFunSuite {

  /** (exit code, combined output) of one tool invocation, or the reason
    * it could not start. */
  private def tool(args: String*): Either[String, (Int, String)] =
    try {
      val p = new ProcessBuilder(("python3" +: "tools/bench_history.py" +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      Right((p.waitFor(), out))
    } catch { case e: java.io.IOException => Left(e.toString) }

  private def succeeded(args: String*): String = checked(args, tool(args: _*))

  private def checked(args: Seq[String], run: Either[String, (Int, String)]): String =
    run match {
      case Left(why) => fail(s"python3 tools/bench_history.py could not start: $why")
      case Right((rc, out)) =>
        assert(rc === 0, s"bench_history.py ${args.mkString(" ")} exited $rc:\n$out")
        out
    }

  private val selftest = tool("--selftest")
  private val Case = """(ok|FAIL): (.*)""".r
  private val cases = selftest.toOption.toSeq.flatMap { case (_, out) =>
    out.linesIterator.collect { case Case(status, name) => (name, status == "ok", out) }
  }

  test("bench_history.py --selftest runs every case and exits 0") {
    checked(Seq("--selftest"), selftest)
    assert(cases.nonEmpty, "the selftest reported no case")
  }

  for ((name, ok, why) <- cases) test(name) {
    assert(ok, why)
  }

  test("the summary view renders every committed history line") {
    val out = succeeded()
    val lines = scala.io.Source.fromFile("BENCH_HISTORY.jsonl")
    val n = try lines.getLines().count(_.trim.nonEmpty) finally lines.close()
    // one row per line, after the header; detail rows are indented
    val rows = out.linesIterator.drop(1).count(l => l.nonEmpty && !l.startsWith(" "))
    assert(rows === n)
  }

  test("--suspect-replay runs over the committed history") {
    val out = succeeded("--suspect-replay")
    assert(out.linesIterator.toSeq.last.matches(
      """\d+ of \d+ \(32 cpus, sf 0\.1\) cohort lines would flag"""), out)
  }
}
