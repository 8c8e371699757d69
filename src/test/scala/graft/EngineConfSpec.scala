package graft

/** The session factory, on the shared test session (no new SparkContext). */
class EngineConfSpec extends SparkSpec {

  test("cpusFrom defaults to the JVM's processors and rejects garbage by name") {
    assert(EngineConf.cpusFrom(None) === Runtime.getRuntime.availableProcessors)
    assert(EngineConf.cpusFrom(Some("3")) === 3)
    for (bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException](EngineConf.cpusFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("the test session is local[4] in UTC with the kernels in SQL") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.catalog.functionExists("qcosine"))
    assert(spark.catalog.functionExists("minhash_sig"))
  }

  test("a second session call returns the same session") {
    assert(EngineConf.session("graft-test", 4) eq spark)
  }
}
