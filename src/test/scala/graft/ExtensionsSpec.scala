package graft

import org.apache.spark.sql.functions._

import graft.expressions.QCosine
import graft.functions.Similarity._

/** SQL-surface registration via SparkSessionExtensions: the factory
  * ([[EngineConf.tuned]]) registers them on every session. */
class ExtensionsSpec extends SparkSpec {

  test("qcosine is callable from SQL and matches the Column API") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(3L, 2L, 1L)),
      (Array(5L, 0L), Array(0L, 5L))
    ).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT qcosine(a, b) AS c FROM vecs")
      .as[Double].collect().toSeq
    val viaCol = df.select(QCosine($"a", $"b").as("c")).as[Double].collect().toSeq
    assert(viaSql === viaCol)
    assert(viaSql(1) === 0.0)
  }

  test("qcosine SQL arity is validated") {
    val e = intercept[Exception] {
      spark.sql("SELECT qcosine(array(1L)) AS c").collect()
    }
    assert(e.getMessage.contains("2 arguments") ||
           e.getMessage.toLowerCase.contains("qcosine"))
  }

  test("qcosine rejects non-bigint arrays at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT qcosine(array(1, 2), array(3, 4)) AS c").collect()
    }
    assert(e.getMessage.contains("array<bigint>"))
  }

  test("sorted_overlap is callable from SQL") {
    import spark.implicits._
    val got = spark.sql(
      "SELECT sorted_overlap(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS n")
      .as[Long].head()
    assert(got === 2L)
  }

  test("minhash_sig is callable from SQL with literal k and p") {
    import spark.implicits._
    val sig = spark.sql(
      "SELECT minhash_sig(array(7L, 9L), 4, 4294967311L) AS sig")
      .as[Seq[Long]].head()
    assert(sig.length === 4)
    // spot-check hash function i=0: min(7*1+12345, 9*1+12345) = 12352
    assert(sig.head === 12352L)
  }

  test("minhash_sig rejects NULL / string / non-literal k and p clearly") {
    for (sql <- Seq(
      "SELECT minhash_sig(array(7L), NULL, 4294967311L)",     // NULL k
      "SELECT minhash_sig(array(7L), 'four', 4294967311L)",   // string k
      "SELECT minhash_sig(array(7L), 4, CAST(rand()*10 AS BIGINT))", // non-foldable p
      "SELECT minhash_sig(array(7L), 0, 4294967311L)",        // k out of range
      "SELECT minhash_sig(array(7L), 4, 1)"                   // p out of range
    )) {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("minhash_sig")), s"opaque error for: $sql → $e")
    }
  }

  test("max_run is callable from SQL and matches the Column API") {
    import spark.implicits._
    assert(spark.sql("SELECT max_run(array('a', 'a', 'a', 'b'))")
      .as[Long].head() === 3L)
    assert(spark.sql("SELECT max_run(sort_array(array('b', 'a', 'b')))")
      .as[Long].head() === 2L)
    val e = intercept[Exception] {
      spark.sql("SELECT max_run(array(1, 2))").collect()
    }
    assert(e.getMessage.contains("array<string>"))
  }

  test("max_pair_multiplicity is callable from SQL with typed errors") {
    import spark.implicits._
    // "a b" repeats twice among the adjacent pairs of this word list
    assert(spark.sql(
      "SELECT max_pair_multiplicity(array('a', 'b', 'c', 'a', 'b'))")
      .as[Long].head() === 2L)
    assert(spark.sql("SELECT max_pair_multiplicity(array('only'))")
      .as[Long].head() === 0L)
    val e = intercept[Exception] {
      spark.sql("SELECT max_pair_multiplicity(array(1, 2))").collect()
    }
    assert(e.getMessage.contains("array<string>"))
  }
}
