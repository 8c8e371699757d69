package graft.extensions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{MaxPairMultiplicity, MaxRun, Md5Prefix60, MinHashSig, QCosine, SimHash16, SortedOverlap}

/** Session extensions: registers the engine's native expressions in the
  * SQL function registry, so `spark.sql("... qcosine(a, b) ...")` and the
  * Column API hit the same codegen'd kernel.
  *
  * [[graft.EngineConf.tuned]] registers it on every session the engine
  * builds; another launcher can use
  * `.config("spark.sql.extensions", "graft.extensions.GraftExtensions")`.
  *
  * Per SURVEY.md §7.3 this is the whole custom-Catalyst surface the
  * engine needs: the reference's operator inventory is covered by stock
  * DataFrame/SQL calls, and no custom logical plans, optimizer rules, or
  * strategies are warranted — injecting them anyway would only take plan
  * shapes away from Catalyst/AQE.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Extract a non-null integral literal from a SQL argument, or raise a
    * clear analysis-time error (a bare `e.eval().asInstanceOf[Number]`
    * would surface a NULL or string literal as an opaque NPE / CCE). */
  private def integralLiteral(e: Expression, name: String): Long = e match {
    case e if e.foldable => e.eval() match {
      case n: java.lang.Number
          if Set[org.apache.spark.sql.types.DataType](
            org.apache.spark.sql.types.ByteType,
            org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType).contains(e.dataType) =>
        n.longValue()
      case null => throw new IllegalArgumentException(
        s"minhash_sig: $name must be a non-null integer literal, got NULL")
      case _ => throw new IllegalArgumentException(
        s"minhash_sig: $name must be an integer literal, got type ${e.dataType.simpleString}")
    }
    case _ => throw new IllegalArgumentException(
      s"minhash_sig: $name must be a literal (foldable) integer, got $e")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("qcosine"),
      new ExpressionInfo(classOf[QCosine].getName, "qcosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"qcosine expects 2 arguments, got ${children.length}")
        QCosine(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName, "sorted_overlap"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"sorted_overlap expects 2 arguments, got ${children.length}")
        SortedOverlap(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("max_run"),
      new ExpressionInfo(classOf[MaxRun].getName, "max_run"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"max_run expects 1 argument, got ${children.length}")
        MaxRun(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"md5_prefix60 expects 1 argument, got ${children.length}")
        Md5Prefix60(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("max_pair_multiplicity"),
      new ExpressionInfo(classOf[MaxPairMultiplicity].getName,
        "max_pair_multiplicity"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"max_pair_multiplicity expects 1 argument, got ${children.length}")
        MaxPairMultiplicity(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"simhash16 expects 1 argument, got ${children.length}")
        SimHash16(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        // minhash_sig(hs, k, p): k and p must be foldable integer literals.
        require(children.length == 3,
          s"minhash_sig expects 3 arguments (array, k, p), got ${children.length}")
        val k = integralLiteral(children(1), "k")
        val p = integralLiteral(children(2), "p")
        require(k >= 1 && k <= 4096,
          s"minhash_sig: k must be in [1, 4096], got $k")
        require(p >= 2, s"minhash_sig: p must be >= 2, got $p")
        MinHashSig(children(0), k.toInt, p)
      }))
  }
}
