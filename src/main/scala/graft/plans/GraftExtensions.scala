package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expr.{FloatDotProduct, PolyHash, ShingleHashes3}

/** SparkSessionExtensions entry point: registers the graft native
  * expressions as SQL functions so `spark.sql("SELECT
  * graft_poly_hash(text) ...")` works anywhere the DataFrame API
  * does. Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => RowNumberTopKRewrite)
    ext.injectResolutionRule(_ => DeduplicateTopKRanks)

    ext.injectFunction((
      FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => PolyHash(args.head)))

    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes3].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes3(args.head)))

    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => FloatDotProduct(args(0), args(1))))
  }
}
