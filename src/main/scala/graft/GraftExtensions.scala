package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions registering the engine's native expressions as
  * SQL functions, so `spark.sql("SELECT simhash64(text) ...")` works —
  * the full custom-function surface is reachable from pure SQL.
  * [[Session.local]] installs it in every session the program builds.
  *
  * The planner strategies (as-of and interval-overlap joins) are not
  * injected here: `AsOfJoin.backward` and `IntervalOverlapJoin.overlap`
  * attach them at the use site, which also covers sessions built
  * without these extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // opt-in COUNT(DISTINCT) → HLL++ rewrite, governed per session by
    // spark.graft.approxDistinct (see the rule's scaladoc)
    e.injectOptimizerRule(session =>
      graft.plans.ApproxDistinctRewrite(session))
  }
}

/** The SQL function surface [[GraftExtensions]] injects: name → builder. */
object GraftFunctions {
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> (exprs => RollingHashExpr(exprs.head)),
    "simhash64" -> (exprs => SimHash64Expr(exprs.head)),
    "minhash_signature" -> (exprs => MinHashSigExpr(exprs.head)),
    "fnv1a64" -> (exprs => Fnv1a64Expr(exprs.head)),
    "hll_hash" -> (exprs => HllHashExpr(exprs.head)),
    "nfc_normalize" -> (exprs => NfcNormalizeExpr(exprs.head)),
    "simhash64_fnv" -> (exprs => SimHashFnvExpr(exprs.head)),
    "minhash_signature_fnv" -> (exprs => MinHashSigFnvExpr(exprs.head)),
    "shingles" -> (exprs => ShinglesExpr(exprs.head,
      exprs.lift(1).map(_.eval().asInstanceOf[Int]).getOrElse(3))),
    "sorted_shingle_hashes" -> (exprs =>
      JaccardOps.SortedShingleHashesExpr(exprs.head,
        exprs.lift(1).map(_.eval().asInstanceOf[Int]).getOrElse(3))),
    "jaccard_sorted" -> (exprs =>
      JaccardOps.JaccardSortedExpr(exprs.head, exprs(1))),
    "vec_dot" -> (exprs => VectorOps.DotExpr(exprs.head, exprs(1))),
    "vec_l1" -> (exprs => VectorOps.L1Expr(exprs.head, exprs(1))),
    "hilbert_key" -> (exprs => HilbertExpr(exprs.head, exprs(1))),
  )
}
