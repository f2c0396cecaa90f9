package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` entry point: injects the engine's native
  * expressions as session catalog functions at session build time, so a
  * plain-SQL user gets them without any graft Scala call — the idiomatic
  * deployment path for a library of custom Catalyst expressions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions())
  * }}}
  *
  * Only the parameter-free expressions are injectable (hyperplane_bucket
  * carries a driver-built plane matrix and stays a per-call temp
  * function, see `Similarity`). The per-call `register(spark)` helpers on
  * each function object remain for sessions built without extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info(classOf[functions.CosineSimilarity], "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float arrays"),
      (e: Seq[Expression]) => functions.CosineSimilarity(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info(classOf[functions.DotProduct], "dot_product",
        "dot_product(a, b) - dot product of two float arrays"),
      (e: Seq[Expression]) => functions.DotProduct(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("rolling_hash"),
      info(classOf[functions.RollingHash], "rolling_hash",
        "rolling_hash(s) - polynomial rolling hash of a string"),
      (e: Seq[Expression]) => functions.RollingHash(e.head)))
    ext.injectFunction((FunctionIdentifier("zorder2"),
      info(classOf[functions.ZOrder2], "zorder2",
        "zorder2(x, y) - 2-D Morton interleave of two bigints"),
      (e: Seq[Expression]) => functions.ZOrder2(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("topk_by_value"),
      info(classOf[functions.TopKByValue], "topk_by_value",
        "topk_by_value(v, id, k) - top-k (v, id) pairs per group, v DESC"),
      (e: Seq[Expression]) => functions.TopKByValue(e(0), e(1),
        e(2).eval().asInstanceOf[Number].intValue())))
    // window-rank top-k → bounded-heap aggregate (see plans.TopKRewrite
    // for the exact safety conditions)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // native AS-OF join physical operator (plans.NativeAsOfJoin)
    ext.injectPlannerStrategy(_ => graft.plans.NativeAsOfJoin.AsOfStrategy)
    // Avro codec: decode_transaction(_safe) / encode_approved, and the
    // decode plan node's strategy (plans.DecodeFrames)
    graft.pipeline.TransactionAvro.functionDescriptions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.DecodeFrames.DecodeStrategy)
  }
}
