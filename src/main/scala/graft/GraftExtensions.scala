package graft

import graft.functions.{CosineSim, JaccardSorted, Md5Bucket, SigMatchCount}
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one route that makes the engine's SQL functions part of a
  * session, in the style of a strategy's
  * `setup(session)`: `GraftExtensions.install(spark)` on a running
  * session. The library's own queries use the Column API
  * (`CosineSim.cosineSim`, `LayoutOps.zorderKey`, …) and need no
  * install; `Session.local` does not call it.
  *
  * No rule is installed to fold literal calls: each expression extends
  * Binary/TernaryExpression, whose `foldable` contract (all children
  * foldable) lets Catalyst's built-in ConstantFolding evaluate them at
  * plan time (pinned by GraftExtensionsSpec). */
object GraftExtensions {

  /** Each SQL function: name, the class its catalog entry names, arity,
    * Catalyst builder. The builders run inside the analyzer, so they
    * emit resolved Catalyst nodes directly. */
  private val sqlFunctions
      : Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim], 2, a => CosineSim(a(0), a(1))),
    ("jaccard_sorted", classOf[JaccardSorted], 2,
      a => JaccardSorted(a(0), a(1))),
    ("sig_match_count", classOf[SigMatchCount], 2,
      a => SigMatchCount(a(0), a(1))),
    ("md5_bucket", classOf[Md5Bucket], 3, a => Md5Bucket(a(0), a(1), a(2))),
    ("zorder_key", ops.LayoutOps.getClass, 2,
      a => ops.LayoutOps.zorderKeyExpr(a(0), a(1))))

  /** Register the five functions in `spark`'s function registry.
    * Idempotent: a function is re-registered in place. Only `spark`
    * changes — a `newSession()` of it, or its parent, keeps its own
    * registry. */
  def install(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, cls, arity, build) =>
      GraftShims.registerFunction(spark, name,
        new ExpressionInfo(cls.getName, name), { args =>
          require(args.length == arity,
            s"$name expects $arity arguments, got ${args.length}")
          build(args)
        })
    }
}
