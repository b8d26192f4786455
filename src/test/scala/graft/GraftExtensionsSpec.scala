package graft

import graft.functions.CosineSim
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The install route: `GraftExtensions.install` on a session gets the
  * engine's functions in SQL. Each case installs on a `newSession()` of
  * the shared test session (same SparkContext, its own function
  * registry), so the shared session never gains them. */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtensionSession[T](body: SparkSession => T): T = {
    val s2 = SparkTest.session.newSession()
    GraftExtensions.install(s2)
    body(s2)
  }

  test("install is idempotent and reaches only the session it is given") {
    withExtensionSession { s2 =>
      GraftExtensions.install(s2)
      assert(s2.sql("SELECT zorder_key(0, 1)").head().getLong(0) == 2L)
      assert(s2.catalog.functionExists("cosine_sim"))
      assert(s2.experimental.extraOptimizations.isEmpty)
      assert(!SparkTest.session.catalog.functionExists("cosine_sim"))
    }
  }

  test("injectFunction: cosine_sim is callable from SQL") {
    withExtensionSession { s2 =>
      val r = s2.sql(
        """SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c,
          |       cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS o
          |""".stripMargin).collect().head
      assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
    }
  }

  test("injectFunction: sig_match_count is callable from SQL") {
    withExtensionSession { s2 =>
      val r = s2.sql(
        """SELECT sig_match_count(array('aa','bb','cc'),
          |                       array('aa','xx','cc')) AS n
          |""".stripMargin).collect().head
      assert(r.getInt(0) == 2)
    }
  }

  test("injectFunction: zorder_key is callable from SQL and matches the Column API") {
    withExtensionSession { s2 =>
      val r = s2.sql(
        "SELECT zorder_key(12345, 54321) AS z, zorder_key(0, 1) AS lo")
        .collect().head
      // reference per-bit interleave (LayoutSpec's refMorton on these inputs)
      def ref(a: Long, b: Long): Long =
        (0 until 32).foldLeft(0L) { (z, i) =>
          z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
        }
      assert(r.getLong(0) == ref(12345L, 54321L))
      assert(r.getLong(1) == 2L) // b's bit 0 lands at position 1
    }
  }

  test("SQL scalar UDF: CREATE FUNCTION ... RETURN participates in queries") {
    // Spark 4.x SQL-defined UDFs: declarative, catalog-registered, and
    // inlined into the plan as expressions (unlike JVM closures, the
    // optimizer sees through them — they fold and push down).
    val s = SparkTest.session
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_clamp01(x DOUBLE)
            |RETURNS DOUBLE RETURN greatest(0.0D, least(1.0D, x))
            |""".stripMargin)
    val out = s.sql(
      "SELECT graft_clamp01(1.7) AS hi, graft_clamp01(-0.2) AS lo, " +
        "graft_clamp01(0.5) AS mid").head()
    assert(out.getDouble(0) == 1.0 && out.getDouble(1) == 0.0 &&
      out.getDouble(2) == 0.5)
    // literal arguments constant-fold: no udf/invoke node survives
    val plan = s.sql("SELECT graft_clamp01(1.7)")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("1.0"), s"expected folded literal in:\n$plan")
  }

  test("literal cosine_sim constant-folds via the BinaryExpression foldable contract") {
    // no added optimizer rule needed FOR FOLDING: CosineSim inherits
    // foldable = (left.foldable && right.foldable) from
    // BinaryExpression, so built-in ConstantFolding evaluates literal
    // calls at plan time
    withExtensionSession { s2 =>
      val df = s2.sql(
        "SELECT cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS c")
      val remaining = df.queryExecution.optimizedPlan.expressions
        .flatMap(_.collect { case c: CosineSim => c })
      assert(remaining.isEmpty,
        s"expected folded plan, got:\n${df.queryExecution.optimizedPlan}")
      assert(math.abs(df.collect().head.getDouble(0) - 1.0) < 1e-12)
    }
  }
}
