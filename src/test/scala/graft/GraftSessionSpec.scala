package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{Keccak256Expr, MappingLeafDigestExpr, MappingLeafHashExpr}

/** The engine session's SQL surface: the functions the extensions
  * inject plan as their native expressions, not as a same-named UDF
  * registered over them. */
class GraftSessionSpec extends AnyFunSuite {
  test("Graft.session plans keccak256 / mapping_leaf_hash / mapping_leaf_digest natively") {
    val spark = Graft.session("local[2]", 2)
    try {
      val k = "CAST(repeat('k', 32) AS BINARY)"
      val v = "CAST(repeat('v', 32) AS BINARY)"
      val plan = spark.sql(s"SELECT keccak256($k) AS h, mapping_leaf_hash($k, $v) AS lh, " +
        s"mapping_leaf_digest($k, $v) AS ld").queryExecution.analyzed
      val exprs = plan.expressions.flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[Keccak256Expr]), plan)
      assert(exprs.exists(_.isInstanceOf[MappingLeafHashExpr]), plan)
      assert(exprs.exists(_.isInstanceOf[MappingLeafDigestExpr]), plan)
      assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), plan)
    } finally spark.stop()
  }
}
