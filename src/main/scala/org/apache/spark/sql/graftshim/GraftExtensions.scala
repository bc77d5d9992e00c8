package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Session-extension registration for graft's native expressions, making
 * them first-class SQL functions (`SELECT graft_dot(a, b)`) alongside
 * the Column API ([[graft.functions.VectorFunctions]]).
 *
 * Cluster use: `--conf spark.sql.extensions=org.apache.spark.sql.graftshim.GraftExtensions`
 * (applied when the session is BUILT). For an already-running session —
 * tests, notebooks — [[GraftFunctionRegistry.register]] installs the same
 * functions directly on the session's registry.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctionRegistry.all.foreach(ext.injectFunction)
}

object GraftFunctionRegistry {

  private def binary(name: String, cls: Class[_],
                     mk: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      {
        case Seq(a, b) => mk(a, b)
        case other => throw new IllegalArgumentException(
          s"$name expects exactly 2 arguments, got ${other.size}")
      })

  /** (name, info, builder) triple in the injectFunction shape. */
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    binary("graft_dot", classOf[DotProduct], DotProduct.apply)

  val hammingFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    binary("graft_hamming", classOf[HammingDistance], HammingDistance.apply)

  val l2muFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    binary("graft_l2mu", classOf[MicroSquaredDistance], MicroSquaredDistance.apply)

  private def ternary(name: String, cls: Class[_],
                      mk: (Expression, Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      {
        case Seq(a, b, c) => mk(a, b, c)
        case other => throw new IllegalArgumentException(
          s"$name expects exactly 3 arguments, got ${other.size}")
      })

  val subdist2Function: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    ternary("graft_subdist2", classOf[SubvectorDist2], SubvectorDist2.apply)

  val all = Seq(dotFunction, hammingFunction, l2muFunction, subdist2Function)

  /** Install on a live session (the post-build twin of [[GraftExtensions]]). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
