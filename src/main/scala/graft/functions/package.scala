package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, ScalaUDF}

/** graft's SQL functions. Each function module declares its names once,
  * in its own `sqlFunctions` table; [[graft.GraftExtensions.catalog]]
  * concatenates the tables and is the one place a function enters a
  * session (Hive's single `FunctionRegistry`, SURVEY.md §2.10). */
package object functions {
  /** One SQL function: its name, its `DESCRIBE FUNCTION` info and its
    * builder. */
  type SqlFunction = (String, ExpressionInfo, FunctionBuilder)

  /** A module's table, each name described by the class `impl` that
    * implements it. */
  private[functions] def table(impl: String)(
      fns: (String, FunctionBuilder)*): Seq[SqlFunction] =
    fns.map { case (name, b) => (name, new ExpressionInfo(impl, name), b) }

  /** A Scala function as a named `ScalaUDF` builder, with the encoders,
    * result type and nullability that Spark's own Scala-UDF registration
    * derives from the same types. */
  private[functions] def scalaUdf[R: TypeTag, A1: TypeTag](
      name: String, f: A1 => R): (String, FunctionBuilder) =
    udfEntry(name, f, ScalaReflection.encoderFor[R], Seq(ScalaReflection.encoderFor[A1]))

  private[functions] def scalaUdf[R: TypeTag, A1: TypeTag, A2: TypeTag](
      name: String, f: (A1, A2) => R): (String, FunctionBuilder) =
    udfEntry(name, f, ScalaReflection.encoderFor[R],
      Seq(ScalaReflection.encoderFor[A1], ScalaReflection.encoderFor[A2]))

  private def udfEntry(name: String, f: AnyRef, out: AgnosticEncoder[_],
      ins: Seq[AgnosticEncoder[_]]): (String, FunctionBuilder) = name -> { es =>
    require(es.size == ins.size, s"$name takes ${ins.size} arguments, got ${es.size}")
    ScalaUDF(f, out.dataType, es, ins.map(e => Some(ExpressionEncoder(e))),
      Some(ExpressionEncoder(out)), Some(name), out.nullable, udfDeterministic = true)
  }
}
