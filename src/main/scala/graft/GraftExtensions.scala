package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.VectorExprs

/** Spark-idiomatic library entry point: enable the graft codegen
  * kernels on any session with
  * `spark.sql.extensions=graft.GraftExtensions` — no imperative
  * `VectorExprs.register` call needed, and the functions are injected
  * at session build, so they exist before the first query (including
  * in spark-sql / JDBC contexts that never touch Scala code).
  * Injects exactly [[graft.functions.VectorExprs.functions]], the
  * table `VectorExprs.register` installs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VectorExprs.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
