package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

import graft.plans.{AsOfJoin, GramianAgg, VecSumAgg}

/** The one registry of graft's custom Catalyst kernels. `Column`↔
  * `Expression` bridging is private in Spark 4, so a kernel becomes
  * callable by registering a (name → builder) pair in the session's
  * function registry and calling it by name through `call_function`.
  * Each kernel module contributes one such table; [[register]] installs
  * all of them — plus the as-of join's optimizer rule and planner
  * strategy — once per session, and [[call]] is the bridge every
  * Column helper goes through.
  */
object Kernels {

  type Builder = Seq[Expression] => Expression

  private lazy val table: Seq[(String, Builder)] =
    VectorExprs.kernels ++ SketchExprs.kernels ++ TextExprs.kernels ++
      SketchGate.kernels ++ RangeBucketExpr.kernels ++ VecSumAgg.kernels ++
      GramianAgg.kernels ++ AsOfJoin.kernels ++ CsvExprs.kernels

  // once per session (WeakHashMap so dropped sessions release): per-call
  // createOrReplaceTempFunction churn warns "replaced a previously
  // registered function" and rebuilds the registry entries every call
  private val registeredSessions =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Idempotently register every kernel, and the as-of rule + strategy,
    * in `spark`.
    */
  def register(spark: SparkSession): Unit = registeredSessions.synchronized {
    if (!registeredSessions.containsKey(spark)) {
      val reg = spark.sessionState.functionRegistry
      table.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "built-in")
      }
      // a cloneSession() copy inherits its parent's rule and strategy
      val exp = spark.experimental
      if (!exp.extraOptimizations.contains(AsOfJoin.RewriteAsOfJoin))
        exp.extraOptimizations =
          exp.extraOptimizations :+ AsOfJoin.RewriteAsOfJoin
      if (!exp.extraStrategies.contains(AsOfJoin.AsOfJoinStrategy))
        exp.extraStrategies = exp.extraStrategies :+ AsOfJoin.AsOfJoinStrategy
      registeredSessions.put(spark, java.lang.Boolean.TRUE): Unit
    }
  }

  /** The kernel `name` applied to `args`, registered in the active
    * session first.
    */
  def call(name: String, args: Column*): Column =
    call(SparkSession.active, name, args: _*)

  /** The kernel `name` applied to `args`, registered in `spark` first —
    * for a Column that goes into a frame of `spark` when that session
    * need not be the active one.
    */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    register(spark)
    call_function(name, args: _*)
  }

  /** Driver-side value of a literal kernel argument. */
  private[graft] def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
}
