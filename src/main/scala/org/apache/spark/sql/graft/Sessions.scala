package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.internal.SQLConf

/** Session plumbing Spark keeps package-private: cloning a session, and
  * binding an existing plan to another session of the same context.
  */
object Sessions {

  /** A clone of `spark` that compiles no code: its confs, functions and
    * rules as they are now carry over (later changes to `spark` do not),
    * whole-stage codegen is off, and every projection, predicate and
    * ordering is built by the interpreted factory. The caller's session
    * is not touched. `codegen.factoryMode` is an internal Spark conf;
    * `HttpApiSpec` pins its effect.
    */
  def interpreted(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession].cloneSession()
    s.sessionState.conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED, false)
    s.sessionState.conf.setConf(SQLConf.CODEGEN_FACTORY_MODE,
      CodegenObjectFactoryMode.NO_CODEGEN)
    s
  }

  /** `df`'s analyzed plan as a DataFrame of `spark`, which plans and runs
    * it from then on; cached data still substitutes, since the cache is
    * shared by every session of one context.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
