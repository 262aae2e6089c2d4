package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.internal.SQLConf

/** Session plumbing Spark keeps package-private: cloning a session,
  * binding an existing plan to another session of the same context, and
  * rebuilding a frame over its own optimized plan.
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

  /** `df` as a DataFrame of its own session over `df`'s optimized plan,
    * so a frame built by stacking operators starts the next query from
    * what Catalyst folded them into: stacked projections collapse into
    * one, filters combine, unions flatten and a projection over local
    * rows folds into them. Within each union, adjacent local relations
    * then merge into one (rows in order, nullability widened), so local
    * rows appended one union at a time stay one child. Same rows, same
    * output attributes; no Spark job runs and no code is compiled.
    *
    * The result embeds every cache the optimized plan substituted as its
    * `InMemoryRelation`: for a `WhisperApi` snapshot, the initial pin and
    * the caches `EnrichService.runClustering` and
    * `updateAllTagBasedLinks` leave. Unpersisting such a cache later does
    * not take it out of this plan: the next query over it rebuilds the
    * cached data and pins it again, out of the cache manager's reach.
    */
  def compact(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      mergeLocalRelations(ds.queryExecution.optimizedPlan))
  }

  private def mergeLocalRelations(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u: Union =>
      val children = u.children.foldRight(List.empty[LogicalPlan]) {
        case (a: LocalRelation, (b: LocalRelation) :: rest) if !a.isStreaming && !b.isStreaming =>
          LocalRelation(Union.mergeChildOutputs(Seq(a.output, b.output)), a.data ++ b.data) :: rest
        case (c, merged) => c :: merged
      }
      if (children.size == 1) children.head else u.copy(children = children)
  }
}
