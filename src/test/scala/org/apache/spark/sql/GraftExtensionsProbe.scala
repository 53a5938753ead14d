package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkStrategy

/** The planner strategies a session built with
  * `spark.sql.extensions=graft.GraftExtensions` receives: Spark's session
  * state builder asks the extensions for them through the `private[sql]`
  * `buildPlannerStrategies`, which this reaches from the test tree. */
object GraftExtensionsProbe {
  def plannerStrategies(spark: SparkSession): Seq[SparkStrategy] = {
    val extensions = new SparkSessionExtensions
    new _root_.graft.GraftExtensions()(extensions)
    extensions.buildPlannerStrategies(spark)
  }
}
