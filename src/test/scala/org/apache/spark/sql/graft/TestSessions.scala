package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Spec access to Spark's package-private session constructor. */
object TestSessions {

  /** A new session on `spark`'s SparkContext without the extensions
    * `spark` was built with: the session a harness that builds its own
    * gets (only `spark.sql.extensions` in the context's conf applies). */
  def withoutExtensions(spark: SparkSession): SparkSession =
    new org.apache.spark.sql.classic.SparkSession(spark.sparkContext)
}
