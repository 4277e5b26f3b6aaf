package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record validation + processed/skipped run metrics.
  *
  * The reference drops records whose composite-key parts are missing and
  * counts processed vs skipped per entity, reporting run totals
  * (services/etlService.js:65-75, 206-216, 572-583). Here validation is a
  * single aggregate — conditional counts compute map-side, one row out.
  */
object Quality {

  /** One-row report: total / processed / skipped under `valid`. */
  def keyReport(df: DataFrame, entity: String, valid: Column): DataFrame =
    df.agg(
      count(lit(1)).as("total"),
      count(when(valid, lit(1))).as("processed"),
      count(when(!valid, lit(1))).as("skipped"))
      .select(lit(entity).as("entity"), col("total"), col("processed"), col("skipped"))

  /** Composite-key completeness predicate (all parts non-null). */
  def keysPresent(keys: Seq[String]): Column =
    keys.map(col(_).isNotNull).reduce(_ && _)
}
