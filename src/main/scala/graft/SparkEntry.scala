package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A join+agg pipeline (TPC-H Q3 shape) that exercises scan → broadcast
    * join → shuffle agg → top-k. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.adopt(spark)
    Relational.queries("q3_join_agg")(spark, "/root/testdata/sf0.001")
  }

  /** Every registry module, named once. */
  private def modules: Seq[Module] = Seq(
    Relational, Etl, TextDedup, SimMm, Advanced, Analytics, Vocab, Audits,
    Round8, Round9, Round9b, Round10, Round10b, Round10c, Round10d,
    Round11, Round11b, Round11c, Round11d, Round11e, Round11f, Round11g,
    Round11h, Round11i, Round11j, Round11k, Round11l, Round11m, Round11n,
    Round11o, Round11p, Round11q, Round11r, Round11s, Round11t, Round11u,
    Round11v, Round11w, Round11x, Round11y, Round12, Round13, Round14,
    Round14b, Round15, Round15b, Round16, Round17, Tpch)

  /** Merge modules into (queries, oracles). A duplicate name, or a query
    * and oracle set that do not pair up, throws — a plain `Map ++` merge
    * would silently keep only the last entry. */
  private[graft] def merge(modules: Seq[Module]): (Map[String, Q], Map[String, String]) = {
    def unique[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
      val dups = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
      require(dups.isEmpty, s"duplicate $what names: ${dups.toSeq.sorted.mkString(", ")}")
      entries.toMap
    }
    val qs = unique("query", modules.flatMap(_.queries))
    val os = unique("oracle", modules.flatMap(_.oracle))
    require(qs.keySet == os.keySet,
      s"queries without an oracle: ${(qs.keySet -- os.keySet).toSeq.sorted.mkString(", ")}; " +
        s"oracles without a query: ${(os.keySet -- qs.keySet).toSeq.sorted.mkString(", ")}")
    (qs, os)
  }

  /** Merged on first access, which throws if the registry is malformed. */
  private lazy val registry = merge(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry._1

  /** DuckDB-runnable oracle SQL per query (same parquet tables). */
  def oracleSql: Map[String, String] = registry._2
}
