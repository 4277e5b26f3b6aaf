package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs at sf0.001, has an oracle, and the flagship
  * entry returns rows. The cross-engine value check is tools/verify_local.py
  * (DuckDB oracle); this spec guards the contract shape. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("sketch queries: approx within 5% of exact and flagged ok") {
    import org.apache.spark.sql.functions.col
    // the `ok` column IS the sketch-vs-exact audit; it must hold on real
    // data or the oracle hash compare goes red
    Seq("q_approx_distinct", "q_approx_quantile").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, TestSpark.sf)
        .select(col("ok")).collect()
      assert(rows.nonEmpty && rows.forall(_.getBoolean(0)), s"$q sketch out of bound")
    }
  }

  test("registry: 468 unique query names, paired one-to-one with oracles") {
    assert(SparkEntry.queries.size == 468)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    import graft.queries.{Module, Q, Relational, Tpch}
    val dup = intercept[IllegalArgumentException](
      SparkEntry.merge(Seq(Relational, Tpch, Relational)))
    assert(dup.getMessage.contains("duplicate query names"))
    val orphan = new Module {
      val queries: Map[String, Q] = Map("orphan_q" -> Relational.queries("q1_agg"))
      val oracle: Map[String, String] = Map("orphan_o" -> "SELECT 1")
    }
    val unpaired = intercept[IllegalArgumentException](SparkEntry.merge(Seq(orphan)))
    assert(unpaired.getMessage.contains("queries without an oracle: orphan_q"))
    assert(unpaired.getMessage.contains("oracles without a query: orphan_o"))
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("adopt is idempotent: AsOfStrategy is planned once after two calls") {
    GraftSession.adopt(spark)
    GraftSession.adopt(spark)
    assert(spark.sessionState.planner.strategies
      .count(_ == graft.plans.AsOfStrategy) == 1)
    assert(spark.catalog.functionExists("vec_cosine"))
  }

  test("cluster family over a fresh pair index matches the shared-index queries") {
    import org.apache.spark.sql.functions._
    // the query layer memoizes ONE t=0.5 pair-index build per (session,
    // dataset); this proves the sharing is pure — an independent,
    // non-shared build drives every cluster consumer to identical results
    val fresh = graft.ops.Dedup.pairIndex(
      graft.sources.Tables.documents(spark, TestSpark.sf), "doc_id", "text", 3, 0.5)
    val ccFresh = graft.ops.Dedup.connectedComponents(fresh)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("lo"), max(col("id")).as("hi"))
      .collect().toSet
    val ccQuery = SparkEntry.queries("dedup_cc")(spark, TestSpark.sf).collect().toSet
    assert(ccFresh == ccQuery)
    val mlFresh = graft.ops.Dedup.minLabelClusters(fresh, 3)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("lo"), max(col("id")).as("hi"))
      .collect().toSet
    val mlQuery = SparkEntry.queries("dedup_clusters")(spark, TestSpark.sf).collect().toSet
    assert(mlFresh == mlQuery)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name executes at sf0.001") {
      val df = fn(spark, TestSpark.sf)
      assert(df.columns.nonEmpty)
      df.count() // force full execution
    }
  }
}
