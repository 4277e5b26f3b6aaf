package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 25: catalog-wide key integrity and vocabulary growth —
  * the primary-key uniqueness audit over every warehouse table in one
  * artifact (the nightly DQ cover sheet) and the Heaps'-law vocabulary
  * growth curve (does the corpus still teach new tokens, or has the
  * vocab saturated?).
  */
object Round11x extends Module {

  val queries: Map[String, Q] = Map(

    // Catalog-wide PK audit — one cover-sheet row per table: rows,
    // distinct declared-key values, duplicate rows and the verdict.
    // etl_validate_keys audits the events changelog in depth; this is
    // the breadth pass a nightly DQ run signs off with. Each table pays
    // one count-distinct rollup; the artifact is 7 rows forever.
    "etl_pk_audit" -> ((s, dir) => {
      // r18 (§2.4/§6): ONE count-distinct aggregation over the union of
      // the 7 tables' narrow key projections instead of 7 independent
      // aggregate subtrees (each with its own pair of exchanges + AQE
      // stage jobs). Every declared PK here is numeric, so keys unify
      // losslessly as two longs (k2 = -1 where the key is single-column
      // — a real l_linenumber is never negative, so the pad can't
      // collide). Shuffle bytes are unchanged (the same distinct keys
      // cross once, as longs); exchanges drop 14 → 2.
      def keyed(tag: String, df: DataFrame, k1: String, k2: Option[String]) =
        df.select(lit(tag).as("table"), col(k1).cast("long").as("k1"),
          k2.map(col(_).cast("long")).getOrElse(lit(-1L)).as("k2"))
      Seq(
        keyed("customer", Tables.customer(s, dir), "c_custkey", None),
        keyed("lineitem", Tables.lineitem(s, dir), "l_orderkey",
          Some("l_linenumber")),
        keyed("nation", Tables.nation(s, dir), "n_nationkey", None),
        keyed("orders", Tables.orders(s, dir), "o_orderkey", None),
        keyed("part", Tables.part(s, dir), "p_partkey", None),
        keyed("region", Tables.region(s, dir), "r_regionkey", None),
        keyed("supplier", Tables.supplier(s, dir), "s_suppkey", None))
        .reduce(_ unionByName _)
        .groupBy(col("table"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(struct(col("k1"), col("k2"))).as("n_keys"))
        .select(col("table"), col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("n_dup_rows"))
        .withColumn("unique_pk", (col("n_dup_rows") === 0L).cast("long"))
        .orderBy(col("table"))
    }),

    // Heaps'-law vocabulary growth: tokens are credited to the FIRST
    // document (by doc_id) that contains them; per doc-id decile the
    // cumulative distinct vocabulary and cumulative token volume — a
    // curve still climbing at the last decile means more data still
    // buys vocabulary; flat means saturation. Two rollups (per-token
    // min doc + per-doc token counts), the decile sweep on the bounded
    // 10-row frame via a running sum.
    "text_heaps_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val mx = docs.agg(max(col("doc_id")).as("dmax"))
      // both rollups off the shared term-frequency frame (first-doc per
      // token over the frame's keys; occurrence volume = Σtf)
      val tok = TokShared.tf(s, dir)
        .select(col("doc_id"), col("tok"), col("tf"))
        .where(length(col("tok")) > 0)
      def decile(c: org.apache.spark.sql.Column) =
        least(idiv(c * 10, col("dmax") + 1), lit(9L))
      val newVocab = tok.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(mx))
        .groupBy(decile(col("first_doc")).as("dec"))
        .agg(count(lit(1)).as("new_types"))
      val vol = tok.crossJoin(broadcast(mx))
        .groupBy(decile(col("doc_id")).as("dec"))
        .agg(sum(col("tf")).as("n_tokens"))
      val w = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      newVocab.join(vol, Seq("dec"), "full_outer")
        .select(col("dec"), coalesce(col("new_types"), lit(0L)).as("new_types"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .withColumn("cum_vocab", sum(col("new_types")).over(w))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .orderBy(col("dec"))
    })
  )

  val oracle: Map[String, String] = Map(

    "etl_pk_audit" ->
      """WITH u AS (
        |  SELECT 'customer' AS "table", count(*) AS n_rows,
        |    count(DISTINCT c_custkey) AS n_keys FROM customer
        |  UNION ALL SELECT 'lineitem', count(*),
        |    count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL SELECT 'nation', count(*),
        |    count(DISTINCT n_nationkey) FROM nation
        |  UNION ALL SELECT 'orders', count(*),
        |    count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'part', count(*),
        |    count(DISTINCT p_partkey) FROM part
        |  UNION ALL SELECT 'region', count(*),
        |    count(DISTINCT r_regionkey) FROM region
        |  UNION ALL SELECT 'supplier', count(*),
        |    count(DISTINCT s_suppkey) FROM supplier)
        |SELECT "table", CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_rows - n_keys AS BIGINT) AS n_dup_rows,
        |  CAST(CASE WHEN n_rows = n_keys THEN 1 ELSE 0 END AS BIGINT)
        |    AS unique_pk
        |FROM u ORDER BY "table" """.stripMargin,

    "text_heaps_curve" -> {
      s"""WITH mx AS (SELECT max(doc_id) AS dmax FROM documents),
         |tok AS (
         |  SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest($toksSql) AS tok FROM documents) z
         |  WHERE length(tok) > 0),
         |fd AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok),
         |nv AS (
         |  SELECT least(first_doc * 10 // (dmax + 1), 9) AS dec,
         |    count(*) AS new_types
         |  FROM fd, mx GROUP BY 1),
         |vol AS (
         |  SELECT least(doc_id * 10 // (dmax + 1), 9) AS dec,
         |    count(*) AS n_tokens
         |  FROM tok, mx GROUP BY 1),
         |j AS (
         |  SELECT coalesce(nv.dec, vol.dec) AS dec,
         |    coalesce(nv.new_types, 0) AS new_types,
         |    coalesce(vol.n_tokens, 0) AS n_tokens
         |  FROM nv FULL OUTER JOIN vol ON vol.dec = nv.dec)
         |SELECT CAST(dec AS BIGINT) AS dec,
         |  CAST(new_types AS BIGINT) AS new_types,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(sum(new_types) OVER (ORDER BY dec) AS BIGINT) AS cum_vocab,
         |  CAST(sum(n_tokens) OVER (ORDER BY dec) AS BIGINT) AS cum_tokens
         |FROM j ORDER BY dec""".stripMargin
    }
  )
}
