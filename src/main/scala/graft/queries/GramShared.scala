package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared exact-integer Gram/moment frames of the embedding corpus,
  * one set per (session, dataset), so the second-moment family (`sim_cov_moments`,
  * `sim_power_iteration`, `sim_power_convergence`, `sim_opq_rotate`,
  * `sim_opq_permute`, `sim_opq_gain`, `sim_dim_stats`) pays for ONE
  * O(n·d²) Gram pass + ONE O(n·d) per-dimension moment pass per session
  * per dataset instead of one each. Before this frame existed the driver
  * bench measured `sim_power_convergence` literally re-running the whole
  * `sim_power_iteration` plan (Gram explode + 2 iterations + 2
  * checkpoints) — 18.8× its committed anchor.
  *
  * All three frames are bounded REGARDLESS of corpus size (2,080 / 64 /
  * 64 rows — functions of the dimension d = 64 only), so pinning them is
  * free at any scale; at 100 TB this is the textbook "sufficient
  * statistics once, analytics many" split: the corpus-sized passes run
  * once, every consumer is then O(d²) arithmetic on a few-KB frame.
  */
object GramShared {

  /** Upper-triangle pair-product expansion of the milli-quantized vector:
    * (i ≤ j, mq[i]·mq[j]) — 2,080 structs per row, collapsed map-side. */
  private val gramExpr =
    """flatten(transform(sequence(0, 63), i ->
      |  transform(sequence(i, 63), j ->
      |    struct(CAST(i AS BIGINT) AS d1, CAST(j AS BIGINT) AS d2,
      |           mq[i] * mq[j] AS xy))))""".stripMargin

  /** The checkpointed 2,080-cell Gram triangle: (d1 ≤ d2, n, sum_xy)
    * over the [[SimShared.miln]] milli-quantized components. `n` is the
    * corpus row count (every row contributes every cell). */
  private[graft] val gram = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) => {
      graft.Caches.shared(SimShared.miln(s, dir)
        .select(col("mq"))
        .select(explode(expr(gramExpr)).as("p"))
        .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .agg(count(lit(1)).as("n"), sum(col("p.xy")).as("sum_xy")))
    })

  /** The checkpointed 64-row per-dimension moment frame:
    * (d, n, sx, sxx, min_milli, max_milli, n_zero) — the superset every
    * variance/calibration consumer projects from. */
  private[graft] val dimStats = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) => {
      graft.Caches.shared(SimShared.miln(s, dir)
        .select(posexplode(col("mq")).as(Seq("d", "x")))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"),
          min(col("x")).as("min_milli"), max(col("x")).as("max_milli"),
          count(when(col("x") === 0L, 1)).as("n_zero"))
        .select(col("d").cast("long").as("d"), col("n"), col("sx"),
          col("sxx"), col("min_milli"), col("max_milli"), col("n_zero")))
    })

  /** Exact integer n·variance per dimension (n·Σx² − (Σx)²) — the
    * ranking key of the OPQ layout family, derived (not stored) from
    * [[dimStats]]: a 64-row projection, free at any scale. */
  private[graft] def varN(s: SparkSession, dir: String): DataFrame =
    dimStats(s, dir).select(col("d"),
      (col("n") * col("sxx") - col("sx") * col("sx")).as("var_n"))

  /** Two checkpointed power-iteration steps on [[gram]]: the 64-row
    * (d, v1_milli, v2_milli) frame `sim_power_iteration` emits and
    * `sim_power_convergence` aggregates — computed once. Each step is a
    * 4,096-cell join against a 64-row vector, rescaled to ±1000 by the
    * max |component| with truncating integer division (bit-stable
    * cross-engine; see the sim_power_iteration registry doc). */
  private[graft] val powerVecs = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) => {
      val tri = gram(s, dir)
      val A = tri.select(col("d1").as("i"), col("d2").as("j"),
          col("sum_xy").as("a"))
        .unionAll(tri.where(col("d1") =!= col("d2"))
          .select(col("d2").as("i"), col("d1").as("j"),
            col("sum_xy").as("a")))
      def step(v: DataFrame, vCol: String, out: String): DataFrame = {
        val raw = A.join(v.withColumnRenamed("d", "j"), Seq("j"))
          .groupBy(col("i").as("d"))
          .agg(sum(col("a") * col(vCol)).as("raw"))
        val mx = raw.agg(max(abs(col("raw"))).as("mx"))
        raw.crossJoin(broadcast(mx))
          .select(col("d"), idiv(col("raw") * 1000, col("mx")).as(out))
      }
      val v0 = tri.select(col("d1").as("d")).distinct()
        .withColumn("v0", lit(1L))
      val v1 = step(v0, "v0", "v1_milli").localCheckpoint(true)
      val v2 = step(v1, "v1_milli", "v2_milli")
      graft.Caches.shared(v1.join(v2, Seq("d")))
    })

  /** Materialize the shared frames (bench warmup) — without it, the
    * first family member in an alphabetical sweep absorbs the corpus
    * passes and its single-shot time reads as that query's cost. */
  def warmShared(s: SparkSession, dir: String): Unit = {
    gram(s, dir).count()
    dimStats(s, dir).count()
    powerVecs(s, dir).count()
    ()
  }
}
