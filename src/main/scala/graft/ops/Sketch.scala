package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared sketch hashing kernels. ONE definition serves the batch query
  * (Round9b.q_cms_heavy) and its probes, so the sketch build and its
  * readers can never silently drift from each other.
  *
  * All hashing goes through md5 hex nibbles — engine-portable (DuckDB
  * reproduces it via [[h3Sql]]'s strpos expansion), deterministic, and
  * codegen'd on the Spark side.
  */
object Sketch {

  /** First-3-nibble md5 hash (0..4095) of a string Column — the CMS row
    * hash. conv(hex, 16, 10) on 3 digits is exact in both engines. */
  def h3(e: Column): Column =
    conv(substring(md5(e), 1, 3), 16, 10).cast("long")

  /** DuckDB twin of [[h3]] via nibble expansion (no base-16 conv). */
  def h3Sql(e: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5($e), $i, 1)) - 1)"
    s"(${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)})"
  }

  /** Count-min bucket for `key` in sketch row `r`: h3("r:key") mod
    * `width`. The (row, key) concatenation makes the `depth` row hashes
    * pairwise independent enough for the CMS bound while staying one
    * md5 per cell. */
  def cmsBucket(key: Column, r: Column, width: Long): Column =
    pmod(h3(concat(r.cast("string"), lit(":"), key.cast("string"))),
      lit(width))

  /** JVM twin of [[h3]] (first-3-nibble md5 hash) — pinned equal to the
    * Column form in KernelPropertySpec; the streaming bitmap state fold
    * uses it so the streamed cells are BY CONSTRUCTION the ones the
    * batch q_bitmap_distinct probes. */
  def h3Jvm(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 3), 16)
  }

  /** Linear-counting bitmap cell for `key`: h3 mod `width` — the
    * mergeable distinct-count sketch (bitmaps of sub-streams OR
    * together; occupied-cell count is the estimator input). ONE
    * definition serves q_bitmap_distinct and any probe. */
  def bitmapCell(key: Column, width: Long): Column =
    pmod(h3(key.cast("string")), lit(width))

  /** The 4×`width` sketch build: explode each key over the `depth` rows,
    * bucket, and count — ONE keyed rollup whose map-side combine bounds
    * shuffle rows at depth·width·partitions no matter the input volume
    * (the point of CMS at 100 TB). Works identically on a batch frame
    * and a streaming frame (the groupBy becomes a stateful agg). */
  def cmsSketch(keyed: org.apache.spark.sql.DataFrame, keyCol: String,
                depth: Int = 4, width: Long = 1024L): org.apache.spark.sql.DataFrame =
    keyed
      .select(col(keyCol).cast("string").as("k"),
        explode(array((0 until depth).map(lit): _*)).as("r"))
      .withColumn("bucket", cmsBucket(col("k"), col("r"), width))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Moments-sketch vector (Gan et al.) over a grouped long column: the
    * exact integer (n, Σq..Σq⁴, min, max) per group — the ADDITIVELY
    * mergeable quantile-approximation state: two sub-streams' vectors
    * merge by adding the sums and min/max-ing the extremes, so 1000
    * executors combine per-group O(1) state without reshuffling rows.
    * The same groupBy runs unchanged as a stateful streaming aggregate.
    *
    * OVERFLOW BOUND: the powers and sums accumulate in DECIMAL(38,0),
    * never raw long arithmetic — q⁴ up to |q| ≈ 3·10⁹ and group sums up
    * to 10³⁸ are exact, far past any cents-grain input. The emitted
    * columns are cast back to LongType for the mergeable-vector
    * contract; a sum whose exact value exceeds Long range comes back
    * NULL (an honest overflow signal) instead of a silently wrapped
    * long. Two distinct overflow surfaces are guarded: (a) the SUM
    * exceeding Long range (checked on the exact decimal before the
    * cast), and (b) a single ROW's power exceeding DECIMAL(38,0) —
    * q³ past |q| ≈ 4.6·10¹², q⁴ past |q| ≈ 3·10⁹ — which non-ANSI
    * Spark turns into a NULL row that sum() would silently skip. The
    * row-level guard compares count(power) to count(q) and nulls the
    * whole sum on any mismatch, so arbitrary streaming inputs cannot
    * corrupt the vector with a wrong-but-non-NULL partial sum. */
  def momentVector(grouped: org.apache.spark.sql.DataFrame, grpCol: String,
                   valCol: String): org.apache.spark.sql.DataFrame = {
    val q = col(valCol)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // decimal→long CAST wraps in non-ANSI Spark, so the Long-range guard
    // is explicit: out-of-range exact sums emit NULL
    def longOrNull(c: Column): Column =
      when(c.between(lit(Long.MinValue), lit(Long.MaxValue)), c.cast("long"))
    // per-row decimal overflow (q³/q⁴ past 38 digits) nulls the row, and
    // sum() would skip it — null the WHOLE sum instead of emitting a
    // partial: any power-row lost vs the non-null inputs poisons that sum
    def sumHonest(p: Column): Column =
      when(count(p) === count(q), longOrNull(sum(p)))
    grouped.groupBy(col(grpCol))
      .agg(count(lit(1)).as("n"), sumHonest(q).as("s1"),
        sumHonest(q * q).as("s2"),
        sumHonest(q * q * q).as("s3"),
        sumHonest(q * q * q * q).as("s4"),
        min(col(valCol)).as("q_min"), max(col(valCol)).as("q_max"))
  }

  /** HyperLogLog registers over a keyed frame: 256 buckets from the
    * low byte of the 32-bit md5-prefix hash, register = max
    * leading-zero rank (rho = 25 − length(bin(rem)) on the 24-bit
    * remainder — all integer via bin()). Registers MAX-merge across
    * sub-streams/executors; ≤256 rows of state no matter the volume.
    * The same groupBy-max runs unchanged as a streaming aggregate.
    * Returns (bucket, m). */
  def hllRegisters(keyed: org.apache.spark.sql.DataFrame,
                   keyCol: String): org.apache.spark.sql.DataFrame =
    keyed
      .where(col(keyCol).isNotNull)
      .select(conv(substring(md5(col(keyCol).cast("string")), 1, 8),
        16, 10).cast("long").as("h"))
      .select((col("h") % 256).as("bucket"),
        graft.queries.idiv(col("h"), lit(256L)).as("rem"))
      .withColumn("rho", when(col("rem") === 0, lit(25L))
        .otherwise(lit(25L) - length(bin(col("rem"))).cast("long")))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m"))
}
