package graft

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate-runtime governance: the registry grows every round and the gate
  * must stay sub-linear in wall time, so each query carries a per-query
  * wall budget at sf0.01 (`BudgetSec`, default 10 s; first-toucher
  * JIT/page-cache warmup exempts the opening `WarmupGrace` queries). A
  * breach is loud (`[verify] BUDGET ...` on stderr + a summary line) —
  * a future operator that makes the gate itself quadratic goes red in
  * the gate log instead of silently doubling the round time. A query
  * that throws is listed in a `[verify] FAILED` summary line. */
object Verify {
  val BudgetSec = 10.0
  val WarmupGrace = 3

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var overBudget = List.empty[(String, Double)]
    var failed = List.empty[String]
    var idx = 0
    // sorted-name order (as BenchCheck iterates): the WarmupGrace
    // exemption then lands on a DETERMINISTIC opening workload instead
    // of 3 arbitrary entries of HashMap iteration order
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      idx += 1
      if (sec > BudgetSec && idx > WarmupGrace) {
        overBudget ::= (name, sec)
        System.err.println(f"[verify] BUDGET $name took $sec%.1f s " +
          f"(> $BudgetSec%.0f s per-query budget at sf0.01)")
      }
      Caches.sweep(spark) // drop dead checkpoint blocks between queries
    }
    OracleJson.writeTo(s"$outDir/oracle_sql.json")
    System.err.println(s"[verify] FAILED ${failed.size}" +
      (if (failed.isEmpty) "" else failed.reverse.mkString(": ", ", ", "")))
    if (overBudget.nonEmpty)
      System.err.println(s"[verify] BUDGET SUMMARY ${overBudget.size} " +
        s"quer${if (overBudget.size == 1) "y" else "ies"} over " +
        s"$BudgetSec s: " + overBudget.reverse.map { case (n, s) =>
          f"$n=$s%.1f" }.mkString(", "))
    else
      System.err.println("[verify] BUDGET all queries within " +
        s"$BudgetSec s at sf0.01")
    spark.stop()
  }
}
