package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sinks.KeyedParquetSink

class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("referenceSync runs end-to-end and re-runs idempotently") {
    val target = java.nio.file.Files.createTempDirectory("graft_pipespec").toString + "/t"
    val r1 = Pipelines.referenceSync(spark, TestSpark.sf, target, numBuckets = 8)
    assert(r1.ok && r1.results.map(_.stage) == Seq("extract", "clean", "validate", "upsert"))
    val n1 = KeyedParquetSink.read(spark, target).count()
    assert(n1 > 0)
    val r2 = Pipelines.referenceSync(spark, TestSpark.sf, target, numBuckets = 8)
    assert(r2.ok && KeyedParquetSink.read(spark, target).count() == n1)
  }
}
