package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class CosineFusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val vecs = Seq(
    (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
    (1L, Array(0.5f, -1.0f, 2.5f, 0.0f))
  ).toDF("id", "v")

  test("hand-written dot/(norm*norm) is fused into one VectorCosine pass") {
    import VectorFunctions._
    val pairs = vecs.as("l").crossJoin(vecs.as("r"))
    val handWritten = pairs.select(
      (vecDot($"l.v", $"r.v") /
        (sqrt(vecDot($"l.v", $"l.v")) * sqrt(vecDot($"r.v", $"r.v")))).as("cos"))
    val optimized = handWritten.queryExecution.optimizedPlan
    val fused = optimized.expressions.flatMap(_.collect { case c: VectorCosine => c })
    assert(fused.nonEmpty, s"expected VectorCosine in optimized plan:\n$optimized")
    // and values equal the direct one-pass form
    val direct = pairs.select(vecCosine($"l.v", $"r.v").as("cos"))
    assert(handWritten.as[Double].collect().toSeq == direct.as[Double].collect().toSeq)
  }

  test("fusion does not fire when the norm arguments differ") {
    import VectorFunctions._
    val pairs = vecs.as("l").crossJoin(vecs.as("r"))
    val notCosine = pairs.select(
      (vecDot($"l.v", $"r.v") /
        (sqrt(vecDot($"l.v", $"l.v")) * sqrt(vecDot($"l.v", $"l.v")))).as("x"))
    val fused = notCosine.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case c: VectorCosine => c })
    assert(fused.isEmpty)
  }

  test("adopt plans a session without extensions like builder: fusion on, once") {
    val vanilla = org.apache.spark.sql.graft.TestSessions.withoutExtensions(spark)
    graft.GraftSession.adopt(vanilla)
    graft.GraftSession.adopt(vanilla)
    assert(vanilla.experimental.extraOptimizations.count(_ == CosineFusion) == 1,
      "a second adopt adds nothing")
    // a builder session has the rule from its extensions: adopt adds none
    graft.GraftSession.adopt(spark)
    assert(!spark.experimental.extraOptimizations.contains(CosineFusion))
    // the adopted session fuses the hand-written form ...
    val v = vanilla.createDataFrame(vecs.collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))).toDF("id", "v")
    val hand = v.as("l").crossJoin(v.as("r")).select(
      (VectorFunctions.vecDot($"l.v", $"r.v") / (sqrt(VectorFunctions.vecDot($"l.v", $"l.v")) *
        sqrt(VectorFunctions.vecDot($"r.v", $"r.v")))).as("cos"))
    assert(hand.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[VectorCosine])))
    // ... and optimizes a registry cosine query to the builder's plan
    // (expression ids and lambda-variable suffixes differ per session)
    def plan(s: org.apache.spark.sql.SparkSession): String =
      graft.SparkEntry.queries("sim_topk_brute")(s, graft.TestSpark.sf)
        .queryExecution.optimizedPlan.treeString.replaceAll("(_\\d+)?#\\d+L?", "#")
    assert(plan(vanilla) == plan(spark))
  }
}
