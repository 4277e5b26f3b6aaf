package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Degenerate-input robustness: every core operator must return a
  * well-formed EMPTY (or singleton) result on empty / single-row /
  * pathological inputs instead of throwing — at 100 TB a partition,
  * source split, or whole day of data being empty is routine, and an
  * operator that NPEs on it kills the stage.
  */
class EdgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def oneDoc = Seq((1L, "just one tiny doc")).toDF("doc_id", "text")

  test("dedup operators return empty on an empty corpus") {
    assert(Dedup.exactGroups(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text", 3, 0.0).count() == 0)
    assert(Dedup.lshCandidatePairs(emptyDocs, "doc_id", "text", 8, 4).count() == 0)
    assert(Dedup.simhashBuckets(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("dedup operators emit no pairs for a single document") {
    assert(Dedup.ngramJaccardPairs(oneDoc, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.lshCandidatePairs(oneDoc, "doc_id", "text", 8, 4).count() == 0)
    assert(Dedup.exactGroups(oneDoc, "doc_id", "text").count() == 1)
  }

  test("shingle kernels on docs shorter than the shingle width") {
    val short = Seq((1L, "two words"), (2L, "one"), (3L, "")).toDF("doc_id", "text")
    // no 3-gram shingles exist → no postings → no pairs, no throw
    assert(Dedup.ngramJaccardPairs(short, "doc_id", "text", 3, 0.5).count() == 0)
    val sh = short.select(TextAnalysis.shingles($"text", 3).as("s"))
      .select(size($"s").as("n")).as[Int].collect()
    assert(sh.forall(_ == 0))
  }

  test("cluster assembly tolerates an empty edge list") {
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.minLabelClusters(noPairs, 3).count() == 0)
    assert(Dedup.connectedComponents(noPairs).count() == 0)
  }

  test("minhash signatures on an empty-token doc are well-formed") {
    val sigs = Dedup.minhashSignatureArray(
      Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text", 8)
      .select(size($"sig").as("n")).as[Int].collect()
    assert(sigs.sameElements(Array(8)))
  }

  test("similarity search over a single vector returns no neighbors") {
    val one = Seq((0L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(Similarity.topKBrute(one, "vec_id", "embedding", 0L, 10).count() == 0)
    assert(Similarity.nnJoin(one, "vec_id", "embedding", 4, 64, 64).count() == 0)
  }

  test("prefix-filtered pairs cover duplicate docs at threshold 1.0") {
    // t=1.0 → minimal prefixes (single shingle); exact dups MUST still pair
    val dup = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val p = Dedup.ngramJaccardPairs(dup, "doc_id", "text", 3, 1.0)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(p.sameElements(Array((1L, 2L, 1.0))))
  }
}
