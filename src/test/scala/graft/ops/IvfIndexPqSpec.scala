package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.PqShared

/** The PQ-coded persisted ANN store behind `sim_ivf_pq_store`: it
  * answers with the training corpus GONE, and its member-query search
  * is bit-equal to the oracle-green inline sim_ivf_pq_search. */
class IvfIndexPqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def deleteRec(p: String): Unit = {
    val root = new java.io.File(p)
    if (root.isDirectory) root.listFiles.foreach(f => deleteRec(f.getPath))
    root.delete(); ()
  }

  private def emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)

  test("store build → corpus deleted → searchPqById == inline ivfPqSearch") {
    val root = java.nio.file.Files.createTempDirectory("graft_pqst").toString
    // disposable corpus copy — the store must survive its deletion
    emb.write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding", 8)
      .select(col("vec_id").as("vid"), col("cell"))
      .localCheckpoint(true)
    val seeds = Similarity.pqSeeds(corpus, "vec_id", "embedding",
      PqShared.Codebook)
    val codes = Similarity.pqCodes(corpus, "vec_id", "embedding",
      PqShared.Dim, PqShared.Subs, seeds).localCheckpoint(true)
    val quant = corpus.select(col("vec_id").as("vid"),
      Similarity.milliQuant(col("embedding")).as("xq"))
    IvfIndex.buildPqStore(spark, quant, assigned, seeds,
      codes.select(col("vec_id").as("vid"), col("sub"), col("code")),
      s"$root/idx", subs = PqShared.Subs, dim = PqShared.Dim,
      numBuckets = 16)
    // the inline twin is computed BEFORE the corpus dies
    val want = Similarity.ivfPqSearchWith(emb, "vec_id", "embedding",
        0L, 10, 8, PqShared.Dim, PqShared.Subs, seeds, codes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    deleteRec(s"$root/corpus")
    assert(!new java.io.File(s"$root/corpus").exists,
      "training corpus is gone — any rescan would now throw")
    val got = IvfIndex.searchPqById(spark, s"$root/idx", 0L, 10, 16,
        idCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want,
      "stored ADC member search == inline sim_ivf_pq_search, in order")
    deleteRec(root)
  }
}
