package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "dog lazy the over jumps fox brown quick the"),   // permutation of 1
    (4L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("TextAnalysis.tokenCount / stopwordCount / shingles") {
    val r = docs.where($"doc_id" === 1).select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.stopwordCount($"text").as("s"),
      size(TextAnalysis.shingles($"text", 3)).as("sh")).as[(Long, Long, Int)].collect().head
    assert(r == ((9L, 2L, 7)))
  }

  test("TextAnalysis.shingles guards short docs") {
    val r = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(size(TextAnalysis.shingles($"text", 3)).as("n")).as[Int].collect().head
    assert(r == 0)
  }

  test("TextAnalysis.bowFingerprint is permutation-invariant") {
    val fps = docs.select($"doc_id", TextAnalysis.bowFingerprintOf(TextAnalysis.tokens($"text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(3L) && fps(1L) != fps(4L))
  }

  test("Dedup.exactGroups groups exact duplicates") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keeper").as[(String, Long, Long)].collect()
    assert(g.map(x => (x._2, x._3)).toSeq == Seq((2L, 1L), (1L, 3L), (1L, 4L)))
  }

  test("Dedup.minhash+LSH flags exact and permuted dups as candidates") {
    val sigs = Dedup.minhashSignatureArray(docs, "doc_id", "text", 8)
    assert(sigs.where(size($"sig") === 8).count() == 4)
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4)
      .as[(Long, Long)].collect().toSet
    // permutation has identical token set → identical signature → all
    // three of 1,2,3 pair up; 4 shares nothing.
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("native minhash_sigs matches the HOF transform/array_min form") {
    val edge = docs.unionByName(Seq(
      (10L, ""),                       // empty text
      (11L, "one"),                    // single token
      (12L, null.asInstanceOf[String]) // null text
    ).toDF("doc_id", "text"))
    val toks = array_distinct(TextAnalysis.tokens($"text"))
    val hof = transform(sequence(lit(0), lit(7)), s =>
      array_min(transform(toks, t => md5(concat(s.cast("string"), lit(":"), t)))))
    val both = edge.select($"doc_id",
        graft.functions.TextFunctions.minhashSigs(toks, 8).as("native"), hof.as("ref"))
      .as[(Long, Seq[Option[String]], Seq[Option[String]])].collect()
    both.foreach { case (id, n, r) => assert(n == r, s"doc $id") }
  }

  test("native md5_min matches the HOF array_min(transform(md5)) form") {
    val edge = docs.unionByName(Seq(
      (10L, ""), (11L, "one two"), (12L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
    val sh = TextAnalysis.shingles($"text", 3)
    val both = edge.select($"doc_id",
        graft.functions.TextFunctions.md5Min(sh).as("native"),
        array_min(transform(sh, s => md5(s))).as("ref"))
      .as[(Long, Option[String], Option[String])].collect()
    both.foreach { case (id, n, r) => assert(n == r, s"doc $id") }
  }

  test("native simhash16 matches the HOF bit-vote fold") {
    val edge = docs.unionByName(Seq(
      (10L, ""), (11L, "one"), (12L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
    val hs = transform(TextAnalysis.tokens($"text"), t => md5(t))
    val hof = (0 until 16).map { j =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(conv(h.substr(j / 4 + 1, 1), 16, 10).cast("int"), j % 4) % 2 === 1,
          lit(1L)).otherwise(lit(-1L)))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val both = edge.select($"doc_id",
        graft.functions.TextFunctions.simhash16(TextAnalysis.tokens($"text")).as("native"),
        hof.as("ref"))
      .as[(Long, Long, Long)].collect()
    both.foreach { case (id, n, r) => assert(n == r, s"doc $id") }
  }

  test("Dedup.simhash16 identical for dups, stable 16-bit range") {
    val sh = Dedup.simhash16(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < 65536))
  }

  test("Dedup.ngramJaccardPairs: exact dup has jaccard 1.0") {
    val p = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect().toSeq
    assert(p == Seq((1L, 2L, 1.0)))
  }

  test("Dedup prefix-filtered pairs equal the all-pairs path on real docs") {
    // the PPJoin prefix filter (threshold ≥ 0.3 path) must lose NOTHING:
    // compare against the complete t=0 self-join filtered post-hoc, on
    // the real document corpus at several thresholds
    val real = graft.sources.Tables.documents(spark, TestSpark.sf)
    val all = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.0)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val pref = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, t)
        .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(pref == all.filter(_._3 >= t), s"threshold $t")
    }
  }

  test("Dedup.ngramJaccardPairs df cap drops stop-shingle candidates") {
    // docs 1,2 share every shingle (df=2 each); maxDf=1 removes them all
    // from the inverted index → no candidate pairs survive
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDf = 1).count() == 0)
  }

  test("Dedup.lshCandidatePairs caps over-occupancy band buckets") {
    val boiler = (1 to 5).map(i => (i.toLong, "same boilerplate text repeated here"))
    val niche = Seq((10L, "rare niche pair of documents alpha"),
                    (11L, "rare niche pair of documents alpha"))
    val d = (boiler ++ niche).toDF("doc_id", "text")
    // hot bucket (5 members) over the cap of 3 → dropped; the 2-member
    // bucket stays → only the niche pair is emitted
    val capped = Dedup.lshCandidatePairs(d, "doc_id", "text", 8, 4, maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((10L, 11L)))
    // raising the cap re-admits the hot bucket: C(5,2) + 1 pairs
    val uncapped = Dedup.lshCandidatePairs(d, "doc_id", "text", 8, 4, maxBucket = 50)
    assert(uncapped.count() == 11)
  }

  val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("VectorDot native expression matches the HOF fold and handles edges") {
    import graft.functions.VectorFunctions
    // parity vs aggregate(zip_with(...)) on real float arrays
    val hof = aggregate(zip_with($"l.embedding", $"r.embedding",
      (p, q) => p.cast("double") * q.cast("double")), lit(0.0), (acc, v) => acc + v)
    val both = vecs.as("l").crossJoin(vecs.as("r"))
      .select(VectorFunctions.vecDot($"l.embedding", $"r.embedding").as("native"), hof.as("hof"))
      .as[(Option[Double], Option[Double])].collect()
    assert(both.forall { case (n, h) => n == h })
    // unequal lengths → null (zip_with pads with null)
    val uneq = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(VectorFunctions.vecDot($"a", $"b")).as[Option[Double]].collect().head
    assert(uneq.isEmpty)
    // SQL registration path (GraftExtensions)
    val viaSql = spark.sql(
      "SELECT vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), CAST(array(3.0, 4.0) AS ARRAY<FLOAT>))")
      .as[Double].collect().head
    assert(viaSql == 11.0)
    val cosSql = spark.sql(
      "SELECT vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))")
      .as[Double].collect().head
    assert(cosSql == 1.0)
    // text kernels are SQL-registered too
    val mh = spark.sql("SELECT minhash_sigs(array('a', 'b'), 2)")
      .as[Seq[String]].collect().head
    assert(mh.length == 2 && mh.forall(_.matches("[0-9a-f]{32}")))
    val sh = spark.sql("SELECT simhash16(array('a', 'b'))").as[Long].collect().head
    assert(sh >= 0 && sh < 65536)
    val mm = spark.sql("SELECT md5_min(array('a', 'b'))").as[String].collect().head
    assert(mm.matches("[0-9a-f]{32}"))
    // malformed usage fails at analysis time with clear errors
    intercept[Exception](spark.sql("SELECT simhash16(array(1, 2))").collect())
    intercept[Exception](spark.sql("SELECT minhash_sigs(array('a'), 0)").collect())
    intercept[Exception](spark.sql("SELECT minhash_sigs(array('a'), 'x')").collect())
  }

  test("Similarity.cosine basic geometry") {
    val c = vecs.as("l").crossJoin(vecs.as("r"))
      .select($"l.vec_id".as("a"), $"r.vec_id".as("b"),
        round(graft.functions.VectorFunctions.vecCosine($"l.embedding", $"r.embedding"), 4).as("c"))
      .as[(Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    assert(c((0L, 0L)) == 1.0 && c((0L, 2L)) == 0.0 && c((0L, 3L)) == -1.0)
    assert(c((0L, 1L)) > 0.99)
  }

  test("Similarity.topKBrute ranks by cosine desc") {
    val r = Similarity.topKBrute(vecs, "vec_id", "embedding", 0L, 3)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(r == Seq(1L, 2L, 3L))
  }

  test("Similarity.lshBuckets: same direction → same bucket") {
    // a positively-scaled copy has identical dot-product signs by
    // construction (near-parallel is only probabilistically bucketed)
    val scaled = Seq((5L, Array(0.5f, 0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val b = Similarity.lshBuckets(vecs.unionByName(scaled), "vec_id", "embedding", 8, 4)
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(5L))          // same direction
    assert(b(0L) != b(3L))          // opposite direction differs
  }

  test("Similarity.autoPlanes scales with corpus size") {
    assert(Similarity.autoPlanes(500L, 64) == 3)          //   8 buckets
    assert(Similarity.autoPlanes(2000L, 64) == 5)         //  32 buckets
    assert(Similarity.autoPlanes(1000000000L, 64) == 24)  // 16M buckets
    assert(Similarity.autoPlanes(10L, 64) == 1)           // never below 1
  }

  test("Similarity.nnJoin caps the candidate side per bucket") {
    // five positively-scaled copies → identical dot-product signs → one
    // bucket; candCap=2 keeps only the two hash-lowest ids as candidates
    val same = (10L to 14L).map(i =>
      (i, Array(1.0f * (i - 9), 0.5f * (i - 9), 0.0f, 0.0f))).toDF("vec_id", "embedding")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cands = (10L to 14L).sortBy(i => (md5hex(i.toString), i)).take(2).toSet
    val nn = Similarity.nnJoin(same, "vec_id", "embedding", 2, 4, candCap = 2)
      .as[(Long, Long, Long)].collect()
    assert(nn.length == 5)                      // probe side stays uncapped
    assert(nn.forall(r => cands.contains(r._2))) // neighbors only from candidates
    assert(nn.forall(_._3 == 10000L))           // scaled copies: cosine 1 = 10000 bp
  }

  test("Dedup.semantic drops near-reps, keeps representatives and outliers") {
    // 6 vectors, cells=1 (every vector in one cell), reps=2: reps are the
    // two lowest ids {0, 1}; 4 and 5 are near-parallel to rep 0 → dropped;
    // 2 and 3 are orthogonal/antipodal → kept. Rep 1 is similar to rep 0
    // but is itself a representative probed only against rep 0.
    val six = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, -0.1f, 0.0f, 0.0f)),
      (4L, Array(0.99f, 0.05f, 0.0f, 0.0f)),
      (5L, Array(0.95f, 0.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.semantic(six, "vec_id", "embedding",
        cells = 1, reps = 2, threshold = 0.9)
      .select($"vec_id", $"kept_by").as[(Long, Long)].collect().toMap
    assert(out == Map(4L -> 0L, 5L -> 0L))
  }

  test("Similarity multi-probe widens the candidate set") {
    val single = Similarity.annSearch(vecs, "vec_id", "embedding", 0L, 10, 2, 4)
      .as[(Long, Double)].collect()
    val multi = Similarity.annSearchMultiProbe(vecs, "vec_id", "embedding", 0L, 10, 2, 4)
      .as[(Long, Double)].collect()
    assert(multi.length >= single.length)
    assert(single.map(_._1).toSet.subsetOf(multi.map(_._1).toSet))
    // probing every IVF cell degenerates to brute force over non-query rows
    val all = Similarity.ivfSearchMultiProbe(vecs, "vec_id", "embedding", 0L, 10,
      cells = 4, nprobe = 4).as[(Long, Double)].collect().map(_._1).toSet
    assert(all == Set(1L, 2L, 3L))
  }

  test("Multimodal.decodeBatch runs the injected decoder over binary batches") {
    val d = Seq((7L, "hello world")).toDF("doc_id", "text")
    // custom decoder proves the lambda is swappable (a real codec slots in)
    val meta = Multimodal.decodeBatch(d, "doc_id", "text",
      bytes => (bytes.length, 2 * bytes.length)).collect().head
    assert(meta == MediaMeta(7L, 11L, 11, 22, 1L))
    // stub decoder is deterministic
    val a = Multimodal.decodeBatch(d, "doc_id", "text").collect().head
    val b = Multimodal.decodeBatch(d, "doc_id", "text").collect().head
    assert(a == b && a.width % 16 == 0 && a.height % 16 == 0)
  }

  test("Multimodal chunk plumbing") {
    val d = Seq((1L, "x" * 130)).toDF("doc_id", "text")
    val meta = d.select(Multimodal.payloadSize($"text").as("s"),
      Multimodal.chunkCount($"text").as("n")).as[(Long, Long)].collect().head
    assert(meta == ((130L, 3L)))
    val chunks = Multimodal.sampleChunks(d, "doc_id", "text", 2)
      .select($"chunk_idx").as[Long].collect().toSeq
    assert(chunks == Seq(0L, 2L))
    // empty payload: no phantom chunks (Spark's sequence(0,-1) descends)
    val empty = Seq((2L, "")).toDF("doc_id", "text")
    assert(Multimodal.sampleChunks(empty, "doc_id", "text", 1).count() == 0)
  }

  test("TextAnalysis.scrubPii redacts real-world email/phone/IP strings") {
    val d = Seq(
      (1L, "mail bob.smith+spam@sub.example.co.uk or call +44-555-123456 now"),
      (2L, "server at 192.168.0.1 and 10.255.3.77, backup 8.8.8.8"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = d.select($"doc_id", TextAnalysis.scrubPii($"text").as("c"),
      TextAnalysis.piiCount($"text", TextAnalysis.emailPattern).as("ne"),
      TextAnalysis.piiCount($"text", TextAnalysis.phonePattern).as("np"),
      TextAnalysis.piiCount($"text", TextAnalysis.ipv4Pattern).as("ni"))
      .orderBy($"doc_id").as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(r(0) == ((1L, "mail <EMAIL> or call <PHONE> now", 1L, 1L, 0L)))
    assert(r(1) == ((2L, "server at <IP> and <IP>, backup <IP>", 0L, 0L, 3L)))
    assert(r(2) == ((3L, "no pii here at all", 0L, 0L, 0L)))
  }

  test("TextAnalysis gopher signals: mean token length and distinct stopwords") {
    val r = docs.where($"doc_id" === 1).select(
      TextAnalysis.meanTokenLen($"text").as("m"),
      TextAnalysis.distinctStopwordCount($"text").as("s"),
      TextAnalysis.symbolRatio($"text").as("p"))
      .as[(Double, Long, Double)].collect().head
    // "the quick brown fox jumps over the lazy dog": 35 letter chars / 9 tokens
    assert(math.abs(r._1 - 35.0 / 9) < 1e-12 && r._2 == 1L && r._3 == 0.0)
  }

  test("Urls.normalizeUrl canonicalizes scheme/case/www/utm/fragment/slash") {
    val cases = Seq(
      (1L, "https://WWW.Example.COM/Path/To/?utm_source=x&utm_campaign=y&id=7#frag"),
      (2L, "http://example.com/Path/To?id=7"),
      (3L, "example.com/?utm_medium=z"),
      (4L, "https://sub.Example.com/a/b/"),
      (5L, "https://example.com"),
      // utm strip is boundary-anchored: params merely CONTAINING "utm_"
      // survive; names with digits/underscores are stripped; utm-only
      // query strings collapse entirely
      (6L, "https://example.com/p?xutm_source=v&id=7"),
      (7L, "https://example.com/p?utm_content_2=x&id=7&utm_a=1"),
      (8L, "https://example.com/utm_x=1/p?utm_source=a&utm_medium=b")
    ).toDF("id", "u").select($"id", Urls.normalizeUrl($"u").as("n"))
      .orderBy($"id").as[(Long, String)].collect().toSeq.map(_._2)
    assert(cases(0) == "example.com/Path/To?id=7")   // case kept in path only
    assert(cases(1) == "example.com/Path/To?id=7")   // same canonical form as 1
    assert(cases(2) == "example.com")
    assert(cases(3) == "sub.example.com/a/b")
    assert(cases(4) == "example.com")
    assert(cases(5) == "example.com/p?xutm_source=v&id=7")
    assert(cases(6) == "example.com/p?id=7")
    assert(cases(7) == "example.com/utm_x=1/p")
  }

  test("Similarity.rangeSearch returns all vectors within the radius") {
    val vs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0.1f, 0f)),    // cos ≈ 0.995
      (2L, Array(0f, 1f, 0f)),      // cos = 0
      (3L, Array(0.7f, 0.7f, 0f))   // cos ≈ 0.707
    ).toDF("vec_id", "embedding")
    val r = Similarity.rangeSearch(vs, "vec_id", "embedding", 0L, 0.5)
      .as[(Long, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 3L))
    assert(r.forall(_._2 >= 5000L))
  }

  test("Similarity.ivfTrainStats separates clusters after one Lloyd round") {
    // two tight clusters on orthogonal axes; 2 hash-sampled seeds land
    // wherever md5 ranks them, the trained centroids must still split the
    // data cleanly and every vector must be assigned exactly once
    val vs = (0L until 20L).map { i =>
      if (i % 2 == 0) (i, Array(1f + (i % 5) * 0.01f, 0.02f, 0f))
      else (i, Array(0.02f, 1f + (i % 5) * 0.01f, 0f))
    }.toDF("vec_id", "embedding")
    // round 0 assigns to the hash seeds; one Lloyd round re-assigns
    val quant = Similarity.quantized(vs, "vec_id", "embedding")
    val a0 = Similarity.ivfAssign(vs, "vec_id", "embedding", 2)
      .select($"vec_id".as("vid"), $"cell")
    val stats = Similarity.ivfStatsFrom(
        Similarity.lloydAssign(quant, Similarity.lloydCent(quant, a0)))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(stats.map(_._2).sum == 20L)          // every vector assigned once
    assert(stats.size == 2 && stats.forall(_._2 == 10L)) // clean 10/10 split
    assert(stats.forall(_._4 > 0.9))            // centroid norms ≈ cluster scale
  }

  test("Dedup.connectedComponents converges past any fixed round count") {
    // a 10-node path: min-label propagation needs 9 rounds to carry the
    // minimum to the far end — a fixed-3-round pass would split it; the
    // sum-fixpoint loop must label the whole path with its minimum
    val pairs = (1L to 9L).map(i => (i, i + 1))
      .toDF("a", "b")
      .union(Seq((20L, 21L)).toDF("a", "b"))   // separate 2-node component
    val m = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(m(_) == 1L))
    assert(m(20L) == 20L && m(21L) == 20L)
    assert(m.size == 12)
  }

  test("Dedup.connectedComponents handles an empty edge set") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("Layout.mortonKey interleaves bits (x even, y odd)") {
    val r = Seq((3L, 0L), (0L, 3L), (1L, 1L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.mortonKey($"x", $"y")).as[Long].collect().toSeq
    // x=3 → 0b0101; y=3 → 0b1010; x=y=1 → 0b11; max → 2^32-1
    assert(r == Seq(5L, 10L, 3L, 4294967295L))
  }

  test("Layout.mortonKey clusters both dimensions within z-buckets") {
    // z >> 20 keeps the key's top 12 bits = the 6 high bits of EACH
    // 16-bit coordinate, so within one bucket each dimension can vary
    // only in its low 10 bits (< 1024) — the min/max-pruning property
    val pts = for (x <- 0L until 2048L by 37; y <- 0L until 2048L by 41) yield (x, y)
    val spread = pts.toDF("x", "y")
      .select($"x", $"y", Layout.mortonKey($"x", $"y").as("z"))
      .groupBy(($"z" / 1048576).cast("long").as("bucket"))
      .agg(max($"x") - min($"x"), max($"y") - min($"y"))
      .as[(Long, Long, Long)].collect()
    assert(spread.forall { case (_, dx, dy) => dx < 1024 && dy < 1024 })
  }

  test("LongVector kernels match the HOF folds and handle edges") {
    import graft.functions.LongVectorFunctions._
    val pairs = Seq(
      (Array(1L, 2L, 3L, 4L), Array(5L, 6L, 7L, 8L)),
      (Array(-3L, 0L, 9L, 2L), Array(2L, -1L, 4L, 0L))
    ).toDF("a", "b")
    // parity vs aggregate(zip_with) integer fold
    val hofDot = aggregate(zip_with($"a", $"b", _ * _), lit(0L), _ + _)
    val dots = pairs.select(vecDotLong($"a", $"b").as("n"), hofDot.as("h"))
      .as[(Option[Long], Option[Long])].collect()
    assert(dots.forall { case (n, h) => n == h })
    // l2 slice windows: [0,2) and [2,2) of the first pair
    val l2 = pairs.select(
      vecL2SqSlice($"a", $"b", 0, 2).as("w0"),
      vecL2SqSlice($"a", $"b", 2, 2).as("w1"),
      vecL2SqSlice($"a", $"b", 2, 3).as("over")).as[(Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(l2._1.contains(32L) && l2._2.contains(32L) && l2._3.isEmpty) // window overrun → null
    // unequal lengths → null, like zip_with's null padding
    val uneq = Seq((Array(1L), Array(1L, 2L))).toDF("a", "b")
      .select(vecDotLong($"a", $"b")).as[Option[Long]].collect().head
    assert(uneq.isEmpty)
    // SQL registration path
    assert(spark.sql("SELECT vec_dot_long(array(1L, 2L), array(3L, 4L))")
      .as[Long].collect().head == 11L)
    assert(spark.sql("SELECT vec_l2sq_slice(array(1L, 5L), array(1L, 2L), 1, 1)")
      .as[Long].collect().head == 9L)
  }

  test("Similarity.pqCodes/pqSearchAdc: dup vectors share codes, ADC ranks exact dups at 0") {
    // two clusters of 64-dim vectors; vecs 0, 6, 7 are IDENTICAL. With
    // codebook = all 8 vectors, each vector's nearest codeword is itself
    // (ties -> smallest id), so the identical trio encodes to code 0 and
    // ADC from query 0 ranks 6 and 7 at distance 0, then vec 4 (1-milli
    // offset on all 64 dims -> 16 per subvector x 4 subs = 64).
    val vs = (0L until 8L).map { i =>
      val base = if (i % 2 == 0 || i == 7L) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      val off = if (i == 7L) 0f else (i % 3) * 0.001f
      (i, (0 until 16).flatMap(_ => base.map(_ + off)).toArray)
    }.toDF("vec_id", "embedding")
    val seeds = Similarity.pqSeeds(vs, "vec_id", "embedding", 8)
    val codes = Similarity.pqCodes(vs, "vec_id", "embedding", 64, 4, seeds)
      .as[(Long, Int, Long, Long)].collect()
    assert(codes.length == 8 * 4)                       // every (vec, sub) encoded once
    val byVec = codes.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byVec(0L) == Seq(0L, 0L, 0L, 0L))            // own codeword, tie -> min id
    assert(byVec(7L) == byVec(0L) && byVec(6L) == byVec(0L))
    assert(byVec(1L) == Seq(1L, 1L, 1L, 1L))            // other cluster, distinct code
    assert(codes.filter(c => Set(0L, 6L, 7L)(c._1)).forall(_._4 == 0L)) // exact self-dist
    val top = Similarity.pqSearchAdcWith(vs, "vec_id", "embedding", 0L, 3, 64, 4,
        seeds, Similarity.pqCodes(vs, "vec_id", "embedding", 64, 4, seeds))
      .as[(Long, Long)].collect().toSeq
    assert(top == Seq((6L, 0L), (7L, 0L), (4L, 64L)))
  }

  test("Events.sessionize splits on gap") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq((1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(50), 3L))
      .toDF("user_id", "ts", "event_id")
    val s = Events.sessionStats(ev, "user_id", "ts", "event_id", 30)
      .orderBy("session_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(s == Seq((1L, 1L, 2L, 600L), (1L, 2L, 1L, 0L)))
  }
}
