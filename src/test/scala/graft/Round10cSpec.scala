package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Semantic pins for the round-10 third batch — independent in-memory
  * recomputes so a hash break at the oracle gate can be localized to the
  * operator, not the plumbing. */
class Round10cSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("events_benford: digit histogram and deviation recompute from orders") {
    val exp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L)
    val cents = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select(col("o_totalprice")).collect()
      .map(r => Math.round(r.getAs[Double]("o_totalprice") * 100))
      .filter(_ > 0)
    val total = cents.length.toLong
    val byDigit = cents.groupBy(_.toString.head.asDigit.toLong)
    val want = byDigit.toSeq.map { case (d, v) =>
      val n = v.length.toLong
      val obs = n * 10000 / total
      (d, n, obs, exp(d.toInt - 1), math.abs(obs - exp(d.toInt - 1)))
    }.sortBy(_._1)
    val got = run("events_benford").collect().map(r =>
      (r.getAs[Long]("digit"), r.getAs[Long]("n"), r.getAs[Long]("obs_bp"),
        r.getAs[Long]("exp_bp"), r.getAs[Long]("dev_bp"))).toSeq
    assert(got == want)
    assert(got.map(_._2).sum == total)
  }

  test("graph_resource_alloc: RA scores recompute from the capped graph") {
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byPart = li.groupBy(_._2).filter(_._2.length <= 64)
    val acc = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    byPart.foreach { case (_, es) =>
      val pd = es.length.toLong
      val w = 1000000L / pd
      val sks = es.map(_._1).sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) {
        val k = (sks(i), sks(j))
        val (ra, in) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (ra + w, in + 1)
      }
    }
    val want = acc.toSeq.map { case ((s1, s2), (ra, in)) => (s1, s2, ra, in) }
      .sortBy { case (s1, s2, ra, _) => (-ra, s1, s2) }.take(20)
    val got = run("graph_resource_alloc").collect().map(r =>
      (r.getAs[Long]("s1"), r.getAs[Long]("s2"), r.getAs[Long]("ra_ppm"),
        r.getAs[Long]("inter"))).toSeq
    assert(got == want)
  }

  test("graph_kcore_peel: 3-round peel recomputes from the pair index") {
    var edges = graft.ops.Dedup.pairIndex(
      graft.sources.Tables.documents(spark, TestSpark.sf),
      "doc_id", "text", 3, 0.5)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (1 to 3).map { r =>
      val deg = edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, v) => n -> v.size.toLong }
      val removed = deg.count(_._2 < 2).toLong
      val keep = deg.filter(_._2 >= 2).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      (r.toLong, removed, keep.size.toLong, edges.length.toLong)
    }
    val got = run("graph_kcore_peel").collect().map(r =>
      (r.getAs[Long]("round"), r.getAs[Long]("n_removed"),
        r.getAs[Long]("n_nodes_left"), r.getAs[Long]("n_edges_left"))).toSeq
    assert(got == want)
    // the fixture actually peels something in round 1
    assert(want.head._2 > 0, "fixture has at least one sub-2-core node")
  }

  test("text_winnowing: fingerprint densities recompute per document") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val perDoc = docs.flatMap { case (src, text) =>
      val toks = text.trim.split(" ", -1)
      if (toks.length < 3) None
      else {
        val h = toks.sliding(3).map(s => md5hex(s.mkString(" "))).toVector
        if (h.length < 4) None
        else {
          val wins = h.sliding(4).map(_.min).toVector
          Some((src, wins.length.toLong, wins.distinct.length.toLong))
        }
      }
    }
    val want = perDoc.groupBy(_._1).toSeq.map { case (src, v) =>
      val nw = v.map(_._2).sum; val nf = v.map(_._3).sum
      val dens = v.map(d => d._3 * 10000 / d._2)
      (src, v.length.toLong, nw, nf, nf * 10000 / nw, dens.min, dens.max)
    }.sortBy(_._1)
    val got = run("text_winnowing").collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_windows"), r.getAs[Long]("n_fps"),
        r.getAs[Long]("density_bp"), r.getAs[Long]("min_density_bp"),
        r.getAs[Long]("max_density_bp"))).toSeq
    assert(got == want)
    // winnowing theory: expected density ~ 2/(w+1) = 4000 bp; distinct-
    // selection only lowers it. Sanity-bound the corpus-level densities.
    got.foreach { g => assert(g._5 > 0 && g._5 <= 10000) }
  }

  test("text_source_divergence: pairwise L1 recomputes over the top-50 vocab") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val cnt = docs.flatMap { case (src, text) =>
      text.trim.split(" ", -1).map(t => (src, t))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val top = cnt.groupBy(_._1._2).map { case (t, v) => t -> v.values.sum }
      .toSeq.sortBy { case (t, tf) => (-tf, t) }.take(50).map(_._1)
    val topSet = top.toSet
    val v = cnt.filter { case ((_, t), _) => topSet(t) }
    val tot = v.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val ppm = (for (s <- tot.keys; t <- top) yield
      (s, t) -> v.getOrElse((s, t), 0L) * 1000000L / tot(s)).toMap
    val srcs = tot.keys.toSeq.sorted
    val want = (for (i <- srcs.indices; j <- (i + 1) until srcs.length) yield {
      val (a, b) = (srcs(i), srcs(j))
      (a, b, top.map(t => math.abs(ppm((a, t)) - ppm((b, t)))).sum)
    }).sortBy(p => (p._1, p._2))
    val got = run("text_source_divergence").collect().map(r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Long]("l1_ppm"))).toSeq
    assert(got == want)
    assert(got.nonEmpty && got.exists(_._3 > 0), "some pair diverges")
  }

  test("q_asof_nearest: per-error nearest purchase recomputes in memory") {
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), Option(r.get(3)), r.getAs[Long]("us")))
      .filter(e => e._3 == "error" || (e._3 == "purchase" && e._4.nonEmpty))
    val want = evs.groupBy(_._2).toSeq.flatMap { case (_, v) =>
      val sorted = v.sortBy(e => (e._5, e._1))
      sorted.zipWithIndex.collect { case ((id, uid, "error", _, us), i) =>
        val prev = sorted.take(i).reverse.find(_._3 == "purchase")
        val next = sorted.drop(i + 1).find(_._3 == "purchase")
        val choosePrev = prev.nonEmpty &&
          (next.isEmpty || us - prev.get._5 <= next.get._5 - us)
        val near = if (choosePrev) prev else next
        val gap = near.map(n => math.abs(us - n._5) / 1000000L)
        val dir = if (choosePrev) Some("prev")
          else if (next.nonEmpty) Some("next") else None
        (id, uid, near.map(_._1), gap, dir)
      }
    }.sortBy(_._1)
    val got = run("q_asof_nearest").collect().map(r =>
      (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.getAs[String]("dir")))).toSeq
    assert(got == want)
    assert(got.exists(_._5.contains("prev")) && got.exists(_._5.contains("next")),
      "fixture exercises both directions")
  }

  test("sim_opq_permute: serpentine assignment recomputes from exact variances") {
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => BigDecimal(x.toDouble).setScale(3,
          BigDecimal.RoundingMode.HALF_UP).*(1000).toLongExact).toVector)
    val dims = vecs.head.length
    val varN = (0 until dims).map { d =>
      val xs = vecs.map(_(d))
      val n = xs.length.toLong
      d.toLong -> (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    }
    val ranked = varN.sortBy { case (d, v) => (-v, d) }.zipWithIndex
    val assign = ranked.map { case ((d, v), r) =>
      val sub = if ((r / 8) % 2 == 0) r % 8 else 7 - r % 8
      (sub.toLong, d, v)
    }
    val want = assign.groupBy(_._1).toSeq.map { case (sub, v) =>
      (sub, v.length.toLong, v.map(_._3).sum,
        v.map(_._2).sorted.mkString(","))
    }.sortBy(_._1)
    val got = run("sim_opq_permute").collect().map(r =>
      (r.getAs[Long]("sub"), r.getAs[Long]("n_dims"), r.getAs[Long]("sum_var"),
        r.getAs[String]("dims"))).toSeq
    assert(got == want)
    assert(got.map(_._2).sum == dims.toLong)
  }

  test("etl_cdc_collapse: net change set equals the direct prev→curr diff") {
    def bump(p: Double, f: Double): Double =
      BigDecimal(p * f).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val base = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val prev = base.filter(_._1 % 5 != 0)
      .map(o => o._1 -> (o._2, o._3, o._4)).toMap
    val curr = base.filter(_._1 % 3 != 0)
      .map(o => o._1 -> (o._2, o._3,
        if (o._3 == "P") bump(o._4, 1.2) else o._4)).toMap
    val want = (prev.keySet ++ curr.keySet).toSeq.flatMap { k =>
      (prev.get(k), curr.get(k)) match {
        case (None, Some(c)) => Some((k, Some(c._1), Some(c._2), Some(c._3), "insert"))
        case (Some(_), None) => Some((k, None, None, None, "delete"))
        case (Some(p), Some(c)) if p != c =>
          Some((k, Some(c._1), Some(c._2), Some(c._3), "update"))
        case _ => None
      }
    }.sortBy(r => (r._5, r._1))
    val got = run("etl_cdc_collapse").collect().map(r =>
      (r.getAs[Long]("o_orderkey"),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.getAs[String]("o_orderstatus")),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getAs[String]("change"))).toSeq
    assert(got == want)
    // the fixture exercises every collapse branch: chained updates
    // (%5≠0 %7≠0 %3≠0 P), insert→delete (%5=0 %7≠0 %3=0),
    // delete→insert-identical (%5≠0 %7=0 %3≠0 non-P, net ∅) and
    // delete→insert-changed (same but P, net update)
    assert(want.exists(_._5 == "insert") && want.exists(_._5 == "update") &&
      want.exists(_._5 == "delete"))
    val resurrectIdentical = base.exists(o =>
      o._1 % 5 != 0 && o._1 % 7 == 0 && o._1 % 3 != 0 && o._3 != "P")
    assert(resurrectIdentical, "fixture has a delete→identical-reinsert no-op")
  }

  private lazy val pairSet: Seq[(Long, Long)] =
    graft.ops.Dedup.pairIndex(
      graft.sources.Tables.documents(spark, TestSpark.sf),
      "doc_id", "text", 3, 0.5)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("graph_lpa: 3-round mode-label communities recompute from the pair graph") {
    val e = pairSet.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    var labels = e.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = e.groupBy(_._1).map { case (n, nbrs) =>
        val cnt = nbrs.map(x => labels(x._2))
          .groupBy(identity).map { case (l, v) => l -> v.size }
        n -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val want = labels.values.groupBy(identity).map(_._2.size.toLong)
      .groupBy(identity).toSeq
      .map { case (sz, v) => (sz, v.size.toLong) }.sortBy(_._1)
    val got = run("graph_lpa").collect().map(r =>
      (r.getAs[Long]("sz"), r.getAs[Long]("n_communities"))).toSeq
    assert(got == want)
    // min_label is a member of some community of that size
    val bySize = labels.toSeq.groupBy(_._2).map { case (l, v) => l -> v.size }
    run("graph_lpa").collect().foreach { r =>
      assert(bySize(r.getAs[Long]("min_label")) == r.getAs[Long]("sz"))
    }
  }

  test("sim_opq_gain: serpentine layout never worsens the audited imbalance") {
    val rows = run("sim_opq_gain").collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("min_energy"), r.getAs[Long]("max_energy"),
          r.getAs[Long]("total_var"), r.getAs[Long]("imbalance_bp"))).toMap
    assert(rows.keySet == Set("natural", "serpentine"))
    // both layouts partition the same 64 dims: identical total energy
    assert(rows("natural")._3 == rows("serpentine")._3)
    rows.values.foreach { v =>
      assert(v._1 > 0 && v._1 <= v._2)
      assert(v._4 >= 10000) // max/min ratio is ≥ 1 by construction
    }
    // serpentine dealing over variance-sorted dims balances energy
    assert(rows("serpentine")._4 <= rows("natural")._4,
      s"serpentine ${rows("serpentine")._4} vs natural ${rows("natural")._4}")
  }

  test("dedup_qa_sample: band representatives recompute from the pair index") {
    val pj = graft.ops.Dedup.pairIndex(
      graft.sources.Tables.documents(spark, TestSpark.sf),
      "doc_id", "text", 3, 0.5)
      .select(col("a"), col("b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pj.groupBy(p => math.floor(p._3 * 10).toLong).toSeq
      .map { case (band, v) =>
        val top = v.minBy(p => (-p._3, p._1, p._2))
        (band, v.length.toLong, top._1, top._2, top._3)
      }.sortBy(_._1)
    val got = run("dedup_qa_sample").collect().map(r =>
      (r.getAs[Long]("band"), r.getAs[Long]("n_pairs"), r.getAs[Long]("top_a"),
        r.getAs[Long]("top_b"), r.getAs[Double]("top_jaccard"))).toSeq
    assert(got == want)
  }

  test("events_slo_burn: cumulative burn recomputes from the daily rollup") {
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val daily = evs.groupBy(_._1).toSeq.map { case (d, v) =>
      (d, v.length.toLong, v.count(_._2 == "error").toLong)
    }.sortBy(_._1)
    var (ce, ct) = (0L, 0L)
    val want = daily.map { case (d, tot, err) =>
      ce += err; ct += tot
      (d, tot, err, err * 10000 / tot, ce, ct, ce * 10000 / ct,
        if (ce * 10000 > ct * 100) 1 else 0)
    }
    val got = run("events_slo_burn").collect().map(r =>
      (r.getAs[String]("day"), r.getAs[Long]("total"), r.getAs[Long]("errors"),
        r.getAs[Long]("day_bp"), r.getAs[Long]("cum_errors"),
        r.getAs[Long]("cum_total"), r.getAs[Long]("cum_bp"),
        r.getAs[Int]("breach"))).toSeq
    assert(got == want)
  }

  test("dedup_winnow_pairs: shared-fingerprint pairs recompute per document") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val fps = docs.flatMap { case (id, text) =>
      val toks = text.trim.split(" ", -1)
      if (toks.length < 3) None
      else {
        val h = toks.sliding(3).map(s => md5hex(s.mkString(" "))).toVector
        if (h.length < 4) None
        else Some(id -> h.sliding(4).map(_.min).toVector.distinct)
      }
    }
    val df = fps.flatMap(_._2).groupBy(identity)
      .map { case (f, v) => f -> v.size }
    val capped = fps.map { case (id, v) => id -> v.filter(df(_) <= 50) }
    val post = capped.flatMap { case (id, v) => v.map(f => f -> id) }
      .groupBy(_._1).map { case (f, v) => f -> v.map(_._2).sorted }
    val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
    post.values.foreach { ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        acc((ids(i), ids(j))) = acc.getOrElse((ids(i), ids(j)), 0L) + 1
    }
    val want = acc.toSeq.filter(_._2 >= 2)
      .map { case ((a, b), s) => (a, b, s) }.sortBy(p => (p._1, p._2))
    val got = run("dedup_winnow_pairs").collect().map(r =>
      (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("shared"))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture yields at least one winnow candidate pair")
  }

  test("dedup_simhash_bits: bit balance recomputes from per-doc fingerprints") {
    val hashes = graft.ops.Dedup.simhash16(
      graft.sources.Tables.documents(spark, TestSpark.sf), "doc_id", "text")
      .select(col("simhash")).collect().map(_.getLong(0))
    val total = hashes.length.toLong
    val want = (0 to 15).map { bit =>
      val ones = hashes.count(h => ((h >> bit) & 1) == 1).toLong
      val bp = ones * 10000 / total
      (bit.toLong, ones, bp, math.abs(bp - 5000))
    }
    val got = run("dedup_simhash_bits").collect().map(r =>
      (r.getAs[Long]("bit"), r.getAs[Long]("n_ones"), r.getAs[Long]("ones_bp"),
        r.getAs[Long]("dev_bp"))).toSeq
    assert(got == want)
  }

  test("q_join_fanout_audit: multiplicity histogram recomputes from both keys") {
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    val mult = li.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val want = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
      .map(k => mult.getOrElse(k, 0L))
      .groupBy(identity).toSeq
      .map { case (m, v) => (m, v.size.toLong, m * v.size) }.sortBy(_._1)
    val got = run("q_join_fanout_audit").collect().map(r =>
      (r.getAs[Long]("mult"), r.getAs[Long]("n_keys"),
        r.getAs[Long]("est_rows"))).toSeq
    assert(got == want)
    // est_rows over all bands is exactly the join cardinality
    assert(got.map(_._3).sum == li.length.toLong)
  }

  test("events_bot_score: rate bands recompute from (user, minute) distincts") {
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts) div 60000000").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = evs.groupBy(_._1).toSeq.map { case (_, v) =>
      val n = v.length.toLong
      val mins = v.map(_._2).distinct.length.toLong
      (n, n * 100 / mins)
    }.groupBy(_._2 / 100).toSeq.map { case (band, v) =>
      (band, v.length.toLong, v.map(_._2).max, v.map(_._1).sum)
    }.sortBy(_._1)
    val got = run("events_bot_score").collect().map(r =>
      (r.getAs[Long]("band"), r.getAs[Long]("n_users"),
        r.getAs[Long]("max_rate_x100"), r.getAs[Long]("n_events"))).toSeq
    assert(got == want)
  }

  test("sim_power_iteration: two exact Gram-matrix steps recompute in memory") {
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => BigDecimal(x.toDouble).setScale(3,
          BigDecimal.RoundingMode.HALF_UP).*(1000).toLongExact).toVector)
    val dims = vecs.head.length
    val a = Array.ofDim[Long](dims, dims)
    vecs.foreach { v =>
      for (i <- 0 until dims; j <- 0 until dims) a(i)(j) += v(i) * v(j)
    }
    def step(v: Vector[Long]): Vector[Long] = {
      val raw = (0 until dims).map(i =>
        (0 until dims).map(j => a(i)(j) * v(j)).sum).toVector
      val mx = raw.map(math.abs).max
      raw.map(x => x * 1000 / mx)
    }
    val v1 = step(Vector.fill(dims)(1L))
    val v2 = step(v1)
    val got = run("sim_power_iteration").collect().map(r =>
      (r.getAs[Long]("d"), r.getAs[Long]("v1_milli"), r.getAs[Long]("v2_milli")))
      .sortBy(_._1)
    assert(got.toSeq == (0 until dims).map(d => (d.toLong, v1(d), v2(d))))
    // re-scaling keeps the dominant component at ±1000
    assert(got.map(_._3).map(math.abs).max == 1000L)
  }

  test("events_time_rollup: levels re-aggregate and distincts are not partial-of-partial") {
    val rows = run("events_time_rollup").collect().map(r =>
      (r.getAs[String]("level"), r.getAs[String]("period"), r.getAs[Long]("n"),
        r.getAs[Long]("n_users")))
    val byLevel = rows.groupBy(_._1)
    // day-level volumes sum to each month's and to the all-time total
    val all = byLevel("all").head
    assert(byLevel("day").map(_._3).sum == all._3)
    byLevel("month").foreach { case (_, mon, n, nu) =>
      val days = byLevel("day").filter(_._2.startsWith(mon))
      assert(days.map(_._3).sum == n)
      // distinct users at month level is NOT the sum of day distincts
      assert(nu <= days.map(_._4).sum)
    }
    // independent all-time recompute
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull).select(col("user_id")).collect()
    assert(all._3 == evs.length.toLong)
    assert(all._4 == evs.map(_.getLong(0)).distinct.length.toLong)
  }

  test("etl_erasure_audit: per-day erase impact recomputes from the raw table") {
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = evs.groupBy(_._1).toSeq.map { case (d, v) =>
      val hit = v.filter(_._2 % 97 == 0)
      (d, v.length.toLong, hit.length.toLong, (v.length - hit.length).toLong,
        hit.map(_._2).distinct.length.toLong)
    }.sortBy(_._1)
    val got = run("etl_erasure_audit").collect().map(r =>
      (r.getAs[String]("day"), r.getAs[Long]("n_before"), r.getAs[Long]("n_erased"),
        r.getAs[Long]("n_after"), r.getAs[Long]("n_users_erased"))).toSeq
    assert(got == want)
    assert(got.exists(_._3 > 0), "fixture erases at least one row")
  }

  test("q_bitmap_distinct: per-day and merged bitmaps recompute from raw keys") {
    def md5hex3(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).substring(0, 3), 16)
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("d"),
        col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).distinct
    val byDay = evs.groupBy(_._1).toSeq.map { case (d, v) =>
      val users = v.map(_._2).distinct
      val bits = users.map(u => md5hex3(u.toString) % 4096).distinct.length.toLong
      (d, bits, bits * 10000 / 4096, users.length.toLong)
    }
    val allUsers = evs.map(_._2).distinct
    val allBits = evs.map { case (d, u) => (d, md5hex3(u.toString) % 4096) }
      .distinct.map(_._2).distinct.length.toLong
    val want = (byDay :+ (("all", allBits, allBits * 10000 / 4096,
      allUsers.length.toLong))).sortBy(_._1)
    val got = run("q_bitmap_distinct").collect().map(r =>
      (r.getAs[String]("scope"), r.getAs[Long]("bits_set"),
        r.getAs[Long]("sat_bp"), r.getAs[Long]("exact_distinct"))).toSeq
    assert(got == want)
    // sketch property: occupancy never exceeds the exact distinct count,
    // and the merged bitmap is ≤ the sum of the parts (OR-merge)
    got.foreach(g => assert(g._2 <= g._4))
    assert(allBits <= byDay.map(_._2).sum)
  }

  test("events_alert_suppress: storm suppression recomputes from per-user lags") {
    val errs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull && col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val emits = errs.groupBy(_._2).values.flatMap { v =>
      val sorted = v.sortBy(e => (e._4, e._1))
      sorted.zipWithIndex.map { case (e, i) =>
        val emit = i == 0 || e._4 - sorted(i - 1)._4 > 21600000000L
        (e._3, emit)
      }
    }
    val want = emits.groupBy(_._1).toSeq.map { case (d, v) =>
      val n = v.size.toLong; val em = v.count(_._2).toLong
      (d, n, em, n - em, (n - em) * 10000 / n)
    }.sortBy(_._1)
    val got = run("events_alert_suppress").collect().map(r =>
      (r.getAs[String]("day"), r.getAs[Long]("n_alerts"),
        r.getAs[Long]("n_emitted"), r.getAs[Long]("n_suppressed"),
        r.getAs[Long]("suppress_bp"))).toSeq
    assert(got == want)
    assert(got.map(_._4).sum > 0, "fixture suppresses at least one alert")
  }

  test("text_bpe_fertility: per-language weighting of the shared BPE table") {
    val rows = run("text_bpe_fertility").collect().map(r =>
      (r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_syms"), r.getAs[Long]("fertility_x100")))
    // n_tokens per lang matches the raw corpus word counts
    val wc = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).trim.split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (l, v) => l -> v.map(_._2).sum }
    rows.foreach { case (l, nt, ns, f) =>
      assert(nt == wc(l), s"token count for $l")
      // BPE merges only ever shrink: chars-per-word ≥ syms-per-word ≥ 1
      assert(ns >= nt)
      assert(f == ns * 100 / nt && f >= 100)
    }
    // fertility varies by language mix (the metric is non-degenerate)
    assert(rows.map(_._4).distinct.length > 1 || rows.length == 1)
  }

  private lazy val yearPairs: (Seq[(Long, String)], Seq[(Long, String)]) = {
    val o = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
        col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    (o.filter(_._2 == 1995).map(x => (x._1, x._3)).toSeq,
      o.filter(_._2 == 1996).map(x => (x._1, x._3)).toSeq)
  }

  test("q_intersect_all: multiplicities are min(m1, m2), not collapsed") {
    val (a, b) = yearPairs
    val ca = a.groupBy(identity).map { case (k, v) => k -> v.size }
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size }
    val inter = ca.toSeq.flatMap { case (k, m) =>
      Seq.fill(math.min(m, cb.getOrElse(k, 0)))(k) }
    val want = inter.groupBy(_._2).toSeq.map { case (p, v) =>
      (p, v.size.toLong, v.map(_._1).toSeq.distinct.size.toLong) }.sortBy(_._1)
    val got = run("q_intersect_all").collect().map(r =>
      (r.getAs[String]("o_orderpriority"), r.getAs[Long]("n"),
        r.getAs[Long]("n_cust"))).toSeq
    assert(got == want)
    // multiset semantics differ from set semantics on this fixture
    val setInter = ca.keySet.intersect(cb.keySet)
    assert(inter.size != setInter.size, "fixture has multiplicities > 1")
  }

  test("q_except_all: multiplicities are m1 - m2, occurrence-for-occurrence") {
    val (a, b) = yearPairs
    val ca = a.groupBy(identity).map { case (k, v) => k -> v.size }
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size }
    val diff = ca.toSeq.flatMap { case (k, m) =>
      Seq.fill(math.max(0, m - cb.getOrElse(k, 0)))(k) }
    val want = diff.groupBy(_._2).toSeq.map { case (p, v) =>
      (p, v.size.toLong, v.map(_._1).toSeq.distinct.size.toLong) }.sortBy(_._1)
    val got = run("q_except_all").collect().map(r =>
      (r.getAs[String]("o_orderpriority"), r.getAs[Long]("n"),
        r.getAs[Long]("n_cust"))).toSeq
    assert(got == want)
  }

  test("events_trend_ingredients: least-squares sums recompute per type") {
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = evs.groupBy(_._1).toSeq.map { case (t, v) =>
      val daily = v.groupBy(_._2).map { case (d, w) => d -> w.size.toLong }
      val d0 = daily.keys.min
      val xs = daily.toSeq.map { case (d, y) => (d - d0, y) }
      val n = xs.length.toLong
      val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
      val sxy = xs.map(p => p._1 * p._2).sum
      val sxx = xs.map(p => p._1 * p._1).sum
      (t, n, sx, sy, sxy, sxx, n * sxy - sx * sy, n * sxx - sx * sx)
    }.sortBy(_._1)
    val got = run("events_trend_ingredients").collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Long]("sx"),
        r.getAs[Long]("sy"), r.getAs[Long]("sxy"), r.getAs[Long]("sxx"),
        r.getAs[Long]("slope_num"), r.getAs[Long]("slope_den"))).toSeq
    assert(got == want)
    // slope sign is meaningful on the fixture (some type trends)
    assert(got.exists(g => g._7 != 0))
  }

  test("events_trend_ingredients: the same Spark jobs on every run in one session") {
    val sc = spark.sparkContext
    val runs = (1 to 4).map { _ =>
      val group = s"trend-jobs-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, "events_trend_ingredients job count")
      val rows = try run("events_trend_ingredients").collect().toSeq finally sc.clearJobGroup()
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      (sc.statusTracker.getJobIdsForGroup(group).length, rows)
    }
    assert(runs.map(_._1).distinct.size == 1, s"jobs per run: ${runs.map(_._1).mkString(", ")}")
    assert(runs.map(_._2).distinct.size == 1)
  }

  test("sim_filtered_topk: pre-filter semantics — ranked within the segment only") {
    val got = run("sim_filtered_topk").collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Number]("label").longValue, r.getAs[Long]("cos_bp")))
    assert(got.forall(_._2 == 3L), "every result is inside the filter segment")
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq)
    // independent recompute over milli-quantized vectors
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => BigDecimal(x.toDouble).setScale(3,
            BigDecimal.RoundingMode.HALF_UP).*(1000).toLongExact).toVector))
    val q = vecs.find(_._1 == 0L).get._3
    val qn = q.map(x => x * x).sum
    val want = vecs.filter(v => v._1 != 0L && v._2 == 3L).map { case (id, l, v) =>
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      val nsq = v.map(x => x * x).sum
      val bp = if (nsq * qn == 0) 0L
        else math.floor(dot * 10000.0 / math.sqrt((nsq * qn).toDouble)).toLong
      (id, l, bp)
    }.sortBy(p => (-p._3, p._1)).take(10)
    assert(got.toSeq == want.toSeq)
    // pre-filter ≠ post-filter on this fixture: the global top-10
    // contains vectors outside the segment
    val globalTop = vecs.filter(_._1 != 0L).map { case (id, l, v) =>
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      val nsq = v.map(x => x * x).sum
      (id, l, if (nsq * qn == 0) 0L
        else math.floor(dot * 10000.0 / math.sqrt((nsq * qn).toDouble)).toLong)
    }.sortBy(p => (-p._3, p._1)).take(10)
    assert(globalTop.exists(_._2 != 3L))
  }

  test("events_mix_shift: day-over-day L1 recomputes from the share matrix") {
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull && col("event_type").isNotNull)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val days = evs.map(_._1).distinct.sorted
    val types = evs.map(_._2).distinct.sorted
    val cnt = evs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tot = evs.groupBy(_._1).map { case (d, v) => d -> v.size.toLong }
    val ppm = (for (d <- days; t <- types) yield
      (d, t) -> cnt.getOrElse((d, t), 0L) * 1000000L / tot(d)).toMap
    val want = days.toSeq.sliding(2).collect { case Seq(p, d) =>
      val diffs = types.map(t => t -> math.abs(ppm((d, t)) - ppm((p, t))))
      val top = diffs.minBy { case (t, x) => (-x, t) }
      (d, diffs.map(_._2).sum, top._1, top._2)
    }.toSeq
    val got = run("events_mix_shift").collect().map(r =>
      (r.getAs[String]("day"), r.getAs[Long]("l1_ppm"),
        r.getAs[String]("top_type"), r.getAs[Long]("top_delta_ppm"))).toSeq
    assert(got == want)
    assert(got.exists(_._2 > 0), "the mix actually shifts on the fixture")
  }

  test("graph_hits: alternating integer projections recompute in memory") {
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byPart = li.groupBy(_._2).filter(_._2.length <= 64)
    val edges = byPart.values.flatten.toSeq
    var h = edges.map(_._1).distinct.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    def rescale(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.map(math.abs).max
      m.map { case (k, v) => k -> v * 1000 / mx }
    }
    for (_ <- 1 to 2) {
      a = rescale(edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => h(e._1)).sum })
      h = rescale(edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => a(e._2)).sum })
    }
    val wantHubs = h.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    val wantAuths = a.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    val got = run("graph_hits").collect().map(r =>
      (r.getAs[String]("role"), r.getAs[Long]("id"), r.getAs[Long]("score")))
    assert(got.filter(_._1 == "hub").map(t => (t._2, t._3)).toSeq == wantHubs)
    assert(got.filter(_._1 == "authority").map(t => (t._2, t._3)).toSeq == wantAuths)
    // rescaling pins the leader at 1000 per role
    assert(got.filter(_._1 == "hub").head._3 == 1000L)
    assert(got.filter(_._1 == "authority").head._3 == 1000L)
  }

  test("events_did_ingredients: four cells and the DiD estimate recompute") {
    val p = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull && col("event_type") === "purchase" &&
        col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Math.round(r.getDouble(2) * 100)))
    val mid = (p.map(_._2).min + p.map(_._2).max) / 2
    def cell(t: Int, po: Int) = p.filter(x =>
      (if (x._1 % 2 == 1) 1 else 0) == t && (if (x._2 > mid) 1 else 0) == po)
    val (c00, c01, c10, c11) = (cell(0, 0), cell(0, 1), cell(1, 0), cell(1, 1))
    def m(c: Array[(Long, Long, Long)]) = c.map(_._3).sum / c.length
    val r = run("events_did_ingredients").collect().head
    assert((r.getAs[Long]("n00"), r.getAs[Long]("n01"), r.getAs[Long]("n10"),
      r.getAs[Long]("n11")) ==
      (c00.length.toLong, c01.length.toLong, c10.length.toLong, c11.length.toLong))
    assert((r.getAs[Long]("m00"), r.getAs[Long]("m01"), r.getAs[Long]("m10"),
      r.getAs[Long]("m11")) == (m(c00), m(c01), m(c10), m(c11)))
    assert(r.getAs[Long]("did_cents") == (m(c11) - m(c10)) - (m(c01) - m(c00)))
    assert(Seq(c00, c01, c10, c11).forall(_.nonEmpty), "all four cells populated")
  }

  test("sim_farthest_first: greedy k-center selection recomputes in memory") {
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => BigDecimal(x.toDouble).setScale(3,
            BigDecimal.RoundingMode.HALF_UP).*(1000).toLongExact).toVector)
      .toMap
    def d2(a: Vector[Long], b: Vector[Long]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      a.map(x => x * x).sum + b.map(x => x * x).sum - 2 * dot
    }
    var chosen = Vector(0L)
    var want = Vector((1L, 0L, 0L))
    for (r <- 2 to 4) {
      val next = vecs.keys.filterNot(chosen.contains).map { id =>
        id -> chosen.map(c => d2(vecs(id), vecs(c))).min
      }.minBy { case (id, d) => (-d, id) }
      chosen :+= next._1
      want :+= ((r.toLong, next._1, next._2))
    }
    val got = run("sim_farthest_first").collect().map(r =>
      (r.getAs[Long]("ord"), r.getAs[Long]("vec_id"), r.getAs[Long]("mind2")))
    assert(got.toSeq == want)
    // coverage radius is non-increasing as seeds are added
    val radii = want.drop(1).map(_._3)
    assert(radii == radii.sortBy(-_), "min-distances shrink monotonically")
  }

  test("mm_phash_hamming: pigeonhole candidates recompute from per-doc phashes") {
    val ph = graft.ops.Multimodal.sampleChunks(
      graft.sources.Tables.documents(spark, TestSpark.sf), "doc_id", "text", 1)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("chunk_md5")).as("chunks"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash16(col("chunks")).as("phash"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute force over all pairs (fixture-sized), then replicate the cap
    val byBand = (0 to 1).flatMap { bi =>
      ph.map { case (id, p) =>
        (bi, if (bi == 0) p % 256 else p / 256) -> id }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val okBucket = byBand.filter(_._2.size <= 200).values.flatten.toSet
    val phm = ph.toMap
    val want = (for {
      i <- ph.indices; j <- (i + 1) until ph.length
      a = ph(i)._1 min ph(j)._1; b = ph(i)._1 max ph(j)._1
      if java.lang.Long.bitCount(phm(a) ^ phm(b)) == 1
      // the unchanged band's bucket must be under cap for BOTH docs
      unchanged = if (((phm(a) ^ phm(b)) & 255) == 0) 0 else 1
      bv = if (unchanged == 0) phm(a) % 256 else phm(a) / 256
      if byBand((unchanged, bv)).size <= 200
    } yield (a, b, phm(a), phm(b))).distinct.sortBy(p => (p._1, p._2))
    val got = run("mm_phash_hamming").collect().map(r =>
      (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("pa"),
        r.getAs[Long]("pb"))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture has Hamming-1 phash pairs")
    got.foreach { case (_, _, pa, pb) =>
      assert(java.lang.Long.bitCount(pa ^ pb) == 1)
    }
  }

  test("text_quality_corr: correlation ingredients recompute per document") {
    val stops = graft.ops.TextAnalysis.stopwords.toSet
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("text")).collect().map(_.getString(0))
    val xy = docs.flatMap { t =>
      val toks = t.trim.split(" ", -1)
      if (toks.isEmpty) None
      else Some((t.length.toLong, toks.count(stops).toLong * 10000 / toks.length))
    }
    val n = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val r = run("text_quality_corr").collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("sx"), r.getAs[Long]("sy"),
      r.getAs[Long]("sxy"), r.getAs[Long]("sxx"), r.getAs[Long]("syy")) ==
      (n, sx, sy, sxy, sxx, syy))
    assert(r.getAs[Long]("corr_num") == n * sxy - sx * sy)
    assert(r.getAs[Long]("den_x") == n * sxx - sx * sx)
    assert(r.getAs[Long]("den_y") == n * syy - sy * sy)
    // denominator factors are nonneg by Cauchy-Schwarz
    assert(r.getAs[Long]("den_x") >= 0 && r.getAs[Long]("den_y") >= 0)
  }

  test("graph_modularity: exact ingredients recompute from LPA labels") {
    val e = pairSet.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    var labels = e.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = e.groupBy(_._1).map { case (n, nbrs) =>
        val cnt = nbrs.map(x => labels(x._2))
          .groupBy(identity).map { case (l, v) => l -> v.size }
        n -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val m = pairSet.length.toLong
    val intra = pairSet.count(p => labels(p._1) == labels(p._2)).toLong
    val deg = e.groupBy(_._1).map { case (n, v) => n -> v.size.toLong }
    val dc = deg.toSeq.groupBy { case (n, _) => labels(n) }
      .map { case (_, v) => v.map(_._2).sum }
    val sumDc2 = dc.map(d => d * d).sum
    val r = run("graph_modularity").collect().head
    assert(r.getAs[Long]("n_communities") == dc.size.toLong)
    assert(r.getAs[Long]("m") == m)
    assert(r.getAs[Long]("intra_edges") == intra)
    assert(r.getAs[Long]("sum_dc2") == sumDc2)
    assert(r.getAs[Long]("q_x4m2") == 4 * m * intra - sumDc2)
    // LPA communities beat the trivial one-community partition
    // (Q=0 there); positive modularity means real structure
    assert(r.getAs[Long]("q_x4m2") > 0, "LPA finds positive modularity")
  }

  test("events_streak_hist: longest-streak histogram recomputes per user") {
    val ud = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val want = ud.groupBy(_._1).values.map { v =>
      val days = v.map(_._2).distinct.sorted
      var best = 1L; var cur = 1L
      for (i <- 1 until days.length) {
        if (days(i) == days(i - 1) + 1) cur += 1 else cur = 1
        best = math.max(best, cur)
      }
      best
    }.toSeq.groupBy(identity).map { case (l, v) => (l, v.size.toLong) }
      .toSeq.sortBy(_._1)
    val got = run("events_streak_hist").collect().map(r =>
      (r.getAs[Long]("longest"), r.getAs[Long]("n_users"))).toSeq
    assert(got == want)
    assert(got.exists(_._1 > 1), "fixture has multi-day streaks")
  }

  test("text_template_fps: top document-frequency fingerprints recompute") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val fps = docs.flatMap { case (_, text) =>
      val toks = text.trim.split(" ", -1)
      if (toks.length < 3) Nil
      else {
        val h = toks.sliding(3).map(s => md5hex(s.mkString(" "))).toVector
        if (h.length < 4) Nil else h.sliding(4).map(_.min).toVector.distinct
      }
    }
    val nd = docs.length.toLong
    val want = fps.groupBy(identity).toSeq
      .map { case (f, v) => (f, v.length.toLong) }
      .sortBy { case (f, df) => (-df, f) }.take(20)
      .map { case (f, df) =>
        (f, df, df * 10000 / nd, if (df > 50) 1 else 0) }
    val got = run("text_template_fps").collect().map(r =>
      (r.getAs[String]("f"), r.getAs[Long]("df"), r.getAs[Long]("share_bp"),
        r.getAs[Int]("over_pair_cap"))).toSeq
    assert(got == want)
  }

  test("graph_assortativity_moments: exact sums recompute from the edge list") {
    val e = pairSet.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    val deg = e.groupBy(_._1).map { case (n, v) => n -> v.size.toLong }
    val want = (e.length.toLong,
      e.map { case (u, v) => deg(u) * deg(v) }.sum,
      e.map { case (u, _) => deg(u) }.sum,
      e.map { case (u, _) => deg(u) * deg(u) }.sum)
    val r = run("graph_assortativity_moments").collect().head
    assert((r.getAs[Long]("m2"), r.getAs[Long]("s_uv"), r.getAs[Long]("s_u"),
      r.getAs[Long]("s_u2")) == want)
    // both directions present: Σdu over directed edges is even
    assert(want._1 % 2 == 0)
  }
}
