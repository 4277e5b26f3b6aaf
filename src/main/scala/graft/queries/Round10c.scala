package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{TextAnalysis => TA, Similarity}

/** Round-10 third batch: fraud/quality audits (Benford digit law),
  * link-prediction scoring (resource-allocation index), iterative graph
  * decomposition (k-core peeling), winnowing fingerprints (the
  * positional local-fingerprint family MOSS uses), cross-source
  * distribution drift (L1 over a broadcast vocab), the nearest as-of
  * join completing the backward/forward/tolerance family, OPQ-lite
  * variance-balanced subspace assignment for the PQ pipeline, and CDC
  * batch compaction (net-change collapse, the missed-batch replay
  * algebra). House conventions throughout: integer-exact emitted
  * columns, capped/blocked pair machinery, bounded window frames,
  * DuckDB oracle twins.
  */
object Round10c extends Module {

  /** Benford first-digit expectation, basis points of log10(1+1/d) for
    * d = 1..9 — the SAME literal table on both engines, so parity never
    * rides a log implementation. */
  private val benfordBp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L)

  val queries: Map[String, Q] = Map(

    // Benford's-law audit of order totals: the first-significant-digit
    // histogram of totalprice (in cents) against the log-law expectation
    // — the classic synthetic-data / fraud smoke test a finance pipeline
    // runs per load. One rollup to 9 rows; the grand total broadcasts
    // under it (the q_scalar_subquery shape). Deviation is |obs − exp|
    // in basis points.
    "events_benford" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("cents") > 0)
        .withColumn("digit",
          substring(col("cents").cast("string"), 1, 1).cast("long"))
      val tot = o.agg(count(lit(1)).as("total"))
      o.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("obs_bp", idiv(col("n") * 10000, col("total")))
        .withColumn("exp_bp",
          element_at(array(benfordBp.map(lit): _*), col("digit").cast("int")))
        .select(col("digit"), col("n"), col("obs_bp"), col("exp_bp"),
          abs(col("obs_bp") - col("exp_bp")).as("dev_bp"))
        .orderBy(col("digit"))
    }),

    // Resource-allocation link prediction over the capped supplier–part
    // bipartite graph: RA(s1, s2) = Σ_{shared part p} 1/deg(p) — common
    // neighbors DISCOUNTED by hub-ness, the index that beats raw counts
    // on recommendation benchmarks. Integer at ppm scale (1e6 div deg).
    // Same capped projection machinery as graph_common_neighbors: hub
    // parts above 64 suppliers are dropped BEFORE the pair fan-out, so
    // per-part work is C(deg ≤ 64, 2) and total work stays linear in
    // the edge list at any corpus size.
    "graph_resource_alloc" -> ((s, dir) =>
      // a ranked projection of the shared weighted pair frame
      // (GraphShared.linkPred): the Σdeg² fan-out is built once for the
      // whole link-prediction family
      GraphShared.linkPred(s, dir)
        .select(col("s1"), col("s2"), col("ra_ppm"), col("inter"))
        .orderBy(col("ra_ppm").desc, col("s1"), col("s2")).limit(20)),

    // k-core peeling (k = 2, 3 rounds) of the near-dup pair graph: each
    // round drops nodes with degree < 2 and the edges they carried — the
    // decomposition that separates tight duplicate cliques (survive) from
    // chain/pendant structure (peel away). Reuses the build-once shared
    // t=0.5 pair index. Kernel = graft.ops.Graph.kcorePeel.
    "graph_kcore_peel" -> ((s, dir) =>
      graft.ops.Graph.kcorePeel(
        TextDedup.sharedPairs05(s, dir).select(col("a"), col("b")), 2, 3)
        .orderBy(col("round"))),

    // Winnowing fingerprint density (Schleimer et al., the MOSS local
    // fingerprinting scheme): per document, slide a w=4 window over the
    // positional trigram-hash sequence, keep each window's minimum, and
    // count the distinct selected fingerprints — guaranteed-coverage
    // fingerprints for plagiarism-style matching at ~2/(w+1) density.
    // Pure per-row array kernel (hash array projected FIRST — the §6 HOF
    // rule — then windows over the attribute); one bounded rollup per
    // source.
    "text_winnowing" -> ((s, dir) => {
      // per-doc stats come from the SHARED winnowing frame (one corpus
      // pass serves the whole family — see WinnowShared)
      val d = WinnowShared.docWinnow(s, dir)
        .select(col("source"), col("nw"), col("nf"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_windows"), sum(col("nf")).as("n_fps"),
          min(idiv(col("nf") * 10000, col("nw"))).as("min_density_bp"),
          max(idiv(col("nf") * 10000, col("nw"))).as("max_density_bp"))
        .withColumn("density_bp", idiv(col("n_fps") * 10000, col("n_windows")))
        .select(col("source"), col("n_docs"), col("n_windows"), col("n_fps"),
          col("density_bp"), col("min_density_bp"), col("max_density_bp"))
        .orderBy(col("source"))
    }),

    // Cross-source unigram drift: pairwise L1 distance (ppm) between
    // source token distributions restricted to the broadcast top-50
    // global vocabulary — the "did source X's content shift away from
    // the mix?" monitor a corpus pipeline alerts on. The matrix is
    // sources × 50 (bounded at any corpus size); the pair join fans out
    // C(sources, 2) per term, never touching the corpus again.
    "text_source_divergence" -> ((s, dir) => {
      // per-(source, tok) occurrence counts = Σtf off the shared frame
      val cnt = TokShared.tf(s, dir)
        .groupBy(col("source"), col("tok")).agg(sum(col("tf")).as("n"))
      val top = cnt.groupBy(col("tok")).agg(sum(col("n")).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(50)
        .select(col("tok")).localCheckpoint(true)
      // ≤ sources×50 rows, but referenced FOUR times downstream (totals +
      // matrix fill, then both pair-join sides): checkpoint so the final
      // plan scans the corpus once, at build time
      val v = cnt.join(broadcast(top), Seq("tok")).localCheckpoint(true)
      val tot = v.groupBy(col("source")).agg(sum(col("n")).as("tot"))
      val m = tot.crossJoin(broadcast(top))
        .join(v, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          idiv(coalesce(col("n"), lit(0L)) * 1000000L, col("tot")).as("ppm"))
      m.select(col("tok"), col("source").as("src_a"), col("ppm").as("pa"))
        .join(m.select(col("tok"), col("source").as("src_b"), col("ppm").as("pb")),
          Seq("tok"))
        .where(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(abs(col("pa") - col("pb"))).as("l1_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Nearest as-of join — completes the backward (q_asof_join), forward
    // (q_asof_forward), and tolerance (q_asof_tolerance) family: each
    // error matches its CLOSEST purchase in either direction (tie →
    // backward, the market-data convention). Two frame-complementary
    // passes over ONE partitioned sort — Spark executes both windows in
    // a single per-user ordering, no second shuffle.
    "q_asof_nearest" -> ((s, dir) => {
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wn = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val isP = col("event_type") === "purchase"
      val e = Tables.events(s, dir)
        .where(col("ts").isNotNull && (col("event_type") === "error" ||
          (col("event_type") === "purchase" && col("value").isNotNull)))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_id", last(when(isP, col("event_id")), ignoreNulls = true).over(wp))
        .withColumn("prev_us", last(when(isP, col("us")), ignoreNulls = true).over(wp))
        .withColumn("next_id", first(when(isP, col("event_id")), ignoreNulls = true).over(wn))
        .withColumn("next_us", first(when(isP, col("us")), ignoreNulls = true).over(wn))
        .where(col("event_type") === "error")
      val gp = col("us") - col("prev_us")
      val gn = col("next_us") - col("us")
      val choosePrev = col("prev_us").isNotNull &&
        (col("next_us").isNull || gp <= gn)
      e.select(col("event_id"), col("user_id"),
        when(choosePrev, col("prev_id")).otherwise(col("next_id")).as("near_id"),
        idiv(when(choosePrev, gp).otherwise(gn), lit(1000000L)).as("gap_s"),
        when(choosePrev, lit("prev"))
          .when(col("next_us").isNotNull, lit("next")).as("dir"))
        .orderBy(col("event_id"))
    }),

    // OPQ-lite subspace assignment: order the 64 embedding dimensions by
    // exact integer variance (n·Σx² − (Σx)² over milli-quantized
    // components) and deal them to the 8 PQ subspaces in serpentine
    // order — the standard cheap approximation of OPQ's rotation that
    // balances per-subspace energy so no codebook starves. The stats
    // rollup is 64 rows; the ranking window runs over that bounded
    // frame.
    "sim_opq_permute" -> ((s, dir) => {
      // per-dim n·variance from the shared GramShared moment frame (one
      // corpus pass per session serves the whole OPQ layout family)
      val stats = GramShared.varN(s, dir)
      val r = row_number().over(Window.orderBy(col("var_n").desc, col("d"))) - 1
      stats.withColumn("r", r.cast("long"))
        .withColumn("sub",
          when(idiv(col("r"), lit(8L)) % 2 === 0, col("r") % 8)
            .otherwise(lit(7L) - col("r") % 8))
        .groupBy(col("sub"))
        .agg(count(lit(1)).as("n_dims"), sum(col("var_n")).as("sum_var"),
          concat_ws(",", transform(sort_array(collect_list(col("d"))),
            x => x.cast("string"))).as("dims"))
        .orderBy(col("sub"))
    }),

    // CDC batch compaction: collapse two consecutive derived change sets
    // (prev→mid, mid→curr) into the net prev→curr set — what a consumer
    // that missed a batch applies in one pass. The oracle is the DIRECT
    // diff prev→curr, so the collapse algebra (insert→delete = ∅,
    // delete→insert-identical = ∅, chains land on final values) is
    // hash-checked cross-engine. Kernel: etl.SnapshotDiff.collapse —
    // one keyed full-outer between the two (small) change sets plus one
    // left join back to prev.
    "etl_cdc_collapse" -> ((s, dir) => {
      // ONE hash exchange on the join key up front (checkpointed —
      // localCheckpoint preserves the partitioning in the LogicalRDD,
      // the pagerank edge-list discipline): the three snapshot views
      // derive from it by filters, so the diff/collapse full-outer
      // joins on o_orderkey read co-partitioned inputs instead of each
      // re-shuffling its own copy of the table (guide §2.4)
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .repartition(col("o_orderkey"))
        .localCheckpoint(true)
      val prev = base.where(col("o_orderkey") % 5 =!= 0)
      val mid = base.where(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "P",
            (col("o_totalprice") * lit(1.1)).cast("decimal(18,3)").cast("double"))
            .otherwise(col("o_totalprice")))
      val curr = base.where(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "P",
            (col("o_totalprice") * lit(1.2)).cast("decimal(18,3)").cast("double"))
            .otherwise(col("o_totalprice")))
      val c1 = graft.etl.SnapshotDiff.changes(prev, mid, Seq("o_orderkey"))
      val c2 = graft.etl.SnapshotDiff.changes(mid, curr, Seq("o_orderkey"))
      graft.etl.SnapshotDiff.collapse(c1, c2, prev, Seq("o_orderkey"))
        .orderBy(col("change"), col("o_orderkey"))
    }),

    // Synchronous label propagation (3 rounds, neighbor-mode labels,
    // ties → min label) over the near-dup pair graph — community
    // detection, the mode-aggregation sibling of the min-label
    // connected-components kernel (dense overlapping clusters can split
    // into communities where CC would glue them). Each round is one
    // keyed join + one (node, label) rollup + a per-node window over
    // ≤degree rows; the label frame is re-checkpointed between rounds.
    // Output: the bounded community-size histogram.
    // Kernel = graft.ops.Graph.lpaLabels.
    "graph_lpa" -> ((s, dir) =>
      graft.ops.Graph.lpaLabels(
        TextDedup.sharedPairs05(s, dir).select(col("a"), col("b")), 3)
        .groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_communities"),
          min(col("lbl")).as("min_label"))
        .orderBy(col("sz"))),

    // OPQ permutation gain audit: per-subspace energy (Σ var_n over the
    // 8 dims dealt to each codebook) under the NATURAL layout (d div 8)
    // vs the serpentine variance-balanced layout of sim_opq_permute —
    // the imbalance ratio (max/min energy, bp) is the number that says
    // whether the permutation was worth it. Same 64-row bounded stats
    // frame; two layout rollups, 2-row output.
    "sim_opq_gain" -> ((s, dir) => {
      // per-dim n·variance from the shared GramShared moment frame —
      // both layout rollups below read the pinned 64-row frame, so the
      // per-entry checkpoint the old build needed is gone
      val stats = GramShared.varN(s, dir)
      val natural = stats.withColumn("sub", idiv(col("d"), lit(8L)))
        .withColumn("layout", lit("natural"))
      val r = row_number().over(Window.orderBy(col("var_n").desc, col("d"))) - 1
      val serp = stats.withColumn("r", r.cast("long"))
        .withColumn("sub",
          when(idiv(col("r"), lit(8L)) % 2 === 0, col("r") % 8)
            .otherwise(lit(7L) - col("r") % 8))
        .withColumn("layout", lit("serpentine"))
        .drop("r")
      natural.unionByName(serp)
        .groupBy(col("layout"), col("sub")).agg(sum(col("var_n")).as("e"))
        .groupBy(col("layout"))
        .agg(min(col("e")).as("min_energy"), max(col("e")).as("max_energy"),
          sum(col("e")).as("total_var"))
        .withColumn("imbalance_bp", idiv(col("max_energy") * 10000, col("min_energy")))
        .orderBy(col("layout"))
    }),

    // Near-dup QA queue: the shared t=0.5 pair index banded by Jaccard
    // decile, with pair volume and one deterministic representative per
    // band (highest Jaccard, (a, b) tiebreak) — the "eyeball one pair
    // per band" review a dedup-threshold decision is made from (the
    // mm_qa_sample shape on the pair graph). Both windows share the
    // band partition; output ≤ 6 bands.
    "dedup_qa_sample" -> ((s, dir) => {
      val p = TextDedup.sharedPairs05(s, dir)
        .withColumn("band", floor(col("jaccard") * 10).cast("long"))
      val wb = Window.partitionBy(col("band"))
      val wr = wb.orderBy(col("jaccard").desc, col("a"), col("b"))
      p.withColumn("rn", row_number().over(wr))
        .withColumn("n_pairs", count(lit(1)).over(wb))
        .where(col("rn") === 1)
        .select(col("band"), col("n_pairs"), col("a").as("top_a"),
          col("b").as("top_b"), col("jaccard").as("top_jaccard"))
        .orderBy(col("band"))
    }),

    // SLO burn-down: daily error rate (bp) against a 100 bp (1%) error
    // budget, with the cumulative burn and the breach flag — the
    // reliability readout an on-call dashboard plots. One per-day
    // rollup; the running sums ride the day-bounded spine (the
    // two-phase-exempt bounded-frame pattern); breach is an integer
    // cross-multiplication, never a rate division tie.
    "events_slo_burn" -> ((s, dir) => {
      val daily = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("total"),
          count(when(col("event_type") === "error", 1)).as("errors"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      daily
        .withColumn("day_bp", idiv(col("errors") * 10000, col("total")))
        .withColumn("cum_errors", sum(col("errors")).over(w))
        .withColumn("cum_total", sum(col("total")).over(w))
        .withColumn("cum_bp", idiv(col("cum_errors") * 10000, col("cum_total")))
        .withColumn("breach",
          (col("cum_errors") * 10000 > col("cum_total") * 100).cast("int"))
        .select(iso(col("day")).as("day"), col("total"), col("errors"),
          col("day_bp"), col("cum_errors"), col("cum_total"), col("cum_bp"),
          col("breach"))
        .orderBy(col("day"))
    }),

    // Degree-assortativity ingredients of the near-dup pair graph: over
    // the directed edge list (both directions of each pair), the exact
    // integer sums Newman's coefficient is assembled from — Σ dᵤdᵥ,
    // Σ dᵤ, Σ dᵤ², and the directed edge count. High assortativity
    // (hubs linking hubs) means dup clusters are nested copy-farms;
    // negative means hub-and-spoke template reuse. The sim_cov_moments
    // convention: emit exact ingredients, let the consumer divide.
    "graph_assortativity_moments" -> ((s, dir) => {
      val e = graft.ops.Graph.undirectedEdges(
        TextDedup.sharedPairs05(s, dir).select(col("a"), col("b")), "a", "b")
        .localCheckpoint(true)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      e.join(deg, Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("dv")), Seq("dst"))
        .agg(count(lit(1)).as("m2"), sum(col("deg") * col("dv")).as("s_uv"),
          sum(col("deg")).as("s_u"), sum(col("deg") * col("deg")).as("s_u2"))
    }),

    // Winnowing-fingerprint candidate pairs — the MOSS matching scheme
    // end-to-end: docs sharing ≥ 2 SELECTED fingerprints (distinct w=4
    // window minima over the trigram-hash sequence) are candidate
    // matches. The fingerprint postings are df-capped at 50 (the house
    // capped-postings rule: a boilerplate fingerprint shared by
    // thousands of docs would otherwise emit df²/2 rows while carrying
    // no match signal), so pair work is ∝ true overlap at any corpus
    // size — the winnowing guarantee (any sufficiently long shared
    // substring shares a fingerprint) does the recall.
    "dedup_winnow_pairs" -> ((s, dir) =>
      // the SHARED winnow pair frame (one fingerprint pass + one capped
      // self-join serve this entry, dedup_winnow_cc, and
      // dedup_winnow_containment — see WinnowShared.winnowPairs)
      WinnowShared.winnowPairs(s, dir).orderBy(col("a"), col("b"))),

    // SimHash bit-balance audit: per bit position of the 16-bit corpus
    // fingerprints, the ones-share (bp) and its deviation from the
    // unbiased 5000 — a skewed bit means a hash-family defect or a
    // corpus-wide boilerplate feature, and costs recall in every banded
    // Hamming lookup. One fingerprint pass (native codegen simhash16),
    // a 16-way generate, bounded rollup; the 1-row total broadcasts.
    "dedup_simhash_bits" -> ((s, dir) => {
      val sh = graft.ops.Dedup.simhash16(
        Tables.documents(s, dir), "doc_id", "text")
      val tot = sh.agg(count(lit(1)).as("total"))
      sh.select(col("simhash"), explode(sequence(lit(0), lit(15))).as("bit"))
        .withColumn("one", expr("(simhash >> bit) & 1"))
        .groupBy(col("bit")).agg(sum(col("one")).as("n_ones"))
        .crossJoin(broadcast(tot))
        .select(col("bit").cast("long").as("bit"), col("n_ones"),
          idiv(col("n_ones") * 10000, col("total")).as("ones_bp"),
          abs(idiv(col("n_ones") * 10000, col("total")) - 5000).as("dev_bp"))
        .orderBy(col("bit"))
    }),

    // Join-fanout audit: the per-key multiplicity histogram of the
    // orders ⋈ lineitem key BEFORE running the join — multiplicity 0
    // (childless orders, the outer-join null band) through the max
    // fan-out, with the exact output-row estimate each band contributes.
    // The pre-flight a planner (or an on-call debugging a blown-up join)
    // reads; two keyed rollups, output bounded by the max multiplicity.
    "q_join_fanout_audit" -> ((s, dir) => {
      val m = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("mult"))
      Tables.orders(s, dir).select(col("o_orderkey").as("k"))
        .join(m, Seq("k"), "left")
        .withColumn("mult", coalesce(col("mult"), lit(0L)))
        .groupBy(col("mult")).agg(count(lit(1)).as("n_keys"))
        .withColumn("est_rows", col("mult") * col("n_keys"))
        .orderBy(col("mult"))
    }),

    // Two steps of the power iteration on the exact integer Gram matrix
    // (the sim_cov_moments cells, mirrored to full symmetric): v₀ = 1,
    // vₖ₊₁ = A·vₖ, each step re-scaled to ±1000 by the max |component|
    // with truncating integer division — the top-eigenvector direction
    // estimate (PCA's first axis) with every step bit-stable
    // cross-engine. Matrix AND iterations live in the shared
    // GramShared.powerVecs frame (ONE O(n·d²) moment pass + two O(d²)
    // steps per session serve this entry and sim_power_convergence);
    // the entry is a sort of that pinned 64-row frame.
    "sim_power_iteration" -> ((s, dir) =>
      GramShared.powerVecs(s, dir).orderBy(col("d"))),

    // Time-hierarchy rollup: daily, monthly, and all-time event volume +
    // distinct actives in ONE pass (ROLLUP(month, day) — partial
    // aggregates reuse the same shuffle, the way a calendar dashboard
    // should be fed instead of three scans). Distinct users re-aggregate
    // correctly per level because rollup recomputes from rows, not from
    // partials of partials.
    "events_time_rollup" -> ((s, dir) =>
      Tables.events(s, dir).where(col("ts").isNotNull)
        .select(date_format(col("ts"), "yyyy-MM").as("mon"),
          iso(to_date(col("ts"))).as("day"), col("user_id"))
        .rollup(col("mon"), col("day"))
        .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
        .select(
          when(col("day").isNotNull, lit("day"))
            .when(col("mon").isNotNull, lit("month"))
            .otherwise(lit("all")).as("level"),
          coalesce(col("day"), col("mon"), lit("*")).as("period"),
          col("n"), col("n_users"))
        .orderBy(col("level"), col("period"))),

    // GDPR-erasure audit: the per-day impact report of deleting every
    // event of the erase-listed users (here: user_id ≡ 0 mod 97 — the
    // deterministic stand-in for a real request list) — rows before /
    // erased / after and affected users per day, the evidence artifact a
    // compliance pipeline files next to the Merge-delete it executed
    // (etl.Merge deleteCond is the deletion itself, proven in its spec).
    // One conditional rollup, no join: the erase predicate rides the
    // scan.
    "etl_erasure_audit" -> ((s, dir) =>
      Tables.events(s, dir).where(col("ts").isNotNull)
        .withColumn("hit", (col("user_id") % 97 === 0).cast("int"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_before"),
          sum(col("hit")).cast("long").as("n_erased"),
          count_distinct(when(col("hit") === 1, col("user_id"))).as("n_users_erased"))
        .withColumn("n_after", col("n_before") - col("n_erased"))
        .select(iso(col("day")).as("day"), col("n_before"), col("n_erased"),
          col("n_after"), col("n_users_erased"))
        .orderBy(col("day"))),

    // Linear-counting bitmap sketch of daily distinct users, with the
    // merged all-days bitmap built from the SAME per-day cell frame —
    // the mergeability property that lets 1000 executors (or 30 daily
    // partitions) sketch independently and OR the results, where exact
    // distinct would re-shuffle the raw keys. Cells = md5-h3(user) mod
    // 4096 (the shared Sketch kernel); per-scope state is ≤ 4096 cells
    // no matter the volume. Exact distincts ride the same one-pass
    // (day, user) dedup as the in-query audit (the q_approx_distinct
    // convention).
    "q_bitmap_distinct" -> ((s, dir) => {
      val du = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(iso(to_date(col("ts"))).as("scope"), col("user_id"))
        .distinct().localCheckpoint(true)
      val cells = du.select(col("scope"),
        graft.ops.Sketch.bitmapCell(col("user_id"), 4096L).as("cell"))
        .distinct().localCheckpoint(true)
      val perDay = cells.groupBy(col("scope")).agg(count(lit(1)).as("bits_set"))
        .join(du.groupBy(col("scope")).agg(count(lit(1)).as("exact_distinct")),
          Seq("scope"))
      val global = cells.select(col("cell")).distinct()
        .agg(count(lit(1)).as("bits_set"))
        .withColumn("scope", lit("all"))
        .crossJoin(broadcast(du.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))))
      perDay.unionByName(global.select(col("scope"), col("bits_set"),
          col("exact_distinct")))
        .withColumn("sat_bp", idiv(col("bits_set") * 10000, lit(4096L)))
        .select(col("scope"), col("bits_set"), col("sat_bp"),
          col("exact_distinct"))
        .orderBy(col("scope"))
    }),

    // Alert-storm suppression: an error is EMITTED if it is the user's
    // first, or ≥ 6 h after their previous error; otherwise it is
    // SUPPRESSED (page at most once per burst window — the on-call
    // dedup every alerting system applies). One lag per user (single
    // partitioned sort), then the bounded per-day rollup with the
    // suppression rate in bp.
    "events_alert_suppress" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .where(col("ts").isNotNull && col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
        .withColumn("emit",
          (lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) > 21600000000L).cast("int"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_alerts"),
          sum(col("emit")).cast("long").as("n_emitted"))
        .withColumn("n_suppressed", col("n_alerts") - col("n_emitted"))
        .withColumn("suppress_bp",
          idiv(col("n_suppressed") * 10000, col("n_alerts")))
        .select(iso(col("day")).as("day"), col("n_alerts"), col("n_emitted"),
          col("n_suppressed"), col("suppress_bp"))
        .orderBy(col("day"))
    }),

    // Tokenizer fertility by language: symbols-per-word (×100) of the
    // corpus-trained 3-merge BPE, weighted by each language's own word
    // frequencies — the multilingual-fairness metric (a language with
    // 2× the fertility pays 2× the context budget per word). Reuses the
    // shared BPE training loop (text_bpe_train/apply); the per-language
    // join is vocab-sized, never corpus-sized.
    "text_bpe_fertility" -> ((s, dir) => {
      val (cur, _) = Round10.bpeRounds(s, dir)
      val sy = cur.select(col("w"),
        size(split(trim(col("seq")), " ")).cast("long").as("na"))
      // per-(lang, word) occurrence counts = Σtf off the shared frame
      TokShared.tf(s, dir)
        .groupBy(col("lang"), col("tok").as("w")).agg(sum(col("tf")).as("lfreq"))
        .join(sy, Seq("w"))
        .groupBy(col("lang"))
        .agg(sum(col("lfreq")).as("n_tokens"),
          sum(col("lfreq") * col("na")).as("n_syms"))
        .withColumn("fertility_x100", idiv(col("n_syms") * 100, col("n_tokens")))
        .orderBy(col("lang"))
    }),

    // INTERSECT ALL — the multiset twin of q_intersect: customer
    // segments present in BOTH order-year cohorts keep their
    // multiplicity min(m₁, m₂), which set-intersect collapses to 1 —
    // the dedup-safe way to compare repeated-observation populations.
    // Spark plans it as a single aggregate-join (no distinct pre-pass).
    "q_intersect_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          col("o_orderpriority"))
      val a = o.where(col("yr") === 1995)
        .select(col("o_custkey"), col("o_orderpriority"))
      val b = o.where(col("yr") === 1996)
        .select(col("o_custkey"), col("o_orderpriority"))
      a.intersectAll(b)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), count_distinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("o_orderpriority"))
    }),

    // EXCEPT ALL — the multiset twin of q_except: 1995 (custkey,
    // priority) observations surviving with multiplicity m₁ − m₂ after
    // removing the 1996 ones occurrence-for-occurrence (set-except
    // would drop a pair entirely if it appears even once in 1996).
    "q_except_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          col("o_orderpriority"))
      val a = o.where(col("yr") === 1995)
        .select(col("o_custkey"), col("o_orderpriority"))
      val b = o.where(col("yr") === 1996)
        .select(col("o_custkey"), col("o_orderpriority"))
      a.exceptAll(b)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), count_distinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("o_orderpriority"))
    }),

    // Linear-trend ingredients per event type: over the (day-index,
    // daily-count) series, the exact integer sums the least-squares
    // slope is assembled from — n, Σx, Σy, Σxy, Σx² (slope = (nΣxy −
    // ΣxΣy) / (nΣx² − (Σx)²)) — the growth-trend detector, emitted as
    // ingredients so the consumer divides at whatever precision it
    // wants (the sim_cov_moments convention). Day index is relative to
    // the type's own first day, so the sums are small and stable.
    "events_trend_ingredients" -> ((s, dir) => {
      // the type's first day is a window over `daily`, not a join of
      // `daily` with its own aggregate: one plan over the series, so the
      // entry runs the same Spark jobs every time (the join's null-type
      // drop is the filter)
      val daily = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("d"))
        .agg(count(lit(1)).as("y"))
      daily.withColumn("x",
          col("d") - min(col("d")).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope_num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("slope_den", col("n") * col("sxx") - col("sx") * col("sx"))
        .orderBy(col("event_type"))
    }),

    // Filtered ANN — the vector-database "metadata predicate + top-k"
    // composition: cosine top-10 vs the query vector among candidates
    // with label = 3 ONLY, with the filter applied BEFORE ranking
    // (pre-filter: always k results when the segment has them, unlike
    // post-filtering a global top-k which can starve). The predicate
    // rides the candidate scan; the shape is otherwise sim_topk_brute's
    // (1-row broadcast query, never-shuffled scan, distributed
    // TakeOrdered).
    "sim_filtered_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = SimShared.miln(s, dir).where(col("vec_id") === 0L)
        .select(col("mq").as("qmq"), col("nsq").as("qnsq"))
      emb.where(col("vec_id") =!= 0L && col("label") === 3L)
        .select(col("vec_id"), col("label"),
          Similarity.milliQuant(col("embedding")).as("mq"))
        .withColumn("nsq", Similarity.normSqMilli(col("mq")))
        .crossJoin(broadcast(q))
        .withColumn("cos_bp", Similarity.cosBp(
          Similarity.dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
        .select(col("vec_id"), col("label"), col("cos_bp"))
        .orderBy(col("cos_bp").desc, col("vec_id")).limit(10)
    }),

    // Day-over-day event-mix drift: per day, the L1 distance (ppm)
    // between the event-type share vector and the previous day's — the
    // composition-shift monitor (a release that doubles error share
    // moves this even when total volume is flat) — plus the top-moving
    // type. The matrix is the bounded day×type spine (missing cells are
    // true zeros); all windows ride it, never the raw stream.
    "events_mix_shift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("event_type").isNotNull)
      val dt = e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n")).localCheckpoint(true)
      val days = dt.select(col("day")).distinct()
      val types = dt.select(col("event_type")).distinct()
      val tot = dt.groupBy(col("day")).agg(sum(col("n")).as("tot"))
      val m = days.crossJoin(broadcast(types))
        .join(dt, Seq("day", "event_type"), "left")
        .join(tot, Seq("day"))
        .select(col("day"), col("event_type"),
          idiv(coalesce(col("n"), lit(0L)) * 1000000L, col("tot")).as("ppm"))
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val diffs = m.withColumn("prev", lag(col("ppm"), 1).over(wt))
        .where(col("prev").isNotNull)
        .withColumn("d", abs(col("ppm") - col("prev")))
      val wd = Window.partitionBy(col("day"))
      val wr = wd.orderBy(col("d").desc, col("event_type"))
      diffs.withColumn("rn", row_number().over(wr))
        .withColumn("l1_ppm", sum(col("d")).over(wd))
        .where(col("rn") === 1)
        .select(iso(col("day")).as("day"), col("l1_ppm"),
          col("event_type").as("top_type"), col("d").as("top_delta_ppm"))
        .orderBy(col("day"))
    }),

    // HITS hubs & authorities on the capped supplier–part bipartite
    // graph: 2 alternating integer projections (a = Eᵀh, h = Ea), each
    // re-scaled to ±1000 by its max with truncating division — the
    // link-analysis twin of graph_pagerank for bipartite structure
    // (diversified suppliers ↔ widely-sourced parts). Top-10 per role;
    // kernel = graft.ops.Graph.hits, shared with any probe.
    "graph_hits" -> ((s, dir) => {
      val spc = GraphShared.cappedSp(s, dir)
      val scored = graft.ops.Graph.hits(spc, 2)
      val w = Window.partitionBy(col("role"))
        .orderBy(col("score").desc, col("id"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .select(col("role"), col("id"), col("score"))
        .orderBy(col("role"), col("score").desc, col("id"))
    }),

    // Difference-in-differences ingredients: purchases split by a
    // deterministic treatment flag (user_id mod 2) × period (before /
    // after the observed time midpoint) into four cells — per-cell
    // counts, exact cent sums, truncating means, and the assembled DiD
    // estimate (m₁₁−m₁₀)−(m₀₁−m₀₀) in cents — the causal-lift readout
    // an experimentation pipeline files next to events_ab_lift's plain
    // lift. One conditional rollup to ONE row; the midpoint is a 1-row
    // scalar broadcast.
    "events_did_ingredients" -> ((s, dir) => {
      val p = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("event_type") === "purchase" &&
          col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
      val mid = p.agg(idiv(min(col("us")) + max(col("us")), lit(2L)).as("mid"))
      val cells = p.crossJoin(broadcast(mid))
        .withColumn("treat", (col("user_id") % 2 === 1).cast("int"))
        .withColumn("post", (col("us") > col("mid")).cast("int"))
      def m(t: Int, po: Int) = idiv(
        sum(when(col("treat") === t && col("post") === po, col("cents"))),
        count(when(col("treat") === t && col("post") === po, 1)))
      cells.agg(
          count(when(col("treat") === 0 && col("post") === 0, 1)).as("n00"),
          count(when(col("treat") === 0 && col("post") === 1, 1)).as("n01"),
          count(when(col("treat") === 1 && col("post") === 0, 1)).as("n10"),
          count(when(col("treat") === 1 && col("post") === 1, 1)).as("n11"),
          m(0, 0).as("m00"), m(0, 1).as("m01"),
          m(1, 0).as("m10"), m(1, 1).as("m11"))
        .withColumn("did_cents",
          (col("m11") - col("m10")) - (col("m01") - col("m00")))
    }),

    // Farthest-first traversal (k-center greedy — the deterministic
    // k-means++-style seeding): seed 1 = vec 0; each round adds the
    // vector maximizing its min squared-L2 (exact milli integers) to the
    // chosen set, tie → min vec_id. 4 rounds; every round is one scan of
    // the quantized table against the ≤4-row broadcast chosen set + one
    // TakeOrdered(1) — no step is ever pairwise over the corpus. The
    // classic 2-approximation coreset/init kernel, bit-stable
    // cross-engine because the metric is integer and ties are keyed.
    // Kernel = graft.ops.Similarity.farthestFirst.
    "sim_farthest_first" -> ((s, dir) =>
      Similarity.farthestFirst(Tables.embeddings(s, dir), "vec_id",
          "embedding", 0L, 4)
        .orderBy(col("ord"))),

    // Perceptual-hash near-dup pairs over binary payloads at Hamming
    // distance EXACTLY 1 — the strictly-near complement of
    // mm_phash_dedup's identical-phash groups: split the 16-bit chunk
    // simhash into two 8-bit bands; one flipped bit touches one band,
    // so every qualifying pair matches exactly on the OTHER band
    // (pigeonhole — candidate generation is two equality self-joins,
    // never a distance scan). Band buckets are capped at 200 occupants
    // (the simhash_hamming house rule), and the exact popcount verify
    // bounds emissions.
    "mm_phash_hamming" -> ((s, dir) => {
      val ph = graft.ops.Multimodal
        .sampleChunks(Tables.documents(s, dir), "doc_id", "text", 1)
        .groupBy(col("doc_id"))
        .agg(collect_list(col("chunk_md5")).as("chunks"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash16(col("chunks")).as("phash"))
        .localCheckpoint(true)
      val bands = ph.select(col("doc_id"), col("phash"),
        explode(array(lit(0), lit(1))).as("bi"))
        .withColumn("bv",
          when(col("bi") === 0, col("phash") % 256)
            .otherwise(idiv(col("phash"), lit(256L))))
      val capped = bands.join(
        bands.groupBy(col("bi"), col("bv")).agg(count(lit(1)).as("bn"))
          .where(col("bn") <= 200), Seq("bi", "bv"))
      capped.select(col("bi"), col("bv"), col("doc_id").as("a"), col("phash").as("pa"))
        .join(capped.select(col("bi"), col("bv"), col("doc_id").as("b"),
          col("phash").as("pb")), Seq("bi", "bv"))
        .where(col("a") < col("b") &&
          bit_count(col("pa").bitwiseXOR(col("pb"))) === 1)
        .select(col("a"), col("b"), col("pa"), col("pb")).distinct()
        .orderBy(col("a"), col("b"))
    }),

    // Length↔quality correlation ingredients: over the corpus, the
    // exact integer sums Pearson's r between doc length (chars) and
    // stopword share (bp) is assembled from — n, Σx, Σy, Σxy, Σx², Σy²
    // plus the assembled numerator and the two squared-denominator
    // factors (consumer takes the sqrt) — the "are long docs cleaner?"
    // curation question in the emit-ingredients convention. One scan,
    // one 1-row rollup.
    "text_quality_corr" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(length(col("text")).cast("long").as("x"),
          TA.tokenCount(col("text")).as("nt"),
          TA.stopwordCount(col("text")).as("ns"))
        .where(col("nt") > 0)
        .withColumn("y", idiv(col("ns") * 10000, col("nt")))
      d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("corr_num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den_x", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("den_y", col("n") * col("syy") - col("sy") * col("sy"))
    }),

    // Modularity of the LPA communities, exact: 4m²·Q = 4m·Σ_c e_c −
    // Σ_c d_c² (e_c = intra-community edges, d_c = community degree
    // sum, m = edges) — every term an exact integer, so the
    // partition-quality readout that judges graph_lpa's output is
    // bit-stable. One labels join per edge endpoint + two bounded
    // rollups; emits the single summary row (the emit-ingredients
    // convention: consumer divides by 4m² at its own precision).
    "graph_modularity" -> ((s, dir) => {
      val pairs = TextDedup.sharedPairs05(s, dir).select(col("a"), col("b"))
        .localCheckpoint(true)
      val labels = graft.ops.Graph.lpaLabels(pairs, 3)
      val la = labels.select(col("node").as("a"), col("lbl").as("la"))
      val lb = labels.select(col("node").as("b"), col("lbl").as("lb"))
      val e = pairs.join(la, Seq("a")).join(lb, Seq("b"))
      val ec = e.where(col("la") === col("lb"))
        .groupBy(col("la").as("c")).agg(count(lit(1)).as("e_c"))
      val deg = graft.ops.Graph.undirectedEdges(pairs, "a", "b")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("lbl").as("c")).agg(sum(col("deg")).as("d_c"))
      val m = pairs.agg(count(lit(1)).as("m"))
      deg.join(ec, Seq("c"), "left")
        .agg(count(lit(1)).as("n_communities"),
          coalesce(sum(col("e_c")), lit(0L)).as("intra_edges"),
          sum(col("d_c") * col("d_c")).as("sum_dc2"))
        .crossJoin(broadcast(m))
        .withColumn("q_x4m2",
          lit(4L) * col("m") * col("intra_edges") - col("sum_dc2"))
        .select(col("n_communities"), col("m"), col("intra_edges"),
          col("sum_dc2"), col("q_x4m2"))
    }),

    // Longest daily-activity streak per user, rolled into the bounded
    // streak-length histogram — the engagement readout (how many users
    // sustain 2-day, 3-day… runs). Gaps-islands over the deduped
    // (user, day) set: islands via day − row_number per user, longest
    // island per user, histogram by length.
    "events_streak_hist" -> ((s, dir) => {
      val ud = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val longest = ud
        .withColumn("isl", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("isl")).agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("longest"))
      longest.groupBy(col("longest"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("longest"))
    }),

    // Template/boilerplate detector: the top-20 winnowing fingerprints
    // by DOCUMENT frequency — exactly the high-df mass
    // dedup_winnow_pairs' 50-cap drops from pair generation, surfaced
    // instead of silently truncated (the no-silent-caps rule as an
    // operator): a fingerprint in 30% of docs is a shared template, not
    // a match signal, and belongs in a cleaning rule. Emits df, doc
    // share (bp), and the capped/uncapped flag.
    "text_template_fps" -> ((s, dir) => {
      // fingerprint postings from the SHARED winnowing frame (see
      // WinnowShared — one corpus pass serves the whole family)
      val fp = WinnowShared.fpPostings(s, dir)
      val nd = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      fp.groupBy(col("f")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("f")).limit(20)
        .crossJoin(broadcast(nd))
        .select(col("f"), col("df"),
          idiv(col("df") * 10000, col("n_docs")).as("share_bp"),
          (col("df") > 50).cast("int").as("over_pair_cap"))
        .orderBy(col("df").desc, col("f"))
    }),

    // Bot-rate banding: per user, events per active minute (×100,
    // integer) — sustained superhuman rates are automation; banded so
    // the output is the bounded triage histogram (band = floor
    // events/min), with population, peak rate, and event volume per
    // band. One per-user rollup over (user, minute) distincts.
    "events_bot_score" -> ((s, dir) => {
      val u = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"))
      val per = u.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("minute")).as("mins"))
        .withColumn("rate_x100", idiv(col("n") * 100, col("mins")))
      per.withColumn("band", idiv(col("rate_x100"), lit(100L)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_users"), max(col("rate_x100")).as("max_rate_x100"),
          sum(col("n")).as("n_events"))
        .orderBy(col("band"))
    }),
  )

  val oracle: Map[String, String] = Map(

    "events_benford" -> {
      val lst = benfordBp.mkString("[", ", ", "]")
      s"""WITH o AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders WHERE round(o_totalprice * 100) > 0),
         |d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
         |        AS digit FROM o),
         |t AS (SELECT count(*) AS total FROM d),
         |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
         |SELECT digit, n,
         |  CAST(n * 10000 // total AS BIGINT) AS obs_bp,
         |  CAST(list_extract($lst, digit) AS BIGINT) AS exp_bp,
         |  CAST(abs(n * 10000 // total - list_extract($lst, digit)) AS BIGINT)
         |    AS dev_bp
         |FROM g, t ORDER BY digit""".stripMargin
    },

    "graph_resource_alloc" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |pd0 AS (SELECT pk, count(*) AS pd FROM sp GROUP BY pk),
        |spc AS (SELECT sk, sp.pk AS pk FROM sp JOIN pd0 USING (pk) WHERE pd0.pd <= 64),
        |pd AS (SELECT pk, count(*) AS pd FROM spc GROUP BY pk),
        |pairs AS (
        |  SELECT a.sk AS s1, b.sk AS s2,
        |    sum(1000000 // pd.pd) AS ra_ppm, count(*) AS inter
        |  FROM spc a JOIN spc b ON a.pk = b.pk AND a.sk < b.sk
        |  JOIN pd ON pd.pk = a.pk
        |  GROUP BY a.sk, b.sk)
        |SELECT s1, s2, CAST(ra_ppm AS BIGINT) AS ra_ppm, inter
        |FROM pairs ORDER BY ra_ppm DESC, s1, s2 LIMIT 20""".stripMargin,

    "graph_kcore_peel" ->
      s"""WITH ${Round10b.pairsCte},
         |e0 AS (SELECT a, b FROM pairs),
         |d1 AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) u GROUP BY node),
         |k1 AS (SELECT node FROM d1 WHERE deg >= 2),
         |e1 AS (SELECT a, b FROM e0
         |  WHERE a IN (SELECT node FROM k1) AND b IN (SELECT node FROM k1)),
         |d2 AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) u GROUP BY node),
         |k2 AS (SELECT node FROM d2 WHERE deg >= 2),
         |e2 AS (SELECT a, b FROM e1
         |  WHERE a IN (SELECT node FROM k2) AND b IN (SELECT node FROM k2)),
         |d3 AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) u GROUP BY node),
         |k3 AS (SELECT node FROM d3 WHERE deg >= 2),
         |e3 AS (SELECT a, b FROM e2
         |  WHERE a IN (SELECT node FROM k3) AND b IN (SELECT node FROM k3))
         |SELECT 1 AS round,
         |  (SELECT count(*) FROM d1 WHERE deg < 2) AS n_removed,
         |  (SELECT count(*) FROM k1) AS n_nodes_left,
         |  (SELECT count(*) FROM e1) AS n_edges_left
         |UNION ALL SELECT 2,
         |  (SELECT count(*) FROM d2 WHERE deg < 2),
         |  (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
         |UNION ALL SELECT 3,
         |  (SELECT count(*) FROM d3 WHERE deg < 2),
         |  (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
         |ORDER BY round""".stripMargin,

    "text_winnowing" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |s AS (SELECT source, list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM t),
         |h AS (SELECT source, list_transform(sh, x -> md5(x)) AS h
         |      FROM s WHERE len(sh) >= 4),
         |w AS (SELECT source, list_transform(range(1, len(h) - 2),
         |    i -> list_aggregate(h[i:i+3], 'min')) AS wins FROM h),
         |v AS (SELECT source, len(wins) AS nw,
         |        len(list_distinct(wins)) AS nf FROM w)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_windows,
         |  CAST(sum(nf) AS BIGINT) AS n_fps,
         |  CAST(CAST(sum(nf) AS BIGINT) * 10000 // CAST(sum(nw) AS BIGINT)
         |    AS BIGINT) AS density_bp,
         |  CAST(min(nf * 10000 // nw) AS BIGINT) AS min_density_bp,
         |  CAST(max(nf * 10000 // nw) AS BIGINT) AS max_density_bp
         |FROM v GROUP BY source ORDER BY source""".stripMargin,

    "text_source_divergence" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |cnt AS (SELECT source, tok, count(*) AS n FROM (
         |  SELECT source, unnest(toks) AS tok FROM t) x GROUP BY source, tok),
         |top AS (SELECT tok FROM (
         |  SELECT tok, sum(n) AS tf FROM cnt GROUP BY tok
         |  ORDER BY tf DESC, tok LIMIT 50) z),
         |v AS (SELECT source, cnt.tok AS tok, n FROM cnt JOIN top USING (tok)),
         |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot
         |        FROM v GROUP BY source),
         |m AS (SELECT tot.source AS source, top.tok AS tok,
         |    CAST(coalesce(v.n, 0) * 1000000 // tot.tot AS BIGINT) AS ppm
         |  FROM tot CROSS JOIN top
         |  LEFT JOIN v ON v.source = tot.source AND v.tok = top.tok)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(sum(abs(a.ppm - b.ppm)) AS BIGINT) AS l1_ppm
         |FROM m a JOIN m b ON a.tok = b.tok AND a.source < b.source
         |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin,

    "q_asof_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |  WHERE ts IS NOT NULL AND (event_type = 'error'
        |    OR (event_type = 'purchase' AND value IS NOT NULL))),
        |w AS (
        |  SELECT event_id, user_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |      IGNORE NULLS) OVER wp AS prev_id,
        |    last_value(CASE WHEN event_type = 'purchase' THEN us END
        |      IGNORE NULLS) OVER wp AS prev_us,
        |    first_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |      IGNORE NULLS) OVER wn AS next_id,
        |    first_value(CASE WHEN event_type = 'purchase' THEN us END
        |      IGNORE NULLS) OVER wn AS next_us
        |  FROM e
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  wn AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id,
        |  CASE WHEN prev_us IS NOT NULL
        |         AND (next_us IS NULL OR us - prev_us <= next_us - us)
        |       THEN prev_id ELSE next_id END AS near_id,
        |  CAST((CASE WHEN prev_us IS NOT NULL
        |         AND (next_us IS NULL OR us - prev_us <= next_us - us)
        |       THEN us - prev_us ELSE next_us - us END) // 1000000 AS BIGINT)
        |    AS gap_s,
        |  CASE WHEN prev_us IS NOT NULL
        |         AND (next_us IS NULL OR us - prev_us <= next_us - us)
        |       THEN 'prev'
        |       WHEN next_us IS NOT NULL THEN 'next' END AS dir
        |FROM w WHERE event_type = 'error' ORDER BY event_id""".stripMargin,

    "sim_opq_permute" ->
      """WITH comp AS (
        |  SELECT CAST(d.range AS BIGINT) AS d,
        |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
        |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS x
        |  FROM embeddings CROSS JOIN range(64) d),
        |st AS (SELECT d, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |       FROM comp GROUP BY d),
        |v AS (SELECT d, n * sxx - sx * sx AS var_n FROM st),
        |r AS (SELECT d, var_n,
        |    row_number() OVER (ORDER BY var_n DESC, d) - 1 AS r FROM v),
        |a AS (SELECT d, var_n,
        |    CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - r % 8 END AS sub
        |  FROM r)
        |SELECT sub, count(*) AS n_dims,
        |  CAST(sum(var_n) AS BIGINT) AS sum_var,
        |  string_agg(CAST(d AS VARCHAR), ',' ORDER BY d) AS dims
        |FROM a GROUP BY sub ORDER BY sub""".stripMargin,

    "etl_cdc_collapse" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |prev AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0),
        |curr AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'P'
        |         THEN CAST(CAST(o_totalprice * 1.2 AS DECIMAL(18,3)) AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 3 <> 0),
        |j AS (
        |  SELECT coalesce(c.o_orderkey, p.o_orderkey) AS o_orderkey,
        |    c.o_custkey, c.o_orderstatus, c.o_totalprice,
        |    CASE WHEN p.o_orderkey IS NULL THEN 'insert'
        |         WHEN c.o_orderkey IS NULL THEN 'delete'
        |         WHEN c.o_custkey IS DISTINCT FROM p.o_custkey
        |           OR c.o_orderstatus IS DISTINCT FROM p.o_orderstatus
        |           OR c.o_totalprice IS DISTINCT FROM p.o_totalprice THEN 'update'
        |    END AS change
        |  FROM curr c FULL OUTER JOIN prev p ON c.o_orderkey = p.o_orderkey)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, change
        |FROM j WHERE change IS NOT NULL ORDER BY change, o_orderkey""".stripMargin,

    "graph_lpa" ->
      s"""WITH ${Round10b.pairsCte},
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION ALL SELECT b, a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
         |n1 AS (SELECT e.src, l0.lbl, count(*) AS c FROM e
         |       JOIN l0 ON l0.node = e.dst GROUP BY e.src, l0.lbl),
         |l1 AS (SELECT src AS node, lbl FROM (
         |  SELECT src, lbl, row_number() OVER (
         |    PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM n1) x
         |  WHERE rn = 1),
         |n2 AS (SELECT e.src, l1.lbl, count(*) AS c FROM e
         |       JOIN l1 ON l1.node = e.dst GROUP BY e.src, l1.lbl),
         |l2 AS (SELECT src AS node, lbl FROM (
         |  SELECT src, lbl, row_number() OVER (
         |    PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM n2) x
         |  WHERE rn = 1),
         |n3 AS (SELECT e.src, l2.lbl, count(*) AS c FROM e
         |       JOIN l2 ON l2.node = e.dst GROUP BY e.src, l2.lbl),
         |l3 AS (SELECT src AS node, lbl FROM (
         |  SELECT src, lbl, row_number() OVER (
         |    PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM n3) x
         |  WHERE rn = 1),
         |comm AS (SELECT lbl, count(*) AS sz FROM l3 GROUP BY lbl)
         |SELECT sz, count(*) AS n_communities, min(lbl) AS min_label
         |FROM comm GROUP BY sz ORDER BY sz""".stripMargin,

    "sim_opq_gain" ->
      """WITH comp AS (
        |  SELECT CAST(d.range AS BIGINT) AS d,
        |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
        |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS x
        |  FROM embeddings CROSS JOIN range(64) d),
        |st AS (SELECT d, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |       FROM comp GROUP BY d),
        |v AS (SELECT d, n * sxx - sx * sx AS var_n FROM st),
        |nat AS (SELECT 'natural' AS layout, d // 8 AS sub, var_n FROM v),
        |r AS (SELECT d, var_n,
        |    row_number() OVER (ORDER BY var_n DESC, d) - 1 AS r FROM v),
        |ser AS (SELECT 'serpentine' AS layout,
        |    CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - r % 8 END AS sub,
        |    var_n FROM r),
        |u AS (SELECT * FROM nat UNION ALL SELECT * FROM ser),
        |en AS (SELECT layout, sub, CAST(sum(var_n) AS BIGINT) AS e
        |       FROM u GROUP BY layout, sub)
        |SELECT layout, min(e) AS min_energy, max(e) AS max_energy,
        |  CAST(sum(e) AS BIGINT) AS total_var,
        |  CAST(max(e) * 10000 // min(e) AS BIGINT) AS imbalance_bp
        |FROM en GROUP BY layout ORDER BY layout""".stripMargin,

    "dedup_qa_sample" ->
      s"""WITH ${Round10b.pairsCte},
         |pj AS (
         |  SELECT i.a, i.b,
         |    CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
         |  FROM inter i
         |  JOIN sizes sa ON sa.doc = i.a JOIN sizes sb ON sb.doc = i.b
         |  WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= 0.5),
         |bb AS (SELECT a, b, jaccard,
         |    CAST(floor(jaccard * 10) AS BIGINT) AS band FROM pj),
         |rk AS (SELECT band, a, b, jaccard,
         |    row_number() OVER (PARTITION BY band
         |      ORDER BY jaccard DESC, a, b) AS rn,
         |    count(*) OVER (PARTITION BY band) AS n_pairs
         |  FROM bb)
         |SELECT band, CAST(n_pairs AS BIGINT) AS n_pairs, a AS top_a,
         |  b AS top_b, jaccard AS top_jaccard
         |FROM rk WHERE rn = 1 ORDER BY band""".stripMargin,

    "events_slo_burn" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS total,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS errors
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |c AS (SELECT day, total, errors,
        |    CAST(errors * 10000 // total AS BIGINT) AS day_bp,
        |    CAST(sum(errors) OVER w AS BIGINT) AS cum_errors,
        |    CAST(sum(total) OVER w AS BIGINT) AS cum_total
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day, total, errors, day_bp,
        |  cum_errors, cum_total,
        |  CAST(cum_errors * 10000 // cum_total AS BIGINT) AS cum_bp,
        |  CAST(CASE WHEN cum_errors * 10000 > cum_total * 100
        |       THEN 1 ELSE 0 END AS INTEGER) AS breach
        |FROM c ORDER BY day""".stripMargin,

    "graph_assortativity_moments" ->
      s"""WITH ${Round10b.pairsCte},
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION ALL SELECT b, a FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
         |SELECT count(*) AS m2,
         |  CAST(sum(du.deg * dv.deg) AS BIGINT) AS s_uv,
         |  CAST(sum(du.deg) AS BIGINT) AS s_u,
         |  CAST(sum(du.deg * du.deg) AS BIGINT) AS s_u2
         |FROM e JOIN deg du ON du.src = e.src
         |JOIN deg dv ON dv.src = e.dst""".stripMargin,

    "dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM t),
         |h AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS h
         |      FROM s WHERE len(sh) >= 4),
         |w AS (SELECT doc_id, list_transform(range(1, len(h) - 2),
         |    i -> list_aggregate(h[i:i+3], 'min')) AS wins FROM h),
         |fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS f FROM w),
         |dfreq AS (SELECT f, count(*) AS df FROM fp GROUP BY f),
         |cap AS (SELECT doc_id, fp.f AS f FROM fp JOIN dfreq USING (f)
         |        WHERE df <= 50),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared
         |      FROM cap l JOIN cap r ON l.f = r.f AND l.doc_id < r.doc_id
         |      GROUP BY l.doc_id, r.doc_id)
         |SELECT a, b, shared FROM p WHERE shared >= 2 ORDER BY a, b""".stripMargin,

    "dedup_simhash_bits" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, md5(unnest($toksSql)) AS h FROM documents),
         |bits AS (
         |  SELECT doc, h, j.range AS j,
         |    strpos('0123456789abcdef', substring(h, 1 + CAST(j.range // 4 AS INTEGER), 1)) - 1 AS nib
         |  FROM tok CROSS JOIN range(16) j),
         |votes AS (
         |  SELECT doc, j, sum(CASE WHEN (nib >> CAST(j % 4 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM bits GROUP BY doc, j),
         |sh AS (
         |  SELECT doc, CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc),
         |tot AS (SELECT count(*) AS total FROM sh),
         |ob AS (SELECT b.range AS bit,
         |    CAST(sum((simhash >> CAST(b.range AS INTEGER)) & 1) AS BIGINT) AS n_ones
         |  FROM sh CROSS JOIN range(16) b GROUP BY b.range)
         |SELECT CAST(bit AS BIGINT) AS bit, n_ones,
         |  CAST(n_ones * 10000 // total AS BIGINT) AS ones_bp,
         |  CAST(abs(n_ones * 10000 // total - 5000) AS BIGINT) AS dev_bp
         |FROM ob, tot ORDER BY bit""".stripMargin,

    "q_join_fanout_audit" ->
      """WITH m AS (SELECT l_orderkey AS k, count(*) AS mult
        |           FROM lineitem GROUP BY 1),
        |j AS (SELECT coalesce(m.mult, 0) AS mult
        |      FROM orders LEFT JOIN m ON m.k = o_orderkey)
        |SELECT mult, count(*) AS n_keys,
        |  CAST(mult * count(*) AS BIGINT) AS est_rows
        |FROM j GROUP BY mult ORDER BY mult""".stripMargin,

    "sim_power_iteration" ->
      """WITH mil AS (SELECT list_transform(embedding,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 3) AS DECIMAL(7,3)) * 1000 AS BIGINT)) AS mq
        |  FROM embeddings),
        |p AS (
        |  SELECT CAST(i.range AS BIGINT) AS d1, CAST(j.range AS BIGINT) AS d2,
        |    mq[CAST(i.range AS INTEGER) + 1] * mq[CAST(j.range AS INTEGER) + 1] AS xy
        |  FROM mil CROSS JOIN range(64) i CROSS JOIN range(64) j
        |  WHERE j.range >= i.range),
        |tri AS (SELECT d1, d2, CAST(sum(xy) AS BIGINT) AS a
        |        FROM p GROUP BY d1, d2),
        |A AS (SELECT d1 AS i, d2 AS j, a FROM tri
        |      UNION ALL SELECT d2, d1, a FROM tri WHERE d1 <> d2),
        |v1r AS (SELECT i AS d, CAST(sum(a) AS BIGINT) AS raw FROM A GROUP BY i),
        |m1 AS (SELECT max(abs(raw)) AS mx FROM v1r),
        |v1 AS (SELECT d, CAST(raw * 1000 // mx AS BIGINT) AS v1_milli
        |       FROM v1r, m1),
        |v2r AS (SELECT A.i AS d, CAST(sum(A.a * v1.v1_milli) AS BIGINT) AS raw
        |        FROM A JOIN v1 ON v1.d = A.j GROUP BY A.i),
        |m2 AS (SELECT max(abs(raw)) AS mx FROM v2r),
        |v2 AS (SELECT d, CAST(raw * 1000 // mx AS BIGINT) AS v2_milli
        |       FROM v2r, m2)
        |SELECT d, v1_milli, v2_milli FROM v1 JOIN v2 USING (d)
        |ORDER BY d""".stripMargin,

    "events_time_rollup" ->
      """WITH e AS (
        |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS mon,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, user_id
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT
        |  CASE WHEN day IS NOT NULL THEN 'day'
        |       WHEN mon IS NOT NULL THEN 'month' ELSE 'all' END AS level,
        |  coalesce(day, mon, '*') AS period,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM e GROUP BY ROLLUP(mon, day) ORDER BY level, period""".stripMargin,

    "etl_erasure_audit" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id,
        |    CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END AS hit
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n_before,
        |  CAST(sum(hit) AS BIGINT) AS n_erased,
        |  CAST(count(*) - sum(hit) AS BIGINT) AS n_after,
        |  count(DISTINCT CASE WHEN hit = 1 THEN user_id END) AS n_users_erased
        |FROM d GROUP BY day ORDER BY day""".stripMargin,

    "q_intersect_all" ->
      """WITH a AS (SELECT o_custkey, o_orderpriority FROM orders
        |           WHERE year(o_orderdate) = 1995),
        |b AS (SELECT o_custkey, o_orderpriority FROM orders
        |      WHERE year(o_orderdate) = 1996),
        |i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |SELECT o_orderpriority, count(*) AS n,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM i GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_except_all" ->
      """WITH a AS (SELECT o_custkey, o_orderpriority FROM orders
        |           WHERE year(o_orderdate) = 1995),
        |b AS (SELECT o_custkey, o_orderpriority FROM orders
        |      WHERE year(o_orderdate) = 1996),
        |i AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |SELECT o_orderpriority, count(*) AS n,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM i GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "events_trend_ingredients" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    count(*) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY event_type, d),
        |b AS (SELECT event_type, min(d) AS d0 FROM daily GROUP BY event_type),
        |x AS (SELECT daily.event_type, d - d0 AS x, y
        |      FROM daily JOIN b USING (event_type)),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM x GROUP BY event_type)
        |SELECT event_type, n, sx, sy, sxy, sxx,
        |  n * sxy - sx * sy AS slope_num,
        |  n * sxx - sx * sx AS slope_den
        |FROM s ORDER BY event_type""".stripMargin,

    "sim_filtered_topk" ->
      s"""WITH ${SimMm.milliNormCte},
         |q AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |c AS (SELECT vec_id, label,
         |    ${SimMm.cosBpSql(SimMm.dotmSql("mq", "qmq"), "nsq", "qnsq")} AS cos_bp
         |  FROM miln, q WHERE vec_id <> 0 AND label = 3)
         |SELECT vec_id, label, cos_bp FROM c
         |ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin,

    "events_mix_shift" ->
      """WITH dt AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY day, event_type),
        |days AS (SELECT DISTINCT day FROM dt),
        |types AS (SELECT DISTINCT event_type FROM dt),
        |tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS tot FROM dt GROUP BY day),
        |m AS (SELECT days.day, types.event_type,
        |    CAST(coalesce(dt.n, 0) * 1000000 // tot.tot AS BIGINT) AS ppm
        |  FROM days CROSS JOIN types
        |  LEFT JOIN dt ON dt.day = days.day AND dt.event_type = types.event_type
        |  JOIN tot ON tot.day = days.day),
        |df AS (SELECT day, event_type, ppm,
        |    lag(ppm) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM m),
        |dd AS (SELECT day, event_type, abs(ppm - prev) AS d FROM df
        |       WHERE prev IS NOT NULL),
        |r AS (SELECT day, event_type, d,
        |    row_number() OVER (PARTITION BY day ORDER BY d DESC, event_type) AS rn,
        |    CAST(sum(d) OVER (PARTITION BY day) AS BIGINT) AS l1_ppm
        |  FROM dd)
        |SELECT strftime(day, '%Y-%m-%d') AS day, l1_ppm,
        |  event_type AS top_type, d AS top_delta_ppm
        |FROM r WHERE rn = 1 ORDER BY day""".stripMargin,

    "graph_hits" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |pd0 AS (SELECT pk, count(*) AS pd FROM sp GROUP BY pk),
        |e AS (SELECT sk, sp.pk AS pk FROM sp JOIN pd0 USING (pk) WHERE pd0.pd <= 64),
        |h0 AS (SELECT DISTINCT sk, CAST(1 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT pk, CAST(sum(h) AS BIGINT) AS a FROM e
        |        JOIN h0 USING (sk) GROUP BY pk),
        |a1m AS (SELECT max(abs(a)) AS mx FROM a1r),
        |a1 AS (SELECT pk, CAST(a * 1000 // mx AS BIGINT) AS a FROM a1r, a1m),
        |h1r AS (SELECT sk, CAST(sum(a) AS BIGINT) AS h FROM e
        |        JOIN a1 USING (pk) GROUP BY sk),
        |h1m AS (SELECT max(abs(h)) AS mx FROM h1r),
        |h1 AS (SELECT sk, CAST(h * 1000 // mx AS BIGINT) AS h FROM h1r, h1m),
        |a2r AS (SELECT pk, CAST(sum(h) AS BIGINT) AS a FROM e
        |        JOIN h1 USING (sk) GROUP BY pk),
        |a2m AS (SELECT max(abs(a)) AS mx FROM a2r),
        |a2 AS (SELECT pk, CAST(a * 1000 // mx AS BIGINT) AS a FROM a2r, a2m),
        |h2r AS (SELECT sk, CAST(sum(a) AS BIGINT) AS h FROM e
        |        JOIN a2 USING (pk) GROUP BY sk),
        |h2m AS (SELECT max(abs(h)) AS mx FROM h2r),
        |h2 AS (SELECT sk, CAST(h * 1000 // mx AS BIGINT) AS h FROM h2r, h2m),
        |u AS (
        |  SELECT 'hub' AS role, sk AS id, h AS score,
        |    row_number() OVER (ORDER BY h DESC, sk) AS rn FROM h2
        |  UNION ALL
        |  SELECT 'authority', pk, a,
        |    row_number() OVER (ORDER BY a DESC, pk) FROM a2)
        |SELECT role, id, score FROM u WHERE rn <= 10
        |ORDER BY role, score DESC, id""".stripMargin,

    "events_did_ingredients" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'purchase' AND value IS NOT NULL),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM p),
        |c AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
        |        CASE WHEN us > mid THEN 1 ELSE 0 END AS post, cents
        |      FROM p, mid),
        |agg AS (SELECT
        |  count(CASE WHEN treat = 0 AND post = 0 THEN 1 END) AS n00,
        |  count(CASE WHEN treat = 0 AND post = 1 THEN 1 END) AS n01,
        |  count(CASE WHEN treat = 1 AND post = 0 THEN 1 END) AS n10,
        |  count(CASE WHEN treat = 1 AND post = 1 THEN 1 END) AS n11,
        |  CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents END) AS BIGINT)
        |    // count(CASE WHEN treat = 0 AND post = 0 THEN 1 END) AS m00,
        |  CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents END) AS BIGINT)
        |    // count(CASE WHEN treat = 0 AND post = 1 THEN 1 END) AS m01,
        |  CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents END) AS BIGINT)
        |    // count(CASE WHEN treat = 1 AND post = 0 THEN 1 END) AS m10,
        |  CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents END) AS BIGINT)
        |    // count(CASE WHEN treat = 1 AND post = 1 THEN 1 END) AS m11
        |  FROM c)
        |SELECT n00, n01, n10, n11,
        |  CAST(m00 AS BIGINT) AS m00, CAST(m01 AS BIGINT) AS m01,
        |  CAST(m10 AS BIGINT) AS m10, CAST(m11 AS BIGINT) AS m11,
        |  CAST((m11 - m10) - (m01 - m00) AS BIGINT) AS did_cents
        |FROM agg""".stripMargin,

    "sim_farthest_first" -> {
      def d2(v: String, c: String) =
        s"$v.nsq + $c.cnsq - 2 * ${SimMm.dotmSql(s"$v.mq", s"$c.cmq")}"
      s"""WITH ${SimMm.milliNormCte},
         |ch1 AS (SELECT vec_id AS cid, mq AS cmq, nsq AS cnsq
         |        FROM miln WHERE vec_id = 0),
         |m2 AS (SELECT v.vec_id, CAST(min(${d2("v", "c")}) AS BIGINT) AS mind2
         |  FROM miln v CROSS JOIN ch1 c
         |  WHERE v.vec_id NOT IN (SELECT cid FROM ch1)
         |  GROUP BY v.vec_id),
         |s2 AS (SELECT vec_id, mind2 FROM m2
         |       ORDER BY mind2 DESC, vec_id LIMIT 1),
         |ch2 AS (SELECT * FROM ch1 UNION ALL
         |  SELECT miln.vec_id, mq, nsq FROM miln JOIN s2 USING (vec_id)),
         |m3 AS (SELECT v.vec_id, CAST(min(${d2("v", "c")}) AS BIGINT) AS mind2
         |  FROM miln v CROSS JOIN ch2 c
         |  WHERE v.vec_id NOT IN (SELECT cid FROM ch2)
         |  GROUP BY v.vec_id),
         |s3 AS (SELECT vec_id, mind2 FROM m3
         |       ORDER BY mind2 DESC, vec_id LIMIT 1),
         |ch3 AS (SELECT * FROM ch2 UNION ALL
         |  SELECT miln.vec_id, mq, nsq FROM miln JOIN s3 USING (vec_id)),
         |m4 AS (SELECT v.vec_id, CAST(min(${d2("v", "c")}) AS BIGINT) AS mind2
         |  FROM miln v CROSS JOIN ch3 c
         |  WHERE v.vec_id NOT IN (SELECT cid FROM ch3)
         |  GROUP BY v.vec_id),
         |s4 AS (SELECT vec_id, mind2 FROM m4
         |       ORDER BY mind2 DESC, vec_id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS ord, CAST(0 AS BIGINT) AS vec_id,
         |  CAST(0 AS BIGINT) AS mind2
         |UNION ALL SELECT 2, vec_id, mind2 FROM s2
         |UNION ALL SELECT 3, vec_id, mind2 FROM s3
         |UNION ALL SELECT 4, vec_id, mind2 FROM s4
         |ORDER BY ord""".stripMargin
    },

    "mm_phash_hamming" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST((length(text) + 63) // 64 AS BIGINT) AS nch FROM documents),
        |ch AS (
        |  SELECT doc_id, md5(md5(substring(text, CAST(ci * 64 + 1 AS INTEGER), 64))) AS h
        |  FROM (SELECT doc_id, text, unnest(range(0, nch)) AS ci FROM d)),
        |bits AS (
        |  SELECT doc_id, h, j.range AS j,
        |    strpos('0123456789abcdef', substring(h, 1 + CAST(j.range // 4 AS INTEGER), 1)) - 1 AS nib
        |  FROM ch CROSS JOIN range(16) j),
        |votes AS (
        |  SELECT doc_id, j, sum(CASE WHEN (nib >> CAST(j % 4 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM bits GROUP BY doc_id, j),
        |sh AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS phash
        |  FROM votes GROUP BY doc_id),
        |bnds AS (
        |  SELECT doc_id, phash, bi,
        |    CASE WHEN bi = 0 THEN phash % 256 ELSE phash // 256 END AS bv
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1]) AS bi) u),
        |bc AS (SELECT bi, bv, count(*) AS bn FROM bnds GROUP BY bi, bv),
        |cap AS (SELECT bnds.* FROM bnds JOIN bc USING (bi, bv) WHERE bn <= 200),
        |p AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
        |    l.phash AS pa, r.phash AS pb
        |  FROM cap l JOIN cap r ON l.bi = r.bi AND l.bv = r.bv
        |    AND l.doc_id < r.doc_id
        |  WHERE bit_count(xor(l.phash, r.phash)) = 1)
        |SELECT a, b, pa, pb FROM p ORDER BY a, b""".stripMargin,

    "text_quality_corr" ->
      s"""WITH t AS (SELECT length(text) AS x, $toksSql AS toks FROM documents),
         |v AS (SELECT CAST(x AS BIGINT) AS x,
         |    CAST(len(list_filter(toks, tk -> tk IN $stopInSql)) * 10000
         |      // len(toks) AS BIGINT) AS y
         |  FROM t WHERE len(toks) > 0),
         |s AS (SELECT count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM v)
         |SELECT n, sx, sy, sxy, sxx, syy,
         |  n * sxy - sx * sy AS corr_num,
         |  n * sxx - sx * sx AS den_x,
         |  n * syy - sy * sy AS den_y
         |FROM s""".stripMargin,

    "graph_modularity" ->
      s"""WITH ${Round10b.pairsCte},
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION ALL SELECT b, a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
         |n1 AS (SELECT e.src, l0.lbl, count(*) AS c FROM e
         |       JOIN l0 ON l0.node = e.dst GROUP BY e.src, l0.lbl),
         |l1 AS (SELECT src AS node, lbl FROM (
         |  SELECT src, lbl, row_number() OVER (
         |    PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM n1) x
         |  WHERE rn = 1),
         |n2 AS (SELECT e.src, l1.lbl, count(*) AS c FROM e
         |       JOIN l1 ON l1.node = e.dst GROUP BY e.src, l1.lbl),
         |l2 AS (SELECT src AS node, lbl FROM (
         |  SELECT src, lbl, row_number() OVER (
         |    PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM n2) x
         |  WHERE rn = 1),
         |n3 AS (SELECT e.src, l2.lbl, count(*) AS c FROM e
         |       JOIN l2 ON l2.node = e.dst GROUP BY e.src, l2.lbl),
         |l3 AS (SELECT src AS node, lbl FROM (
         |  SELECT src, lbl, row_number() OVER (
         |    PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM n3) x
         |  WHERE rn = 1),
         |pe AS (SELECT la.lbl AS la, lb.lbl AS lb FROM pairs p
         |       JOIN l3 la ON la.node = p.a JOIN l3 lb ON lb.node = p.b),
         |ec AS (SELECT la AS c, count(*) AS e_c FROM pe WHERE la = lb GROUP BY la),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |dc AS (SELECT l3.lbl AS c, CAST(sum(deg) AS BIGINT) AS d_c
         |       FROM deg JOIN l3 ON l3.node = deg.src GROUP BY l3.lbl),
         |mm AS (SELECT count(*) AS m FROM pairs)
         |SELECT (SELECT count(*) FROM dc) AS n_communities, m,
         |  (SELECT CAST(coalesce(sum(e_c), 0) AS BIGINT) FROM ec) AS intra_edges,
         |  (SELECT CAST(sum(d_c * d_c) AS BIGINT) FROM dc) AS sum_dc2,
         |  CAST(4 * m * (SELECT coalesce(sum(e_c), 0) FROM ec)
         |    - (SELECT sum(d_c * d_c) FROM dc) AS BIGINT) AS q_x4m2
         |FROM mm""".stripMargin,

    "events_streak_hist" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |i AS (SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
        |  FROM ud),
        |l AS (SELECT user_id, isl, count(*) AS len FROM i GROUP BY user_id, isl),
        |lg AS (SELECT user_id, max(len) AS longest FROM l GROUP BY user_id)
        |SELECT longest, count(*) AS n_users FROM lg
        |GROUP BY longest ORDER BY longest""".stripMargin,

    "text_template_fps" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM t),
         |h AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS h
         |      FROM s WHERE len(sh) >= 4),
         |w AS (SELECT doc_id, list_transform(range(1, len(h) - 2),
         |    i -> list_aggregate(h[i:i+3], 'min')) AS wins FROM h),
         |fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS f FROM w),
         |dfr AS (SELECT f, count(*) AS df FROM fp GROUP BY f
         |        ORDER BY df DESC, f LIMIT 20),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT f, df, CAST(df * 10000 // n_docs AS BIGINT) AS share_bp,
         |  CAST(CASE WHEN df > 50 THEN 1 ELSE 0 END AS INTEGER) AS over_pair_cap
         |FROM dfr, nd ORDER BY df DESC, f""".stripMargin,

    "events_alert_suppress" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'error'),
        |f AS (SELECT day,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 21600000000
        |         THEN 1 ELSE 0 END AS emit
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n_alerts,
        |  CAST(sum(emit) AS BIGINT) AS n_emitted,
        |  CAST(count(*) - sum(emit) AS BIGINT) AS n_suppressed,
        |  CAST((count(*) - sum(emit)) * 10000 // count(*) AS BIGINT)
        |    AS suppress_bp
        |FROM f GROUP BY day ORDER BY day""".stripMargin,

    "text_bpe_fertility" ->
      s"""WITH words AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS w FROM documents) t GROUP BY w),
         |s0 AS (SELECT w, freq,
         |  ' ' || array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> substring(w, CAST(i AS INTEGER), 1)), ' ') || ' ' AS seq
         |  FROM words),
         |p1 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s0) x) y
         |  GROUP BY p),
         |t1 AS (SELECT p FROM p1 ORDER BY cnt DESC, p LIMIT 1),
         |s1 AS (SELECT s0.w, s0.freq,
         |  replace(s0.seq, ' ' || t1.p || ' ',
         |    ' ' || replace(t1.p, ' ', '') || ' ') AS seq FROM s0, t1),
         |p2 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s1) x) y
         |  GROUP BY p),
         |t2 AS (SELECT p FROM p2 ORDER BY cnt DESC, p LIMIT 1),
         |s2 AS (SELECT s1.w, s1.freq,
         |  replace(s1.seq, ' ' || t2.p || ' ',
         |    ' ' || replace(t2.p, ' ', '') || ' ') AS seq FROM s1, t2),
         |p3 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s2) x) y
         |  GROUP BY p),
         |t3 AS (SELECT p FROM p3 ORDER BY cnt DESC, p LIMIT 1),
         |s3 AS (SELECT s2.w, s2.freq,
         |  replace(s2.seq, ' ' || t3.p || ' ',
         |    ' ' || replace(t3.p, ' ', '') || ' ') AS seq FROM s2, t3),
         |sy AS (SELECT w, len(string_split(trim(seq), ' ')) AS na FROM s3),
         |lw AS (SELECT lang, w, count(*) AS lfreq FROM (
         |  SELECT lang, unnest($toksSql) AS w FROM documents) t
         |  GROUP BY lang, w)
         |SELECT lang, CAST(sum(lfreq) AS BIGINT) AS n_tokens,
         |  CAST(sum(lfreq * na) AS BIGINT) AS n_syms,
         |  CAST(CAST(sum(lfreq * na) AS BIGINT) * 100
         |    // CAST(sum(lfreq) AS BIGINT) AS BIGINT) AS fertility_x100
         |FROM lw JOIN sy USING (w) GROUP BY lang ORDER BY lang""".stripMargin,

    "q_bitmap_distinct" -> {
      val cell = graft.ops.Sketch.h3Sql("CAST(user_id AS VARCHAR)")
      s"""WITH du AS (
         |  SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS scope, user_id
         |  FROM events WHERE ts IS NOT NULL),
         |cells AS (SELECT DISTINCT scope, $cell % 4096 AS cell FROM du),
         |perday AS (
         |  SELECT c.scope, c.bits_set, e.exact_distinct FROM
         |    (SELECT scope, count(*) AS bits_set FROM cells GROUP BY scope) c
         |  JOIN (SELECT scope, count(*) AS exact_distinct FROM du GROUP BY scope) e
         |  USING (scope)),
         |gl AS (
         |  SELECT 'all' AS scope,
         |    (SELECT count(DISTINCT cell) FROM cells) AS bits_set,
         |    (SELECT count(DISTINCT user_id) FROM du) AS exact_distinct),
         |u AS (SELECT * FROM perday UNION ALL SELECT * FROM gl)
         |SELECT scope, bits_set,
         |  CAST(bits_set * 10000 // 4096 AS BIGINT) AS sat_bp, exact_distinct
         |FROM u ORDER BY scope""".stripMargin
    },

    "events_bot_score" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS minute
        |  FROM events WHERE ts IS NOT NULL),
        |per AS (SELECT user_id, count(*) AS n,
        |          count(DISTINCT minute) AS mins FROM u GROUP BY user_id),
        |r AS (SELECT n, n * 100 // mins AS rate_x100 FROM per)
        |SELECT CAST(rate_x100 // 100 AS BIGINT) AS band,
        |  count(*) AS n_users,
        |  CAST(max(rate_x100) AS BIGINT) AS max_rate_x100,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM r GROUP BY band ORDER BY band""".stripMargin,
  )
}
