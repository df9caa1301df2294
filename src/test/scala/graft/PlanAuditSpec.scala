package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perf gates as tests (the transplant of the reference's
  * algorithmic-complexity assertions, `tests/sparse_graph.rs` /
  * `tests/merge_n.rs`, SURVEY §5.5): the physical plans of load-bearing
  * queries must keep their scale-safe shape. A regression that silently
  * turns a banded join into a cartesian product, drops a filter pushdown,
  * or stacks redundant sorts fails HERE, not at 100 TB. */
class PlanAuditSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"
  private val reg = Queries.registry.toMap

  private def plan(name: String): String =
    reg(name).fn(spark, d).queryExecution.executedPlan.toString

  test("no cartesian products anywhere in the registry") {
    Queries.registry.foreach { case (name, q) =>
      val p = q.fn(spark, d).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product")
      // BroadcastNestedLoopJoin is the all-pairs shape: allowed ONLY for
      // the brute-force cosine baseline (its label says so) and the two
      // DTW-matrix ops, whose OUTPUT is the k×k pair matrix by definition
      // (k = #series, not #rows — reference AugursDistanceMatrix): an
      // all-pairs join over the k-row series table IS the declared shape,
      // and the broadcast side is k aggregated rows, never the corpus.
      // The lm-ppl family (round 19) is the OTHER legitimate BNLJ: a
      // crossJoin against a broadcast SINGLE-ROW aggregate (the vocab
      // scalar riding the plan instead of an eager countDistinct().head
      // that re-ran a full corpus pass at every plan build) — a 1-row
      // build side is a constant attach at scan speed, not all-pairs.
      // Round 20 extended the 1-row-rider family: doc_bm25/doc_hybrid_rrf's
      // (N, avgdl) corpus stats ride the plan as broadcast single-row
      // aggregates (the same shape as lm-ppl's vocab scalar) instead of
      // eager build-time `.head` jobs that re-ran a full tokenize pass per
      // execution; doc_dsir's fitted model is such a row too (the dense
      // λ array every doc is scored against).
      if (p.contains("BroadcastNestedLoopJoin"))
        assert(Set("emb_cosine_topk", "aug_dtw", "aug_cluster",
          "doc_lm_ppl", "doc_ppl_buckets", "doc_curate_e2e",
          "doc_dsir", "doc_bm25", "doc_hybrid_rrf").contains(name),
          s"$name uses a nested-loop join — banded/equi-join shape lost")
    }
  }

  test("aug_dtw: no series payload crosses any shuffle — edges-only ordered matrix") {
    // r17 verdict item 1 (the registry's one demonstrated scale
    // liability, since fixed): the ordered DTW matrix used to sort the
    // pair frame CARRYING both full series arrays (~2·window·8 B/pair —
    // at events×8 that sort moved ~20 GB and a device throttle inflated
    // aug_dtw 10× while aug_cluster, same DP with edge-sized shuffles,
    // held ~1×). The two-phase form must keep every SHUFFLE exchange
    // payload-free: series arrays may broadcast (the k-row build side of
    // the pair join) but never shuffle; the one pair-frame exchange is
    // deterministic token hash-partitioning (bucket b → partition b, no
    // RangePartitioner sampling over the pair frame, DP computed below
    // it); and the output sort is partition-local — global order comes
    // from token placement, never from a global range sort of pairs.
    val fmtd = reg("aug_dtw").fn(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffleInputs = """\(\d+\) Exchange\n(Input[^\n]*\n[^\n]*)"""
      .r.findAllMatchIn(fmtd).map(_.group(1)).toSeq
    assert(shuffleInputs.nonEmpty, s"no shuffle exchanges found:\n$fmtd")
    shuffleInputs.foreach { in =>
      assert(!in.contains("series"),
        s"a series array crosses a shuffle exchange — payload amplification:\n$in") }
    assert(fmtd.contains("hashpartitioning(__tok"),
      s"pair frame must exchange on the deterministic bucket token:\n$fmtd")
    assert(!fmtd.contains("rangepartitioning(sid_a"),
      s"no range sort over the pair frame (sampling re-executes the DP):\n$fmtd")
    val localSort = """Arguments: \[sid_a[^\]]*sid_b[^\]]*\], (\w+),""".r
      .findAllMatchIn(fmtd).map(_.group(1)).toSeq
    assert(localSort.nonEmpty && localSort.forall(_ == "false"),
      s"(sid_a, sid_b) sort must be partition-local: global=$localSort")
  }

  test("top-10 bench entries: exchange/sort budgets pinned exactly") {
    // r17 verdict item 4: this round proved wall-clock gates are
    // box-hostage; plan-shape gates are not. For the 10 most expensive
    // registry queries (the r17 pin's ranking), pin the EXACT count of
    // hash/range/single-partition exchanges and global sorts — the
    // aug_ets_roll one-exchange pattern generalized. A new shuffle (lost
    // broadcast, lost exchange sharing, accidental global corpus sort)
    // fails HERE, not at 100 TB. Why each budget is minimal:
    //
    // aug_cluster 36h/1r/0s/1g — degree/core aggregates, the two-phase
    //   rank's bucket window + count-offset join, border/noise set ops.
    //   CC's rounds run before the plan is built and leave one label
    //   leaf; was 38h while that leaf re-shuffled on id for each of its
    //   two core-root joins — it now declares the hashpartitioning(id)
    //   its rows really have, so both joins read it in place. Every
    //   exchange carries edges, labels, or k-row ids — the k²-pair frame
    //   dies inside the banded DP join and never shuffles. range+global
    //   sort = the output orderBy only.
    // aug_dtw 3h/0r/0s/0g — the series frame is now CHECKPOINTED once
    //   at call time (round-19 advisor: both the token map and the pair
    //   DP must read ONE snapshot, or a non-deterministic source could
    //   surface pair sids absent from the pinned map and the tag join
    //   would drop them) — so the series build's window exchanges run
    //   once eagerly and BOTH in-plan consumers are RDD leaves; was 7h
    //   when the build executed twice in-plan. Remaining: the two
    //   bucket-count aggregates of the rank-offset join (32-row frames)
    //   + ONE edges-only pair exchange (sid_a, sid_b, dtw, tok). ZERO
    //   range exchanges and ZERO global sorts — total order comes from
    //   deterministic token placement + partition-local sorts.
    // emb_dedup_hier 9h/1r/0s/1g — hier descent: per-level cell
    //   assignment aggregates + ONE cell-keyed pairing exchange per
    //   level; vectors shuffle once per level as packed projections.
    // emb_semdedup_inc_hier 20h/1r/0s/1g — the incremental twin runs
    //   the hier descent on BOTH the stored and arriving sides (two
    //   descents + cross-side cell join + decision set ops).
    // emb_semdedup_inc 3h/1r/0s/1g — flat incremental: one cell
    //   exchange per side + the pairing join; decisions ride it.
    // doc_lm_ppl 9h/1r/1s/1g — round 19: the count model aggregates
    //   ONCE by (h1, h2) and c2/c1 re-aggregate THAT (ReusedExchange),
    //   so the corpus tokenize+explode runs 3×/execution where the old
    //   5h plan ran it 4× (c1 and c2 each re-scanned the corpus), and
    //   the vocab scalar rides the plan as a broadcast single-row
    //   aggregate instead of an eager driver action per plan build
    //   (Profile: build = 10.2 s of an 18.0 s cold wall; A/B: the
    //   family total dropped ~20%). The 4 extra exchanges carry
    //   distinct-bigram / distinct-token rows — sublinear in corpus
    //   at scale — and the ONE SinglePartition is vv's single-row
    //   final count (bounded by construction): more exchanges of
    //   small aggregates bought one fewer corpus pass, the right
    //   trade at 100 TB. Grams still hash to longs BEFORE any
    //   exchange; text never shuffles.
    // doc_curate_e2e 12h/1r/1s/1g — the 6-stage pipeline: 3 pinned
    //   corpus reads feeding dedup (2), quality (1), decontam (1),
    //   mix/cap aggregates; the ONE single-partition exchange is the
    //   ppl-bucket boundary window over ≤1024 bucket-count rows
    //   (bounded by construction, never corpus rows).
    // doc_dsir 3h/0r/1s/0g — hashed-gram importance weights scored in
    //   place: the fit and the score pass each read the corpus through
    //   its scan-side doc_id spread (2h); the fit is ONE bucket-keyed lr
    //   aggregate (1h) whose ≤B rows fold into the one-row λ model (the
    //   1s global aggregate, broadcast to the scoring side). Scoring has
    //   no exchange; top-50 is per-partition; no sort anywhere. Was
    //   10h/1s while the totals side re-ran a second copy of lr (its
    //   inferred isnotnull filter kept the two subtrees from
    //   canonicalizing equal, so AQE never shared them) and the scoring
    //   side re-exploded every gram into a λ join + doc_id rollup.
    // emb_decontam_hier 10h/1r/0s/1g — hier descent on the corpus side
    //   only; eval split stays broadcast (never shuffles).
    // doc_winnow 1h/1r/0s/1g — winnowing fingerprints aggregate on ONE
    //   doc_id exchange; range+global sort = output orderBy.
    val budgets: Map[String, (Int, Int, Int, Int)] = Map(
      "aug_cluster" -> ((36, 1, 0, 1)),
      "aug_dtw" -> ((3, 0, 0, 0)),
      "emb_dedup_hier" -> ((9, 1, 0, 1)),
      "emb_semdedup_inc_hier" -> ((20, 1, 0, 1)),
      "emb_semdedup_inc" -> ((3, 1, 0, 1)),
      "doc_lm_ppl" -> ((9, 1, 1, 1)),
      "doc_curate_e2e" -> ((12, 1, 1, 1)),
      "doc_dsir" -> ((3, 0, 1, 0)),
      "emb_decontam_hier" -> ((10, 1, 0, 1)),
      "doc_winnow" -> ((1, 1, 0, 1)))
    budgets.toSeq.sortBy(_._1).foreach { case (name, (h, r, s, g)) =>
      // formatted mode: each PHYSICAL node prints once (toString expands
      // cached/reused subtrees textually and over-counts doc_curate_e2e
      // 70-vs-12), so these are the exchanges that actually execute
      val p = reg(name).fn(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val exch = """\(\d+\) Exchange\nInput[^\n]*\nArguments: (\w+)""".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      val gsorts = """\(\d+\) Sort\nInput[^\n]*\nArguments: \[[^\]]*\], (\w+),""".r
        .findAllMatchIn(p).count(_.group(1) == "true")
      val got = (
        exch.count(_ == "hashpartitioning"),
        exch.count(_ == "rangepartitioning"),
        exch.count(_ == "SinglePartition"),
        gsorts)
      assert(got == ((h, r, s, g)),
        s"$name exchange/sort budget drifted: expected (hash=$h, range=$r, " +
          s"single=$s, globalSort=$g), got $got — if the new plan is " +
          s"BETTER, update the budget with a rationale; if not, find the " +
          s"lost broadcast/reuse:\n$p")
    }
  }

  test("aug_cluster: distributed CC shape — nothing k²-sized computed on the driver") {
    // the driver union-find twin returns its whole result as a
    // LocalTableScan built from a collected edge list; the registry
    // entry must execute the DISTRIBUTED form (r15 verdict item 1):
    // core/border/noise branches union'd, the CC label frame entering
    // as the checkpointed-RDD leaf, noise via an anti-join. A
    // LocalTableScan anywhere in this plan means the driver form
    // leaked back into the registry.
    val p = plan("aug_cluster")
    assert(!p.contains("LocalTableScan"),
      s"aug_cluster must not return a driver-computed relation:\n$p")
    assert(p.contains("Union"),
      s"core/border/noise branches must union:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"CC labels must enter as the checkpointed label frame:\n$p")
    assert(p.contains("LeftAnti"),
      s"noise rows must come from an anti-join, not a driver loop:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"aug_cluster must not serialize through a single partition:\n$p")
  }

  test("aug_cluster lex rank: two-phase salted form, no single-partition sort/window") {
    // r16 verdict item 3: the rank that maps sids onto CC's numeric
    // labels must survive a maxPairs escape-hatch caller with huge k —
    // phase 1 is a range-repartition + bucket-partitioned window, the
    // offsets a broadcast bucket-count join; neither may plan an
    // Exchange SinglePartition (the old Window.orderBy("sid") did).
    import spark.implicits._
    val sids = (1 to 500).map(i => f"s$i%04d").toDF("sid")
    val lazy1 = graft.ops.Augurs.lexRankPhase1(sids, 32)
    val p1 = lazy1.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange SinglePartition"),
      s"phase-1 rank must stay bucket-partitioned:\n$p1")
    assert(p1.contains("Window") && p1.contains("rangepartitioning"),
      s"phase 1 = range repartition + partitioned window:\n$p1")
    // checkpoint before deriving offsets, as production does: the bucket
    // id rides a SAMPLED range partitioning, so both consumers must see
    // one pinned assignment
    val phase1 = lazy1.localCheckpoint()
    val offs = graft.ops.Augurs.lexRankOffsets(phase1)
    val p2 = offs.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange SinglePartition") && !p2.contains("Window"),
      s"offsets must be a broadcast bucket-count join, never a window:\n$p2")
    // and the composition equals ONE global lex row_number exactly
    val rid = phase1.join(org.apache.spark.sql.functions.broadcast(offs), "b")
      .select(col("sid"),
        (col("off") + col("rk")).as("rid"))
      .orderBy("rid").as[(String, Long)].collect()
    assert(rid.map(_._1).toSeq == (1 to 500).map(i => f"s$i%04d") &&
      rid.map(_._2).toSeq == (1L to 500L),
      "two-phase rank must equal the global lexicographic row_number")
  }

  test("filter pushdown reaches the parquet scan (q_filter_pushdown)") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull(l_quantity)"),
      "quantity/shipdate predicates must reach the scan")
  }

  test("column pruning: 3-column projection reads a 3-column schema") {
    val p = plan("q_filter_pushdown")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity").forall(read.contains)
      && !read.contains("l_extendedprice"),
      s"scan must read only the projected columns: $read")
  }

  test("small dimensions broadcast in the join queries (q03, q05)") {
    Seq("q03_shipping_priority", "q05_regional_revenue").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast")
    }
  }

  test("aug_ets_roll: per-tick refit rides ONE user_id exchange") {
    // round 18: the KeyedScan vehicle — rows shuffle ONCE on the key
    // (groupByKey), each group folds sorted through the primitive ring,
    // plus the output orderBy's range exchange. A second hash exchange
    // would mean per-tick state is being re-shuffled.
    val p = plan("aug_ets_roll")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 1, s"expected 1 user_id exchange, got $hash:\n$p")
    val range = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(range == 1, s"only the output orderBy may range-partition, got $range")
  }

  test("aug_seasons_roll: per-tick ACF rides ONE user_id exchange") {
    // round 18: the KeyedScan vehicle — one keyed exchange for the
    // sorted-group fold (acfBestLagCore over the primitive ring), plus
    // the output orderBy's range exchange (the aug_ets_roll contract)
    val p = plan("aug_seasons_roll")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 1, s"expected 1 user_id exchange, got $hash:\n$p")
    val range = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(range == 1, s"only the output orderBy may range-partition, got $range")
  }

  test("chained scan ops share ONE shuffle+sort per key set (evt_rolling5)") {
    // 7 rolling window stats over the same (user_id) keys: the window
    // chain plans exactly one hashpartitioning exchange for user_id
    val p = plan("evt_rolling5")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges")
    val sorts = p.linesIterator.count(_.trim.startsWith("Sort ["))
    assert(sorts <= 2, s"window chain + output orderBy need <=2 sorts, got $sorts")
    // the median's sorted frame list is computed once: one collect_list
    // window function (and one sort_array) feeds every pick, not one per
    // use of the list
    val windows = p.linesIterator.filter(_.trim.startsWith("+- Window [")).toSeq
    assert(windows.size == 1, s"expected one Window node, got ${windows.size}:\n$p")
    val lists = "collect_list\\(".r.findAllMatchIn(windows.head).size
    assert(lists == 1, s"the median must collect its frame once, got $lists collect_list:\n$p")
    assert("sort_array\\(".r.findAllMatchIn(p).size == 1,
      s"the frame list must be sorted once:\n$p")
  }

  test("cumulative stats: window chain + KeyedScan median plan exactly 2 hash exchanges") {
    // 6 window stats share ONE user_id exchange; the mapGroups median scan
    // adds ONE regroup exchange on its serialized key; output orderBy is
    // the only range exchange. A third hash exchange = a window lost its
    // shared partitioning.
    val p = plan("evt_cumulative_stats")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 2, s"expected 2 hash exchanges (window chain + scan regroup), got $hash")
    val range = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(range == 1, s"expected 1 range exchange (output orderBy), got $range")
  }

  test("minhash signature pipeline: banded equi-joins only, one signature shuffle") {
    val p = plan("doc_dedup_minhash")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "band candidates come from an equi-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("simhash dedup: band equi-join, verify fused into the join, dedup on bare ids") {
    val p = plan("doc_dedup_simhash")
    // the hamming check rides the band equi-join condition — candidates
    // failing dist <= 7 die inside the join stage, before any exchange
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("bit_count")),
      "hamming verify must be fused into the band join")
    // the dedup aggregate runs on bare (ga, gb) ids — a signature column
    // in its keys would mean the wide rows travel through the exchange
    val dedup = p.linesIterator.find(_.contains("HashAggregate(keys=[ga#"))
    assert(dedup.isDefined, "id-only dedup aggregate (keys=[ga, gb]) present")
    assert(!dedup.get.contains("w0#") && !dedup.get.contains("a0#"),
      s"dedup keys must not carry signature words: ${dedup.get.trim.take(120)}")
  }

  test("dbscan outliers: range-window formulation — no join, one exchange, one sort") {
    val p = plan("aug_outlier_dbscan")
    // 1-D eps-neighborhoods are value-range window frames: the neighbor
    // PAIR volume (quadratic in dense regions) must never materialize —
    // no join of any kind — and both window passes share one exchange +
    // one sort on (key, value)
    assert(!p.contains("Join"), "dbscan must not join — eps-neighborhood is a range window")
    // one hash exchange for the window partitioning (the query's final
    // orderBy adds a rangepartitioning exchange — not counted here)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected ONE key hash exchange, got $hashEx")
    assert(p.contains("Window"), "range-window frames plan as Window nodes")
  }

  test("cosine dedup: score fused into the bucket join; dedup on survivor ids") {
    val p = plan("emb_dedup_cosine")
    // the tau cut rides the join condition (via dot_packed) — candidates
    // failing it never reach an exchange
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("dot_packed")),
      "cosine verify must be fused into the bucket join")
    val dedup = p.linesIterator.find(_.contains("HashAggregate(keys=[a#"))
    assert(dedup.isDefined, "survivor dedup aggregate (keys=[a, b]) present")
    assert(!dedup.get.contains("pa#") && !dedup.get.contains("pb#"),
      s"dedup keys carry no packed vectors: ${dedup.get.trim.take(120)}")
  }

  test("ANN bucket path stays codegen'd: no interpreted HOFs in the bucket stage") {
    val p = plan("emb_ann_lsh")
    // transform/aggregate lambdas would appear as higher-order expressions;
    // the bucket stage must be explode + join + hash aggregate
    assert(p.contains("Generate posexplode"), "vector explode present")
    assert(p.contains("HashAggregate"), "plane dots via hash aggregate")
    assert(!p.contains("lambdafunction"),
      s"an interpreted lambda keeps its Project out of whole-stage codegen:\n$p")
    // the float -> double vector widening is a plain Cast in every emb
    // query, never a per-element transform lambda
    for (q <- reg.keys.filter(_.startsWith("emb_")).toSeq.sorted) {
      val pq = plan(q)
      assert(!pq.contains("transform("), s"$q widens its vectors through a lambda:\n$pq")
      // nor does any other emb stage take a lambda: the hier/deep leaf
      // frames norm their centroids with the codegen'd dot_packed
      assert(!pq.contains("lambdafunction"),
        s"$q: an interpreted lambda keeps its Project out of whole-stage codegen:\n$pq")
    }
  }

  test("kmeans assignment: plan-time-model loop, no centroid join, no argmax window") {
    // the model rides the assignment UDF's closure and the argmax runs
    // inside that loop, so the final pass adds no operator beyond a
    // Project: no BroadcastHashJoin against an exploded (cid, i, w)
    // centroid frame (joined on the dimension index i), no row_number
    // argmax Window, no nested loop over centroids
    for (q <- Seq("emb_kmeans", "emb_cluster_cap", "emb_outlier")) {
      val p = plan(q)
      assert(!p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("[i#")),
        s"$q: centroids joined back in as exploded (cid, i, w) rows:\n$p")
      assert(!p.contains("Window"), s"$q: assignment grew an argmax window:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: assignment degenerated to a nested loop:\n$p")
    }
    // emb_outlier's assignment feeds both the (mu, sd) aggregate and the
    // join back: it runs ONCE (materialized), not once per consumer.
    // Physical nodes, each cached relation walked once — InMemoryRelation
    // text embeds its child plan, so string counts would double-count
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case o                        => o +: o.children.flatMap(nodes)
    }
    def withCaches(p: SparkPlan): Seq[SparkPlan] = {
      val top = nodes(p)
      top ++ top.collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
        .distinct.flatMap(withCaches)
    }
    val out = reg("emb_outlier").fn(spark, d).queryExecution.executedPlan
    val assigns = withCaches(out).count {
      case pr: ProjectExec => pr.projectList.exists(_.toString.contains("kmeans: expected dim"))
      case _               => false
    }
    assert(assigns == 1, s"emb_outlier: expected ONE assignment Project, got $assigns:\n$out")
    spark.catalog.clearCache()
  }

  test("incremental dedup: anti-join on the fingerprint key, no text in the exchange") {
    val p = plan("doc_dedup_incremental")
    assert(p.contains("LeftAnti"),
      "batch-vs-reference dedup lost its anti-join shape")
    assert(!p.toLowerCase.contains("cartesian"), "no cartesian product")
  }

  test("IVF ANN: equi-join candidates, group-limit pushed into the rank windows") {
    val p = plan("emb_ann_ivf")
    // centroid assignment and probing are the plan-time-model loop (a
    // Project, never a nested loop — the registry-wide gate repeats
    // this), and the probe->cell candidate join must stay a join keyed
    // on the cell id: shuffled at scale, broadcast while the packed
    // cell side is small (500 rows at this SF)
    assert(p.linesIterator.exists(l =>
        "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell#".r.findFirstIn(l).isDefined),
      s"probe->cell candidate generation lost its equi-join on cell:\n$p")
    // rank <= k must plan as WindowGroupLimit — per-partition top-k
    // pruning before the full window sort
    assert(p.contains("WindowGroupLimit"),
      "rank filters no longer push a group limit into the window")
  }

  test("IVF cosine dedup: model-UDF assignment, one streamed cell self-join " +
    "with the verify fused into it") {
    // round-8 shape (the 100× check's lesson): assignment is a plan-time-
    // model UDF (no centroid join), and verification is ONE equi-join on
    // the cell id where each side carries its packed vector ONCE — the
    // home×probe pair expansion exists only inside the join's streamed
    // output, and the dot_packed ≥ tau verify is FUSED into the join
    // condition, so no candidate set is ever materialized or re-shuffled
    // (the round-7 shape distinct'd ~n×occ×nProbe candidate ids and
    // re-attached the packed payload per pair — the measured 100× OOM).
    val joinRe = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
    val p = plan("emb_dedup_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(joinRe.findAllIn(p).size == 1,
      s"expected exactly ONE join (the cell self-join), got:\n$p")
    assert(p.linesIterator.exists(l => joinRe.findFirstIn(l).isDefined
        && l.contains("dot_packed")),
      "the tau verify must be fused into the join condition, not applied " +
        s"to a materialized candidate set:\n$p")
    // at-scale shape: with broadcast off (what a corpus-sized build side
    // looks like to the planner), the join is a shuffle equi-join on cell
    // and exactly 3 required hash exchanges exist — homes on cell, probes
    // on cell, pair dedup on (a, b); the final orderBy's range exchange
    // is separate, and the cached scan's REPARTITION_BY_COL exchanges are
    // its own. A 4th ENSURE_REQUIREMENTS exchange means a candidate set
    // is crossing a shuffle again. (At sf0.001 the planner correctly
    // broadcasts the 500-row side — the default-config leg above — so the
    // scale shape is pinned with the broadcast path closed off.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val ps = plan("emb_dedup_cosine")
      assert(ps.contains("SortMergeJoin") || ps.contains("ShuffledHashJoin"),
        s"cell self-join must be a shuffle equi-join on the cell id:\n$ps")
      val req = ps.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
      assert(req == 3, s"expected 3 required hash exchanges (homes×cell, " +
        s"probes×cell, pair dedup), got $req:\n$ps")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("hier dedup: verify fused into the cell join; descent exchange " +
    "canonically shared (ReusedExchange under the static planner)") {
    // the two-level path's scale shape: (a) the tau verify is fused into
    // the cell self-join condition exactly like the flat path — no
    // materialized candidate set; (b) the greedy descent (branch join +
    // leaf scoring, the dominant phase past ~1M vectors) feeds BOTH the
    // home and probe consumers through ONE shared id-partitioned window
    // exchange — the always-true filter guards in Quantizer.Hier keep
    // the two window subtrees CANONICALLY IDENTICAL (column pruning would
    // otherwise drop rn from one branch and h0 from the other,
    // de-canonicalizing them and silently doubling the descent). The
    // static planner's ReuseExchangeAndSubquery then computes the descent
    // once; AQE's runtime stage cache currently misses across
    // cached-relation-rooted stages, so reuse-ELIGIBILITY (canonical
    // equality) is the property this gate pins, plus the actual reuse on
    // the non-AQE plan.
    val joinRe = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
    val p = plan("emb_dedup_hier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.linesIterator.exists(l => joinRe.findFirstIn(l).isDefined
        && l.contains("dot_packed")),
      s"the tau verify must be fused into the cell join condition:\n$p")
    // (b1) canonical equality of the two descent window exchanges
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = reg("emb_dedup_hier").fn(spark, d)
    val inner = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val idEx = inner.collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.contains("id#") => s
    }
    assert(idEx.length == 2,
      s"expected the descent's two window-exchange consumers, got ${idEx.length}")
    assert(idEx(0).canonicalized == idEx(1).canonicalized,
      "the home/probe window exchanges diverged (an always-true guard was " +
        "dropped?) — the descent now runs once per consumer with no reuse " +
        "possible")
    // (b2) the static planner actually reuses it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ps = reg("emb_dedup_hier").fn(spark, d)
        .queryExecution.executedPlan.toString
      assert("ReusedExchange".r.findAllIn(ps).size >= 1,
        s"non-AQE plan no longer reuses the descent exchange:\n$ps")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontamination: eval hashes broadcast; corpus side never shuffles on h") {
    // filter-first + broadcast(ev): the corpus shingle frame must reach
    // the contamination join without an h-shuffle (the eval suite is the
    // small side by construction), and the per-doc rollup rides the
    // shingle window's doc_id exchange. A SortMergeJoin here means the
    // full 100 TB shingle volume re-shuffles on h.
    val p = plan("doc_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval-set join lost its broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus shingles must not shuffle on h")
    // round-7 profile close-out: the countDistinct rollup must stay
    // partition-local on the window's doc_id exchange — exactly 3
    // hash exchanges total (corpus window, eval window, eval distinct;
    // the final orderBy's range exchange is counted separately) and none
    // between the contamination join and the rollup aggregates
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 3, s"expected 3 hash exchanges (corpus window, eval window, " +
      s"eval distinct) with the rollup riding the first, got $hash:\n$p")
  }

  test("PQ ANN: plan-time codebook, broadcast query table, id-width code shuffle") {
    // encode is one JIT'd loop per row (codebook collected at plan time —
    // NO join in the encode stage); ADC joins the code frame (3 longs/row)
    // against the broadcast query distance table — the candidate-scoring
    // shuffle must never carry vectors
    val p = plan("emb_pq")
    assert(p.contains("BroadcastHashJoin"), "query-table ADC join lost broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"),
      "top-k rank filter must push a group limit into the window")
  }

  test("mkt_vwap: both prefix sums and the trade scan share one instrument exchange") {
    val p = plan("mkt_vwap")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 1, s"expected 1 instrument exchange, got $hash")
  }

  test("mkt_ohlc: asc/desc windows + rollup share one (instrument, day) partitioning") {
    val p = plan("mkt_ohlc")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 1, s"expected 1 (instrument, day)-compatible exchange, got $hash")
  }

  test("doc_chunk: chunking is shuffle-free generate — map-parallel at any scale") {
    // sliding-window chunking must stay a scan -> project -> generate
    // chain: the ONLY exchange is the output orderBy's range partitioning.
    // A hash exchange here means the chunker picked up a keyed operation
    // and would shuffle the full token volume at 100 TB.
    // (Tables.documents' small-file `spread` repartition is the one
    // allowed hash exchange — a test-scale parallelism fixup that never
    // triggers when the file count provides the parallelism.)
    val p = plan("doc_chunk")
    assert(p.contains("Generate"), "chunk starts come from a generate (posexplode)")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash <= 1, s"chunking must not shuffle beyond the scan spread, got $hash")
  }

  test("evt_funnel: windows + rollup share ONE user_id exchange, one scan") {
    // the chained prefix-window formulation exists to avoid the
    // three-self-join shape: both window passes and the final groupBy must
    // ride a single user_id exchange over a single event-table scan
    val p = plan("evt_funnel")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash == 1, s"expected 1 user_id exchange, got $hash")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"funnel must read events ONCE, got $scans scans")
  }

  test("doc_topng: heavy hitters use partial agg + per-partition top-k") {
    // corpus-wide counts must plan the wordcount shape: map-side partial
    // aggregation before the ng shuffle, and the orderBy+limit as
    // TakeOrderedAndProject — a full corpus sort here is the 100 TB
    // failure mode
    val p = plan("doc_topng")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition TakeOrderedAndProject, not a global sort")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "ngram counts need map-side partial aggregation")
  }

  test("doc_repeat: bigram counts ride ONE doc_id exchange") {
    // window (doc_id) -> groupBy (doc_id, h) -> groupBy (doc_id) -> join
    // (doc_id): hash(doc_id) satisfies every downstream clustering by the
    // subset rule, so exactly one hash exchange carries token-grain rows
    val p = plan("doc_repeat")
    val hash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash <= 2, s"doc_id partitioning must be reused, got $hash hash exchanges")
  }

  test("doc_split: splits at scan speed — no required shuffle") {
    // the split is a pure projection; the only exchanges allowed are the
    // loader's small-file spread (REPARTITION_BY_COL, local-mode only)
    // and the output orderBy's range exchange
    val p = plan("doc_split")
    assert(!p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS")),
      "doc_split grew a required hash exchange — no longer a pure projection")
  }

  test("doc_shard: global rank with no global window over the corpus") {
    // the naive one-window global row_number serializes the corpus through
    // a single task; the two-phase form allows exactly ONE SinglePartition
    // exchange — the 64-row bucket-offset ladder — plus 2 required hash
    // exchanges (big-side bucket window, per-bucket counts agg), with the
    // offsets broadcast back
    val p = plan("doc_shard")
    val single = p.linesIterator.count(_.contains("SinglePartition"))
    assert(single == 1,
      s"exactly one SinglePartition exchange (the 64-row offset ladder), got $single")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
    val ensures = p.linesIterator.count(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(ensures == 2,
      s"bucket window + counts agg = 2 required hash exchanges, got $ensures")
  }

  test("doc_bm25: per-partition top-k, broadcast stats joins") {
    // the top-20 must be TakeOrderedAndProject (a global sort of scored
    // docs is the 100 TB failure mode) and the tiny df table must
    // broadcast into the scoring join
    val p = plan("doc_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition TakeOrderedAndProject")
    assert(p.contains("BroadcastHashJoin"), "query-term stats must broadcast")
  }

  test("semDedupIncremental: stored corpus is scanned ONCE, via the cell equi-join") {
    // the op's 100 TB contract: the existing (kept) corpus feeds exactly
    // one scan — the (cell, packed-unit) projection into the batch-cell
    // equi-join — no re-assignment pass, no corpus window, no old×old
    // pairing. Written to its own parquet path so the scan count is
    // unambiguous in the plan text.
    val e = Tables.embeddings(spark, d)
    val model = graft.functions.Similarity.kmeansModel(e, nCent = 4, iters = 1,
      dimHint = 64)
    val dir = java.nio.file.Files.createTempDirectory("sdinc").toString
    e.select(col("vec_id"), (col("vec_id") % 4).as("cell"), col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val existing = spark.read.parquet(s"$dir/corpus")
    val batch = e.where(col("vec_id") % 5 === 0)
    val p = graft.functions.Similarity
      .semDedupIncremental(existing, batch, 0.4, graft.functions.Similarity.Quantizer.Flat(model),
        dimHint = 64)
      .queryExecution.executedPlan.toString
    val corpusScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("sdinc"))
    assert(corpusScans == 1, s"stored corpus must feed exactly 1 scan, got $corpusScans")
    assert(!p.contains("Window"),
      "batch assignment must be the plan-time-model loop, not a window rank")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "incremental semdedup degenerated to an all-pairs shape")
  }

  test("semanticDecontaminateIncremental: stored eval probes scanned ONCE, batch loop-assigned") {
    // the incremental decontamination 100 TB contract: the frozen eval
    // probe frame (computed once by evalProbeFrame, stored) feeds exactly
    // one scan — the cell equi-join against the day's batch — with zero
    // eval-side recompute, no window rank (assignment is the frozen-model
    // JIT loop), and no all-pairs shape. Probes written to their own
    // parquet path so the scan count is unambiguous in the plan text.
    val e = Tables.embeddings(spark, d)
    val model = graft.functions.Similarity.Quantizer.Flat(
      graft.functions.Similarity.kmeansModel(e.where(col("label") =!= 9),
        nCent = 4, iters = 1, dimHint = 64))
    val dir = java.nio.file.Files.createTempDirectory("decinc").toString
    graft.functions.Similarity.evalProbeFrame(e.where(col("label") === 9),
      model, nProbe = 4, dimHint = 64)
      .write.mode("overwrite").parquet(s"$dir/evalprobes")
    val probes = spark.read.parquet(s"$dir/evalprobes")
    val batch = e.where(col("label") =!= 9 && col("vec_id") % 5 === 0)
    val p = graft.functions.Similarity
      .semanticDecontaminateIncremental(batch, probes, 0.4, model, dimHint = 64)
      .queryExecution.executedPlan.toString
    val probeScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("decinc"))
    assert(probeScans == 1, s"stored eval probes must feed exactly 1 scan, got $probeScans")
    assert(!p.contains("Window"),
      "batch assignment must be the frozen-model loop, not a window rank")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "incremental decontamination degenerated to an all-pairs shape")
  }

  test("emb_semdedup_inc: equi-join pairing, frozen-model loop assignment") {
    val p = plan("emb_semdedup_inc")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "cell pairing must be an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "incremental semdedup degenerated to an all-pairs shape")
    assert(!p.contains("Window"),
      "no window ranks anywhere: assignment is the JIT loop on both legs")
  }

  test("emb_semdedup: pairwise stage is a cell equi-join, decisions ride it") {
    // within-cell pairing must plan as an equi-join on cell (constant
    // occupancy ⇒ O(n·occ) streamed pairs); an all-pairs/BNLJ shape here
    // is the 100 TB failure mode (the registry-wide cartesian gate also
    // covers this — this pins the join keys)
    val p = plan("emb_semdedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "cell pairing must be an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "semdedup degenerated to an all-pairs shape")
  }

  test("doc_hybrid_rrf: legs cut to top-100 per-partition before any global work") {
    // each leg must reach its bounded 100-row list via
    // TakeOrderedAndProject (a global sort of scored docs is the 100 TB
    // failure mode); the only single-partition work allowed is the rank
    // windows + fusion OVER those bounded lists. The dense leg is a
    // literal-vector projection — no join may appear below its top-k.
    val p = plan("doc_hybrid_rrf")
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2,
      "both legs must cut to top-100 via per-partition top-k")
    // round 20: the sparse leg's (N, avgdl) corpus stats ride the plan as
    // ONE broadcast single-row aggregate (the lm-ppl vocab shape) instead
    // of an eager build-time `.head` tokenize pass — that rider is the
    // only nested-loop join allowed; a second one would mean the dense
    // leg degenerated to an all-pairs join.
    assert(!p.contains("CartesianProduct") &&
      p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      "the dense leg must be a literal-vector projection, not an all-pairs join")
    // round 21 (r20 advisor): pin that the one permitted BNLJ IS the
    // 1-row stats rider. Two properties together rule out a dense-leg
    // all-pairs regression hiding under the <=1 count: (a) the join is
    // the rider's exact shape — a conditionless Cross with the broadcast
    // build side (an equi-join fallback BNLJ carries a condition); (b)
    // the rider's __n/__sdl aggregate columns are actually consumed
    // downstream — if the rider were ever planned away, (b) goes red
    // rather than freeing the budget for a regression join.
    val bnlLines = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toVector
    assert(bnlLines.nonEmpty, "expected the (N, avgdl) rider BNLJ")
    bnlLines.foreach { l =>
      // the rider renders "BroadcastNestedLoopJoin BuildSide, Cross" — a
      // conditionless cross; an equi-fallback/all-pairs BNLJ carries its
      // join type + condition after the comma
      assert(l.trim.endsWith("Cross"),
        s"the only permitted BNLJ is the conditionless 1-row cross rider; got: $l")
    }
    assert(p.contains("__n#") && p.contains("__sdl#"),
      "the (N, avgdl) rider columns must ride the plan (lost the in-plan stats)")
  }

  test("doc_dsir: λ broadcasts, top-k per-partition, grams hashed before any exchange") {
    // pinned on the FINAL AQE plan (what executes): the fit is ONE
    // bucket-keyed lr aggregate folded into a one-row dense λ model that
    // broadcasts to the scoring side; every doc is scored in place — no
    // Generate, no aggregate, no exchange between the scan-side spread
    // and the top-50 — and the only explode is the fit's
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.StringType
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val df = reg("doc_dsir").fn(spark, d)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val fin = all.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan.toString }.get
    val scoring = all.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(scoring.size == 1, s"expected the one λ broadcast join:\n$fin")
    val j = scoring.head
    val (streamed, built) = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => (j.left, j.right)
      case _ => (j.right, j.left)
    }
    assert(j.condition.isEmpty && built.output.map(_.name) == Seq("lam") &&
      nodes(built).exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"λ must reach scoring as one broadcast row (conditionless):\n$fin")
    val scoreSide = nodes(streamed)
    assert(!scoreSide.exists(n => n.isInstanceOf[GenerateExec] ||
        n.isInstanceOf[BaseAggregateExec]),
      s"the scoring side must not explode or aggregate:\n$fin")
    assert(all.count(_.isInstanceOf[GenerateExec]) == 1,
      s"only the fit explodes buckets:\n$fin")
    assert(!all.exists {
        case a: BaseAggregateExec => a.groupingExpressions.exists(_.references.exists(_.name == "doc_id"))
        case _ => false },
      s"no doc_id-keyed aggregate anywhere:\n$fin")
    val shuffles = all.collect { case e: ShuffleExchangeExec => e }
    val lrExchanges = shuffles.count(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references).map(_.name) == Seq("b")
      case _ => false })
    assert(lrExchanges == 1, s"lr's bucket exchange must run once, got $lrExchanges:\n$fin")
    shuffles.foreach { e =>
      val strings = e.output.filter(_.dataType == StringType).map(_.name).toSet
      assert(strings.subsetOf(Set("text", "source")),
        s"a gram string crossed an exchange ($strings):\n$fin")
    }
    assert(all.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"top-50 must be per-partition TakeOrderedAndProject:\n$fin")
  }

  test("doc_dedup_bloom: Bloom prefilter sits on the corpus scan below the anti-join") {
    // the whole point of the op: the frozen-corpus side must pass the
    // broadcast Bloom (a UDF filter) BEFORE any join/exchange, so at
    // 100 TB only might-match rows ever leave the scan; the join itself
    // must stay an anti-join
    val p = plan("doc_dedup_bloom")
    assert(p.contains("LeftAnti"), "lost the anti-join shape")
    val udfFilterLine = p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("UDF"))
    assert(udfFilterLine, "the Bloom mightContain prefilter fell off the corpus side")
    assert(!p.toLowerCase.contains("cartesian"), "no cartesian product")
  }

  test("doc_dedup_segments: segments built scan-side, two keyed exchanges, no text re-shuffle") {
    // segmentation must be a projection under the Generate; the keyed
    // exchanges are Tables.documents' shared scan-side doc_id spread
    // (REPARTITION_BY_COL), the seg window, and the doc_id rollup — a
    // fourth would mean segment or full text crossing the cluster twice
    val p = plan("doc_dedup_segments")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"expected <=3 keyed exchanges, saw $exchanges:\n$p")
    // the segment text must cross on the SEG key once — a second
    // seg-keyed exchange means the dedup decision re-shuffled the text
    val segExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(seg#"))
    assert(segExchanges == 1, s"segment text must cross exactly once, saw $segExchanges")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "segment dedup must stay exchange-keyed, never all-pairs")
  }

  test("doc_heavy_tokens: certified result is a local relation; recount is a broadcast semi-join") {
    // the certified path's RESULT plan must be a LocalTableScan — the
    // top-k was proven exact during the build passes, so writing it must
    // re-execute nothing corpus-sized (a lineage-bearing frame here
    // would re-run the sketch + recount on every consumer)
    val p = plan("doc_heavy_tokens")
    assert(p.contains("LocalTableScan"),
      s"certified heavy hitters must return the materialized top-k:\n$p")
    assert(!p.contains("Exchange"),
      "the certified result must carry no corpus lineage")
    // and the internal recount pass (pass 2) must prune via a broadcast
    // semi-join at the scan side of its aggregate — gate the shape on
    // the shared helper directly
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
    val cands = Seq("a", "b").toDF("tok")
    val recount = toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val rp = recount.queryExecution.executedPlan.toString
    assert(rp.contains("BroadcastHashJoin") && rp.contains("LeftSemi"),
      s"candidate recount must prune via broadcast semi-join:\n$rp")
  }

  test("evt_pctile_cert: certified quantiles return a local relation, no corpus lineage") {
    // like doc_heavy_tokens: the order statistics were resolved during
    // the descent passes; the RESULT frame must be the materialized
    // (p, value) rows, not a plan that re-runs histogram rounds per
    // consumer
    val p = plan("evt_pctile_cert")
    assert(p.contains("LocalTableScan"),
      s"certified quantiles must return materialized rows:\n$p")
    assert(!p.contains("Exchange"),
      "the certified quantile result must carry no corpus lineage")
  }

  test("doc_token_budget: the keep side is a broadcast-scalar filter, never a window") {
    // the descent resolved the cut to two scalars; the returned frame
    // must be scan -> filter -> output sort. A Window node here means
    // the single-partition cumsum plan leaked back in
    val p = plan("doc_token_budget")
    assert(!p.contains("Window"),
      s"budget keep set must not window the corpus:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS")),
      "budget filter grew a required hash exchange — no longer scan-speed")
  }

  test("doc_source_cap: cap rides partial ObjectHashAggregate, never a per-key window sort") {
    // the Aggregator must plan as partial + final ObjectHashAggregate
    // (map-side combine prunes to <= K pairs per key per partition
    // BEFORE the exchange); a Window/Sort pair here is the corpus-sized
    // row_number plan the op exists to avoid
    val p = plan("doc_source_cap")
    assert(!p.contains("Window"),
      s"per-source cap must not be a window plan:\n$p")
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"CapKAgg must aggregate partial+final:\n$p")
  }

  test("doc_quality_pctile: percent_rank from a tiny CDF, never a corpus sort") {
    // the oracle's percent_rank() OVER (ORDER BY score) is a global
    // corpus sort; the shipped plan may window ONLY the <= 101-row
    // score-CDF aggregate (so every Window/SinglePartition sits above a
    // HashAggregate) and must join the CDF back by broadcast. The
    // corpus-sized frame crosses no required hash exchange at all —
    // scoring is a projection and the join side is broadcast.
    val p = plan("doc_quality_pctile")
    assert(p.contains("BroadcastHashJoin"),
      s"the score CDF must broadcast back to the corpus:\n$p")
    // windows are allowed only over the aggregated frame: every Window
    // line must appear after a HashAggregate in its subtree — cheap
    // structural proxy: the plan must contain a HashAggregate, and the
    // corpus side (below the broadcast join's streamed side) must not
    // sort. A corpus Sort would show as a SortExec above the file scan
    // on the streamed side; the only sorts allowed are the final
    // doc_id output sort and the CDF-frame window sort.
    assert(p.contains("HashAggregate"), s"CDF aggregate missing:\n$p")
    // the one required hash exchange is the CDF aggregate's, keyed on
    // score (<= 101 distinct keys — KB-sized); a doc_id-keyed required
    // exchange would mean the CORPUS is being shuffled
    val ensures = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS")).toSeq
    assert(ensures.size == 1 && ensures.head.contains("score"),
      s"exactly one required hash exchange, keyed on score, got:\n${ensures.mkString("\n")}\n$p")
    val singles = p.linesIterator.count(_.contains("SinglePartition"))
    assert(singles <= 2,
      s"only the CDF window/total may single-partition (<=101 rows), got $singles:\n$p")
  }

  test("bpe: vocab cap is per-partition top-V (TakeOrdered), never a global sort") {
    // the trainer's only corpus-sized action is the word-count aggregate;
    // the maxWords cap must plan as TakeOrderedAndProject (each partition
    // ships at most V rows to the driver merge) — an Exchange
    // rangepartitioning here would mean the WORD TABLE is being globally
    // sorted just to take its head
    val top = graft.functions.Bpe.wordCounts(Tables.documents(spark, d))(col("text"))
      .orderBy(desc("cnt"), asc("word")).limit(graft.functions.Bpe.BpeMaxTrainWords)
    val tp = top.queryExecution.executedPlan.toString
    assert(tp.contains("TakeOrderedAndProject"),
      s"capped vocab collect lost its top-V shape:\n$tp")
    assert(!tp.contains("Exchange rangepartitioning"),
      s"vocab cap must not globally sort the word table:\n$tp")
  }

  test("doc_bpe_encode: word table broadcasts; corpus aggregates ride the doc_id partitioning") {
    // encode touches each DISTINCT word once and broadcast-joins back to
    // per-doc token counts: the encoded word table must be the BUILD side
    // of a BroadcastHashJoin (a SortMergeJoin would shuffle the corpus on
    // word), and the per-doc aggregates must reuse the documents table's
    // doc_id partitioning (subset rule) — the only required hash exchange
    // in the plan is the word-distinct inside the broadcast subtree
    val p = plan("doc_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"encoded word table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus must not shuffle on word:\n$p")
    val ensures = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS")).toSeq
    assert(ensures.size == 1 && ensures.head.contains("word"),
      s"exactly one required hash exchange (the word distinct), got:\n${ensures.mkString("\n")}")
    val range = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(range == 1, s"only the output orderBy may range-partition, got $range:\n$p")
  }

  test("doc_overlap_matrix: no self-join — pairs ride the set aggregate") {
    // the naive form self-joins the (source, h) frame on h (two
    // shuffles of the shingle volume + a skew-amplifying join on hot
    // boilerplate shingles); the shipped plan aggregates straight to
    // (h, set-of-sources) and explodes pairs from the ≤ #sources-wide
    // sets POST-aggregate: zero joins, one shingle-volume exchange
    // (h), one pair-count exchange over pair-sized rows
    val p = plan("doc_overlap_matrix")
    assert(!p.contains("Join"), s"pair generation must not join:\n$p")
    // the shingle window's REPARTITION_BY_COL doc_id spread rides along
    // (hashedShingleRows); the REQUIRED exchanges are the two aggregates
    val hashEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS")).toSeq
    assert(hashEx.size == 2 && hashEx.exists(_.contains("h#")) &&
      hashEx.exists(_.contains("src_a")),
      s"exactly the h aggregate + the pair count may hash-exchange:\n${hashEx.mkString("\n")}")
  }

  test("doc_ppl_buckets: boundaries are broadcast literals; the split never sorts the corpus") {
    // the oracle is ntile-over-a-global-sort; the shipped plan buckets
    // with a two-literal CASE — the only rangepartitioning allowed is
    // the output orderBy, and the descent's certification is gated at
    // runtime (exactQuantiles' own specs own the mechanism)
    // audit the PRE-checkpoint output frame: the registry query
    // checkpoint-and-unpersists (advisor leak fix), which collapses its
    // own plan to a bare RDD scan with nothing left to gate
    val (scored, out) = QueriesPipeline.pplBucketsFrames(spark, d)
    val p = out.queryExecution.executedPlan.toString
    scored.unpersist(false)
    val range = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(range == 1, s"only the output orderBy may range-partition, got $range:\n$p")
    assert(!p.contains("ntile") && !p.contains("row_number"),
      s"no rank window anywhere — the boundaries are collected scalars:\n$p")
    spark.catalog.clearCache()
  }

  test("doc_curate_e2e: 3 corpus reads end-to-end; later stages are cache-fed; " +
      "no global corpus sort") {
    // The composed chain's scale contract (the reason it exists as one
    // entry): the corpus is READ exactly three times — the scoring scan,
    // the corpus shingle scan, the eval shingle scan — and every later
    // stage (dedup keep-join, decontam anti-join, budget descent, shard
    // rank) runs over the persisted narrow projections. Physical leaves,
    // not plan text: InMemoryRelation.toString embeds its child plan, so
    // raw string counts double-count cached scans.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val st = QueriesPipeline.curateE2e(spark, d)
    // AQE wrappers report no children — unwrap them so leaf counting
    // sees the real scans
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec        => leaves(q.plan)
      case o if o.children.nonEmpty => o.children.flatMap(leaves)
      case leaf                     => Seq(leaf)
    }
    def fileScans(p: SparkPlan): Int =
      leaves(p).count(_.isInstanceOf[FileSourceScanExec])
    def cachedFileScans(p: SparkPlan): Seq[Int] =
      leaves(p).collect { case m: InMemoryTableScanExec =>
        fileScans(m.relation.cachedPlan) }
    // stage 1: the scoring projection is ONE parquet scan, materialized once
    val base = st.base.queryExecution.executedPlan
    assert(fileScans(base) == 0 && cachedFileScans(base) == Seq(1),
      s"base must be one cached corpus scan:\n$base")
    // stage 4's probe side: corpus shingles + eval shingles = TWO scans
    val contam = st.contam.queryExecution.executedPlan
    assert(fileScans(contam) == 0 && cachedFileScans(contam) == Seq(2),
      s"contam must be one cached (corpus + eval) shingle join:\n$contam")
    // the frame the budget descent aggregates over: cache reads only —
    // each descent round costs narrow-column cache scans, never a re-score
    val kept2 = st.kept2.queryExecution.executedPlan
    assert(fileScans(kept2) == 0,
      s"budget-descent input must not touch parquet:\n$kept2")
    // the final sharded output: cache-fed, one SinglePartition exchange
    // (the 64-row bucket-offset ladder), offsets broadcast back, and no
    // cartesian anywhere in the fused chain
    val out = st.out.queryExecution.executedPlan
    assert(fileScans(out) == 0, s"final stage must not re-read the corpus:\n$out")
    val op = out.toString
    assert(!op.contains("CartesianProduct") && !op.contains("BroadcastNestedLoopJoin"),
      "no cartesian in the fused chain")
    val single = op.linesIterator.count(_.contains("SinglePartition"))
    assert(single == 1,
      s"exactly one SinglePartition exchange (the offset ladder), got $single:\n$op")
    assert(op.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
    // the decontam anti-join must broadcast the contaminated-id set
    val kp = st.kept2.queryExecution.executedPlan.toString
    assert(kp.contains("BroadcastHashJoin") && kp.contains("LeftAnti"),
      s"decontam must be a broadcast anti-join:\n$kp")
    spark.catalog.clearCache()
  }
}
