package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical properties: these are
  * the "would it survive 100×" invariants — predicate pushdown reaching
  * the scan, column pruning, broadcast joins for dimensions, map-side
  * partial aggregation, and shuffle counts. A change that silently turns
  * a broadcast into a shuffle or widens a scan fails here, not in a
  * cluster postmortem.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Plan with AQE off: exchange reuse is decided statically by the
    * ReuseExchange rule and is visible in the plan string. (Under AQE the
    * same dedup happens at runtime via the stage cache — keyed on the
    * canonicalized exchange plan — but the pre-execution plan string shows
    * neither, so the static plan is what a reuse assertion can pin.)
    */
  private def planNoAqe(name: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q1_agg: shipdate predicate is pushed into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown in:\n$p")
  }

  test("q1_agg: column pruning — scan reads only the 5 needed lineitem columns") {
    val p = plan("q1_agg")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"scan reads unneeded columns: $read")
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
  }

  test("q5_region: dimension joins broadcast, fact join shuffles") {
    val p = plan("q5_region")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected ≥2 broadcast joins in:\n$p")
  }

  test("q3_topk: top-k is TakeOrdered, not a global sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
  }

  test("keydiff: distributed join on the normalized key, no cartesian") {
    val p = plan("keydiff_status")
    assert(p.contains("FullOuter"), s"no full-outer join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff must be an equi-join:\n$p")
  }

  test("venn_counted: exactly one shuffle (union + single hash aggregate)") {
    val p = plan("venn_counted")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles in:\n$p")
  }

  test("dedup_exact: aggregation is partial (map-side) then final") {
    val p = plan("dedup_exact")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate in:\n$p")
  }

  test("minhash_sig: documents scan prunes to (doc_id, text)") {
    val p = plan("minhash_sig")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"scan reads unneeded columns: $read")
  }

  test("ann_topk: query side broadcasts; corpus is scanned once streaming") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]")
      || p.contains("LessThan(vec_id,10)"), s"query filter should push down:\n$p")
  }

  test("chunk_docs: chunking is map-only — no shuffle before the output sort") {
    val p = plan("chunk_docs")
    // exactly one exchange: the rangepartitioning for the final ORDER BY
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, s"chunking shuffled:\n$p")
  }

  test("sample_split: sampling filter is a scan-side projection, agg is partial") {
    val p = plan("sample_split")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected only the groupBy shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("events hourly agg: partial aggregation before the shuffle") {
    val p = plan("events_hourly")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("q7_volume: nation-filtered dims broadcast; lineitem scanned once") {
    val p = plan("q7_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier/customer nation tags must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"lineitem must be scanned exactly once:\n$p")
  }

  test("q10_returns: returnflag filter pushed to scan, top-20 is TakeOrdered") {
    val p = plan("q10_returns")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
      s"returnflag not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("lsh_pairs: signature computed once below a reused exchange, no cartesian") {
    val p = planNoAqe("lsh_pairs")
    // the repartition(id) barrier materializes the signature exactly once;
    // both self-join sides must read it back via ReusedExchange
    assert(p.contains("ReusedExchange"), s"self-join sides must reuse one exchange:\n$p")
    assert("graft_minhash".r.findAllIn(p).size == 1,
      s"minhash must be evaluated exactly once, not inlined per consumer:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join must be an equi-join:\n$p")
    // the jaccard HOF must sit ABOVE the pair aggregation (once per pair),
    // not inside the partial/final aggregate (once per joined row)
    assert(!plan("lsh_pairs").linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("zip_with")),
      s"jaccard estimate leaked into the aggregate:\n$p")
  }

  test("phash_dedup: dHash computed once below a reused exchange, band-bucketed join") {
    val p = planNoAqe("phash_dedup")
    // same contract as the simhash64 band machinery it reuses: one sketch
    // evaluation below the repartition barrier, both self-join sides read
    // it back via ReusedExchange, and the join is the (band, v) equi-join
    // — never all-pairs.
    assert(p.contains("ReusedExchange"), s"self-join sides must reuse one exchange:\n$p")
    assert("graft_dhash64".r.findAllIn(p).size == 1,
      s"dHash must be evaluated exactly once, not inlined per consumer:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join must be an equi-join:\n$p")
  }

  test("winnow_overlap: one fingerprint exchange feeds freq filter and both join sides") {
    val p = planNoAqe("winnow_overlap")
    assert(p.contains("ReusedExchange"), s"fingerprint exchange must be reused:\n$p")
    assert("graft_winnow".r.findAllIn(p).size == 1,
      s"winnowing must be evaluated exactly once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ngram_jaccard: one shingle exchange feeds all consumers via reuse") {
    val p = planNoAqe("ngram_jaccard")
    // the exploded-shingle relation is consumed 4x (freq filter, both join
    // sides, per-doc sizes); it must be ONE exchange + ReusedExchange, not
    // four re-evaluations of the shingling expression
    assert(p.contains("ReusedExchange"), s"shingle exchange must be reused:\n$p")
    assert("graft_shingles".r.findAllIn(p).size == 1,
      s"shingling must be evaluated exactly once:\n$p")
  }

  test("ppjoin_pairs: fingerprint exchange reused by freq + both join sides") {
    val p = planNoAqe("ppjoin_pairs")
    // the exploded fingerprint relation feeds the frequency count and
    // both prefix-join sides off ONE hash exchange
    assert(p.contains("ReusedExchange"), s"fingerprint exchange must be reused:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filter must never degenerate to all-pairs:\n$p")
  }

  test("topk_group: bounded heap aggregate, never a per-group window sort") {
    val p = plan("topk_group")
    // partial + final graft_top_k aggregate; rank comes from posexplode
    assert("graft_top_k".r.findAllIn(p).size >= 2,
      s"expected partial+final top-k aggregate in:\n$p")
    assert(!p.contains("Window"),
      s"leaderboard must not fall back to a window sort:\n$p")
  }

  test("cdc_apply: one max_by aggregate + one key-shuffled full outer join") {
    val p = plan("cdc_apply")
    assert(p.contains("FullOuter"), s"expected full-outer merge join in:\n$p")
    assert(p.contains("max_by"), s"latest-change must be a max_by aggregate:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"no window sort of the change log, no all-pairs:\n$p")
  }

  test("q6_forecast: every predicate reaches the parquet scan") {
    val p = plan("q6_forecast")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    // the plan printer elides long filter lists ("LessThanOrEqu…"), so
    // assert on the untruncated prefix: both columns present and the
    // range comparison reaching the scan
    assert(pushed.contains("IsNotNull(l_discount)")
      && pushed.contains("IsNotNull(l_quantity)")
      && pushed.contains("GreaterThanOrEqual(l_discount,0.05)"),
      s"scan-filter-agg must push its predicates: $pushed")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_shipdate"),
      s"scan reads unneeded columns: $read")
  }

  test("q4_priority: EXISTS compiles to a semi join, not an aggregate-dedup") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("decontam: eval shingle side broadcasts; corpus side never shuffles before the probe") {
    val p = plan("decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast (map-side probe at corpus scale):\n$p")
  }

  test("bm25: corpus scalars and doc frequencies ride broadcasts") {
    val p = plan("bm25_search")
    assert("Broadcast".r.findAllIn(p).size >= 2,
      s"df and (n, avgdl) must broadcast, not shuffle the tf relation twice:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("bloom_join: probe side is filtered by the bloom BEFORE the join") {
    val p = plan("bloom_join")
    val filterLine = p.linesIterator.find(_.contains("graft_bloom_might_contain"))
    assert(filterLine.isDefined, s"bloom probe missing from plan:\n$p")
    // the probe filter must appear in a Filter node over the lineitem scan,
    // i.e. below the join — not as a post-join residual
    val idx = p.indexOf("graft_bloom_might_contain")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && idx > joinIdx,
      s"bloom filter should sit on the probe branch (printed below the join):\n$p")
  }

  test("mix_quota: stratum totals broadcast back; sampling filter is row-local") {
    val p = plan("mix_quota")
    assert(p.contains("BroadcastHashJoin"),
      s"per-stratum totals are tiny and must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pq_topk: ADC table built once on the broadcast side, codes encoded once per branch") {
    val p = plan("pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$p")
    // the per-query lookup table is a broadcast-side projection — once,
    // never recomputed per joined pair
    assert("graft_pq_adc_table".r.findAllIn(p).size == 1,
      s"ADC table must be a query-side projection, not a per-pair expression:\n$p")
    // the gated query runs the ADC path AND its decode-path differential
    // twin (adc_eq_decode gate): one encode per corpus row per branch,
    // never per pair
    assert("graft_pq_encode".r.findAllIn(p).size == 2,
      s"PQ encode must run once per corpus row in each of the two branches:\n$p")
  }

  test("q8_share: dims broadcast, region membership is a semi join, part filter pushed") {
    val p = plan("q8_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"part/supplier/nation/region sides must broadcast:\n$p")
    assert(p.contains("LeftSemi"),
      s"customer region membership must be a semi join (no payload carried):\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)"),
      s"part type filter must reach the part scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q13_custdist: per-customer count reuses the join's custkey exchange") {
    // left join on c_custkey and groupBy(c_custkey) cluster on the same
    // key: the aggregate must NOT insert a second custkey exchange above
    // the join. 2 fact exchanges (one per join input) + the tiny
    // distribution agg exchange = 3.
    val p = plan("q13_custdist")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"per-customer aggregate added a redundant exchange:\n$p")
  }

  test("q17_smallqty: brand filter prunes lineitem before stats; stats broadcast back") {
    val p = planNoAqe("q17_smallqty")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"brand-part filter and per-part stats must both broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#12)"),
      s"brand predicate must reach the part scan:\n$p")
  }

  test("round-5 TPC-H shapes: broadcast dims, semi/anti forms, no cartesian") {
    // q2: correlated min as a window over the supply aggregate — one
    // lineitem scan, dims broadcast
    val p2 = plan("q2_mincost")
    assert("BroadcastHashJoin".r.findAllIn(p2).size >= 3,
      s"q2 part/supplier/nation/region must broadcast:\n$p2")
    assert("FileScan parquet".r.findAllIn(p2).size == 5 &&
      p2.contains("Window"),
      s"q2 must scan lineitem once and use a window for the correlated min:\n$p2")
    // q9: 6-relation join, three dims broadcast, part filter pushed
    val p9 = plan("q9_profit")
    assert("BroadcastHashJoin".r.findAllIn(p9).size >= 3,
      s"q9 part/supplier/nation must broadcast:\n$p9")
    assert(p9.contains("StringContains(p_name,red"),
      s"q9 part name filter must reach the part scan:\n$p9")
    // q16: complaints exclusion as an anti join, never NOT IN as cartesian
    val p16 = plan("q16_suppcnt")
    assert(p16.contains("LeftAnti"), s"q16 exclusion must be anti join:\n$p16")
    // q20: concentrated-supplier membership as a semi join
    val p20 = plan("q20_qtyshare")
    assert(p20.contains("LeftSemi"), s"q20 membership must be semi join:\n$p20")
    // q21: exists/not-exists as semi + anti joins; no cartesian anywhere
    val p21 = plan("q21_waiting")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"q21 needs semi (exists) + anti (not exists):\n$p21")
    Seq("q2" -> p2, "q9" -> p9, "q16" -> p16, "q20" -> p20, "q21" -> p21)
      .foreach { case (n, p) =>
        assert(!p.contains("CartesianProduct"), s"$n has a cartesian:\n$p")
      }
  }

  test("funnel_stages: single user-key shuffle, events scanned once") {
    val p = plan("funnel_stages")
    // one exchange for the user groupBy + one for the 4-row stage count —
    // the K-stage chained-join formulation would show K+1 fact exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"funnel must be single-scan single-shuffle:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"funnel must scan events exactly once:\n$p")
  }

  test("retention_weeks/event_transitions: events scans prune to the needed columns") {
    val pr = plan("retention_weeks")
    val prRead = pr.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!prRead.contains("props") && !prRead.contains("value"),
      s"retention reads unneeded event columns: $prRead")
    val pt = plan("event_transitions")
    val ptRead = pt.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!ptRead.contains("props") && !ptRead.contains("value"),
      s"transitions reads unneeded event columns: $ptRead")
  }

  test("decontam_embed: eval side broadcasts, corpus never shuffles before the sweep") {
    // the |corpus| × |eval| cosine sweep must be a map-side broadcast
    // loop; the only shuffle allowed is the per-corpus-id aggregate over
    // the tiny matched subset
    val p = plan("decontam_embed")
    assert(p.contains("BroadcastExchange"), s"eval side not broadcast:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected ≤1 data shuffle, got $shuffles in:\n$p")
  }

  test("join_size_est self-join: ONE lineitem scan feeds one per-key aggregate") {
    // the self-join estimate is fan = cnt² over a single per-key count —
    // a second scan of the fact table would double the dominant cost at
    // 100 TB for zero information
    val p = plan("join_size_est")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 scan, got $scans in:\n$p")
  }

  test("edit_pairs: deletion-neighborhood equi-join — no cartesian, pruned scan") {
    // the whole point of the SymSpell construction is that the n² cross
    // join never appears: candidates come from an equi-join on the
    // variant string, and the scan reads ONLY the name column
    val p = plan("edit_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit join degenerated to a cross join:\n$p")
    assert(p.contains("ReadSchema: struct<c_name:string>"),
      s"scan not pruned to c_name:\n$p")
  }

  test("pagerank: rank-sized shuffles ride one cached edge layout") {
    // each iteration joins the node-sized rank relation against the
    // cached adjacency and hash-aggregates on dst — the edge list is
    // scanned from InMemoryRelation, not re-read from parquet per round
    val p = plan("pagerank")
    // every consumer of the edge list reads the InMemoryRelation (each
    // InMemoryTableScan REPRINTS the cached child plan, so counting raw
    // FileScan strings over-counts — the load-bearing fact is that no
    // consumer bypasses the cache, i.e. iters+1 cached reads exist and
    // every FileScan string sits under an InMemoryRelation)
    val cachedReads = "InMemoryTableScan".r.findAllIn(p).size
    assert(cachedReads >= 4, s"expected ≥4 cached adjacency reads, got $cachedReads:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    val firstScan = p.indexOf("FileScan parquet")
    val firstCache = p.indexOf("InMemoryRelation")
    assert(firstCache >= 0 && (firstScan < 0 || firstScan > firstCache),
      s"a FileScan appears outside the cached adjacency:\n$p")
  }

  test("linreg: one map-side-combined aggregate pass, no join, no window") {
    val p = planNoAqe("linreg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final sufficient-statistic aggregate in:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 (groups-sized) shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"closed-form OLS must not join or window:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_shipdate"),
      s"scan reads unneeded columns: $read")
  }

  test("pct_norm: window runs over the distinct-value histogram, not raw rows") {
    val p = planNoAqe("pct_norm")
    // the Window's child must be an aggregate (the (group, value) → count
    // histogram), never the raw documents scan — that is the whole point
    // of the operator vs a naive percent_rank partition sort
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, s"expected a Window over the histogram in:\n$p")
    val below = lines.drop(winIdx)
    assert(below.exists(_.contains("HashAggregate")),
      s"Window must sit above the histogram aggregate, not raw rows:\n$p")
    // raw-row side prunes to the 3 needed columns
    val reads = lines.filter(_.contains("ReadSchema"))
    assert(reads.forall(r => !r.contains("text") && !r.contains("lang")),
      s"documents scan must prune text/lang: $reads")
  }

  test("assoc_rules: one basket-keyed exchange feeds both pair-join sides") {
    val p = planNoAqe("assoc_rules")
    assert(p.contains("ReusedExchange"),
      s"the distinct (basket, item) exchange must be built once and reused:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the only cross join is the broadcast 1-row basket count:\n$p")
    // pair join must be an EQUI join keyed on the basket, not all-pairs
    // (the physical strategy — broadcast at tiny SF, shuffled at scale —
    // is Catalyst's choice; the key is the invariant)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[__bk".r
      .findFirstIn(p).isDefined,
      s"expected a basket-keyed equi join:\n$p")
  }

  test("AQE on/off produces identical results on representative queries") {
    // Adaptive execution re-plans joins and coalesces partitions at
    // runtime; none of that may change ANSWERS. A deterministic query
    // whose result shifts under AQE has an order- or partition-dependent
    // bug (e.g. a limit without a total order, a float sum crossing a
    // rounded boundary).
    val probes = Seq("q5_region", "keydiff_summary", "venn_counted",
      "lsh_pairs", "ann_topk", "quantiles", "funnel_stages", "oov_rate",
      "token_pmi", "semantic_dedup", "hybrid_search", "len_strata",
      "q21_waiting", "ngram_novelty", "source_drift", "keydiff_nested",
      "decontam_embed", "winsorize", "keydiff_drift", "corpus_card",
      "linreg", "pct_norm")
    probes.foreach { name =>
      val on = SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off =
        try SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(on == off, s"$name answers differ under AQE on/off")
    }
  }

  test("native kernels participate in whole-stage codegen (starred stages)") {
    // The doc claim "each participates in whole-stage codegen" pinned in
    // CI: with AQE off, codegen'd operators print with a *(n) star. If a
    // kernel regressed to CodegenFallback its Project line loses the star.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.read.parquet(s"$dir/documents.parquet")
      val probe = df.select(
        graft.ops.Dedup.wordShingles(org.apache.spark.sql.functions.col("text"), 3).as("sh"),
        graft.ops.TextAnalysis.winnow(org.apache.spark.sql.functions.col("text")).as("fp"))
      val p = probe.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("*(") && l.contains("Project")),
        s"kernel projection must be inside a starred codegen stage:\n$p")
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val dp = e.crossJoin(e.limit(1).select(
        org.apache.spark.sql.functions.col("embedding").as("q")))
        .select(graft.ops.Similarity.dot(
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("q")).as("d"))
      val pd = dp.queryExecution.executedPlan.toString
      assert(pd.linesIterator.exists(l =>
        l.contains("*(") && l.contains("graft_dot")),
        s"graft_dot must codegen:\n$pd")
      // kmeans assignment kernel: the round-5 verdict's top item was this
      // exact expression regressing to the interpreted HOF path (16 s for
      // a 2,000x64 fit). Pin that NearestCentroid plans inside a starred
      // stage like the text kernels.
      val cents = Array(Array.fill(64)(0.0), Array.fill(64)(1.0))
      val nc = e.select(graft.ops.Clustering.nearestCentroid(
        org.apache.spark.sql.functions.col("embedding"), cents).as("nc"))
      val pn = nc.queryExecution.executedPlan.toString
      assert(pn.linesIterator.exists(l =>
        l.contains("*(") && l.contains("graft_nearest_centroid")),
        s"graft_nearest_centroid must codegen:\n$pn")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("attribution: the three windows share ONE user-key exchange") {
    val p = plan("attribution")
    // session assignment, first-touch lookup and the conversion filter all
    // ride the same (user, ts, id) sort — a re-exchange between windows
    // would show extra hashpartitioning exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"windows must share the user exchange (≤1 user + 1 agg):\n$p")
  }

  test("oov_rate: vocabulary head broadcasts; tokens never shuffle for the join") {
    val p = plan("oov_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast, not shuffle:\n$p")
    // exactly one token exchange is legitimate (the vocab unigram count);
    // a sort-merge token join would add a second one on the probe side
    assert(!p.contains("SortMergeJoin"),
      s"token join must not sort-merge:\n$p")
    assert("Exchange hashpartitioning\\(token".r.findAllIn(p).size == 1,
      s"only the vocab count may shuffle on token:\n$p")
  }

  test("semantic_dedup: one shuffle on the cell key, map-only cell assignment") {
    val p = plan("semantic_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"grid dedup must be exactly one keyed shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"cell counts must partial-aggregate map-side:\n$p")
  }

  test("token_pmi: one doc-keyed exchange feeds both self-join sides; stats broadcast") {
    val p = planNoAqe("token_pmi")
    assert(p.contains("ReusedExchange"),
      s"self-join must reuse the doc-keyed exchange:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"vocab + df(w1) + df(w2) + N must all broadcast:\n$p")
  }

  test("hybrid_search: shortlist and query vector broadcast into the rerank") {
    val p = plan("hybrid_search")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3,
      s"shortlist, query vector and max-normalizer must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing corpus-sized may shuffle for the rerank:\n$p")
  }

  test("incr_dedup: anti join against the corpus, no corpus materialization") {
    val p = plan("incr_dedup")
    assert(p.contains("LeftAnti"), s"must be an anti join:\n$p")
  }

  test("label_spread: centroids and norms broadcast back over the member scan") {
    val p = plan("label_spread")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"centroid and norm joins must broadcast:\n$p")
  }

  test("len_strata: cumulative window runs over the distinct-value histogram") {
    val p = plan("len_strata")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the value histogram, not raw rows:\n$p")
  }

  test("bigram_lm: normalizer window runs over aggregated pairs, after the count") {
    val p = plan("bigram_lm")
    // Window must sit above the final HashAggregate of pair counts —
    // windowing raw exploded tokens would put Window below any aggregate
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the aggregated pair counts:\n$p")
  }

  test("ngram_novelty: all-mergeable aggregates — no hot-shingle window") {
    val p = plan("ngram_novelty")
    assert(!p.contains("Window"), s"hot-shingle window found in:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_min"),
      s"expected map-side partial first-owner aggregate in:\n$p")
  }

  test("span_dedup: first-occurrence pass partially aggregates — no hot-span window") {
    val p = plan("span_dedup")
    // A window min over partitionBy(span) would drag every occurrence of a
    // hot boilerplate span to one task (hot spans are the operator's whole
    // point); the mergeable groupBy must show a map-side partial min.
    assert(!p.contains("Window"), s"hot-span window found in:\n$p")
    assert(p.contains("partial_min"),
      s"expected map-side partial_min on the span relation in:\n$p")
  }

  test("gsets_mix: Expand runs over the pre-aggregate, not the raw scan") {
    // GROUPING SETS compiles to Expand (×sets per input row). The sets
    // are all subsets of the finest grouping, so the scale-correct plan
    // aggregates to (flag, status) FIRST and expands the 9-row relation
    // — Expand over the raw scan would put 4× the table through the
    // aggregate's map side (measured ~7× q1_agg for identical answers).
    // Pin: below the Expand there must be a completed hash aggregate
    // (the pre-agg's final step), i.e. Expand's subtree contains
    // HashAggregate, and the scan-side partial aggregate sits UNDER it.
    // (string-order assert: the plan prints top-down, so everything
    // after the Expand line is its subtree plus nothing above it)
    val p = plan("gsets_mix")
    val at = p.indexOf("Expand")
    assert(at >= 0, s"no Expand in gsets_mix plan:\n$p")
    val under = p.substring(at)
    assert("HashAggregate".r.findAllIn(under).size >= 2,
      s"Expand must sit ABOVE the finest-grain pre-aggregate " +
        s"(partial+final HashAggregate below it), got:\n$under")
    assert(under.contains("parquet"),
      s"the raw scan must feed the pre-aggregate below Expand:\n$under")
  }

  test("expectations: the whole rule suite is ONE scan (and no window)") {
    // the op's contract: N rules never multiply the scan count — row
    // rules are conditional counts and uniqueness is n - count(distinct)
    // inside the SAME aggregate (multi-distinct Expand is fine; a second
    // FileScan or a Window would mean a rule escaped the one-pass form)
    val p = plan("expectations")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expectations must scan orders exactly once:\n$p")
    assert(!p.contains("Window"), s"no window in the one-pass suite:\n$p")
  }

  test("zorder_skip: map-only z-values — no join, no window, two scans max") {
    // the layout audit is per-file stats: Morton arithmetic must stay a
    // Project over the scan feeding partial/final hash aggregates; a
    // Window (global rank) or a join (spine) would not survive 100 TB
    val p = plan("zorder_skip")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"zorder_skip must be projection + aggregation only:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"one scan per audited layout:\n$p")
  }

  test("ccnet_bucket: no per-lang global sort; cut table broadcasts; LM not hint-broadcast") {
    // the round-11 weak form sent each language's entire corpus slice
    // through one reducer (row_number window) and force-broadcast the
    // corpus-derived LM. The registry form must classify map-side against
    // the broadcast 2-rows-per-lang cut table, with no Window anywhere
    // and the LM score join left to the planner. autoBroadcastJoinThreshold
    // = -1 isolates EXPLICIT broadcast hints: the only broadcast joins
    // left are the 1-row vocab scalar (nested-loop) and the cut table.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("ccnet_bucket")
      assert(!p.contains("Window"),
        s"per-lang window sort crept back into the classify plan:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
        s"exactly the cut-table join may broadcast (LM must ride a shuffle):\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"LM score join must be a key shuffle when not auto-broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("perplexity: corpus-derived LM is never hint-broadcast") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("perplexity")
      assert("BroadcastHashJoin".r.findAllIn(p).size == 0,
        s"no explicit broadcast hint may force the corpus-growth LM:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"LM score join must be a key shuffle when not auto-broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("quality_clf: m-row model broadcasts; corpus scores map-side, one doc-keyed agg") {
    val p = plan("quality_clf")
    assert(p.contains("BroadcastHashJoin"),
      s"the weight table is model-sized (m rows) and must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus must never shuffle before scoring:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      "HashAggregate".r.findAllIn(p).size >= 2,
      s"per-doc aggregate must be partial (map-side) then final:\n$p")
  }

  test("gap_fill: fill windows run over the bucketed grid, not raw events") {
    // every Window must sit ABOVE the hourly aggregate: the plan's
    // last (deepest) scan feeds a HashAggregate before any Window line
    // appears above it — i.e. below the first Window there is still a
    // HashAggregate (the bucketing), and the window partitions by the
    // group column so groups fill in parallel
    val p = plan("gap_fill")
    val firstWin = p.indexOf("Window")
    assert(firstWin >= 0, s"expected fill windows in:\n$p")
    val below = p.substring(firstWin)
    assert(below.contains("HashAggregate"),
      s"Window must consume the hourly aggregate, not raw events:\n$below")
    assert(p.contains("windowspecdefinition(event_type"),
      s"fill windows must partition by the group column:\n$p")
  }
}
