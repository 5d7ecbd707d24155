package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions — the 100 TB posture checks (SURVEY.md §4):
  * filters and column pruning must reach the parquet scan, small dims must
  * broadcast, and the similarity hot loop must be inside whole-stage codegen.
  * Runs against sf0.001 so the plans are the real ones the driver benches. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2: predicate pushdown + column pruning reach the parquet scan") {
    val p = plan(Relational.q2_filter_project(spark, dir))
    assert(p.contains("PushedFilters:"), "expected pushed filters in scan")
    assert(p.contains("GreaterThan(l_quantity") || p.contains("l_quantity"),
      s"quantity predicate not pushed:\n$p")
    // pruned read schema: only the 5 projected columns + filter columns
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
  }

  test("q3: dimension join is a broadcast, not a shuffle") {
    val p = plan(Relational.q3_join_broadcast(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("x3 cosine top-k: dot product is codegen'd, query side broadcast") {
    val df = LlmOps.x3_cosine_topk(spark, dir)
    val p = plan(df)
    assert(p.contains("vector_dot"), s"expected native vector_dot:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
    // AQE only reveals codegen spans in the FINAL plan — execute, then check
    // the scoring projection sits inside a WholeStageCodegen span
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    // codegen'd operators print with a "*(n) " prefix in the final AQE plan
    assert(finalPlan.contains("*("), s"no codegen span in final plan:\n$finalPlan")
  }

  test("cdc events plan parses each message exactly once") {
    import graft.cdc.CanalJson
    import org.apache.spark.sql.functions._
    // spark.range, not a Seq: a LocalRelation would be constant-folded away
    val raw = spark.range(10).select(
      concat(lit("""{"data":[{"id":""""), col("id"),
        lit(""""}],"type":"INSERT","table":"t","es":1704067200000}""")).as("value"),
      lit(0).as("partition"), col("id").as("offset"))
    val s = CanalJson.events(raw).queryExecution.optimizedPlan.toString
    val n = s.sliding("from_json".length).count(_ == "from_json")
    // An explicit validity filter or InferFiltersFromGenerate (excluded in
    // EngineSession) would alias-substitute the parse and triple this.
    assert(n == 1, s"expected exactly 1 from_json instance, found $n:\n$s")
  }

  test("maintainSums/maintainCounts: identity dedup materializes ONCE for " +
    "the three delta branches") {
    // without the localCheckpoint the per-branch op filters push into the
    // dedup subtrees, the canonical plans diverge, exchange reuse dies, and
    // the input is scanned + identity-shuffled 3× (a real 3× at 100 TB).
    // Checkpointed: the branches read materialized blocks — at most the
    // final group-by exchange survives in the census plan.
    for (df <- Seq(CdcQueries.cdc_sum_maintain(spark, dir),
                   CdcQueries.cdc_wire_agg_maintain(spark, dir))) {
      val p = plan(df)
      val nExchange = p.sliding("Exchange".length).count(_ == "Exchange")
      val nParquet = p.sliding("Scan parquet".length).count(_ == "Scan parquet")
      assert(nExchange <= 2, s"delta branches re-shuffle the dedup:\n$p")
      assert(nParquet == 0, s"delta branches re-scan the input:\n$p")
    }
  }

  test("x1 exact dedup shuffles digests, not documents") {
    val p = plan(LlmOps.x1_dedup_exact(spark, dir))
    // partial agg before the exchange means the shuffle carries (sha, min, cnt)
    assert(p.contains("partial_"), s"expected partial aggregation before shuffle:\n$p")
  }

  test("x4 bm25: corpus stats and per-term dfs broadcast; tf/dl map-side combined") {
    val p = plan(LlmOps.x4_bm25(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus stats should broadcast into the scoring join:\n$p")
    assert(p.contains("partial_count"), s"word counts must map-side combine:\n$p")
  }

  test("w8 maintain: deltas partial-agg before the single group shuffle") {
    import graft.cdc.{CanalJson, CdcApply}
    val p = plan(CdcApply.maintainCounts(
      CanalJson.events(CanalJson.fixtureRaw(spark)), "status"))
    assert(p.contains("partial_sum"), s"expected map-side combined deltas:\n$p")
  }

  test("q34: the keyset-pagination cursor predicate reaches the parquet scan") {
    val p = plan(Relational.q34_keyset_page(spark, dir))
    // the OR-of-ands cursor must push down — deep pages then cost the same
    // scan as page one, which is the whole point of keyset over OFFSET
    assert(p.contains("PushedFilters: [Or("), s"cursor predicate not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k, not global sort:\n$p")
  }

  test("q33: correlated subqueries decorrelate to joins, not per-row re-execution") {
    val p = plan(Relational.q33_subqueries(spark, dir))
    assert(p.contains("Join"), s"expected subqueries rewritten to joins:\n$p")
    assert(!p.toLowerCase.contains("scalar-subquery"),
      s"correlated scalar subquery survived decorrelation:\n$p")
  }

  test("x7 stratified sample is a shuffle-free narrow filter") {
    import org.apache.spark.sql.functions._
    // un-ordered form (the driver entry's orderBy is presentation only):
    // the sample itself must pipeline behind the scan with no exchange
    val docs = graft.tables.Tables.documents(spark, dir)
    val p = plan(graft.ops.Curation.stratifiedSample(
      docs, col("lang"), col("doc_id"), Map("en" -> 5000)))
    assert(!p.contains("Exchange"), s"stratified sample must not shuffle:\n$p")
  }

  test("q37: LATERAL top-N decorrelates to a rank group-limit, not per-row re-execution") {
    val p = plan(Relational.q37_lateral_topn(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"expected the rank-limit pushdown for per-key top-N:\n$p")
    assert(!p.toLowerCase.contains("lateral-subquery"),
      s"correlated lateral subquery survived decorrelation:\n$p")
  }

  test("x2 content-defined chunking is a shuffle-free generator expansion") {
    val p = plan(graft.ops.Dedup.contentDefinedChunks(
      graft.tables.Tables.documents(spark, dir), "text", "doc_id"))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected posexplode generator:\n$p")
  }

  test("x2 winnowing: per-doc codegen selection — NO gram shuffle or window " +
      "sort; only the census aggregation exchanges (selected rows only)") {
    val p = plan(graft.ops.Dedup.winnowFingerprints(
      graft.tables.Tables.documents(spark, dir), "text", "doc_id"))
    // the WinnowSelect Expression computes the whole MOSS selection inside
    // the scan stage; the explode emits only the ~2/(w+1)-density selected
    // rows, and the exchanges left are the census agg's two rounds
    // (countDistinct = partial-by-(doc,h) then by-doc)
    val nEx = p.linesIterator.count(
      _.dropWhile(!_.isLetter).startsWith("Exchange"))
    assert(nEx <= 2, s"expected at most the census agg's two exchanges, got $nEx:\n$p")
    assert(!p.contains("Window"),
      s"the windowed-SQL selection leaked back in:\n$p")
    assert(p.contains("Generate"), s"expected the selected-rows explode:\n$p")
    assert(p.contains("winnow_select"), s"expected the WinnowSelect node:\n$p")
    // narrow post-shuffle rows: selection runs BEFORE the first SHUFFLE
    // exchange (anchor on node-name lines, not raw indexOf — a
    // Reused/BroadcastExchange or a zero-exchange future plan must not
    // derail the diagnostic), so neither text nor gram rows cross the wire
    val lines = p.linesIterator.toSeq
    val exLine = lines.indexWhere(
      _.dropWhile(!_.isLetter).startsWith("Exchange"))
    if (exLine >= 0)
      assert(!lines.take(exLine).exists(_.contains("Scan parquet")),
        s"scan must sit under the selection, not above the exchange:\n$p")
  }

  test("x4 trained language-ID: profiles broadcast into the scoring join " +
      "and the language grid") {
    val p = plan(graft.queries.LlmOps.x4_lang_profile(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"profiles/grid must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian expected against the bounded profile table:\n$p")
  }

  test("p34 prom rate: the range selector is a plain group-by (no interval " +
      "join) riding the window passes' partitioning") {
    val p = plan(graft.queries.MetricsOps.p34_prom_rate(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"range selection must never be a theta join:\n$p")
    assert(p.contains("Window"), s"expected the cumulative/lag windows:\n$p")
  }

  test("cdc debezium: each envelope parses once behind the generator " +
      "barrier (the canal rule)") {
    val p = plan(graft.cdc.DebeziumJson.events(
      graft.cdc.CanalJson.fixtureRaw(spark)))
    assert(p.sliding("from_json".length).count(_ == "from_json") <= 1,
      s"from_json must appear once, not re-parsed per predicate:\n$p")
    assert(p.contains("Generate"), s"expected the explode(array()) barrier:\n$p")
  }

  test("x4 oov rate: the top-k vocabulary broadcasts into the token join") {
    val p = plan(LlmOps.x4_oov_rate(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab lookup must be map-side, not a shuffle join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary cutoff should be a top-k, not a global sort:\n$p")
  }

  test("x4 entropy/repetition quality signals are shuffle-free projections") {
    import org.apache.spark.sql.functions._
    val words = split(col("text"), " ")
    val p = plan(graft.tables.Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.ops.TextOps.wordEntropyArr(words),
      graft.ops.TextOps.repetitionRatioArr(words),
      graft.ops.TextOps.topWordRatioArr(words),
      graft.ops.TextOps.redactPii(col("text"))))
    assert(!p.contains("Exchange"), s"quality scoring must not shuffle:\n$p")
  }

  test("x4 significant terms: one map-side-combined agg, totals broadcast") {
    val p = plan(LlmOps.x4_sig_terms(spark, dir))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"term doc-frequencies must map-side combine:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row totals must broadcast, not shuffle:\n$p")
  }

  test("q39 funnel: step type filters reach the events scan") {
    val p = plan(Relational.q39_funnel(spark, dir))
    assert(p.contains("PushedFilters: [") && p.contains("event_type"),
      s"step event-type predicates must push into the scan:\n$p")
    // the per-step frontier joins key on user_id — no per-user event arrays
    assert(!p.contains("collect_list"), s"funnel must not collect per-user arrays:\n$p")
  }

  test("q42 windowed funnel: both hops are bucketized equi-joins, never nested-loop") {
    val p = plan(Relational.q42_window_funnel(spark, dir))
    // the naive `user AND ts BETWEEN` plan degrades to a nested-loop /
    // pure-equality-with-range-residual per hot user; the bucketized join
    // must keep every hop an equi-join on (user_id, bucket)
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range hops must stay bucketized equi-joins:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("event_type"),
      s"step type predicates must push into the scan:\n$p")
  }

  test("x1 duplicated spans/removal: inverted-index shuffle, no all-pairs join") {
    val ps = plan(LlmOps.x1_dup_spans(spark, dir))
    assert(!ps.contains("NestedLoopJoin") && !ps.contains("CartesianProduct"),
      s"span detection must stay an inverted-index equi-join:\n$ps")
    assert(ps.contains("partial_count"),
      s"gram doc-frequency must map-side combine:\n$ps")
    val pr = plan(LlmOps.x1_span_removal(spark, dir))
    assert(!pr.contains("NestedLoopJoin") && !pr.contains("CartesianProduct"),
      s"span removal must stay an inverted-index equi-join:\n$pr")
  }

  test("x9 triangles: degree-oriented wedge joins stay equi-joins") {
    val p = plan(LlmOps.x9_triangles(spark, dir))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle counting must never fall to nested-loop:\n$p")
  }

  test("p26 cusum: the closed-form window pass equals the reset recurrence " +
    "replayed row by row, and both windows share one sort") {
    import spark.implicits._
    val out = MetricsOps.p26_cusum(spark, dir)
      .as[(String, java.sql.Timestamp, Long, Long, Long)].collect()
    // driver-side replay of S_t = max(0, S_{t-1} + (cnt - k)) per series,
    // k re-derived from the same observed minutes
    out.groupBy(_._1).foreach { case (et, rows) =>
      val ordered = rows.sortBy(_._2.getTime)
      val k = ordered.map(_._3).sum / ordered.length + 1
      var s = 0L
      ordered.foreach { case (_, _, cnt, cusum, alarm) =>
        s = math.max(0L, s + (cnt - k))
        assert(cusum === s, s"$et cusum drifts from the recurrence")
        assert(alarm === (if (s > 5 * k) 1L else 0L))
      }
    }
    // prefix sum and running min ride the same (partition, order): exactly
    // ONE window-local sort (partial, `false`) feeds both Window nodes —
    // the only other Sort is the global output orderBy (`true`)
    val p = plan(MetricsOps.p26_cusum(spark, dir))
    val windowSorts =
      "Sort \\[event_type[^\\]]*minute[^\\]]*\\], false".r.findAllIn(p).size
    assert(windowSorts == 1, s"cusum windows must share one sort:\n$p")
  }

  test("p21 anomaly: per-series stats broadcast into the flag pass") {
    val p = plan(MetricsOps.p21_anomaly(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny per-series stats side must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"minute bucketing must map-side combine:\n$p")
  }

  test("q45 dq audit: rule packs fold into aggregates, fk checks into key-only joins") {
    val p = plan(Relational.q45_dq_audit(spark, dir))
    // one conditional-sum aggregate per table pack — no per-rule re-scan
    // blowup: 4 rule packs + 1 pk check + 2 fk checks × (anti join +
    // n_checked count + parent keys) = 11 scans for 12 rules; the naive
    // per-rule layout would need 12+ full scans of the four tables
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 11, s"rule packs must not re-scan per rule ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"fk checks must stay key-projection joins:\n$p")
  }

  test("cdc_store_pruned: the (table, day) predicates prune store " +
    "partitions at the scan") {
    val p = plan(CdcQueries.cdc_store_pruned(spark, dir))
    // both predicates must land as directory-level PartitionFilters (the
    // whole point of the (tbl, day) layout); neither may survive as a
    // row-level PushedFilter over data columns
    assert(p.contains("PartitionFilters: [") && p.contains("day"),
      s"expected a day-pruned store scan, got:\n$p")
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("tbl") && pf.contains("day"),
      s"tbl+day must prune at directory level, got: $pf\n$p")
  }

  test("cdc join maintenance: every delta join is a hash join on keys") {
    val p = plan(CdcQueries.cdc_join_maintain(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"delta maintenance must join on keys only:\n$p")
    assert(p.contains("partial_sum"),
      s"grouped deltas must map-side combine:\n$p")
  }

  test("q47: the coarse distinct level from OR-merged bitmaps equals a " +
    "direct COUNT(DISTINCT); anchor joins stay off the fact table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Relational.q47_bitmap_distinct(spark, dir)
    // the rollup must read the (eagerly checkpointed) leaf cube, never the
    // fact table: after leaf materialization the whole two-level plan is
    // checkpoint scans + aggregates, with zero parquet file scans
    val p = plan(out)
    assert(!p.contains("FileScan"),
      s"anchor rollup re-scans the fact table instead of the leaf cube:\n$p")
    val coarse = out.filter($"l_linestatus" === "ALL")
      .select($"l_returnflag", $"n_orders")
      .as[(String, Long)].collect().toMap
    val direct = graft.tables.Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("n"))
      .as[(String, Long)].collect().toMap
    assert(coarse === direct)
  }

  test("q51 hll store: union-merged sketch estimates stay within HLL error " +
    "of exact distinct and the rollup reads only the leaf sketches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Relational.q51_hll_store(spark, dir)
    // the q47 rule for the approximate sibling: after the leaf checkpoint
    // the two-level plan must not touch parquet at all
    val p = plan(out)
    assert(!p.contains("FileScan"),
      s"hll rollup re-scans the fact table instead of the leaf sketches:\n$p")
    val est = out.filter($"l_linestatus" === "ALL")
      .select($"l_returnflag", $"n_orders_est").as[(String, Long)].collect().toMap
    val exact = graft.tables.Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("n")).as[(String, Long)].collect().toMap
    assert(est.keySet === exact.keySet)
    // lgK=14 ⇒ relative standard error ~0.81%; 4σ bound with a floor for
    // tiny groups (deterministic: fixed data, fixed sketch seed)
    exact.foreach { case (k, n) =>
      val tol = math.max(4, (n * 0.033).toLong)
      assert(math.abs(est(k) - n) <= tol,
        s"group $k estimate ${est(k)} strays from exact $n by > $tol") }
  }

  test("q48 approx twin: sketch-cut buckets approximate equi-depth with " +
    "no total-order window") {
    import spark.implicits._
    val out = Relational.q48_analyze_stats_approx(spark, dir)
    // the whole point of the twin: boundaries from a mergeable sketch, so
    // the plan must contain NO window (the exact twin's single-reducer
    // ntile) — the only sort left is the final 8-row orderBy
    val p = plan(out)
    assert(!p.contains("Window"),
      s"approx stats must not total-order the table:\n$p")
    val rows = out.select($"bucket", $"hi_cents", $"n_rows", $"ndv_approx")
      .as[(Long, Long, Long, Long)].collect()
    // the emitted evidence column: achieved HLL error within 4 sigma of the
    // default 5% rsd
    assert(out.filter($"ndv_err_ppm" < 0 || $"ndv_err_ppm" > 200000).count() === 0L)
    assert(rows.map(_._1).toSeq === (1L to 8L))
    val hi = rows.map(_._2)
    assert(hi.toSeq === hi.sorted.toSeq, "boundaries must be non-decreasing")
    val n = graft.tables.Tables.lineitem(spark, dir).count()
    assert(rows.map(_._3).sum === n, "every row lands in exactly one bucket")
    val target = n.toDouble / 8
    rows.foreach { case (b, _, depth, _) =>
      assert(math.abs(depth - target) <= target * 0.25,
        s"bucket $b depth $depth strays >25% from equi-depth target $target") }
  }

  test("q48: equi-depth buckets are balanced, boundaries monotone, depths " +
    "cover the table") {
    import spark.implicits._
    val out = Relational.q48_analyze_stats(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq === (1L to 8L))
    val hi = out.map(_._2)
    assert(hi.toSeq === hi.sorted.toSeq, "boundaries must be non-decreasing")
    val depths = out.map(_._3)
    assert(depths.max - depths.min <= 1, s"equi-depth violated: ${depths.toSeq}")
    val n = graft.tables.Tables.lineitem(spark, dir).count()
    assert(depths.sum === n)
    out.foreach { case (b, _, rows, ndv) =>
      assert(ndv >= 1 && ndv <= rows, s"bucket $b ndv out of range") }
  }

  test("p24: group_left shares recompose the series total; the one-row-per-" +
    "label side broadcasts") {
    import spark.implicits._
    val out = MetricsOps.p24_group_left(spark, dir)
    val sums = out.groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.sum($"cnt").as("s"),
        org.apache.spark.sql.functions.max($"series_total").as("t"),
        org.apache.spark.sql.functions.min($"series_total").as("t2"))
      .as[(String, Long, Long, Long)].collect()
    assert(sums.nonEmpty)
    sums.foreach { case (et, s, t, t2) =>
      assert(s === t && t === t2, s"$et hourly counts don't recompose total") }
    val p = plan(MetricsOps.p24_group_left(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"totals side should broadcast:\n$p")
  }

  test("q49: drift shares recompose each half and the TV term is bounded") {
    import spark.implicits._
    val out = Relational.q49_dist_drift(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val (ta, tb) = (out.map(_._2).sum, out.map(_._3).sum)
    assert(ta > 0 && tb > 0)
    out.foreach { case (et, a, b, s1, s2, d) =>
      assert(s1 === a * 1000000L / ta && s2 === b * 1000000L / tb, et)
      assert(d === math.abs(a * tb - b * ta) * 1000000L / (ta * tb), et)
      assert(d <= 1000000L, et)
    }
    // floor-divided shares sum to within |types| ppm of 1e6
    assert(math.abs(out.map(_._4).sum - 1000000L) <= out.length)
    assert(math.abs(out.map(_._5).sum - 1000000L) <= out.length)
  }

  test("p25: interval stabbing equals a brute-force window-by-window " +
    "distinct recount") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = MetricsOps.p25_sliding_distinct(spark, dir)
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val pm = graft.tables.Tables.events(spark, dir)
      .select($"event_type", $"user_id",
        expr("unix_timestamp(date_trunc('minute', ts)) DIV 60").as("b"))
      .distinct().cache()
    val grid = pm.groupBy($"event_type")
      .agg(min($"b").as("tmn"), least(max($"b"), min($"b") + 1439L).as("tmx"))
      .select($"event_type", explode(sequence($"tmn", $"tmx", lit(5L))).as("t"))
    val brute = grid.as("g")
      .join(pm.as("p"), col("p.event_type") === col("g.event_type") &&
        col("p.b") > col("g.t") - 60 && col("p.b") <= col("g.t"), "left")
      .groupBy(col("g.event_type"), col("g.t"))
      .agg(countDistinct(col("p.user_id")).as("dv"))
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    pm.unpersist()
    assert(got === brute)
    assert(got.nonEmpty && got.values.exists(_ > 0))
  }

  test("p23: LTTB output is bounded per series, keeps endpoints, and " +
    "broadcasts the anchor averages") {
    import spark.implicits._
    val out = MetricsOps.p23_lttb(spark, dir).cache()
    val ev = graft.tables.Tables.events(spark, dir)
    val spans = ev.groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.expr("min(unix_timestamp(date_trunc('minute', ts)) DIV 60)").as("tmn"),
        org.apache.spark.sql.functions.expr("max(unix_timestamp(date_trunc('minute', ts)) DIV 60)").as("tmx"))
      .as[(String, Long, Long)].collect()
    val perSeries = out.groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    val byType = out.select($"event_type", $"t").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    spans.foreach { case (et, tmn, tmx) =>
      // ≤ 48 interior buckets − 2 edge buckets + 2 endpoints
      assert(perSeries(et) <= 48L, s"$et kept ${perSeries(et)} > 48 points")
      assert(byType(et).contains(tmn) && byType(et).contains(tmx),
        s"$et endpoints not preserved")
    }
    // the |series|×48 anchor table must broadcast, not shuffle the points
    val p = plan(MetricsOps.p23_lttb(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"anchor join should broadcast:\n$p")
    out.unpersist()
    ()
  }

  test("x3 integer LSH twin: probe set broadcasts into the bucket join, " +
    "never a cartesian") {
    val p = plan(LlmOps.x3_ann_lsh_int(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"probes should broadcast into the bucket equi-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bucketed candidate join must not degenerate to a cartesian:\n$p")
  }

  test("x3 rule top-k: the naive brute-force plan is rewritten to the " +
    "quantized candidate pre-filter, and rewritten output = unrewritten") {
    import org.apache.spark.sql.functions._
    // the entry is authored NAIVELY; CosineTopKRewrite (injected via
    // EngineSession -> GraftExtensions) must rewrite its optimized plan:
    // the __graft_ann marker columns only exist in the rewritten shape
    val df = LlmOps.x3_rule_topk(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("__graft_ann"), s"CosineTopKRewrite did not fire:\n$opt")
    assert(opt.contains("__graft_ann_thr"),
      s"threshold pass missing from the rewritten plan:\n$opt")
    // the round()-scored certified entries must be left alone (their score
    // is a Round tree, not the bare cosine the matcher requires)
    val brute = LlmOps.x3_cosine_topk(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!brute.contains("__graft_ann"),
      "rule must not touch the rounded-score brute-force entry")
    // the ordered-pair entry (qid < cid) must fire too, with the carried
    // condition surviving in the rewritten pair join (round-11 ADVICE #1)
    val pairsOpt = LlmOps.x3_rule_topk_pairs(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(pairsOpt.contains("__graft_ann"),
      s"rewrite did not fire on the ordered-pair driver entry:\n$pairsOpt")
    assert(pairsOpt.contains("__graft_ann_q_id#") &&
      pairsOpt.contains(" < "),
      s"carried `<` condition missing from the rewritten plan:\n$pairsOpt")
    // exactness: an UNREWRITTEN twin (the same naive query carrying one
    // extra projected column, which the narrow matcher refuses) must
    // produce identical rows — the in-spec version of the entry's
    // brute-force DuckDB oracle
    import spark.implicits._
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" >= 100 && $"vec_id" < 120)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        graft.functions.VectorFunctions.cosine($"q_emb", $"c_emb").as("sim_raw"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"sim_raw".desc, $"neighbor_id".asc)
    // the extra conjunct (non-foldable, vacuously true, and not pushable
    // through the window since neighbor_id is no partition key) breaks the
    // matcher's exact `rn <= k` filter shape, so this twin executes the
    // brute-force plan
    val unrewritten = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5 && $"neighbor_id" >= -1L)
      .select($"query_id", $"rank", $"neighbor_id", round($"sim_raw", 3).as("sim"))
      .orderBy($"query_id", $"rank")
    assert(!unrewritten.queryExecution.optimizedPlan.toString.contains("__graft_ann"),
      "twin was supposed to stay unrewritten")
    val got = df.as[(Long, Int, Long, Double)].collect().toSeq
    val want = unrewritten.as[(Long, Int, Long, Double)].collect().toSeq
    assert(got === want)
  }

  test("x3 rule top-k L2: the ascending nearest-neighbor plan is rewritten, " +
    "and rewritten output = unrewritten") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the ASC L2 arm (round-12 verdict #5): Sqrt(VectorL2Squared) ranked
    // ascending must fire the rewrite...
    val df = LlmOps.x3_rule_topk_l2(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("__graft_ann"), s"L2 arm did not fire:\n$opt")
    assert(opt.contains("__graft_ann_thr"),
      s"threshold pass missing from the rewritten L2 plan:\n$opt")
    // ...while a DESCENDING sort over the same distance ("k farthest") is
    // NOT the serving shape — the pruning bound would sit on the wrong
    // side — and must stay untouched
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" >= 160 && $"vec_id" < 180)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        graft.functions.VectorFunctions.l2Distance($"q_emb", $"c_emb").as("dist_raw"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
    val farthest = scored
      .withColumn("rank", row_number().over(w.orderBy($"dist_raw".desc, $"neighbor_id".asc)))
      .filter($"rank" <= 5)
    assert(!farthest.queryExecution.optimizedPlan.toString.contains("__graft_ann"),
      "descending-distance (k farthest) must not be rewritten")
    // exactness vs an unrewritten twin (extra vacuous conjunct breaks the
    // matcher, same device as the cosine test)
    val unrewritten = scored
      .withColumn("rank", row_number().over(w.orderBy($"dist_raw".asc, $"neighbor_id".asc)))
      .filter($"rank" <= 5 && $"neighbor_id" >= -1L)
      .select($"query_id", $"rank", $"neighbor_id", round($"dist_raw", 3).as("dist"))
      .orderBy($"query_id", $"rank")
    assert(!unrewritten.queryExecution.optimizedPlan.toString.contains("__graft_ann"),
      "twin was supposed to stay unrewritten")
    val got = df.as[(Long, Int, Long, Double)].collect().toSeq
    val want = unrewritten.as[(Long, Int, Long, Double)].collect().toSeq
    assert(got === want)
    // the squared form ranks identically and fires too
    val sq = q.join(c, $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        graft.functions.VectorFunctions.l2sq($"q_emb", $"c_emb").as("d2_raw"))
      .withColumn("rank", row_number().over(w.orderBy($"d2_raw".asc, $"neighbor_id".asc)))
      .filter($"rank" <= 5)
    assert(sq.queryExecution.optimizedPlan.toString.contains("__graft_ann"),
      "bare squared-L2 form did not fire")
    val sqGot = sq.select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val sqWant = want.map(t => (t._1, t._2, t._3)).sorted
    assert(sqGot === sqWant, "squared form must rank identically to distance form")
  }
}
