package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the headline queries — the
  * ".explain and iterate" loop captured as tests, so a regression that
  * e.g. drops a broadcast or un-pushes a filter fails CI, not the
  * 100 TB run.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.registerAll(s)
    s
  }

  private val sf = TestData.dir("0.001")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every node of an executed plan, through AQE wrappers and query
    * stages; a reused exchange is not descended into. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  test("dashboard queries run at their stage floor: shuffles, broadcasts, one events scan") {
    // the seven queries of perfbench's uba_dashboard workload; AQE runs
    // each query stage as a job of its own, so these counts fix its jobs
    val shuffles = Seq("retention_count" -> 1, "retention_sum" -> 2,
      "u1_funnel_stages" -> 1, "u2_funnel_report" -> 2, "u21_funnel_latency" -> 2,
      "q10_sessionize" -> 1, "q16_cohort_matrix" -> 2)
    shuffles.foreach { case (name, want) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val ns = nodes(df.queryExecution.executedPlan)
      val p = df.queryExecution.executedPlan.toString
      assert(ns.count(_.isInstanceOf[ShuffleQueryStageExec]) == want,
        s"$name: expected $want shuffle stages:\n$p")
      assert(ns.count(_.isInstanceOf[BroadcastQueryStageExec]) == 0,
        s"$name: expected no broadcast stage:\n$p")
      val eventScans = ns.count {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.getName == "events.parquet")
        case _ => false
      }
      assert(eventScans == 1, s"$name: expected one events scan, got $eventScans:\n$p")
      if (name == "q10_sessionize")
        assert(!ns.exists(_.isInstanceOf[WindowExec]),
          s"q10 must not sort the events for a window:\n$p")
    }
  }

  test("q1 pricing summary: partial+final hash aggregate, filter pushed to scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial"), // map-side combine
      s"no partial aggregation in plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate,"),
      s"shipdate filter not pushed:\n$p")
  }

  test("q6 join uses broadcast hash join (small dim side)") {
    val p = plan("q6_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to SortMergeJoin:\n$p")
  }

  test("q7 multi-join: all three dims broadcast, no sort-merge") {
    val p = plan("q7_join_multi")
    assert(p.split("BroadcastHashJoin").length >= 4, s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("retention_count: two-phase object hash aggregate (partial merge on shuffle)") {
    val p = plan("retention_count")
    assert(p.contains("ObjectHashAggregate"), s"UDAF should plan as ObjectHashAggregate:\n$p")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"expected single shuffle on user_id:\n$p")
  }

  test("s1 ann: query side broadcast, corpus side never shuffled") {
    val p = plan("s1_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("s1 ann: bounded partial top-k aggregate, no window over the scored set") {
    val p = plan("s1_ann_topk")
    assert(p.contains("ObjectHashAggregate"),
      s"top-k should plan as a partial ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"scored set must not pass through a window operator:\n$p")
  }

  test("s6 sq8: corpus never sort-merge-joined, bounded top-k, no window") {
    val p = plan("s6_ann_sq8")
    assert(!p.contains("SortMergeJoin"),
      s"sq8 corpus side must stay broadcast-joined, never shuffled for a join:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"candidate + rerank top-k should plan as partial ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"no window over the scored candidate set:\n$p")
  }

  test("u15 stickiness: explode-contribution shape, no stream-wide window function") {
    val p = plan("u15_stickiness")
    assert(!p.contains("Window"),
      s"MAU must come from explode+agg, not a window over the event stream:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the 28-day contribution explode:\n$p")
  }

  test("d1 exact dedup: exactly one exchange (single shuffle on content hash)") {
    val p = plan("d1_exact_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exact dedup should shuffle once on the hash:\n$p")
  }

  test("d5 near-dup: bucketed candidate equi-join, no all-pairs join") {
    val p = plan("d5_embedding_neardup")
    assert(!p.contains("CartesianProduct"), s"all-pairs cartesian in d5:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in d5:\n$p")
  }

  test("d12 semdedup: in-cell candidate join is shuffled-hash, never cartesian") {
    val p = plan("d12_semdedup")
    // the only unconditional join is the per-cell self-join; the k-means
    // crossJoin(broadcast(cents)) is a bounded k-row broadcast by design
    assert(p.contains("ShuffledHashJoin"),
      s"in-cell pairwise join should shuffle on the cell id:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs cartesian in d12:\n$p")
  }

  test("d13 containment: inverted-index equi-join stays shuffled-hash, no nested loop") {
    val p = plan("d13_containment")
    assert(p.contains("ShuffledHashJoin"),
      s"shingle self-join should shuffle on the shingle key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in d13:\n$p")
  }

  test("d14 source overlap: source lookups are equi-joins, no nested loop") {
    val p = plan("d14_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in d14:\n$p")
  }

  test("p7 token budget: running total windows on (source, bucket), never source alone") {
    val p = plan("p7_token_budget")
    // the row-level cumsum must partition by the bucket too — a
    // source-only window would serialize a whole source into one task
    assert("windowspecdefinition\\(source#\\d+, _bkt#\\d+".r.findFirstIn(p).isDefined,
      s"row window not partitioned by (source, _bkt):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-offset table should broadcast back:\n$p")
  }

  test("u7 range join: bucket equi-join, never a nested-loop range scan") {
    val p = plan("u7_range_join")
    assert(!p.contains("CartesianProduct"), s"cartesian in u7:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range predicate degraded to a nested loop:\n$p")
  }

  test("u1 funnel: single shuffle on user_id") {
    val p = plan("u1_funnel_stages")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"funnel should shuffle exactly once, on user_id:\n$p")
  }

  test("s4 multi-probe: bucket equi-join with broadcast probes, no cartesian") {
    val p = plan("s4_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"),
      s"probe list should broadcast-join the corpus on _bucket:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"multi-probe must stay an equi-join:\n$p")
  }

  test("p1 hash split: pure projection, no exchange at all") {
    val p = plan("p1_hash_split")
    assert(!p.contains("Exchange"),
      s"split assignment must not shuffle (it fuses into the scan):\n$p")
  }

  test("d8 incremental dedup: shuffled anti-join on the hash, corpus never broadcast") {
    val p = plan("d8_incremental_dedup")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftAnti"),
      s"corpus manifest must anti-join by shuffle on content_hash:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // keeper window and anti-join share one shuffle of the batch
    assert("Exchange hashpartitioning\\(content_hash".r.findAllIn(p).length == 2,
      s"expected exactly batch-side + corpus-side hash exchanges:\n$p")
  }

  test("p4 mixture resample: cut table broadcast, corpus scanned not shuffled") {
    val p = plan("p4_mixture_resample")
    assert(p.contains("BroadcastHashJoin"),
      s"per-domain cuts must broadcast-join the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle for the rate join:\n$p")
    // the count aggregate is checkpointed: the final plan reads the corpus
    // file once (rate derivation reuses the materialized counts)
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"rate derivation must not rescan the corpus in the final plan:\n$p")
  }

  test("q18 rolling active: explode-to-window-days, no window function over the stream") {
    val p = plan("q18_rolling_active")
    assert(!p.contains("Window"),
      s"sliding distinct must not use a window function:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the explode-to-window-days generate:\n$p")
  }

  test("p5 group sample: bounded partial aggregate, no per-group window sort") {
    val p = plan("p5_group_sample")
    assert(p.contains("ObjectHashAggregate"),
      s"group sample should plan as a partial ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"group sample must not use a window sort:\n$p")
  }

  test("u9 top paths: bounded first-k aggregate and top-N, no stream window") {
    val p = plan("u9_top_paths")
    assert(p.contains("ObjectHashAggregate"),
      s"journey prefix should plan as a partial ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"top paths must not window-sort the event stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N should be TakeOrderedAndProject, not a global sort:\n$p")
  }

  test("u6 rfm: quartile cutoffs broadcast, no ntile global sort") {
    val p = plan("u6_rfm_segments")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cutoff row should broadcast back onto the per-user table:\n$p")
    assert(!p.contains("Window"), s"rfm must not use an ntile window:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"rfm must not globally sort the per-user table:\n$p")
  }

  test("d7 decontamination: eval shingles broadcast, train side never sort-merged") {
    val p = plan("d7_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set should broadcast into the train scan stage:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the train corpus must not be shuffled for the collision join:\n$p")
  }

  test("d9 bloom decontamination: bloom prefilter before a broadcast join, no train shuffle") {
    val p = plan("d9_bloom_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set should broadcast into the train scan stage:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the train corpus must not be shuffled for the collision join:\n$p")
    // the screen is the codegen'd BUILTIN might_contain over an in-plan
    // bloom_filter_agg — a Scala UDF here would forfeit codegen on the
    // corpus-sized exploded-shingle stream
    assert(p.contains("might_contain"),
      s"the bloom might_contain prefilter should sit in the scan stage:\n$p")
    assert(!p.contains("UDF"),
      s"the bloom screen must be the builtin, not a Scala UDF:\n$p")
  }

  test("streaming near-dup gate: corpus manifest joins are shuffled-hash, never broadcast") {
    import org.apache.spark.sql.functions._
    // the gate runs identically on a batch Dataset (FMGWS batch mode),
    // which makes its plan assertable: both stream-static joins against
    // the corpus-sized manifest must be ShuffledHashJoin (the d11 rule
    // — a corpus-sized broadcast is a scale hazard by construction)
    val docs = SparkEntry.tbl(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val (cSh, cBands) = graft.operators.Dedup.nearDupManifest(
      docs.where(col("doc_id") % 5 =!= 0))
    val gate = graft.streaming.StreamingNearDup.flaggedIds(
      docs.where(col("doc_id") % 5 === 0), cSh, cBands)
    val p = gate.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"manifest joins should be shuffled-hash:\n$p")
    assert(!p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the corpus manifest must never broadcast:\n$p")
  }

  test("script-mix gate: generator barrier keeps each regex at ONE evaluation") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    // the hazard (measured round 12): filtering on a plain aliased
    // count projection lets PushPredicateThroughNonJoin substitute the
    // aliases back into the WHERE — each script regex re-runs ~7×/row
    // in FilterExec (which does no subexpression elimination) AND again
    // in the projection above. withScriptProfile's generator barrier is
    // the form the optimizer cannot re-inline: exactly one
    // regexp_extract_all per script class in the whole executed plan,
    // none of them in the Filter, everything in one codegen span.
    val docs = SparkEntry.tbl(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val gated = Text.withScriptProfile(docs, col("text"))
      .where(!Text.scriptMixed(Text.scriptCountCols,
        Text.scriptCountCols.reduce(_ + _)))
    val p = gated.queryExecution.executedPlan.toString
    val total = "regexp_extract_all".r.findAllIn(p).size
    assert(total === Text.ScriptRanges.size,
      s"expected one regex per script class, got $total:\n$p")
    val filterRegexes = p.linesIterator.filter(_.contains("Filter"))
      .map(l => "regexp_extract_all".r.findAllIn(l).size).sum
    assert(filterRegexes === 0,
      s"the gate filter must read materialized counts, not regexes:\n$p")
    assert(p.contains("Generate"), s"barrier generator missing:\n$p")
  }

  test("p6 deterministic shuffle: one exchange, on the shard key") {
    val p = plan("p6_deterministic_shuffle")
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"rank window should shuffle on the shard key:\n$p")
    assert(p.sliding("Exchange hashpartitioning".length).count(
      _ == "Exchange hashpartitioning") === 1,
      s"exactly one shuffle expected:\n$p")
  }

  test("u5 transitions: event stream shuffles once, on user_id") {
    val p = plan("u5_transitions")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"lead() window should shuffle on user_id:\n$p")
  }

  test("t9 tfidf: vocabulary join stays shuffle-hash, never broadcast") {
    val p = plan("t9_tfidf")
    assert(p.contains("ShuffledHashJoin"),
      s"tf x df join should co-partition on the term:\n$p")
  }

  test("t10 boilerplate: shingle-df join stays shuffle-hash, never broadcast") {
    val p = plan("t10_boilerplate")
    assert(p.contains("ShuffledHashJoin"),
      s"exploded x df join should co-partition on the shingle:\n$p")
  }

  test("q15 pivot: single hash aggregate, no values-discovery stage") {
    val p = plan("q15_pivot")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Expand"),
      s"explicit pivot values should plan as conditional sums, not Expand:\n$p")
  }

  test("q21 column profile: stack generate in scan stage, two-stage distinct, no Expand") {
    val p = plan("q21_column_profile")
    assert(p.contains("Generate stack"), s"melt should be a Generate:\n$p")
    assert(!p.contains("Expand"),
      s"single-distinct agg must not plan an Expand (row duplication):\n$p")
    assert(p.split("Exchange hashpartitioning").length - 1 === 2,
      s"expected partial-dedup + final exchanges only:\n$p")
    assert(p.contains("ReadSchema: struct<l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double>"),
      s"profiled columns not pruned at the scan:\n$p")
  }

  test("t12 span dedup: exactly two exchanges, no window functions, no joins") {
    val p = plan("t12_span_dedup")
    assert(p.split("Exchange hashpartitioning").length - 1 === 2,
      s"span dedup should shuffle exactly twice (winner agg + reassembly):\n$p")
    assert(!p.contains("Window"), s"no window function expected:\n$p")
    assert(!p.contains("Join"), s"no join expected (argmin rides the agg buffer):\n$p")
  }

  test("d11 incremental near-dup: shuffled band joins and anti-joins, no nested-loop") {
    val p = plan("d11_incremental_neardup")
    assert(p.contains("ShuffledHashJoin"),
      s"band-key candidate joins should co-partition on (band, key):\n$p")
    assert(p.contains("LeftAnti"), s"drop screens should be anti-joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d10 corpus dedup: dup-id anti-join is shuffled, corpus never broadcast") {
    val p = plan("d10_corpus_dedup")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftAnti"),
      s"keepCanonical should anti-join via shuffle-hash on the id:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("u12 attribution: epoch windows reuse the user-key shuffle") {
    val p = plan("u12_attribution_credit")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"(user, epoch) windows must cluster on the existing user partitioning:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected only the user shuffle + the channel rollup:\n$p")
  }

  test("q22 session stats: one user-key shuffle shared by windows and session agg") {
    val p = plan("q22_session_stats")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"lag/running-sum windows and the (user, sess) collapse should share one user shuffle:\n$p")
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
  }

  test("q23 value histogram: cutoffs broadcast, one bucket-id shuffle") {
    val p = plan("q23_value_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row cutoff table must broadcast, never shuffle the corpus:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the bucket-id aggregate should shuffle:\n$p")
  }

  test("q27 window suite: all five analytics share one window pass on the customer key") {
    val p = plan("q27_window_suite")
    assert("Window ".r.findAllIn(p).length == 1,
      s"lag/lead/percent_rank/cume_dist/ntile must fuse into one Window operator:\n$p")
    assert(p.contains("Exchange hashpartitioning(o_custkey"),
      s"window partitioning must shuffle on the customer key (no global sort):\n$p")
  }

  test("q28 correlated subqueries: decorrelated to hash semi/anti joins, no nested loop") {
    val p = plan("q28_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS must decorrelate to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must decorrelate to an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated predicates must not plan as per-row nested-loop re-execution:\n$p")
  }

  test("u17 survival: user-key shuffle for the heavy stage, window only over the day axis") {
    val p = plan("u17_survival")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"cohort and conversion aggregates must shuffle on user_id:\n$p")
    assert("Window ".r.findAllIn(p).length == 1,
      s"the only window is the cumsum over the bounded day axis:\n$p")
  }

  test("u34 markov: one user-key shuffle for the lag, margins broadcast back") {
    val p = plan("u34_markov_transitions")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"per-user ordering must shuffle on user_id:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the |types|-row margin table must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"margins must not plan as a shuffled join:\n$p")
  }

  test("p14 temporal split: pure scan-stage projection + filter, no exchange") {
    val p = plan("p14_temporal_split")
    assert(!p.contains("Exchange"),
      s"temporal assignment must not shuffle:\n$p")
    // pushdown reaches the scan only when the generation ships ts as a
    // plain timestamp (the nanos-as-long generations normalize ts in a
    // projection, which legitimately blocks pushdown)
    val rawTs = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    if (rawTs == org.apache.spark.sql.types.TimestampType)
      assert(p.contains("PushedFilters:") && p.contains("Or(LessThan(ts,"),
        s"the split window filter should push to the scan:\n$p")
  }

  test("g4 assortativity: degree table equi-joins on node key, no broadcast of corpus-scaled sides") {
    val p = plan("g4_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian anywhere in the moment pipeline:\n$p")
  }

  test("p11 curriculum: percentile cutoffs broadcast, no window, no range partitioning") {
    val p = plan("p11_curriculum")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row cutoff table must broadcast back:\n$p")
    assert(!p.contains("Window") && !p.contains("rangepartitioning"),
      s"staging must not global-sort (no ntile):\n$p")
  }

  test("q29 stats profile: one group-key shuffle with partial moment sums, no window") {
    val p = plan("q29_stats_profile")
    assert(p.contains("partial"), s"moment sums must combine map-side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the returnflag aggregate should shuffle:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("s8 pq: ADC scan broadcasts LUTs, corpus never sort-merge-joined, bounded top-k") {
    val p = plan("s8_ann_pq")
    assert(!p.contains("SortMergeJoin"),
      s"codebooks and LUTs must ride broadcasts; the corpus must never shuffle for a join:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"candidate + rerank top-k should plan as partial ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"no window anywhere — seeds use the bounded MinKAgg, top-k the bounded TopKAgg:\n$p")
  }

  test("s9 ivf-pq: cell-restricted ADC — no cartesian, broadcasts + shuffled id-join only") {
    val p = plan("s9_ann_ivfpq")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must be the probed-cell equi-join, never a cross:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probes and LUTs must ride broadcasts:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"the id-co-partitioned codes-to-cells join is shuffle-hash-hinted:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the index build or scan may sort-merge:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"candidate + rerank top-k should plan as partial ObjectHashAggregate:\n$p")
  }

  test("q30 gap-fill: one user-key shuffle feeding the fill window") {
    val p = plan("q30_gap_fill")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"expected the user-key shuffle:\n$p")
    assert(p.split("Exchange").length == 2,
      s"gap-fill must shuffle exactly once:\n$p")
    assert(p.contains("Window"), s"expected the carry-forward window:\n$p")
  }

  test("u20 incremental rollup: partial aggregates on both sides of a full-outer merge") {
    val p = plan("u20_incremental_rollup")
    assert(p.contains("FullOuter"), s"expected the full-outer merge join:\n$p")
    assert(p.contains("partial"), s"both rollups must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s7 dim stats: posexplode in scan stage, partial sums, no window") {
    val p = plan("s7_dim_stats")
    assert(p.contains("Generate posexplode"), s"expected the vector explode:\n$p")
    assert(p.contains("partial"), s"per-dimension sums must combine map-side:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("q31 latest-by-key: one key shuffle, partial struct max, no window or self-join") {
    val p = plan("q31_latest_by_key")
    assert(p.contains("partial_max"), s"struct max must combine map-side:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one key shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("u23 interval overlap: bucket equi-join, no nested-loop or cartesian") {
    val p = plan("u23_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to a nested loop:\n$p")
  }

  test("q32 cdc apply: one key shuffle, partial struct max, no window or self-join") {
    val p = plan("q32_cdc_apply")
    assert(p.contains("partial_max"), s"changelog collapse must combine map-side:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one key shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("d18 sorted neighborhood: window on the block key, no self-join or cartesian") {
    val p = plan("d18_sorted_neighborhood")
    assert(p.contains("Exchange hashpartitioning(_blk"),
      s"window must partition on the block key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the window frame, not a join:\n$p")
  }

  test("s13 knn classify: labels fetched by broadcasting the neighbor table") {
    val p = plan("s13_knn_classify")
    assert(!p.contains("SortMergeJoin"),
      s"corpus label fetch degraded to a corpus shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast label joins:\n$p")
  }

  test("q36 global rank: within-bin windows only — no single-partition data window") {
    val p = plan("q36_global_rank")
    // the data-sized window must partition by _bin; the only
    // SinglePartition-adjacent window allowed is over the bucket-count
    // offsets table (bounded rows), which plans as a separate tiny window
    assert(p.contains("Exchange hashpartitioning(_bin"),
      s"row windows must partition on the bin id:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets must broadcast back:\n$p")
  }

  test("g2 triangles: equi-joins only, no cartesian or nested loop") {
    val p = plan("g2_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration degraded:\n$p")
  }

  test("u30 sketch overlap: one value shuffle into per-set sketches, pairwise on tiny rows") {
    val p = plan("u30_sketch_overlap")
    // the sketch agg is the only thing the full value table feeds; the
    // pairwise inequality join runs on the |sets|-row sketch table (its
    // nested-loop broadcast is driver-sized by construction)
    assert(p.contains("ObjectHashAggregate"), s"KMV must be an object-hash agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q38 ri audit: dim parents broadcast-anti, fact parent shuffled-hash-anti") {
    val p = plan("q38_ri_audit")
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r
      .findAllIn(p).length == 2,
      s"customer and supplier checks must be broadcast anti-joins:\n$p")
    assert("ShuffledHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r
      .findAllIn(p).length == 1,
      s"the orders (fact-sized) check must be a shuffled anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"anti-join degraded:\n$p")
  }

  test("u32 gap percentiles: lag window rides one user-key shuffle") {
    val p = plan("u32_gap_percentiles")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"expected exactly one user-key shuffle:\n$p")
  }

  test("u33 rfm migration: the period segments meet in one user-key outer join") {
    val p = plan("u33_rfm_migration")
    assert(p.contains("FullOuter"), s"expected a full-outer user join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d19 multipass snm: two block-key window shuffles, still no joins") {
    val p = plan("d19_snm_multipass")
    assert("Exchange hashpartitioning\\(_blk".r.findAllIn(p).length == 2,
      s"expected the forward and reversed block shuffles:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("u26 burstiness: lag window and aggregate share one user-key shuffle") {
    val p = plan("u26_burstiness")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"expected exactly one user-key shuffle:\n$p")
  }

  test("u28 basket lift: co-partitioned basket self-join, margins broadcast back") {
    val p = plan("u28_basket_lift")
    // the only nested-loop allowed is the 1-row basket-count cross
    // broadcast; pair generation itself must be an equi-join
    assert(!p.contains("CartesianProduct"), s"pair generation degraded:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"margins must broadcast back:\n$p")
  }

  test("u29 psi drift: min/max and totals broadcast, no sort-merge join") {
    val p = plan("u29_psi_drift")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"reference min/max row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bins-row joins degraded:\n$p")
  }

  test("t28 mutual info: margins re-aggregated from cells and broadcast back") {
    val p = plan("t28_mutual_info")
    assert(p.contains("BroadcastHashJoin"), s"margin joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"margin join degraded:\n$p")
  }

  test("s14 filtered ann: corpus never shuffled, queries broadcast on the filter key") {
    val p = plan("s14_ann_filtered")
    assert(p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side must stream:\n$p")
  }

  test("g7 link prediction: wedge and anti joins are equi-joins, no cartesian") {
    val p = plan("g7_link_prediction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration degraded to a non-equi join:\n$p")
    assert(p.contains("LeftAnti"), s"adjacency must be excluded by anti-join:\n$p")
  }

  test("d22 prefix filter: df and prefix joins shuffled-hash, no nested loop") {
    val p = plan("d22_prefix_filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in d22:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"prefix-token self-join should shuffle on the token key:\n$p")
    assert(!p.contains("BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false])") ||
      "ShuffledHashJoin".r.findAllIn(p).length >= 3,
      s"vocabulary df join must not broadcast (t9/t10 rule):\n$p")
  }

  test("u36 gini: ranks come from bin-partitioned windows, moments partial-aggregate") {
    val p = plan("u36_gini")
    assert(p.contains("Exchange hashpartitioning(_bin"),
      s"rank window must partition on the bin id:\n$p")
    assert(p.contains("partial_sum"),
      s"moment sums must combine map-side:\n$p")
  }

  test("u37 benford: 9-key aggregate with broadcast total, no sort-merge join") {
    val p = plan("u37_benford")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"benford joins must stay broadcast-sized:\n$p")
    assert(p.contains("partial_count"),
      s"digit counts must combine map-side:\n$p")
  }

  test("m5 media qa: one checks-key aggregate, no joins at all") {
    val p = plan("m5_media_qa")
    assert(!p.contains("Join"), s"the QA melt must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly one shuffle, on the check key:\n$p")
  }

  test("s15 pca top: moment pass is a partial object-hash aggregate; result is a model constant") {
    // the registry query returns the trained model (a LocalTableScan of
    // 64 loadings) because the power iteration is driver arithmetic —
    // assert THAT, plus the shape of the underlying one-scan moment pass
    assert(plan("s15_pca_top").contains("LocalTableScan"),
      "pca output should be a driver-side model constant")
    import org.apache.spark.sql.functions._
    val agg = udaf(new graft.operators.MomentAgg(64),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val p = SparkEntry.tbl(spark, sf, "embeddings")
      .select(graft.operators.Similarity.quantize(col("embedding")).as("_q"))
      .agg(agg(col("_q")))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      s"moment UDAF should plan as ObjectHashAggregate:\n$p")
    assert(p.contains("partial_momentagg$") || p.toLowerCase.contains("partial"),
      s"moments must combine map-side:\n$p")
  }

  test("q43 lateral top-n: rank pushdown (WindowGroupLimit), no cartesian") {
    val p = plan("q43_lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      s"LATERAL LIMIT should rewrite to a rank pushdown:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated lateral must stay an equi-join:\n$p")
  }

  test("t35 dup coverage: df table joined by shuffle, never broadcast") {
    val p = plan("t35_dup_ngrams")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"shingle-df join must shuffle on the key:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"vocabulary-sized df table must never broadcast:\n$p")
  }

  test("s19 range search: corpus scanned with broadcast queries, no corpus exchange") {
    val p = plan("s19_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    // the only exchange allowed is the broadcast of the tiny query side
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle in a brute radius scan:\n$p")
  }

  test("u44 time-weighted value: one user-key shuffle shared by window and aggregate") {
    val p = plan("u44_time_weighted_value")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1,
      s"window and group-by must ride ONE user-key exchange, found $exchanges:\n$p")
  }

  test("t40 heaps fit: per-doc cumsum windows partition by bucket, no nested loop") {
    val p = plan("t40_heaps_law")
    // the two-phase cumsum's in-bucket window must be PARTITIONED by the
    // bucket key — only the tiny bucket-aggregate prefix may run in a
    // single ordered partition
    assert(p.contains("windowspecdefinition(_b"),
      s"in-bucket cumsum must partition by the bucket key:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the delta table (which carries the one bounded id-range broadcast)
    // is materialized once — neither cumsum phase may replay its
    // explode+aggregate upstream, so no nested-loop join survives into
    // the executed plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"delta upstream must be materialized once:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"token aggregates must map-side combine:\n$p")
  }

  test("t41 bm25: top-k rides TakeOrderedAndProject, rank window post-limit only") {
    val p = plan("t41_bm25_topk")
    // the corpus-side ordering must be the per-partition top-k operator,
    // never a full sort or a corpus-wide ordered window
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k must use TakeOrderedAndProject:\n$p")
    // the only ordered window allowed is the rank stamp AFTER the limit
    // (k rows); a pre-limit global window would single-partition every
    // matching document
    val windows = "Window".r.findAllIn(p).size
    assert(windows <= 2, s"only the post-limit rank window is allowed:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"postings aggregates must map-side combine:\n$p")
  }

  test("d26 winnowing: fingerprint index joins shuffle-hash, no cartesian, scan-stage arrays") {
    val p = plan("d26_winnowing")
    assert(p.contains("ShuffledHashJoin"),
      s"the fingerprint inverted-index self-join must be shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no BNLJ:\n$p")
    // winnowing itself (grams, windows, minima) must be array
    // expressions in the scan stage — no window operator anywhere
    assert(!p.contains("windowspecdefinition"),
      s"winnowing must not use a window operator:\n$p")
  }

  test("q44 curation funnel: one content-hash shuffle carries the whole pipeline") {
    val p = plan("q44_curation_funnel")
    // lang/quality/token signals and the split are scan-stage
    // projections; the ONLY hash exchange is the dedup-keeper window on
    // the content hash (the global funnel aggregate is a single-
    // partition exchange, not a hash shuffle)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1,
      s"funnel must ride ONE content-hash exchange, found $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("d27 eval coverage: the train corpus is never join-shuffled") {
    val p = plan("d27_eval_coverage")
    // both joins ride broadcasts of eval-bounded sets (the screen on the
    // train scan and the matched-set join back); every hash exchange in
    // the plan carries eval-bounded data, never the corpus
    assert("BroadcastHashJoin".r.findAllIn(p).size === 2,
      s"both eval-coverage joins must broadcast:\n$p")
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"the train corpus must never be join-shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("m8 media funnel: one content-key shuffle carries the whole pipeline") {
    val p = plan("m8_media_funnel")
    // decode and QA are scan-stage projections over the payload; the
    // ONLY hash exchange is the dedup-keeper window on the content hex
    // (the funnel aggregate is a single-partition exchange)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1,
      s"media funnel must ride ONE content-key exchange, found $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("t42 dsir: vocabulary model joins back shuffle-hash, never broadcast") {
    val p = plan("t42_dsir_weights")
    // the merged vocab table is vocabulary-sized — at corpus scale it
    // must co-partition on the term (the d23/t9 discipline); only the
    // 1-row S/V constants may broadcast
    assert(p.contains("ShuffledHashJoin"),
      s"model join must be shuffle-hash on the term:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("d28 dup substrings: gram work is occurrence-linear — mark join shuffle-hash, no pairwise step") {
    val p = plan("d28_dup_substrings")
    // the duplicated-gram set is vocabulary-sized (worst case corpus-
    // sized) — it must join back shuffle-hash on the gram, never
    // broadcast, and there is NO self-join: the rule needs only
    // "appears >= 2", so no df² candidate step may exist
    assert(p.contains("ShuffledHashJoin"),
      s"duplicated-gram mark join must shuffle on the gram hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-sized gram table must never broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pairwise step exists in ExactSubstr:\n$p")
  }

  test("d25 two-level semdedup: fine centers join on the coarse cell, never cartesian") {
    val p = plan("d25_semdedup_cellsize")
    // flat Lloyd broadcast the FULL center table (corpus-sized/64 at
    // derived k); two-level may broadcast only the ⌈√k⌉ coarse
    // centers — the k1·k2 fine table meets each point via an equi-join
    // on the coarse cell (shuffle-hash), and the in-cell pair join
    // stays shuffled too
    assert(p.contains("ShuffledHashJoin"),
      s"fine-center + in-cell joins must be shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in two-level semdedup:\n$p")
  }

  test("m9 perceptual near-dup: hashing is scan-stage, band join equi, payloads never shuffled") {
    val p = plan("m9_perceptual_neardup")
    // candidates come from the (band, key) equi-join over 4-int rows;
    // the binary payloads are consumed by the scan-stage mapPartitions
    // hasher and must never reach an exchange
    assert(p.contains("ShuffledHashJoin"),
      s"band candidate join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs image comparison:\n$p")
    // the hash table is checkpointed 4-int rows: the whole pair plan
    // runs downstream of that barrier and must never reference the
    // binary payload column at all
    assert(!p.contains("bytes#"),
      s"image payloads must not appear in the pair-join plan:\n$p")
  }

  test("m11 deep perceptual near-dup: same discipline over the 8x32-bit bands") {
    val p = plan("m11_perceptual_neardup_deep")
    assert(p.contains("ShuffledHashJoin"),
      s"band candidate join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs image comparison:\n$p")
    assert(!p.contains("bytes#"),
      s"image payloads must not appear in the pair-join plan:\n$p")
  }

  test("w1 url domains: normalization is scan-stage projection, two-stage distinct, 1-row total broadcast") {
    val p = plan("w1_url_domains")
    // the canonicalization is codegen'd builtins inside Project — no
    // UDF invocation, no extra exchange before the domain aggregate
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"normalization must be builtin expressions:\n$p")
    // distinct-URL count plans as the two-stage distinct aggregate
    // (partial on (domain, url) before the final count)
    assert(p.contains("HashAggregate") && p.contains("partial"),
      s"expected partial aggregation:\n$p")
    // the grand total meets the per-domain rows via broadcast
    assert(p.contains("BroadcastExchange"),
      s"1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("w2 domain cap: bounded partial min-k aggregate, no per-domain window sort") {
    val p = plan("w2_domain_cap")
    // MinKAgg runs partially map-side (ObjectHashAggregate partial),
    // so <= k rows per (partition, domain) cross the shuffle
    assert(p.contains("ObjectHashAggregate"),
      s"expected object hash aggregate for the bounded min-k UDAF:\n$p")
    assert(p.contains("partial"),
      s"min-k must aggregate partially map-side:\n$p")
    // the rejected alternative: row_number over PARTITION BY domain
    assert(!p.contains("Window"),
      s"no per-domain window sort (mega-domain serialization):\n$p")
  }

  test("t44/t45 unicode expressions: scan-stage codegen'd projections, no window, no python") {
    Seq("t44_nfc_normalize", "t45_strip_accents").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must be window-free:\n$p")
      assert(!p.contains("BatchEvalPython"), s"$q must not use python:\n$p")
      assert(!p.contains("ScalaUDF"),
        s"$q must be a native expression, not a UDF:\n$p")
      // nothing but the fixture fan-out shuffles
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q is a pure projection — no hash exchange:\n$p")
    }
  }

  test("w3 web funnel: exactly two hash exchanges (url window + domain aggregate)") {
    val p = plan("w3_web_funnel")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2,
      s"w3's contract is TWO hash exchanges regardless of corpus size, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d32 derived-k incremental: coarse broadcast, fine table equi-joined never broadcast, no cartesian") {
    val p = plan("d32_incr_semdedup_cellsize")
    // the ⌈√k⌉-row coarse table broadcasts; the k1·k2 fine table —
    // corpus-sized/64 at derived k — meets points via an equi-join on
    // the coarse cell
    assert(p.contains("BroadcastExchange"), s"coarse centers must broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"fine probe + in-cell screens must be shuffle-hash equi-joins:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs comparison anywhere:\n$p")
  }

  test("d31 incremental semdedup: frozen centers broadcast, corpus screen shuffle-hash, no cartesian") {
    val p = plan("d31_incremental_semdedup")
    // both assignments ride a broadcast of the k-row center table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"center table must broadcast:\n$p")
    // the new-vs-corpus and new-vs-new screens are cell equi-joins —
    // the corpus is hash-partitioned, never broadcast
    assert(p.contains("ShuffledHashJoin"),
      s"in-cell screens must be shuffle-hash equi-joins:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs comparison anywhere:\n$p")
  }

  test("d34 incremental substrings: index probe sort-merge, marks shuffle-hash, never broadcast") {
    val p = plan("d34_incr_dup_substrings")
    // the corpus-vocabulary-sized index meets the batch gram set in a
    // spill-safe SORT-MERGE equi-join (a hash build of a vocab-sized
    // side cannot acquire memory at the 100× octave); the batch-sized
    // marks join stays shuffle-hash; NOTHING in this plan is
    // broadcast-sized (both join sides grow with data)
    assert(p.contains("SortMergeJoin"),
      s"index probe must be a sort-merge equi-join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"the batch-sized marks join stays shuffle-hash:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"nothing in d34 is broadcast-safe at scale:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pairwise or nested-loop step anywhere:\n$p")
  }

  test("d36 contamination spans: eval broadcast, corpus shuffles only marked rows") {
    val p = plan("d36_contamination_spans")
    // the eval gram set is the tiny side: broadcast hash join inside
    // the scan stage — the train corpus's gram stream never hash-
    // shuffles; the ONLY hash exchange is the islands-merge window
    // over the marked (contaminated-span-sized) residue
    assert(p.contains("BroadcastExchange"),
      s"eval grams must broadcast:\n$p")
    // exactly two hash exchanges, neither corpus-gram-sized: the
    // eval-side distinct (on _h, eval-sized) and the islands-merge
    // window (on doc_id, marked-residue-sized)
    val ex = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toList.sorted
    assert(ex == List("_h", "doc_id"),
      s"only the eval distinct and the marks window may hash-shuffle, got $ex:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"the screen is one broadcast join:\n$p")
  }

  test("big-PSL registrable domain: native expression stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    // a real-PSL-sized suffix list (1.2k entries): a when-chain this
    // wide falls out of codegen (64KB/method); the data-driven
    // expression must instead ride the scan-stage Project INSIDE a
    // WholeStageCodegen span, with no UDF anywhere
    val psl = graft.operators.Web.DefaultSuffixes ++
      (0 until 600).map(i => s"tld$i") ++
      (0 until 600).map(i => s"reg$i.tld${i % 50}")
    val df = SparkEntry.tbl(spark, sf, "documents")
      .select(concat(lit("site"), (col("doc_id") % 37).cast("string"),
        lit(".com")).as("host"))
      .select(graft.operators.Web.registrableDomain(col("host"), psl)
        .as("reg_domain"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"PSL match must be a native expression:\n$p")
    // the Project carrying the expression is codegen'd: its plan line
    // wears a WholeStageCodegen "*(n)" star
    val projLine = p.linesIterator.find(_.contains("registrabledomainexpr"))
    assert(projLine.isDefined, s"expression not found in plan:\n$p")
    assert(projLine.get.trim.startsWith("*("),
      s"PSL projection fell out of whole-stage codegen:\n${projLine.get}\n$p")
  }

  test("big robots list: native match stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.operators.{RobotsRule, Web}
    // a generated-robots.txt-sized rule list (800 Disallow lines — the
    // e-commerce pattern; the RFC's 500 KiB parse cap is ~20k): the
    // when-chain is out (64KB/method, an rlike regex engine per probe),
    // so robotsPrevailingRule must switch to the native expression and
    // ride the scan-stage Project INSIDE a codegen span, no UDF
    val rules = (0 until 800).map(i =>
      RobotsRule(i % 5 == 0, s"/cat$i/*x$i$$"))
    val df = SparkEntry.tbl(spark, sf, "documents")
      .select(concat(lit("/p/"), (col("doc_id") % 250).cast("string"))
        .as("path"))
      .select(Web.robotsPrevailingRule(col("path"), rules).as("ri"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"robots match must be a native expression:\n$p")
    val line = p.linesIterator.find(_.toLowerCase.contains("robotsmatchexpr"))
    assert(line.isDefined, s"expression not found in plan:\n$p")
    assert(line.get.trim.startsWith("*("),
      s"robots projection fell out of whole-stage codegen:\n${line.get}\n$p")
    // the small-list chain is builtin string probes: no UDF, no
    // RobotsMatchExpr, still codegen'd
    val chain = SparkEntry.tbl(spark, sf, "documents")
      .select(concat(lit("/p/"), (col("doc_id") % 250).cast("string"))
        .as("path"))
      .select(Web.robotsPrevailingRule(col("path"),
        rules.take(8)).as("ri"))
    val cp = chain.queryExecution.executedPlan.toString
    assert(!cp.contains("ScalaUDF") && !cp.toLowerCase.contains("robotsmatchexpr"),
      s"8-rule list must plan as the builtin when-chain:\n$cp")
  }

  test("fused gate: GateMetrics rides codegen once, no UDF, filter stays out of the scan") {
    import org.apache.spark.sql.functions._
    // the withGateProfile plan must carry exactly ONE GateMetrics
    // evaluation (the generator barrier), inside a codegen'd span,
    // with no ScalaUDF anywhere — the 12x-at-1000x contract's plan
    // shape (SCALE.md round-13 fused gate)
    val df = graft.functions.Text.withGateProfile(
        SparkEntry.tbl(spark, sf, "documents").select(col("doc_id"), col("text")),
        col("text"), minWords = 5, minRequiredWords = 0)
      .where(col("passes_quality") && !col("script_mixed") &&
        col("quality") >= 0.3)
      .select(col("doc_id"), col("n_tokens"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"fused gate must be native:\n$p")
    val hits = p.linesIterator.filter(_.toLowerCase.contains("gatemetrics")).toSeq
    assert(hits.size == 1,
      s"expected exactly one GateMetrics line in the executed plan, got ${hits.size}:\n$p")
    assert(hits.head.trim.startsWith("+- *(") || hits.head.trim.startsWith("*("),
      s"GateMetrics fell out of whole-stage codegen:\n${hits.head}\n$p")
    assert(df.count() > 0, "the gated corpus must be non-empty at sf0.001")
  }
}
