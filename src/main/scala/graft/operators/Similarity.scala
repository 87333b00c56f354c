package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity-search primitives over an
  * embedding column (`array<float>`).
  *
  * Design for cross-engine determinism *and* scale:
  *   - embeddings are quantized to integers (×1000, rounded) so dot
  *     products and norms are exact integer sums — associative, hence
  *     independent of partitioning/summation order. The final cosine is a
  *     single double division/sqrt, identical on any engine.
  *   - the LSH variant uses 16 random hyperplanes whose integer weights
  *     derive from md5(p,d) — reproducible in plain SQL by any engine, no
  *     shared RNG needed.
  */
object Similarity {

  /** Elementwise sum of equal-length long vectors — the one-exchange
    * centroid-mean building block (see [[meanCentroidsBy]]). Empty input
    * never reaches `finish` (groups exist only for seen rows). */
  class LongVecSumAgg
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Seq[Long]]
      with Serializable {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], v: Seq[Long]): Array[Long] =
      if (b.isEmpty) v.toArray
      else { var i = 0; while (i < b.length && i < v.length) { b(i) += v(i); i += 1 }; b }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else { var i = 0; while (i < a.length && i < b.length) { a(i) += b(i); i += 1 }; a }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  private lazy val longVecSum = udaf(new LongVecSumAgg)

  /** Per-group elementwise ROUNDED-MEAN centroids (+ squared norms) in ONE
    * aggregation exchange: `groupBy(keys).agg(vecsum, count)` then a
    * per-element `round(sum/count)` transform. Replaces the round-1..12
    * posexplode → groupBy(keys, pos) → groupBy(keys) + collect_list/
    * array_sort form, which paid a SECOND exchange (the re-assembly
    * aggregation) per centroid update and shuffled 64 (pos, value) rows
    * per vector where one row suffices. Arithmetic is identical: integer
    * element sums (associative — partitioning-independent), the same
    * `round(sum / count)` double division per element (all members of a
    * group share one length, the engine-wide fixed-dim contract, so the
    * per-element count equals the group count), and the same
    * (`out`, `out` ∥ "_n2"-style) output columns the call sites had.
    * Input rows must carry `keys` and a non-null long-array `vecCol`. */
  private[operators] def meanCentroidsBy(
      members: DataFrame, keys: Seq[String], vecCol: String,
      outVec: String, outN2: String): DataFrame =
    members.groupBy(keys.map(col): _*)
      .agg(longVecSum(col(vecCol)).as("_svec"), count(lit(1)).as("_cnt"))
      .select(keys.map(col) :+
        transform(col("_svec"), s => round(s / col("_cnt")).cast("long")).as(outVec): _*)
      .withColumn(outN2, dotQ(col(outVec), col(outVec)))

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** 60-bit hash: first 15 hex digits of md5 — computable in SQL as
    * `conv(substr(md5(x),1,15),16,10)`. */
  def hexHash60(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  /** Quantize a float vector to longs (scale 1000). */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors, via the codegen
    * [[graft.functions.LongArrayDot]] expression. */
  def dotQ(a: Column, b: Column): Column = graft.functions.LongArrayDot(a, b)

  /** Cosine from precomputed integer dot and squared norms. */
  def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Hyperplane weights in [-1000, 1000]: w(p,d) = md5-hash60(seed+"p,d")
    * % 2001 - 1000. The oracle recomputes the identical table in SQL.
    * Distinct `seed`s give independent plane families (used by banded
    * near-dup LSH). */
  def planeWeightsSeeded(seed: String, planes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until planes).map(p => (0 until dim).map(d => hexHash60(s"$seed$p,$d") % 2001 - 1000))

  /** Sign-sketch bucket id of a *quantized* vector: bit p set iff
    * dot(v, plane_p) >= 0. Integer-exact. */
  def lshBucketSeeded(qvec: Column, seed: String, planes: Int, dim: Int = 64): Column = {
    val ws = planeWeightsSeeded(seed, planes, dim)
    (0 until planes).map { p =>
      when(dotQ(qvec, typedLit(ws(p))) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def lshBucket(qvec: Column, planes: Int = 16, dim: Int = 64): Column =
    lshBucketSeeded(qvec, "", planes, dim)

  /** Prepares (id, quantized vector, squared norm) — the reusable corpus
    * side of every similarity query. Norms computed once, not per pair. */
  def prepare(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("_id"), quantize(col(vecCol)).as("_q"))
      .withColumn("_n2", dotQ(col("_q"), col("_q")))

  /** Brute-force cosine top-k: every query row against the full corpus.
    * The query side is broadcast — the corpus (the big side) is never
    * shuffled, so this scales to an arbitrarily large corpus as long as
    * the query set is small.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = prepare(corpus, idCol, vecCol)
    val q = prepare(queries, idCol, vecCol)
      .withColumnRenamed("_id", "_qid").withColumnRenamed("_q", "_qq")
      .withColumnRenamed("_n2", "_qn2")
    val scored = c.crossJoin(broadcast(q))
      .where(col("_id") =!= col("_qid"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    // bounded partial top-k: only ≤ k rows per (partition, query) shuffle,
    // instead of the full |corpus|×|queries| scored set through a window
    TopK.perQuery(scored, k)
  }

  /** Range (radius) search — every corpus vector with cosine ≥
    * `threshold` of each query, the fixed-radius complement of
    * [[bruteForceTopK]]: top-k answers "the k nearest whatever their
    * quality", range search answers "everything actually similar" —
    * the right primitive when downstream consumes ALL qualifying
    * matches (dedup candidate pull for one new document, recall-safe
    * retrieval feeding a reranker) and an empty result is meaningful.
    *
    * Engine-exact: the cosine is [[cosineFrom]]'s fixed IEEE
    * expression over exact integer dots/norms (the d5 rule — the
    * threshold compare happens on bit-identical doubles on both
    * engines), rounded to 6 decimals only at output.
    *
    * Scale shape: identical to [[bruteForceTopK]] — the corpus is
    * scanned, never shuffled; queries broadcast. Output is
    * result-sized (no bounded-k guarantee, by definition): a
    * too-low threshold on a huge corpus returns a huge answer, which
    * is the caller's contract to own. Swap in the IVF probe join for
    * corpora where the brute scan is too hot.
    */
  def rangeSearch(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val c = prepare(corpus, idCol, vecCol)
    val q = prepare(queries, idCol, vecCol)
      .withColumnRenamed("_id", "_qid").withColumnRenamed("_q", "_qq")
      .withColumnRenamed("_n2", "_qn2")
    c.crossJoin(broadcast(q))
      .where(col("_id") =!= col("_qid"))
      .withColumn("cos",
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")))
      .where(col("cos") >= threshold)
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Bitext-style margin mining (parallel-corpus construction): match
    * each `queries` vector to its best `corpus` vector by cosine and
    * keep the match only when its margin over the runner-up clears
    * `minMargin` — the absolute-margin simplification of Artetxe &
    * Schwenk's ratio criterion, forward direction only. The margin
    * filter is what separates genuine translation/near-paraphrase pairs
    * from hubs that are "closest" to everything.
    *
    * Output: `(query_id, match_id, cos, margin)` with `cos`/`margin`
    * rounded to 6 decimals (both computed from the already-rounded
    * top-2 cosines, so the result is engine-independent).
    *
    * Scale shape: rides [[bruteForceTopK]] (corpus never shuffled,
    * queries broadcast, bounded top-2 partial aggregate); the pivot
    * aggregates ≤ 2 rows per query. Swap in [[ivfTopK]]'s probe join for
    * corpora where brute force is too hot — the margin logic is
    * unchanged.
    */
  def bitextMarginPairs(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, minMargin: Double): DataFrame = {
    val top2 = bruteForceTopK(corpus, queries, idCol, vecCol, k = 2)
    top2.groupBy(col("query_id"))
      .agg(
        max(when(col("rn") === 1, struct(col("cos"), col("neighbor_id")))).as("_b"),
        max(when(col("rn") === 2, col("cos"))).as("_c2"))
      .select(col("query_id"), col("_b.neighbor_id").as("match_id"),
        col("_b.cos").as("cos"),
        round(col("_b.cos") - coalesce(col("_c2"), lit(0.0)), 6).as("margin"))
      .where(col("margin") >= minMargin)
  }

  /** Hard-negative mining — the contrastive-training data stage: for
    * each labeled query (anchor), the top-k most-similar corpus rows
    * with a DIFFERENT label. These maximally-confusable negatives are
    * what two-tower/embedding trainers pair with the anchor's positives
    * (random negatives are too easy to teach the margin). The label
    * predicate runs DURING candidate generation, not as a post-filter
    * that would under-fill k — the s14 filtered-ANN rule with the
    * polarity inverted.
    *
    * Scale shape: identical to [[bruteForceTopK]] — the corpus is
    * scanned, never shuffled; queries (with their labels) broadcast;
    * the per-query result is a bounded partial top-k aggregate. Swap in
    * the IVF probe join for corpora where brute force is too hot; the
    * label test rides along unchanged. Labels must be non-null (a null
    * label three-values the inequality and silently drops the row —
    * coalesce to a sentinel upstream).
    *
    * Output: `(query_id, neighbor_id, cos, rn)`, rn 1..k per query.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("_id"),
        quantize(col(vecCol)).as("_q"), col(labelCol).as("_lbl"))
      .withColumn("_n2", dotQ(col("_q"), col("_q")))
    val q = queries.select(col(idCol).as("_qid"),
        quantize(col(vecCol)).as("_qq"), col(labelCol).as("_qlbl"))
      .withColumn("_qn2", dotQ(col("_qq"), col("_qq")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("_id") =!= col("_qid") && col("_lbl") =!= col("_qlbl"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(scored, k)
  }

  /** Maximal-Marginal-Relevance diverse re-ranking (Carbonell &
    * Goldstein, SIGIR'98) — the production post-stage after ANN
    * retrieval: from each query's top-`m` candidates, greedily pick
    * `k` results maximizing `λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)`,
    * so near-duplicate hits don't crowd the result list (the
    * similarity-search twin of the dedup keepers).
    *
    * Engine-exact greedy: cosines are rounded to 6 dp then
    * micro-quantized to integers, λ is an integer percent, so every
    * step's argmax is an integer compare with ties to the smallest
    * neighbor id — the trajectory is bit-identical on any engine and
    * any partitioning, and the oracle unrolls the same k steps.
    *
    * Scale shape: candidate generation rides [[bruteForceTopK]]
    * (corpus never shuffled, queries broadcast, bounded top-m
    * partial aggregate); everything after operates on the
    * |queries|·m candidate table and its |queries|·m² pair-sim table
    * — query-set-sized, not corpus-sized. The k−1 greedy steps are
    * fixed-count query-key equi-joins with per-step lineage cuts
    * ([[graft.operators.Graph.kCore]]'s loop rule). Queries with
    * fewer than k candidates simply yield fewer picks.
    *
    * Output: `(query_id, neighbor_id, pick_rank, cos)`, k rows per
    * query, pick_rank 1..k in greedy order.
    */
  def mmrRerank(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      m: Int = 10, k: Int = 5, lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && m >= k, s"need m >= k >= 1, got m=$m k=$k")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"lambdaPct must be in [0,100], got $lambdaPct")
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, m)
      .withColumn("_cosm", expr("CAST(round(cos * 1000000) AS BIGINT)"))
      .localCheckpoint()
    // candidate vectors: the cand side is queries·m rows — broadcast it
    // against the corpus-sized prepared table, never the reverse
    val prep = prepare(corpus, idCol, vecCol)
    val pv = prep.join(
        broadcast(cand.select(col("query_id"), col("neighbor_id").as("_cid"))),
        col("_id") === col("_cid"))
      .select(col("query_id"), col("_cid"), col("_q"), col("_n2"))
    val a = pv.select(col("query_id"), col("_cid").as("a_id"),
      col("_q").as("_qa"), col("_n2").as("_na"))
    val b = pv.select(col("query_id"), col("_cid").as("b_id"),
      col("_q").as("_qb"), col("_n2").as("_nb"))
    val ps = a.join(b, Seq("query_id")).where(col("a_id") =!= col("b_id"))
      .withColumn("_sim", cosineFrom(dotQ(col("_qa"), col("_qb")), col("_na"), col("_nb")))
      .select(col("query_id"), col("a_id"), col("b_id"),
        expr("CAST(round(round(_sim, 6) * 1000000) AS BIGINT)").as("sim_micro"))
      .localCheckpoint()
    var sel = cand.where(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("pick_rank"))
      .localCheckpoint()
    for (step <- 2 to k) {
      val remaining = cand.join(sel.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val maxSel = ps.join(
          sel.select(col("query_id"), col("neighbor_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id")).agg(max(col("sim_micro")).as("_ms"))
        .withColumnRenamed("a_id", "neighbor_id")
      val win = remaining.join(maxSel, Seq("query_id", "neighbor_id"))
        .withColumn("_score",
          lit(lambdaPct.toLong) * col("_cosm") - lit((100 - lambdaPct).toLong) * col("_ms"))
        .groupBy(col("query_id"))
        .agg(max(struct(col("_score"), (-col("neighbor_id")).as("_neg"))).as("_w"))
        .select(col("query_id"), (-col("_w._neg")).as("neighbor_id"),
          lit(step).as("pick_rank"))
      sel = sel.unionByName(win).localCheckpoint()
    }
    sel.join(cand.select(col("query_id"), col("neighbor_id"), col("cos")),
        Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("pick_rank"), col("cos"))
  }

  /** IVF top-k: an inverted-file index over coarse cells. The cell
    * assignment of the corpus comes from `cellCol` (an externally trained
    * quantizer — here the dataset's cluster label; k-means training is an
    * offline batch job out of scope). Integer centroids are the
    * elementwise rounded means of member vectors; queries probe their
    * `nprobe` nearest centroids by exact integer L2 and search only those
    * cells. At cluster scale the corpus is hash-partitioned by cell, so a
    * probe touches nprobe/ncells of the data.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    // eagerly materialized: consumed by both the centroid aggregation and
    // the probe join — a lazy persist() races its own population across
    // branches of one action and re-derives the upstream pipeline per
    // branch (see Dedup.minhashLshPairs)
    val base = corpus.select(col(idCol).as("_id"), quantize(col(vecCol)).as("_q"),
        col(cellCol).as("_cell"))
      .withColumn("_n2", dotQ(col("_q"), col("_q")))
      .localCheckpoint()
    // one-exchange rounded-mean centroids (see meanCentroidsBy)
    val cents = meanCentroidsBy(base, Seq("_cell"), "_q", "_cvec", "_cn2")
    ivfProbeOn(base, cents, queries, idCol, vecCol, k, nprobe)
  }

  /** The probe half of [[ivfTopK]] over an already-assigned corpus
    * (`_id, _q, _n2, _cell`) and its centroid table — shared by the
    * external-assignment path and [[ivfTopKSelfTrained]], which reuses
    * the trainer's own final centers instead of re-aggregating them. */
  private def ivfProbeOn(
      base: DataFrame, cents: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("_qid"), quantize(col(vecCol)).as("_qq"))
      .withColumn("_qn2", dotQ(col("_qq"), col("_qq")))
    val qcells = q.crossJoin(broadcast(cents))
      .withColumn("_dist2",
        col("_qn2") + col("_cn2") - lit(2L) * dotQ(col("_qq"), col("_cvec")))
    val wq = Window.partitionBy(col("_qid")).orderBy(col("_dist2"), col("_cell"))
    val probes = qcells.withColumn("_pr", row_number().over(wq))
      .where(col("_pr") <= nprobe)
      .select(col("_qid"), col("_qq"), col("_qn2"), col("_cell"))
    val scored = base.join(broadcast(probes), "_cell")
      .where(col("_id") =!= col("_qid"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(scored, k)
  }

  /** Train-and-probe IVF in one pass: the s5 composition
    * (trainIvfCells → join back → ivfTopK) shared ONE corpus but paid
    * for it twice — two full-corpus quantize+checkpoint prepares and a
    * centroid re-aggregation over the joined corpus, all recomputing
    * values the trainer's final iteration had already materialized
    * ([[ivfLloydOn]]'s last mean update IS the member-mean centroid
    * table of the returned assignment). This variant prepares once,
    * trains once, and probes against the trainer's own (checkpointed)
    * final centers: one prepare, zero re-aggregation — identical
    * assignments, centroids, and top-k by construction. */
  def ivfTopKSelfTrained(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      k: Int, kCells: Int, iters: Int, nprobe: Int = 2): DataFrame = {
    val base = prepare(corpus, idCol, vecCol).localCheckpoint()
    // lazy trainer chain absorbed by the assigned-corpus materialization
    // (the twoLevelLloydOn rule); the final centers are the mean update
    // over the final assignment, recomputed from the materialized abase
    // — identical values, one cheap scan instead of re-running the chain
    val (assigned, _) = ivfLloydOn(base, kCells, iters, "ivf|",
      ckptEvery = iters + 1)
    val abase = base.join(assigned, "_id").localCheckpoint()
    val cents = meanCentroidsBy(abase, Seq("_cell"), "_q", "_cvec", "_cn2")
    ivfProbeOn(abase, cents, queries, idCol, vecCol, k, nprobe)
  }

  /** Lloyd's k-means over quantized vectors — trains the coarse-quantizer
    * cells [[ivfTopK]] consumes when no external assignment (a label
    * column, an offline model) exists. Deterministic and
    * engine-reproducible: initial centroids are the `k` vectors with the
    * smallest `(hash60("ivf|" ∥ id), id)` sort key (md5-derived, so any
    * SQL engine replays the same seeding — the s5 oracle does); each
    * iteration assigns every
    * vector to its nearest centroid by exact integer L2 (`min_by` with a
    * (dist, cell) tie-break) and recomputes elementwise rounded means.
    * Per iteration: one broadcast of the k centroids + two aggregations —
    * the canonical distributed k-means shape; the corpus is never
    * shuffled by anything larger than its own id. Cells that lose all
    * members disappear (standard Lloyd's behavior), so the result may
    * have fewer than `k` cells. Returns `(_id, _cell)` assignments, ready
    * to join back as [[ivfTopK]]'s `cellCol`.
    */
  def trainIvfCells(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame =
    trainIvfCellsOn(prepare(emb, idCol, vecCol).localCheckpoint(), k, iters)

  /** [[trainIvfCells]] over an already-[[prepare]]d (and checkpointed)
    * corpus projection — [[cellProfile]] and [[ivfPqTopK]] hold `base`
    * anyway, and re-preparing would double the most expensive
    * materialization of the call (a second full-corpus quantize +
    * pinned checkpoint). */
  private[operators] def trainIvfCellsOn(
      base: DataFrame, k: Int, iters: Int,
      seedPrefix: String = "ivf|", ckptEvery: Int = 1): DataFrame =
    ivfLloydOn(base, k, iters, seedPrefix, ckptEvery)._1

  /** The FINAL centers of the same md5-seeded Lloyd's run —
    * `(_cell, _cvec, _cn2)` AFTER the last mean update (one update past
    * the assignment [[trainIvfCellsOn]] returns): the frozen-index
    * contract for incremental consumers, where an index build ends
    * with an update and every later batch is assigned against it
    * without touching the training corpus again. */
  private[operators] def trainIvfCentersOn(
      base: DataFrame, k: Int, iters: Int,
      seedPrefix: String = "ivf|"): DataFrame =
    ivfLloydOn(base, k, iters, seedPrefix)._2

  /** `ckptEvery` controls how often the per-iteration center table is
    * eagerly materialized. 1 (the default) is the classic shape: one
    * lineage-cut job per iteration — right when the caller consumes
    * BOTH outputs (the intermediates are multi-referenced across the
    * caller's separate jobs). A large value leaves every intermediate
    * lazy: each is referenced exactly once (by the next iteration), so
    * the whole training chain — seed, assignments, mean updates —
    * executes as stages of the CALLER's one materialization job instead
    * of iters+1 driver round-trips, at identical total scan work. Only
    * safe when the caller materializes each returned output at most
    * once (twoLevelLloydOn's coarse loop: cbase absorbs the chain). */
  private def ivfLloydOn(
      base: DataFrame, k: Int, iters: Int,
      seedPrefix: String, ckptEvery: Int = 1): (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0, got k=$k iters=$iters")
    val seedKey = Dedup.hash60(concat(lit(seedPrefix), col("_id").cast("string")))
    var cents = base
      .orderBy(seedKey, col("_id"))
      .limit(k)
      .withColumn("_cell",
        row_number().over(Window.orderBy(seedKey, col("_id"))) - 1)
      .select(col("_cell").cast("long").as("_cell"), col("_q").as("_cvec"))
      .withColumn("_cn2", dotQ(col("_cvec"), col("_cvec")))
    if (ckptEvery == 1) cents = cents.localCheckpoint()
    var assigned: DataFrame = null
    var i = 0
    while (i < iters) {
      val scored = base.crossJoin(broadcast(cents))
        .withColumn("_dist2",
          col("_n2") + col("_cn2") - lit(2L) * dotQ(col("_q"), col("_cvec")))
      assigned = scored.groupBy(col("_id"))
        .agg(min_by(col("_cell"), struct(col("_dist2"), col("_cell"))).as("_cell"))
      // one-exchange rounded-mean update (see meanCentroidsBy)
      cents = meanCentroidsBy(base.join(assigned, "_id"),
          Seq("_cell"), "_q", "_cvec", "_cn2")
      if ((i + 1) % ckptEvery == 0) cents = cents.localCheckpoint()
      i += 1
    }
    (assigned, cents)
  }

  /** Two-level (hierarchical) Lloyd's — the ANN ASSIGNMENT for
    * derived-k clustering, where flat assignment is the scale-killer:
    * at k ∝ N (SemDeDup's k = ⌈N/⟨cell⟩⌉ rule) flat Lloyd does
    * N·k = N²/⟨cell⟩ exact dot products per iteration — ~10¹⁶-10¹⁸ ops
    * at a 10⁹-10¹⁰-document corpus, which no executor count divides
    * into a shippable plan (the round-9 100× octave measured the cliff:
    * 21.7× wall for an 11.1× data step once the center table fell out
    * of cache). Here every point is assigned in two bounded probes —
    * first to one of `k1` COARSE centers (broadcast: k1 ≈ √k centers
    * is MBs even at web-scale k), then, via an equi-join on its coarse
    * cell, to one of the ≤ `k2` FINE centers trained WITHIN that cell —
    * so per-point arithmetic is O(k1 + k2) = O(√k) dots and total
    * assignment work is N·O(√k): corpus-linear growth at derived k
    * instead of quadratic. This is the [[ivfTopK]] coarse-quantize/
    * probe shape applied to training itself.
    *
    * Determinism (the cross-engine contract every consumer's oracle
    * replays): the coarse level is [[trainIvfCellsOn]]'s exact
    * md5-seeded Lloyd's under seed prefix `"ivfc|"`; fine seeds are,
    * per coarse cell, the `k2` members with the smallest
    * `(hash60("ivff|" ∥ id), id)` key; fine assignment minimizes exact
    * integer L2 with a (dist2, fine-cell) tie-break; centroid updates
    * are elementwise rounded means. All arithmetic is the same
    * integer-exact kind as the flat trainer.
    *
    * Scale shape per fine iteration: one shuffle of the k1·k2 center
    * table hash-partitioned by coarse cell (never broadcast — at
    * derived k the FULL center table is corpus-sized/64, only the
    * per-coarse-cell slice of ~k2 rows meets each point), against the
    * corpus partitioned the same way; then the two-aggregation mean
    * update. Empty fine cells disappear (standard Lloyd's).
    *
    * Returns `(_id, _cell)` with `_cell = coarse·k2 + fine` — a stable
    * composite id both engines derive identically. */
  private[graft] def trainTwoLevelCellsOn(
      base: DataFrame, k1: Int, k2: Int, iters: Int): DataFrame =
    twoLevelLloydOn(base, k1, k2, iters)._1

  /** The FROZEN two-level index of the same run: coarse and fine center
    * tables AFTER their final mean updates — the incremental-consumer
    * contract ([[trainIvfCentersOn]]'s build-ends-with-an-update rule
    * lifted to the hierarchy). Coarse: `(_cc, _ccvec, _ccn2)` (≤ k1
    * rows — broadcastable at any corpus size since k1 ≈ √k). Fine:
    * `(_cc, _ff, _cvec, _cn2)` (≤ k1·k2 rows — corpus-sized/⟨cell⟩ at
    * derived k, so NEVER broadcast; consumers equi-join it on the
    * coarse cell). Probe with [[probeTwoLevel]]. */
  private[graft] def trainTwoLevelIndexOn(
      base: DataFrame, k1: Int, k2: Int, iters: Int): (DataFrame, DataFrame) = {
    val (_, cc, ff) = twoLevelLloydOn(base, k1, k2, iters)
    (cc, ff)
  }

  /** Assign rows of a prepared table through a frozen two-level index:
    * one broadcast coarse argmin (k1 ≈ √k rows — MBs at web-scale k),
    * then a fine argmin restricted to the row's coarse cell via an
    * equi-join on `_cc` (shuffle-hash — the fine table is
    * corpus-sized/⟨cell⟩ at derived k and never broadcasts). N·O(√k)
    * dot products total, the d25 assignment arithmetic. Returns
    * `(_id, _cell)` with the composite `_cell = _cc·k2 + _ff`. */
  private[graft] def probeTwoLevel(
      b: DataFrame, coarse: DataFrame, fine: DataFrame, k2: Int): DataFrame = {
    val ca = b.crossJoin(broadcast(coarse))
      .withColumn("_dist2",
        col("_n2") + col("_ccn2") - lit(2L) * dotQ(col("_q"), col("_ccvec")))
      .groupBy(col("_id"))
      .agg(min_by(col("_cc"), struct(col("_dist2"), col("_cc"))).as("_cc"))
    b.join(ca, "_id").join(fine.hint("shuffle_hash"), Seq("_cc"))
      .withColumn("_dist2",
        col("_n2") + col("_cn2") - lit(2L) * dotQ(col("_q"), col("_cvec")))
      .groupBy(col("_id"), col("_cc"))
      .agg(min_by(col("_ff"), struct(col("_dist2"), col("_ff"))).as("_ff"))
      .select(col("_id"), (col("_cc") * k2 + col("_ff")).as("_cell"))
  }

  private def twoLevelLloydOn(
      base: DataFrame, k1: Int, k2: Int,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    require(k1 > 0 && k2 > 0 && iters > 0,
      s"need k1, k2, iters > 0, got k1=$k1 k2=$k2 iters=$iters")
    // coarse loop fully lazy (ckptEvery > iters): the chain executes as
    // stages of cbase's ONE materialization job below instead of
    // iters+1 separate driver round-trips — identical scan work
    val (coarseAssigned, _) = ivfLloydOn(base, k1, iters, "ivfc|",
      ckptEvery = iters + 1)
    val coarse = coarseAssigned.withColumnRenamed("_cell", "_cc")
    // one materialized (id, vector, norm, coarse cell) table shared by
    // fine seeding, every fine iteration, and the caller's downstream
    // join — the coarse loop is never re-derived
    val cbase = base.join(coarse, "_id").localCheckpoint()
    // the trainer's final coarse centers ARE the mean update over the
    // final assignment — recomputed here from the materialized cbase
    // (identical arithmetic, one cheap scan) instead of re-running the
    // lazy coarse chain; lazy checkpoint: the CellsOn path never pays
    // for it, the IndexOn path materializes it once on first probe
    val coarseCents = meanCentroidsBy(cbase, Seq("_cc"), "_q", "_cvec", "_cn2")
      .localCheckpoint(false)
    val fseedKey = Dedup.hash60(concat(lit("ivff|"), col("_id").cast("string")))
    // fine intermediates lazy for the same reason: each center table is
    // referenced exactly once (by the next iteration), so the fine
    // chain executes inside the first consumer's job
    var fcents = cbase
      .withColumn("_ff",
        (row_number().over(Window.partitionBy(col("_cc"))
          .orderBy(fseedKey, col("_id"))) - 1).cast("long"))
      .where(col("_ff") < k2)
      .select(col("_cc"), col("_ff"), col("_q").as("_cvec"))
      .withColumn("_cn2", dotQ(col("_cvec"), col("_cvec")))
    var assigned: DataFrame = null
    var i = 0
    while (i < iters) {
      val scored = cbase.join(fcents.hint("shuffle_hash"), Seq("_cc"))
        .withColumn("_dist2",
          col("_n2") + col("_cn2") - lit(2L) * dotQ(col("_q"), col("_cvec")))
      assigned = scored.groupBy(col("_id"), col("_cc"))
        .agg(min_by(col("_ff"), struct(col("_dist2"), col("_ff"))).as("_ff"))
      // one-exchange rounded-mean update (see meanCentroidsBy);
      // penultimate table eagerly cut so BOTH final outputs (assigned
      // and the final fcents) read it from blocks instead of each
      // re-running the chain
      fcents = meanCentroidsBy(
          cbase.join(assigned.select(col("_id"), col("_ff")), "_id"),
          Seq("_cc", "_ff"), "_q", "_cvec", "_cn2")
      if (i == iters - 2) fcents = fcents.localCheckpoint()
      i += 1
    }
    (assigned.select(col("_id"),
      (col("_cc") * k2 + col("_ff")).as("_cell")),
      coarseCents.select(col("_cc"), col("_cvec").as("_ccvec"),
        col("_cn2").as("_ccn2")),
      // lazy checkpoint: CellsOn (which only consumes `assigned`) never
      // pays for the final fine centers; IndexOn materializes them once
      fcents.localCheckpoint(false))
  }

  /** LSH-bucketed top-k: candidates restricted to the query's sign-sketch
    * bucket — the scale path (bucket equi-join instead of cross join; at
    * cluster scale the corpus is hash-partitioned by bucket and only
    * matching partitions are read).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 16, dim: Int = 64): DataFrame = {
    val c = prepare(corpus, idCol, vecCol)
      .withColumn("_bucket", lshBucket(col("_q"), planes, dim))
    val q = prepare(queries, idCol, vecCol)
      .withColumn("_bucket", lshBucket(col("_q"), planes, dim))
      .withColumnRenamed("_id", "_qid").withColumnRenamed("_q", "_qq")
      .withColumnRenamed("_n2", "_qn2")
    val scored = c.join(broadcast(q), "_bucket")
      .where(col("_id") =!= col("_qid"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(scored, k)
  }

  /** Multi-probe variant of [[lshTopK]]: each query probes its own bucket
    * PLUS every Hamming-1 neighbor (one sign bit flipped), `planes + 1`
    * probes total. Near neighbors that land one hyperplane to the "wrong"
    * side of the query — the dominant recall loss of single-probe
    * sign-LSH — are recovered at the cost of probing a constant factor
    * more buckets, not more planes (which would shrink every bucket).
    * The plan shape is unchanged: the probe list explodes the tiny
    * broadcast query side, the corpus side stays a bucket equi-join with
    * one bucket per vector, so no candidate pair is generated twice. */
  def lshTopKMultiProbe(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 16, dim: Int = 64): DataFrame = {
    val c = prepare(corpus, idCol, vecCol)
      .withColumn("_bucket", lshBucket(col("_q"), planes, dim))
    val masks = typedLit(0L +: (0 until planes).map(p => 1L << p))
    val q = prepare(queries, idCol, vecCol)
      .withColumn("_b0", lshBucket(col("_q"), planes, dim))
      .select(col("_id").as("_qid"), col("_q").as("_qq"), col("_n2").as("_qn2"),
        explode(transform(masks, m => col("_b0").bitwiseXOR(m))).as("_bucket"))
    val scored = c.join(broadcast(q), "_bucket")
      .where(col("_id") =!= col("_qid"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(scored, k)
  }

  /** Scalar-quantized (SQ8) top-k with exact rerank — the
    * memory-bandwidth ANN path for corpora too large to scan at full
    * precision: every dimension is affinely mapped to an 8-bit code
    * against the corpus' per-dimension [min, max] range, candidate
    * generation scores queries against the *reconstructed* codes (4×
    * smaller than f32 vectors — at 100 TB the candidate scan is
    * bandwidth-bound, so compression is throughput), and only the top
    * `rerank` candidates per query are re-scored at full precision for
    * the final top-k. All candidate arithmetic is exact BIGINT
    * (255-scaled reconstruction; |score| ≲ 1e11 ≪ 2^53), so any SQL
    * engine replays the identical candidate set; ties break on the
    * neighbor id.
    *
    * Scale shape: the per-dimension range is one posexplode aggregate
    * folded into a single broadcast row; codes are a per-row transform
    * in the scan stage; candidate selection is the bounded [[TopKAgg]]
    * (≤ `rerank` rows per partition-query cross the shuffle, no
    * window); the rerank joins the tiny candidate list back to the
    * corpus as a broadcast — the corpus is never shuffled end-to-end.
    *
    * Eager note: the corpus projection is `localCheckpoint`ed because
    * two branches consume it (range stats + candidate scan) — the
    * repo-wide pattern (see [[Dedup.minhashLshPairs]]); construction
    * runs a Spark job at call time. */
  def sq8TopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int = 20): DataFrame = {
    val base = prepare(corpus, idCol, vecCol).localCheckpoint()
    val stats = base
      .select(posexplode(col("_q")).as(Seq("_pos", "_v")))
      .groupBy(col("_pos"))
      .agg(min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("_pos").as("p"),
          col("_mn").as("v")))), x => x.getField("v")).as("_mns"),
        transform(array_sort(collect_list(struct(col("_pos").as("p"),
          col("_mx").as("v")))), x => x.getField("v")).as("_mxs"))
    // recon_d = mn_d·255 + code_d·span_d (the 255-scaled dequantized
    // value), code_d = ((v_d − mn_d)·255) DIV max(span_d, 1) ∈ [0, 255];
    // numerator ≥ 0 by construction, so truncating and flooring integer
    // division agree across engines
    val coded = base.crossJoin(broadcast(stats))
      .withColumn("_recon", expr(
        """transform(_q, (v, i) ->
          |  element_at(_mns, i + 1) * 255L +
          |  (((v - element_at(_mns, i + 1)) * 255L) DIV
          |     greatest(element_at(_mxs, i + 1) - element_at(_mns, i + 1), 1L)) *
          |  (element_at(_mxs, i + 1) - element_at(_mns, i + 1)))""".stripMargin))
    val q = prepare(queries, idCol, vecCol)
      .withColumnRenamed("_id", "_qid").withColumnRenamed("_q", "_qq")
      .withColumnRenamed("_n2", "_qn2")
    val appr = coded.crossJoin(broadcast(q))
      .where(col("_id") =!= col("_qid"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        dotQ(col("_recon"), col("_qq")).cast("double").as("cos"))
    val cand = TopK.perQuery(appr, rerank)
      .select(col("query_id"), col("neighbor_id"))
    val exact = base
      .join(broadcast(cand.withColumnRenamed("neighbor_id", "_id")), Seq("_id"))
      .join(broadcast(q), col("query_id") === col("_qid"))
      .select(col("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(exact, k)
  }

  /** Product-quantized (PQ) top-k with exact rerank — the
    * memory-compression ANN path for corpora where even SQ8 codes are
    * too large: each vector is split into `subspaces` contiguous
    * subvectors, each subvector is vector-quantized against a per-
    * subspace codebook of `kSub` centroids (trained here with the same
    * deterministic seeded Lloyd's as [[trainIvfCells]], per subspace),
    * and the stored representation shrinks to `subspaces` small codes
    * (4 bytes here vs 256 for f32×64 — at 100 TB the candidate scan
    * reads 64× fewer bytes). Candidate generation is asymmetric
    * distance computation (ADC): per query, one dot product against
    * every codebook centroid builds a lookup table, and each corpus
    * vector's approximate score is a `subspaces`-term table-sum over
    * its codes; the top `rerank` candidates per query are re-scored at
    * full precision for the final top-k.
    *
    * Deterministic and engine-reproducible end-to-end: quantized
    * integer subvectors, md5-seeded per-subspace initialization (the k
    * smallest `(hash60("pq|" ∥ sub ∥ "|" ∥ id), id)` keys via the
    * bounded [[MinKAgg]] — no corpus-wide window), exact integer L2
    * assignment with a (dist², cell) tie-break, rounded-mean centroid
    * updates, and exact integer LUT dots, so any SQL engine replays the
    * identical candidate set (the s8 oracle does); ties break on the
    * neighbor id.
    *
    * Scale shape: codebooks are tiny (`subspaces`·`kSub` rows) and ride
    * broadcasts everywhere; per-vector codes are computed with one
    * broadcast join + bounded aggregates; the ADC scan is corpus ×
    * broadcast(query LUTs) with NO shuffle of the corpus (the per-query
    * LUT is a long-keyed map, the table-sum a codegen'd HOF over the
    * codes array); candidate selection is the bounded [[TopKAgg]]; the
    * rerank joins the tiny candidate list back as a broadcast. The
    * corpus is never shuffled by anything except its own id during
    * training aggregates.
    *
    * Eager note: the corpus projection and subvector table are
    * `localCheckpoint`ed (multiple consumers — the repo-wide pattern,
    * see [[Dedup.minhashLshPairs]]); construction runs Spark jobs at
    * call time.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      subspaces: Int = 8, kSub: Int = 8, iters: Int = 1,
      rerank: Int = 20, dim: Int = 64): DataFrame = {
    require(dim % subspaces == 0,
      s"dim $dim must divide into $subspaces subspaces")
    require(k > 0 && kSub > 0 && iters > 0 && rerank >= k,
      s"need k > 0, kSub > 0, iters > 0, rerank >= k")
    // The ADC lookup table packs (sub, cell) as sub*1000 + cell; a kSub
    // above the multiplier would silently collide keys across subspaces.
    require(kSub <= 1000, s"kSub $kSub must be <= 1000 (LUT key packing)")
    val w = dim / subspaces
    val base = prepare(corpus, idCol, vecCol).localCheckpoint()
    val subv = pqSubvectors(base, subspaces, w).localCheckpoint()
    val cents = pqCodebooks(subv, kSub, iters)
    val codes = pqAssignCodes(subv, cents)
    val q = prepare(queries, idCol, vecCol)
      .select(col("_id").as("_qid"), col("_q").as("_qq"), col("_n2").as("_qn2"))
      .localCheckpoint()
    val lut = pqQueryLuts(q, cents, subspaces, w)
    // ADC scan: corpus codes × broadcast LUTs, table-sum via a codegen'd
    // HOF — the |corpus|×|queries| stage touches only 4-code rows
    val appr = codes.crossJoin(broadcast(lut))
      .where(col("_id") =!= col("_qid"))
      .withColumn("_adot", adcDotExpr(subspaces))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        (col("_adot").cast("double") /
          (sqrt(col("_rn2").cast("double")) * sqrt(col("_qn2").cast("double"))))
          .as("cos"))
    val cand = TopK.perQuery(appr, rerank)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(base, q, cand, k)
  }

  /** Clustering-quality diagnostic over the trained coarse cells: per
    * cell, the member count and mean exact-integer squared L2 distance
    * to the member-mean centroid — the "are my IVF cells balanced and
    * compact" pre-flight before committing to a cell layout at scale
    * (a fat loose cell means probes scan too much; many empty cells
    * mean wasted probes). One broadcast of the k centroids + two
    * corpus aggregates; all distance arithmetic is exact integer, the
    * only double is the final mean. */
  def cellProfile(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    val base = prepare(emb, idCol, vecCol).localCheckpoint()
    // lazy trainer chain absorbed by the assigned-corpus materialization
    // (the twoLevelLloydOn rule); the final centers ARE the mean update
    // over the final assignment, recomputed from the materialized abase
    val (assigned, _) = ivfLloydOn(base, k, iters, "ivf|",
      ckptEvery = iters + 1)
    val abase = base.join(assigned, "_id").localCheckpoint()
    val cents = meanCentroidsBy(abase, Seq("_cell"), "_q", "_cvec", "_cn2")
    abase
      .join(broadcast(cents), "_cell")
      .withColumn("_dist2",
        col("_n2") + col("_cn2") - lit(2L) * dotQ(col("_q"), col("_cvec")))
      .groupBy(col("_cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("_dist2")).as("_sd2"))
      .select(col("_cell").as("cell"), col("n_members"),
        round(col("_sd2").cast("double") / col("n_members"), 6).as("mean_dist2"))
  }

  /** (vector, subspace) → quantized subvector + its squared norm: the
    * shared first stage of the PQ family ([[pqTopK]], [[ivfPqTopK]]). */
  private def pqSubvectors(base: DataFrame, subspaces: Int, w: Int): DataFrame =
    base
      .select(col("_id"), col("_q"),
        explode(sequence(lit(0), lit(subspaces - 1))).as("_sub"))
      .select(col("_id"), col("_sub"),
        slice(col("_q"), col("_sub") * w + 1, lit(w)).as("_sv"))
      .withColumn("_svn2", dotQ(col("_sv"), col("_sv")))

  /** Per-subspace codebooks: seeding picks the kSub smallest purpose-
    * prefixed md5 keys via the bounded MinKAgg (≤ kSub rows per
    * partition-subspace cross the shuffle — no corpus-wide window),
    * then `iters` rounds of Lloyd's (exact integer L2 assignment with a
    * (dist², cell) tie-break, rounded-mean updates — one broadcast + two
    * bounded aggregates per round). */
  private def pqCodebooks(subv: DataFrame, kSub: Int, iters: Int): DataFrame = {
    val mink = udaf(new MinKAgg(kSub), Encoders.product[SampleCand])
    val seedIds = subv
      .select(col("_sub"),
        Dedup.hash60(concat(lit("pq|"), col("_sub").cast("string"),
          lit("|"), col("_id").cast("string"))).as("_h"),
        col("_id"))
      .groupBy(col("_sub")).agg(mink(col("_h"), col("_id")).as("_seeds"))
      .select(col("_sub"), posexplode(col("_seeds")).as(Seq("_pos", "_c")))
      .select(col("_sub"), col("_c.id").as("_id"),
        col("_pos").cast("long").as("_cell"))
    // intermediates lazy (each is referenced once, by the next round —
    // the twoLevelLloydOn rule); only the FINAL codebook is eagerly cut,
    // because two consumers read it (code assignment + query LUTs), so
    // the whole training chain executes inside that one job. A lineage
    // cut every 4 rounds guards Catalyst plan growth on long trainings.
    var cents = subv.join(broadcast(seedIds), Seq("_sub", "_id"))
      .select(col("_sub"), col("_cell"), col("_sv").as("_cvec"),
        col("_svn2").as("_cn2"))
    var i = 0
    while (i < iters) {
      val assigned = subv.join(broadcast(cents), "_sub")
        .withColumn("_dist2",
          col("_svn2") + col("_cn2") - lit(2L) * dotQ(col("_sv"), col("_cvec")))
        .groupBy(col("_id"), col("_sub"))
        .agg(min_by(col("_cell"), struct(col("_dist2"), col("_cell"))).as("_cell"))
      // one-exchange rounded-mean update (see meanCentroidsBy)
      cents = meanCentroidsBy(subv.join(assigned, Seq("_id", "_sub")),
          Seq("_sub", "_cell"), "_sv", "_cvec", "_cn2")
      if ((i + 1) % 4 == 0 && i != iters - 1) cents = cents.localCheckpoint()
      i += 1
    }
    cents.localCheckpoint()
  }

  /** Final code assignment against trained codebooks, folded into one
    * codes-array + reconstructed-norm² row per vector: (_id, _codes,
    * _rn2). */
  private def pqAssignCodes(subv: DataFrame, cents: DataFrame): DataFrame =
    subv.join(broadcast(cents), "_sub")
      .withColumn("_dist2",
        col("_svn2") + col("_cn2") - lit(2L) * dotQ(col("_sv"), col("_cvec")))
      .groupBy(col("_id"), col("_sub"))
      .agg(min_by(struct(col("_cell"), col("_cn2")),
        struct(col("_dist2"), col("_cell"))).as("_cc"))
      .groupBy(col("_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("_sub").as("s"),
          col("_cc._cell").as("c")))), x => x.getField("c")).as("_codes"),
        sum(col("_cc._cn2")).as("_rn2"))

  /** Per-query ADC lookup tables: dot of each query subvector against
    * each codebook centroid, keyed sub·1000 + cell in a long-keyed map —
    * (_qid, _qn2, _lut). */
  private def pqQueryLuts(
      q: DataFrame, cents: DataFrame, subspaces: Int, w: Int): DataFrame =
    q.select(col("_qid"), col("_qn2"),
        explode(sequence(lit(0), lit(subspaces - 1))).as("_sub"), col("_qq"))
      .select(col("_qid"), col("_qn2"), col("_sub"),
        slice(col("_qq"), col("_sub") * w + 1, lit(w)).as("_qsv"))
      .join(broadcast(cents), "_sub")
      .groupBy(col("_qid"), col("_qn2"))
      .agg(map_from_arrays(
        collect_list(col("_sub") * 1000L + col("_cell")),
        collect_list(dotQ(col("_qsv"), col("_cvec")))).as("_lut"))

  /** The `subspaces`-term ADC table-sum over a row's `_codes` against
    * its joined `_lut` map. */
  private def adcDotExpr(subspaces: Int): Column = expr(
    s"""aggregate(sequence(0, ${subspaces - 1}), 0L, (acc, s) ->
       |  acc + element_at(_lut, s * 1000L + element_at(_codes, s + 1)))"""
      .stripMargin)

  /** Exact full-precision rerank of a small (query_id, neighbor_id)
    * candidate list: both the candidates and the query set ride
    * broadcasts, the corpus is never shuffled. */
  private def exactRerank(
      base: DataFrame, q: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val exact = base
      .join(broadcast(cand.withColumnRenamed("neighbor_id", "_id")), Seq("_id"))
      .join(broadcast(q), col("query_id") === col("_qid"))
      .select(col("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(exact, k)
  }

  /** IVF-PQ top-k — the production-scale composition of the coarse
    * inverted file ([[trainIvfCells]] + the [[ivfTopK]] probe) with
    * product-quantized scoring ([[pqTopK]]'s ADC): the trained coarse
    * quantizer restricts each query's candidates to its `nprobe`
    * nearest cells (at cluster scale the corpus is hash-partitioned by
    * cell, so a probe reads ~nprobe/kCells of the data) and the ADC
    * table-sum scores only those candidates from `subspaces` small
    * codes (64× less scan bandwidth than f32 vectors), followed by the
    * exact top-`rerank` rerank. This is the FAISS-style IVFPQ layout
    * re-expressed as dataframe algebra.
    *
    * Deterministic end-to-end: both quantizers train with md5-seeded
    * Lloyd's (the coarse one exactly as [[trainIvfCells]], the
    * codebooks exactly as [[pqTopK]]), so any SQL engine replays the
    * identical index and candidate sets (the s9 oracle does).
    *
    * EAGER: trains two quantizers at call time, each localCheckpoint-ing
    * intermediates — see [[Dedup.minhashLshPairs]] for the trade.
    *
    * Scale shape: quantizer training is broadcast + bounded-aggregate
    * loops (the corpus shuffles only on its own id); the candidate scan
    * is codes ⋈ cell-assignment (id-co-partitioned) ⋈ broadcast(probes)
    * ⋈ broadcast(LUTs); candidate selection is the bounded [[TopKAgg]];
    * the rerank broadcasts the candidate list. The corpus is never
    * shuffled on anything but its own id.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      kCells: Int = 8, nprobe: Int = 2, ivfIters: Int = 2,
      subspaces: Int = 8, kSub: Int = 8, iters: Int = 1,
      rerank: Int = 20, dim: Int = 64): DataFrame = {
    require(dim % subspaces == 0,
      s"dim $dim must divide into $subspaces subspaces")
    require(k > 0 && kSub > 0 && iters > 0 && rerank >= k && kCells > 0 &&
      nprobe > 0 && ivfIters > 0,
      s"need positive k/kSub/iters/kCells/nprobe/ivfIters and rerank >= k")
    require(kSub <= 1000, s"kSub $kSub must be <= 1000 (LUT key packing)")
    val w = dim / subspaces
    val base = prepare(corpus, idCol, vecCol).localCheckpoint()
    // coarse quantizer: lazy trainer chain absorbed by the assigned-
    // corpus materialization (the twoLevelLloydOn rule); the final
    // member-mean centroids are recomputed from the materialized abase
    // — identical values, one cheap scan instead of re-running the chain
    val (assigned0, _) = ivfLloydOn(base, kCells, ivfIters, "ivf|",
      ckptEvery = ivfIters + 1)
    val abase = base.join(assigned0, "_id").localCheckpoint()
    val assigned = abase.select(col("_id"), col("_cell"))
    val coarse = meanCentroidsBy(abase, Seq("_cell"), "_q", "_cvec", "_cn2")
    val q = prepare(queries, idCol, vecCol)
      .select(col("_id").as("_qid"), col("_q").as("_qq"), col("_n2").as("_qn2"))
      .localCheckpoint()
    val wq = Window.partitionBy(col("_qid")).orderBy(col("_dist2"), col("_cell"))
    val probes = q.crossJoin(broadcast(coarse))
      .withColumn("_dist2",
        col("_qn2") + col("_cn2") - lit(2L) * dotQ(col("_qq"), col("_cvec")))
      .withColumn("_pr", row_number().over(wq))
      .where(col("_pr") <= nprobe)
      .select(col("_qid"), col("_cell"))
    val subv = pqSubvectors(base, subspaces, w).localCheckpoint()
    val cents = pqCodebooks(subv, kSub, iters)
    val codes = pqAssignCodes(subv, cents)
    val lut = pqQueryLuts(q, cents, subspaces, w)
    // restricted ADC scan: candidates = vectors whose coarse cell is in
    // the query's probe set. codes⋈assignment is the one corpus-scale
    // join — both sides co-partition on the id, so it's shuffle-hash-
    // hinted like every corpus-scale equi-join in the library (AQE
    // would otherwise broadcast whichever side dips under the
    // threshold — an unstable, scale-wrong plan)
    val appr = codes.join(assigned.hint("shuffle_hash"), "_id")
      .join(broadcast(probes), "_cell")
      .join(broadcast(lut), "_qid")
      .where(col("_id") =!= col("_qid"))
      .withColumn("_adot", adcDotExpr(subspaces))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        (col("_adot").cast("double") /
          (sqrt(col("_rn2").cast("double")) * sqrt(col("_qn2").cast("double"))))
          .as("cos"))
    val cand = TopK.perQuery(appr, rerank)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(base, q, cand, k)
  }

  /** Johnson–Lindenstrauss random projection of the embedding column to
    * `outDim` dimensions — the cheap-sketch half of a two-stage
    * similarity pipeline (prefilter in the small space, verify in the
    * full one) and the standard decorrelating compression before
    * clustering. Projection planes are the same md5-seeded integer
    * hyperplane family the LSH buckets use ([[planeWeightsSeeded]]), so
    * the output is exact integer arithmetic end to end: `proj_p =
    * Σ_d q_d · w_{p,d}` with quantized milli-unit inputs — no RNG, no
    * floats, reproducible in plain SQL on any engine.
    *
    * Scale shape: a pure projection — `outDim` codegen'd integer dot
    * products per row riding the scan, no shuffle, no state. Output:
    * `(idCol, proj array<long>)` in milli·weight units.
    */
  def randomProject(
      emb: DataFrame, idCol: String, vecCol: String, outDim: Int,
      seed: String = "jl|", dim: Int = 64): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val ws = planeWeightsSeeded(seed, outDim, dim)
    emb.select(col(idCol), quantize(col(vecCol)).as("_q"))
      .select(col(idCol),
        array((0 until outDim).map(p => dotQ(col("_q"), typedLit(ws(p)))): _*)
          .as("proj"))
  }

  /** Metadata-filtered cosine top-k (the production "search within a
    * tenant/language/category" form): each query row matches only
    * corpus rows whose `filterCol` equals the query's own — the filter
    * is applied DURING candidate generation as an equi-join key, not as
    * a post-filter that silently returns < k rows when the top of the
    * unfiltered list is mostly other categories.
    *
    * Scale shape: the (small) query side is broadcast keyed by the
    * filter value, so the corpus is streamed once, never shuffled, and
    * every corpus row only scores against the queries sharing its
    * filter value; then the bounded [[TopK.perQuery]] partial
    * aggregate. For large query sets swap the broadcast for a
    * shuffle-hash equi-join on `filterCol` — same plan family.
    */
  def filteredTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, filterCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("_id"), quantize(col(vecCol)).as("_q"),
        col(filterCol).as("_f"))
      .withColumn("_n2", dotQ(col("_q"), col("_q")))
    val q = queries.select(col(idCol).as("_qid"), quantize(col(vecCol)).as("_qq"),
        col(filterCol).as("_qf"))
      .withColumn("_qn2", dotQ(col("_qq"), col("_qq")))
    val scored = c.join(broadcast(q),
        col("_f") === col("_qf") && col("_id") =!= col("_qid"))
      .select(col("_qid").as("query_id"), col("_id").as("neighbor_id"),
        cosineFrom(dotQ(col("_q"), col("_qq")), col("_n2"), col("_qn2")).as("cos"))
    TopK.perQuery(scored, k)
  }

  /** k-NN majority-vote classification of `queries` against a labeled
    * `corpus` (the standard embedding-quality probe: hold out rows,
    * predict their labels from their nearest labeled neighbors).
    *
    * Each query's k cosine-nearest corpus rows vote with their
    * `labelCol`; the predicted label is the most-voted one, ties broken
    * toward the smaller label. Output:
    * `(query_id, true_label, pred_label, votes, correct)` — one row per
    * query, `votes` the winning label's vote count, `correct` 1 iff
    * prediction equals the query's own label (queries must carry
    * `labelCol` too).
    *
    * Scale shape: neighbor search is [[bruteForceTopK]] (corpus never
    * shuffled, queries broadcast, bounded top-k partial aggregate) —
    * swap in [[ivfTopK]] for corpora where brute force is too hot; the
    * k·|queries|-row neighbor table is then BROADCAST back against the
    * corpus to fetch labels, so the corpus is streamed, never shuffled,
    * in that join too. Voting and the final true-label join run on
    * ≤ k·|queries| rows.
    */
  def knnClassify(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).cast("long").as("_lbl"))
    val votes = labels
      .join(broadcast(nn.select(col("query_id"), col("neighbor_id"))), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("_lbl"))
      .agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("_lbl"))
    val pred = votes.withColumn("_r", row_number().over(pick))
      .where(col("_r") === 1)
      .select(col("query_id"), col("_lbl").as("pred_label"), col("votes"))
    val truth = queries.select(col(idCol).cast("long").as("query_id"),
      col(labelCol).cast("long").as("true_label"))
    pred.join(broadcast(truth), Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"), col("votes"),
        when(col("true_label") === col("pred_label"), 1L).otherwise(0L).as("correct"))
  }
}
