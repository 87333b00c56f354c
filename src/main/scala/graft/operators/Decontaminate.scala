package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag training
  * documents that share word n-grams with an evaluation/benchmark set —
  * the standard leakage check run before pretraining (n-gram collision
  * screening of the training set against every eval benchmark).
  *
  * Plan shape, sized for the real asymmetry (train = the 100 TB corpus,
  * eval = a few thousand benchmark documents):
  *
  *   1. Eval docs → distinct hashed n-gram shingles. This is tiny
  *      (|eval| × shingles/doc longs) and is explicitly `broadcast()`.
  *   2. Train docs → exploded hashed shingles (map-side only, no
  *      shuffle), inner-joined against the broadcast eval set: the whole
  *      collision screen is one broadcast hash join inside the scan
  *      stage — the train corpus is NEVER shuffled.
  *   3. One hash aggregation on the train doc id (partial map-side
  *      combine, then a shuffle of only the colliding doc ids — a tiny
  *      fraction of the corpus) producing per-document hit counts and
  *      the contaminated fraction of its shingles.
  *
  * Shingles are 60-bit md5-derived hashes ([[Dedup.hashedShingleSet]]),
  * so the same screen is reproducible in any SQL engine. Hash collisions
  * can only over-count (flagging a clean doc), never miss real overlap —
  * the safe direction for decontamination.
  */
object Decontaminate {

  /** Per-training-document contamination report against `eval`.
    *
    * Output: one row per training document with at least one colliding
    * shingle — (id, n_shingles, n_hit, contam_ppm). Callers drop or
    * down-weight documents above a fraction threshold; `n_hit` alone
    * (>= 1) is the strict GPT-3-style 13-gram collision rule.
    *
    * @param n shingle width in word tokens. 8–13 for real corpora;
    *          lower only for short-document test fixtures. */
  def report(
      train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8): DataFrame = {
    val evalShingles = eval
      .select(explode(Dedup.hashedShingleSetNative(col(textCol), n)).as("_s"))
      .distinct()
    // shingle once per row (the fused expression is the dominant per-row
    // cost); size + explode consume the same array
    val trainEx = train
      .select(col(idCol), Dedup.hashedShingleSetNative(col(textCol), n).as("_sh"))
      .select(col(idCol), size(col("_sh")).as("n_shingles"),
        explode(col("_sh")).as("_s"))
    trainEx.join(broadcast(evalShingles), "_s")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contam_ppm",
        expr("CAST(CAST(n_hit AS DECIMAL(38,0)) * 1000000 div n_shingles AS BIGINT)"))
  }

  /** [[report]] with a Bloom-filter pre-screen on the train side —
    * IDENTICAL output (false positives from the bloom pass are removed
    * by the exact join that follows), different cost envelope.
    *
    * When the eval shingle set grows past comfortable broadcast-hash-
    * join size (dozens of benchmarks × long documents), the exact join
    * starts shipping and probing a large hash table per task. A Bloom
    * filter over the same shingles is ~10 bits/item at 1% fpp —
    * 20-30× smaller than a long hash set — and is applied as a map-side
    * codegen-adjacent filter BEFORE the join, so only true collisions
    * plus an fpp-sliver of the exploded train shingles ever reach the
    * join probe and aggregate. The train corpus is still never
    * shuffled; the bloom build is a distributed aggregate over the
    * (tiny) eval side.
    *
    * `expectedItems`/`fpp` size the filter (bits ≈ 1.44·n·log₂(1/fpp));
    * overshooting `expectedItems` only wastes the overshoot in bits.
    * `BloomFilterAggregate` SILENTLY clamps its parameters to the
    * session's `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`
    * (default 67,108,864) and `.maxNumItems` (default 4M) — so the
    * helper clamps to the same caps itself and WARNS when the request
    * exceeds them: the realized fpp then degrades from the requested
    * one (output stays correct either way — the exact join removes
    * every false positive), and the sizing that actually runs is the
    * one logged, not a silently-worse fiction. Callers that need the
    * requested fpp at >cap sizes raise the two confs alongside.
    *
    * The filter is built IN-PLAN (`BloomFilterAggregate` over the eval
    * shingles — a distributed aggregate, nothing collects to the
    * driver) and applied with the engine's own codegen'd
    * `might_contain`, fed as the scalar-subquery constant the
    * expression requires — so the screen stays inside whole-stage
    * codegen on the one stage sized by the 100 TB side. A Scala UDF
    * here would forfeit codegen exactly where it costs the most. */
  def reportBloom(
      train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8, expectedItems: Long = 10000000L,
      fpp: Double = 0.01): DataFrame = {
    val evalShingles = eval
      .select(explode(Dedup.hashedShingleSetNative(col(textCol), n)).as("_s"))
      .distinct()
      // consumed twice (bloom build + exact join) — materialize once
      .localCheckpoint()
    // Spark's optimal-bits sizing: -n·ln(fpp)/ln(2)² (what the builtin
    // aggregate expects spelled out; floored so a degenerate fpp still
    // builds a filter), clamped to the session's runtime-bloom-filter
    // caps — BloomFilterAggregate clamps to them silently, so clamping
    // here (with a warning) keeps the documented sizing honest.
    val conf = train.sparkSession.conf
    val maxNumBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val maxNumItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val wantBits = math.max(64L, math.ceil(
      -expectedItems.toDouble * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    if (wantBits > maxNumBits || expectedItems > maxNumItems)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"reportBloom: requested sizing (items=$expectedItems, fpp=$fpp → " +
        s"bits=$wantBits) exceeds the session caps (maxNumItems=" +
        s"$maxNumItems, maxNumBits=$maxNumBits); clamping — realized fpp " +
        "will be worse than requested (output unaffected: the exact join " +
        "removes false positives). Raise the runtime.bloomFilter confs to " +
        "honor the request.")
    val clampedItems = math.min(expectedItems, maxNumItems)
    val numBits = math.min(wantBits, maxNumBits)
    // BloomFilterAggregate/BloomFilterMightContain are the engine's own
    // runtime-filter expressions; they are not in the SQL registry, so
    // they are constructed directly (the ColumnBridge pattern)
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.graft.ColumnBridge
    val bloom = evalShingles
      .agg(ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(
            ColumnBridge.expression(col("_s")),
            CatLit(clampedItems), CatLit(numBits))
          .toAggregateExpression()).as("_bf"))
    val trainEx = train
      .select(col(idCol), Dedup.hashedShingleSetNative(col(textCol), n).as("_sh"))
      .select(col(idCol), size(col("_sh")).as("n_shingles"),
        explode(col("_sh")).as("_s"))
    trainEx
      .where(ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          ColumnBridge.expression(bloom.scalar()),
          ColumnBridge.expression(col("_s")))))
      .join(broadcast(evalShingles), "_s")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contam_ppm",
        expr("CAST(CAST(n_hit AS DECIMAL(38,0)) * 1000000 div n_shingles AS BIGINT)"))
  }

  /** EVAL-side contamination coverage — the OTHER direction of
    * [[report]] (the GPT-3 appendix-C / Pile "dirtiness" audit): for
    * each EVAL item, the fraction of ITS n-gram shingles that appear
    * anywhere in the training corpus — "which benchmark rows are
    * compromised, and how much of each leaked", the number that decides
    * whether a reported eval score is trustworthy. [[report]] answers
    * the train-side question (which training docs to quarantine); this
    * one is per-eval-item and stays meaningful even after the
    * overlapping train docs have been dropped.
    *
    * Scale shape: the eval shingle set broadcasts (benchmarks are small
    * by definition — the [[report]] contract); the TRAIN corpus is
    * never shuffled — its exploded shingles are screened in the scan
    * stage against the broadcast eval set, and only the MATCHED
    * distinct shingles, a set bounded by the eval's own shingle count
    * rather than the corpus, reach an exchange. Then one broadcast join
    * back onto the eval shingle table and one eval-sized aggregate.
    * Items with zero coverage are REPORTED (they are the clean ones),
    * not dropped.
    *
    * Output: (eval_id, n_shingles, n_hit, coverage_ppm) — one row per
    * eval item with ≥ 1 shingle; coverage_ppm = ⌊n_hit·10⁶/n_shingles⌋
    * in exact integer arithmetic. */
  def evalCoverage(
      train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8): DataFrame = {
    val evalSh = eval
      .select(col(idCol).as("eval_id"),
        Dedup.hashedShingleSetNative(col(textCol), n).as("_sh"))
      .select(col("eval_id"), size(col("_sh")).as("n_shingles"),
        explode(col("_sh")).as("_s"))
    val evalDistinct = evalSh.select(col("_s")).distinct()
    val matched = train
      .select(explode(Dedup.hashedShingleSetNative(col(textCol), n)).as("_s"))
      .join(broadcast(evalDistinct), "_s")
      .distinct()
      .withColumn("_hit", lit(1L))
    evalSh.join(broadcast(matched), Seq("_s"), "left")
      .groupBy(col("eval_id"), col("n_shingles"))
      .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_hit"))
      .select(col("eval_id"), col("n_shingles"), col("n_hit"),
        expr("(CAST(n_hit AS DECIMAL(38,0)) * 1000000) div n_shingles")
          .as("coverage_ppm"))
  }

  /** SPAN-LEVEL decontamination — the surgical form of [[report]]:
    * instead of dropping (or down-weighting) a whole contaminated
    * training document, mark exactly the leaked PASSAGES as merged
    * token intervals to excise, keeping the document's clean remainder
    * as training data. A train token span is marked iff one of its
    * word k-grams appears anywhere in the eval set — the positional
    * twin of the set-membership screen, using the same one-pass native
    * gram hashing as ExactSubstr
    * ([[graft.functions.PositionalGramHashes]]) so the span arithmetic
    * is d28's, byte-replayable in SQL.
    *
    * Plan shape (the [[report]] asymmetry, span edition): eval's
    * distinct gram hashes broadcast (tiny); the train corpus's
    * positional gram stream is screened by ONE broadcast hash join
    * inside the scan stage — the corpus is never shuffled until the
    * marks (a tiny, contaminated-spans-sized residue) meet the
    * per-document islands merge ([[Dedup.mergeSpans]] — one shuffle of
    * marked rows only, window bounded by document length).
    *
    * Output: `(doc_id, span_start, span_end)` — merged 1-based
    * inclusive token intervals of the TRAIN documents to excise;
    * clean documents emit nothing. Hash collisions can only
    * over-excise, never miss real overlap — the safe direction. */
  def contaminationSpans(
      train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val evalGrams = evalGramSet(eval, textCol, k)
    // the shared id quarantine rule (Web.domainCap / ExactSubstr): a
    // non-numeric id casts to NULL and drops here instead of killing
    // the sweep under ANSI cast
    val marks = train
      .where(Dedup.tryLongId(idCol).isNotNull)
      .select(Dedup.tryLongId(idCol).as("doc_id"),
        posexplode(graft.functions.PositionalGramHashes(col(textCol), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("_p"),
        col("col").as("_h"))
      .join(broadcast(evalGrams), "_h")
      .select(col("doc_id"), col("_p").as("_s"),
        (col("_p") + (k - 1)).as("_e"))
    Dedup.mergeSpans(marks)
  }

  /** The distinct hashed word-k-gram set of an eval corpus — the static
    * side every gram-membership screen joins against
    * ([[contaminationSpans]], the streaming ingest gate). Needs no id
    * and no positions — membership is all that matters, so any frame
    * with `textCol` works. Schema: one `_h` long column. */
  def evalGramSet(eval: DataFrame, textCol: String = "text",
      k: Int = 8): DataFrame =
    eval.select(explode(graft.functions.PositionalGramHashes(col(textCol), k))
        .as("_h"))
      .distinct()

  /** SEMANTIC decontamination — the embedding-cosine complement of the
    * n-gram family above: [[report]]/[[reportBloom]] catch verbatim
    * and near-verbatim leakage, but a PARAPHRASED eval item (reworded
    * question, translated passage, renamed variables) shares no
    * 8-gram with its source while sitting at high embedding cosine —
    * the leakage mode n-gram screens structurally miss (the reason
    * modern corpus audits pair both screens). A training vector is
    * flagged iff some eval vector sits at cosine ≥ `threshold`; the
    * report names the closest one.
    *
    * Plan shape (the [[report]] discipline with vectors): the eval
    * side is small — it broadcasts prepared+quantized; the train
    * corpus is scanned in place and NEVER shuffled; the threshold
    * screen runs before the per-train argmax so only flagged pairs
    * reach the (tiny) aggregate. Brute-force |train|·|eval| exact dot
    * products — the right tool up to ~10⁴-10⁵ eval vectors; past
    * that, [[semanticReportBanded]] keeps the identical contract with
    * sign-LSH bucketed candidates.
    *
    * Output: one row per flagged training vector —
    * `(idCol, eval_id, cos)` with `cos` its max eval cosine rounded
    * to 6 (ties → smallest eval id), the same rounding point as the
    * ANN family. */
  def semanticReport(
      train: DataFrame, eval: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      evalIdCol: String = "eval_id", threshold: Double = 0.95): DataFrame = {
    val t = Similarity.prepare(train, idCol, vecCol)
    val e = Similarity.prepare(eval, evalIdCol, vecCol)
      .select(col("_id").as("_eid"), col("_q").as("_eq"),
        col("_n2").as("_en2"))
    flaggedArgmax(t.crossJoin(broadcast(e)), idCol, threshold)
  }

  /** [[semanticReport]] for eval sets too large to meet every train
    * vector: candidates are restricted to the shared sign-LSH bucket
    * ([[Similarity.lshBucket]] on both sides — the d5/s2 banding), so
    * per-train work is the bucket's eval occupancy instead of |eval|.
    * Single-probe recall contract: a near pair split by one hyperplane
    * is missed (the s4 multi-probe trade) — flagged set ⊆ the brute
    * form's, with the constructed contaminations recovered in the
    * spec. Output contract identical.
    *
    * Two bounds, two fixes — stated precisely: the banding fixes the
    * COMPUTE bound (pair work = |train|·bucket-occupancy, not
    * |train|·|eval|) regardless of `broadcastEval`; the default keeps
    * the eval broadcast (the train corpus never moves — right while
    * the prepared eval fits executor memory, ~10⁶-10⁷ vectors). Past
    * broadcast MEMORY, set `broadcastEval = false`: the bucket meet
    * becomes a shuffle-hash equi-join on the bucket key — train and
    * eval each shuffle once on their bucket and nothing is resident
    * on every executor. Results are identical either way
    * (spec-pinned); only the exchange strategy changes. */
  def semanticReportBanded(
      train: DataFrame, eval: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      evalIdCol: String = "eval_id", threshold: Double = 0.95,
      planes: Int = 16, dim: Int = 64,
      broadcastEval: Boolean = true): DataFrame = {
    val t = Similarity.prepare(train, idCol, vecCol)
      .withColumn("_bucket", Similarity.lshBucket(col("_q"), planes, dim))
    val e = Similarity.prepare(eval, evalIdCol, vecCol)
      .withColumn("_bucket", Similarity.lshBucket(col("_q"), planes, dim))
      .select(col("_bucket"), col("_id").as("_eid"), col("_q").as("_eq"),
        col("_n2").as("_en2"))
    val paired =
      if (broadcastEval) t.join(broadcast(e), "_bucket")
      else t.join(e.hint("shuffle_hash"), "_bucket")
    flaggedArgmax(paired, idCol, threshold)
  }

  /** Shared tail: threshold screen, then per-train argmax (max cosine,
    * ties → smallest eval id) over the flagged-pair residue. */
  private def flaggedArgmax(
      paired: DataFrame, idCol: String, threshold: Double): DataFrame = {
    paired
      .withColumn("_cos", Similarity.cosineFrom(
        Similarity.dotQ(col("_q"), col("_eq")), col("_n2"), col("_en2")))
      .where(col("_cos") >= threshold)
      .groupBy(col("_id"))
      .agg(min_by(struct(col("_eid"), col("_cos")),
        struct(negate(col("_cos")), col("_eid"))).as("_m"))
      .select(col("_id").as(idCol), col("_m._eid").as("eval_id"),
        round(col("_m._cos"), 6).as("cos"))
  }
}
