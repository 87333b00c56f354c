package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Document-deduplication operators for training-data pipelines:
  * exact (content hash), MinHash+LSH, SimHash, exact n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Everything is built from codegen'd native functions. Hashes are
  * md5-derived (`conv(substr(md5(x),1,15),16,10)` = a 60-bit integer) so
  * any SQL engine can reproduce them bit-for-bit — the seeded MinHash
  * family is `h_i(s) = hash60(i ∥ '|' ∥ s)`, giving k independent hash
  * functions without multiply-mod arithmetic (which overflows differently
  * across engines). At 100 TB the md5 family would be swapped for a cheap
  * integer mixer in a custom codegen Expression; the operator shapes
  * (explode → band join → verify) are the scale-relevant part.
  */
object Dedup {

  /** Observability for the quadratic-candidate cap guards
    * ([[minhashLshPairs]]'s and [[embeddingNearDupPairs]]'s `bucketCap`,
    * [[ngramJaccardPairs]]'s `dfCap`): `buckets` counts dropped
    * (band, key) groups / hot shingles, `rows` the member rows they
    * carried. At 100 TB a silent cap is a silent recall loss — wire a
    * CapStats in and report both counters next to the dedup output so
    * recall exposure is observable, not guessed.
    *
    * Accumulator semantics: the guarded operators materialize their
    * capped table exactly once (eager `localCheckpoint`), so each
    * operator call tallies each dropped group exactly once at
    * construction time. Zero drops ⇒ results are exact. */
  final case class CapStats(
      buckets: org.apache.spark.util.LongAccumulator,
      rows: org.apache.spark.util.LongAccumulator)

  object CapStats {
    def apply(spark: org.apache.spark.sql.SparkSession, name: String): CapStats =
      CapStats(
        spark.sparkContext.longAccumulator(s"$name.droppedBuckets"),
        spark.sparkContext.longAccumulator(s"$name.droppedRows"))
  }

  /** 60-bit md5-derived hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The id quarantine rule every long-keyed operator in this file
    * shares (the `Web.domainCap` contract): the id must TRY_CAST to
    * LONG. A non-numeric string id would either throw the whole sweep
    * under ANSI cast or cast to NULL and NPE downstream; instead it
    * casts to NULL here and the caller filters it out — one malformed
    * id must never kill a corpus pass. */
  private[graft] def tryLongId(idCol: String): Column =
    expr(s"try_cast(`$idCol` AS LONG)")

  /** Exclusive upper bound of the packed-occurrence-key id domain:
    * `doc_id·2³⁰ + pos` overflows signed 64-bit once doc_id reaches
    * 2³³, which would silently corrupt the first-occurrence keeper
    * ordering. */
  private[graft] val MaxPackedId: Long = 1L << 33

  /** [[tryLongId]] plus a LOUD domain guard for the ExactSubstr
    * family's packed key: ids outside [0, 2³³) fail the run via
    * `raise_error` — a silently wrong keeper is worse than a failed
    * job. Stays a scan-stage codegen'd conditional; the check runs
    * once per document, not per token. NULL (unparseable) ids pass
    * through as NULL for the caller's quarantine filter. */
  private[graft] def packedDomainId(idCol: String): Column = {
    val id = tryLongId(idCol)
    when(id.isNull, lit(null).cast("long"))
      .when(id >= 0 && id < MaxPackedId, id)
      .otherwise(raise_error(concat(
        lit(s"packed-key id contract: `$idCol` must be in [0, 2^33), got "),
        id.cast("string"))).cast("long"))
  }

  /** Distinct word n-gram shingles of the normalized text. Documents
    * shorter than n tokens contribute their whole token string as a single
    * shingle. */
  def shingleSet(text: Column, n: Int = 3): Column = {
    val toks = Text.tokens(Text.normalized(text))
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " "))))
  }

  /** Shingle set as 60-bit hashes: one md5 per shingle, then everything
    * downstream (minhash, band keys, intersections, joins) works on longs
    * — an order of magnitude cheaper to shuffle and compare than strings.
    * Collision probability at 60 bits is negligible (~n²/2⁶¹).
    *
    * Composable reference form — beware that the higher-order lambdas
    * re-evaluate the tokenization subtree per shingle in interpreted mode
    * (10-80x per-task blowup measured on the shingle stage); the query
    * paths use [[hashedShingleSetNative]], which computes the identical
    * hashes in one pass. Kept as the equivalence-test oracle. */
  def hashedShingleSet(text: Column, n: Int = 3): Column =
    array_distinct(transform(shingleSet(text, n), s => hash60(s)))

  /** [[hashedShingleSet]] via the fused one-pass expression. Identical
    * output. */
  def hashedShingleSetNative(text: Column, n: Int = 3): Column =
    graft.functions.HashedShingles(text, n)

  // MinHash hash family h_i(x) = (a_i * (x mod 2^28) + b_i) mod (2^31-1).
  // Constants are md5-derived (reproducible in SQL); sizes are chosen so
  // a_i * x + b_i < 2^58 — exact in int64 on every engine (DuckDB raises
  // on overflow, Java wraps; neither may be hit).
  val MinhashP: Long = 2147483647L // 2^31 - 1, prime
  val MinhashM: Long = 268435456L // 2^28

  def minhashParams(k: Int): (Seq[Long], Seq[Long]) = (
    (0 until k).map(i => Similarity.hexHash60(s"mh_a,$i") % 1073741824L | 1L),
    (0 until k).map(i => Similarity.hexHash60(s"mh_b,$i") % MinhashP))

  /** MinHash signature (length k) over a hashed-shingle array, composed
    * from built-in higher-order functions. Reference semantics for
    * [[graft.functions.MinhashSig]] (the codegen form used on the hot
    * path); kept as the equivalence-test oracle. */
  def minhashSignature(hashedShingles: Column, k: Int): Column = {
    val (as, bs) = minhashParams(k)
    val aLit = typedLit(as)
    val bLit = typedLit(bs)
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(hashedShingles, h =>
        (element_at(aLit, i + 1) * (h % MinhashM) + element_at(bLit, i + 1)) % MinhashP)))
  }

  /** MinHash signature via the fused codegen expression. Identical
    * output to [[minhashSignature]] for non-empty shingle sets. */
  def minhashSignatureNative(hashedShingles: Column, k: Int): Column =
    graft.functions.MinhashSig(hashedShingles, k)

  /** 32-bit SimHash over the document's distinct token set. Composable
    * reference form (re-derives the hashed token array once per bit in
    * interpreted HOF evaluation — 32x); query paths use
    * [[simhash32Native]]. */
  def simhash32(text: Column): Column = {
    val hs = transform(array_distinct(Text.tokens(Text.normalized(text))),
      t => hash60(t))
    (0 until 32).map { j =>
      val bitSum = aggregate(hs, lit(0L),
        (s, h) => s + (shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** [[simhash32]] via the fused one-pass expression. Identical output. */
  def simhash32Native(text: Column): Column =
    graft.functions.Simhash32(text)

  /** Exact deduplication: group by content hash; each row is annotated
    * with its group's keeper (min id) and multiplicity. Single shuffle on
    * the hash — the canonical 100 TB exact-dedup plan. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    docs.select(col(idCol), Text.docHash(col(textCol)).as("content_hash"))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keep_id"))
  }

  /** Incremental (snapshot) dedup — the daily-increment form of [[exact]].
    * Reduces an incoming batch to its content-new documents: exact dedup
    * *within* the batch (min-id keeper per content hash), then an
    * anti-join against the existing corpus's content hashes.
    *
    * Scale shape: one shuffle of the batch on the content hash (keeper
    * window + anti-join share it), one shuffle of the corpus hash
    * manifest. At 100 TB the corpus side should be a persisted manifest
    * of hashes only — store the `content_hash` column at ingest (it is
    * what [[exact]] already computes), bucket it by hash, and repeated
    * daily runs reshuffle only the day's increment, never the corpus.
    */
  def incrementalNew(
      incoming: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    val batchKeepers = incoming
      .select(col(idCol), Text.docHash(col(textCol)).as("content_hash"))
      .withColumn("_keep", min(col(idCol)).over(w))
      .where(col(idCol) === col("_keep")).drop("_keep")
    val corpusHashes = corpus.select(Text.docHash(col(textCol)).as("content_hash"))
    // shuffle-hash hint: the corpus manifest is corpus-sized — broadcast
    // is scale-wrong (same rationale as the LSH candidate joins)
    batchKeepers.join(corpusHashes.hint("shuffle_hash"), Seq("content_hash"), "left_anti")
  }

  /** Drops rows whose (band, key) bucket holds more than `cap` members —
    * the guard shared by the LSH candidate joins. A bucket of identical
    * documents (boilerplate pages, a constant embedding) produces
    * cap²-quadratic candidate pairs on ONE shuffle key before any verify
    * stage can filter, which is the classic web-scale LSH failure mode.
    * Oversized buckets are rare by construction, so the hot list is tiny
    * and broadcast; with `cap` above the largest real bucket the guard
    * never fires and results are exact. Dropped buckets lose recall only
    * for pairs whose every shared band landed in a hot bucket — run
    * [[exact]] dedup first (see PipelineExample) so identical documents
    * are collapsed before LSH and hot buckets cannot form from exact
    * copies. */
  private[operators] def capBuckets(bk: DataFrame, keyCols: Seq[String], cap: Int,
      stats: Option[CapStats] = None): DataFrame = {
    val hot0 = bk.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_members"))
      .where(col("_members") > cap)
    // the tally rides the (tiny, broadcast) hot list as a side-effecting
    // filter, so observability costs nothing on the corpus-sized side;
    // the caller's eager checkpoint of the capped table means it fires
    // exactly once per operator call
    // NO SILENT CAPS (the repo rule): without CapStats, a genuinely hot
    // bucket would silently drop pairs that existing callers won't
    // notice — so the no-stats path logs each dropped bucket loudly
    // instead. The tally/warn rides the (tiny) hot list only; cost on
    // the corpus-sized side is zero either way.
    val tally = stats match {
      case Some(cs) =>
        udf { members: Long => cs.buckets.add(1L); cs.rows.add(members); true }
      case None =>
        udf { members: Long =>
          org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
            .warn(s"capBuckets: dropping a hot bucket of $members members " +
              s"(cap=$cap) — pairs within it are lost; pass CapStats for " +
              "recall accounting")
          true
        }
    }
    // eager checkpoint so the tally/warn fires exactly once per call,
    // not once per downstream materialization of the capped table
    val hot = hot0.where(tally(col("_members")))
      .select(keyCols.map(col): _*)
      .localCheckpoint()
    bk.join(broadcast(hot), keyCols, "left_anti")
  }

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    * k hashes in `bands` bands of k/bands rows; docs sharing any band key
    * become candidates; candidates are verified against the exact shingle
    * Jaccard and filtered by `threshold`. The band join is an equi-join on
    * (band, key) — at scale, this is the shuffle that replaces the O(n²)
    * cross join. `bucketCap` bounds the members of any one (band, key)
    * bucket (quadratic-candidate guard — see [[capBuckets]]). */
  def minhashLshPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8, threshold: Double = 0.4,
      bucketCap: Int = 100000, capStats: Option[CapStats] = None): DataFrame = {
    val (sh, bandKeys) = shingleBandKeys(docs, idCol, textCol, k, bands, bucketCap, capStats)
    // shuffle-hash hint: the band-key table is the whole corpus — at
    // scale it must co-partition on the key, never broadcast (AQE would
    // otherwise broadcast it whenever it dips under the 10MB threshold,
    // an unstable and scale-wrong plan)
    val cand = bandKeys.as("a")
      .join(bandKeys.as("b").hint("shuffle_hash"),
        col("a._band") === col("b._band") && col("a._bkey") === col("b._bkey") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sh, sh).where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash sketch-accuracy audit — "can I trust the signature as a
    * Jaccard estimator on THIS corpus": over the banded candidate
    * pairs, compares the signature estimate (matching positions / k)
    * against the exact shingle Jaccard and reports the pair count with
    * mean and max absolute error, all in exact integer ppm. The
    * sketch-eval sibling of the ANN recall report (`s12`) — run it
    * before trusting estimate-only dedup at a new k.
    *
    * Band keys here are the band's raw signature-slice string (not the
    * xxhash64 of [[minhashLshPairs]]): the audit has no
    * exact-verify-threshold step to absorb hash-collision candidates,
    * so the candidate set must be a pure function of signature
    * equality for the oracle to reproduce it.
    *
    * Scale shape: same as [[minhashLshPairs]] — the band equi-join is
    * the only corpus-sized shuffle; signatures/shingles join back to
    * the pair table (pair-sized); the report is one aggregate. */
  def minhashErrorAudit(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8,
      bucketCap: Int = 100000, capStats: Option[CapStats] = None): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    val sig = docs
      .select(col(idCol).as("_id"), hashedShingleSetNative(col(textCol)).as("_sh"))
      .withColumn("_sig", minhashSignatureNative(col("_sh"), k))
      .localCheckpoint() // feeds band keys AND both pair-side joins
    val bandCols = array((0 until bands).map { j =>
      concat_ws(",", (j * r until (j + 1) * r)
        .map(i => element_at(col("_sig"), i + 1).cast("string")): _*)
    }: _*)
    // same quadratic-candidate guard as minhashLshPairs; at the default
    // cap it never fires on the oracle corpus (the audit's candidate set
    // stays a pure function of signature equality), while a production
    // corpus of mass-duplicated text degrades gracefully with the drop
    // reported via capStats instead of a quadratic join
    val bk = capBuckets(
      sig.select(col("_id"), posexplode(bandCols))
        .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bkey"),
      Seq("_band", "_bkey"), bucketCap, capStats)
    val cand = bk.as("a")
      .join(bk.as("b").hint("shuffle_hash"),
        col("a._band") === col("b._band") && col("a._bkey") === col("b._bkey") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val sa = sig.select(col("_id").as("id_a"), col("_sig").as("_siga"), col("_sh").as("sh_a"))
    val sb = sig.select(col("_id").as("id_b"), col("_sig").as("_sigb"), col("_sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val nmatch = size(filter(
      zip_with(col("_siga"), col("_sigb"), (x, y) => x === y), b => b)).cast("long")
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(nmatch.as("_nmatch"), inter.as("_inter"),
        size(col("sh_a")).cast("long").as("_na"),
        size(col("sh_b")).cast("long").as("_nb"))
      .select(
        abs(expr(s"(_nmatch * 1000000) div ${k}L") -
          expr("(_inter * 1000000) div (_na + _nb - _inter)")).as("_err"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(_err) div count(1) AS BIGINT)").as("mean_abs_err_ppm"),
        max(col("_err")).as("max_abs_err_ppm"))
  }

  /** Cap-exposure audit — the recall-loss numbers the [[CapStats]]
    * accumulators tally, surfaced as a first-class one-aggregate-per-
    * stage report instead of a driver-side counter read, so a
    * production run's exposure lands in the output artifact. One row
    * per guarded stage:
    *
    *   - `lsh_band`: (band, key) bucket population under `bucketCap`
    *     (the [[minhashLshPairs]]/[[minhashErrorAudit]] guard). Band
    *     keys are the raw signature-slice form (the d17 rule: a pure
    *     function of signature equality, so an external engine can
    *     reproduce the bucket sizes exactly).
    *   - `shingle_df`: shingle document frequency under `dfCap` (the
    *     [[ngramJaccardPairs]] inverted-index guard).
    *   - `idf_shingle_df`: `idfN`-gram shingle document frequency under
    *     `idfDfCap` — the [[idfCosinePairs]] dot-join guard at ITS
    *     defaults (5-gram, cap 16), so the d23 pipeline's recall
    *     exposure is monitored by the same report.
    *
    * Columns: `(stage, cap, n_groups, n_hot_groups, dropped_rows,
    * max_group)` — `n_hot_groups`/`dropped_rows` are exactly what
    * [[capBuckets]] would report via CapStats at the same cap; zero
    * means the guarded operators are exact on this corpus, and
    * `max_group` says how much cap headroom remains. All counters are
    * integers, so the report is bit-identical across engines.
    *
    * Scale shape: two group-by-key aggregates over the exploded
    * band-key / shingle tables (the same shuffles the guarded operators
    * already do), each collapsing to one row — strictly cheaper than
    * any candidate join it audits. */
  /** One-row exposure summary over a `_m`-sized group table — the shared
    * output shape of the cap audits ([[capExposureReport]] /
    * [[embeddingCapExposureReport]]). */
  private def stageReport(stage: String, cap: Int, sizes: DataFrame): DataFrame =
    sizes.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("_m") > cap, 1L).otherwise(0L)).as("n_hot_groups"),
      sum(when(col("_m") > cap, col("_m")).otherwise(0L)).as("dropped_rows"),
      max(col("_m")).as("max_group"))
      .select(lit(stage).as("stage"), lit(cap.toLong).as("cap"),
        col("n_groups"), col("n_hot_groups"), col("dropped_rows"),
        col("max_group"))

  def capExposureReport(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8, bucketCap: Int = 4,
      dfCap: Int = 16, idfN: Int = 5, idfDfCap: Int = 16): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    val sh = docs
      .select(col(idCol).as("_id"), hashedShingleSetNative(col(textCol)).as("_sh"))
      .localCheckpoint() // feeds both stages; see shingleBandKeys scaladoc
    val sig = sh.withColumn("_sig", minhashSignatureNative(col("_sh"), k))
    val bandCols = array((0 until bands).map { j =>
      concat_ws(",", (j * r until (j + 1) * r)
        .map(i => element_at(col("_sig"), i + 1).cast("string")): _*)
    }: _*)
    val bandSizes = sig.select(col("_id"), posexplode(bandCols))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("_m"))
    val dfSizes = sh.select(explode(col("_sh")).as("_s"))
      .groupBy(col("_s")).agg(count(lit(1)).as("_m"))
    val df5Sizes = docs
      .select(explode(hashedShingleSetNative(col(textCol), idfN)).as("_s"))
      .groupBy(col("_s")).agg(count(lit(1)).as("_m"))
    stageReport("lsh_band", bucketCap, bandSizes)
      .unionByName(stageReport("shingle_df", dfCap, dfSizes))
      .unionByName(stageReport("idf_shingle_df", idfDfCap, df5Sizes))
  }

  /** Per-document n-gram novelty: what fraction of a document's distinct
    * shingles appear NOWHERE else in the corpus (document frequency 1) —
    * the memorization/novelty curation signal: near-zero novelty means
    * the document is assembled from corpus-common text (template,
    * boilerplate, near-dup survivor), high novelty means it contributes
    * genuinely new n-grams to the training mix. Exact integer ppm.
    *
    * Scale shape: the same inverted index [[ngramJaccardPairs]] builds,
    * WITHOUT the pair fan-out — one shingle-key shuffle for the df
    * table, one shingle-key join back, one doc-key rollup. No caps
    * needed: per-shingle work is O(df), never O(df²). */
  def shingleNovelty(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs
      .select(col(idCol).as("_id"), explode(hashedShingleSetNative(col(textCol))).as("_s"))
      .localCheckpoint() // feeds the df build AND the join back
    val dfTab = sh.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
    sh.join(dfTab.hint("shuffle_hash"), "_s")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("_id").as(idCol), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_ppm"))
  }

  /** [[capExposureReport]]'s embedding sibling: (band, bucket) occupancy
    * of the SIGN-LSH banding that [[embeddingNearDupPairsAuto]] /
    * [[embeddingNearDupPairs]] generate candidates from, under
    * `bucketCap` — the direct monitor for the failure class the round-6
    * scale rehearsal caught (fixed bucket grids make in-bucket
    * candidates quadratic in occupancy as the corpus grows). The
    * banding audited is exactly the production one: derived from
    * (threshold, targetMiss) by [[bandingForTargetMiss]], same `nd$b:`
    * plane seeds. `max_group` is the early-warning number — when it
    * approaches `bucketCap`, add planes (or raise the cap consciously).
    *
    * Scale shape: the sketch projection is scan-stage codegen; one
    * (band, bucket) group aggregate collapsing to one row. */
  def embeddingCapExposureReport(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, targetMiss: Double = 1e-3,
      bucketCap: Int = 4): DataFrame = {
    val (bands, planes) = bandingForTargetMiss(threshold, targetMiss)
    val q = Similarity.prepare(emb, idCol, vecCol)
    // same fused band-key expression as bandedPairsOn — the audit must
    // see the production banding's exact bucket population
    val bandCols = graft.functions.SignBands.bandKeys(
      col("_q"), (0 until bands).map(b => s"nd$b:"), planes)
    val sizes = q.select(col("_id"), posexplode(bandCols))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("_m"))
    stageReport("emb_lsh_band", bucketCap, sizes)
  }

  /** Shared front half of the MinHash-LSH operators: hashed shingle sets
    * and capped (band, key) rows for every document.
    *
    * The shingle sets and band keys are each consumed by several branches
    * of the candidate/verify DAG (both sides of the candidate joins). A
    * lazy persist() is not enough: in a cold single-action run the
    * branches race the cache population and re-derive the whole
    * tokenize→hash→minhash pipeline per branch — measured 25× slowdown at
    * sf0.1. localCheckpoint() materializes eagerly (MEMORY_AND_DISK) and
    * cuts lineage, making the fast path unconditional; blocks are freed
    * by the ContextCleaner when the result is garbage-collected. On a
    * multi-node cluster with executor loss, swap for a reliable
    * checkpoint dir. */
  private def shingleBandKeys(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, bucketCap: Int,
      capStats: Option[CapStats] = None): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    // band key = xxhash64 of the band's r signature values — native fixed
    // args, no per-row string building + md5. Only key *equality* matters
    // for candidate generation, so the Spark-side hash need not match the
    // oracle's (collisions are filtered by the exact-jaccard verify).
    val bandCols = array((0 until bands).map { j =>
      xxhash64((j * r until (j + 1) * r).map(i => element_at(col("_sig"), i + 1)): _*)
    }: _*)
    // ONE materialization carries shingles AND the folded band-key array:
    // previously the capBuckets hot-list job and the band-key checkpoint
    // each re-evaluated the lazy sig projection, computing the k-hash
    // minhash signature twice per corpus; now shingle + signature + band
    // keys run once and both downstream tables read blocks (+bands·8
    // bytes/row of block storage, the signature itself is not stored)
    val shb = docs
      .select(col(idCol).as("_id"), hashedShingleSetNative(col(textCol)).as("_sh"))
      .withColumn("_sig", minhashSignatureNative(col("_sh"), k))
      .withColumn("_bands", bandCols)
      .drop("_sig")
      .localCheckpoint()
    val sh = shb.select(col("_id"), col("_sh"))
    // NOTE (round 14 negative result, kept so round 15 doesn't retry):
    // a PINNED (band, key) layout here — repartition(N, _band, _bkey) +
    // persist, eagerly materialized — deletes the hot-list aggregate's
    // exchange and both self-join exchanges from the plan, but measured
    // WORSE at sf0.1 (d6 2.0-2.4 → 3.4-4.0 s, d10 2.0-2.2 → 2.9-3.2 s,
    // +125 tasks): the columnar cache build plus fixed 32-partition
    // join stages cost more than the AQE-coalesced (1-3 task) exchanges
    // they replace. Same regime-dependence as the r13 iterative-table
    // experiment — at 100 TB the deleted exchanges are corpus-sized and
    // the verdict flips, but that needs a cluster-scale measurement.
    val bandKeys = capBuckets(
      shb.select(col("_id"), posexplode(col("_bands")))
        .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bkey"),
      Seq("_band", "_bkey"), bucketCap, capStats)
      .localCheckpoint()
    (sh, bandKeys)
  }

  /** The frozen accepted-corpus near-dup manifest — (shingle sets,
    * band keys) exactly as the [[incrementalNearDupNew]] screens derive
    * them, exposed for ingest-time gates
    * ([[graft.streaming.StreamingNearDup]]): built ONCE when a corpus
    * version is accepted, persisted at rest bucketed by (band, key),
    * amortized over every future batch/stream (the d8→d31 freeze
    * discipline). Schemas: shingles `(_id, _sh)`, bands
    * `(_id, _band, _bkey)`. */
  def nearDupManifest(
      corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8,
      bucketCap: Int = 100000): (DataFrame, DataFrame) =
    shingleBandKeys(corpus, idCol, textCol, k, bands, bucketCap)

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the two sides' shingle-set tables. */
  private def verifyJaccard(
      cand: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame = {
    val setsA = shA.select(col("_id").as("id_a"), col("_sh").as("sh_a"))
    val setsB = shB.select(col("_id").as("id_b"), col("_sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    cand.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("jaccard",
        inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
  }

  /** Incremental near-dup dedup — the near-dup analogue of
    * [[incrementalNew]]: reduces an incoming batch to documents that are
    * near-duplicates of nothing. A batch document survives iff it has
    * (1) no smaller-id near-dup within the batch (the parallel one-shot
    * keeper rule — deterministic and order-free, unlike a sequential
    * greedy which cannot be expressed as a single relational pass) and
    * (2) no near-dup at all in the existing corpus.
    *
    * Scale shape: both screens are (band, key) equi-joins with the
    * corpus side shuffle-hash-hinted — the corpus is corpus-sized and
    * must never be broadcast. At 100 TB the corpus's shingle sets and
    * band keys are a persisted manifest computed once at ingest (they
    * are exactly what [[minhashLshPairs]] derives), bucketed by
    * (band, key); daily runs then reshuffle only the day's increment,
    * mirroring the content-hash manifest note on [[incrementalNew]]. */
  def incrementalNearDupNew(
      incoming: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8, threshold: Double = 0.4,
      bucketCap: Int = 100000): DataFrame = {
    val (shInc, bandsInc) = shingleBandKeys(incoming, idCol, textCol, k, bands, bucketCap)
    val (shCor, bandsCor) = shingleBandKeys(corpus, idCol, textCol, k, bands, bucketCap)
    // screen 1: within-batch — any doc appearing as the larger id of a
    // verified pair has a smaller-id near-dup (checkpointed tables are
    // shared with screen 2, so the batch is shingled exactly once)
    val innerCand = bandsInc.as("a")
      .join(bandsInc.as("b").hint("shuffle_hash"),
        col("a._band") === col("b._band") && col("a._bkey") === col("b._bkey") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val innerDups = verifyJaccard(innerCand, shInc, shInc)
      .where(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    // screen 2: batch × corpus-manifest candidates, exact-jaccard verify
    val crossCand = bandsInc.as("a")
      .join(bandsCor.as("b").hint("shuffle_hash"),
        col("a._band") === col("b._band") && col("a._bkey") === col("b._bkey"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val crossDups = verifyJaccard(crossCand, shInc, shCor)
      .where(col("jaccard") >= threshold)
      .select(col("id_a").as(idCol)).distinct()
    incoming.join(innerDups.hint("shuffle_hash"), Seq(idCol), "left_anti")
      .join(crossDups.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Per-document admission VERDICTS for the [[incrementalNearDupNew]]
    * screens — the audit form: instead of silently dropping, report
    * for every incoming document whether it has a verified near-dup in
    * the frozen corpus (`corpus_dup`) and/or a smaller-id near-dup
    * within the batch (`batch_dup`). The keeper set is exactly the
    * rows with both flags false (asserted equal to
    * [[incrementalNearDupNew]] in `Round12OpsSpec`), but the flags are
    * what a release audit rolls up: how much of each source was
    * rejected, and WHY — the dataset-card number published beside an
    * ingest gate's policy (d38).
    *
    * Same plan discipline as the keeper form: both screens are
    * (band, key) equi-joins with every corpus-sized side
    * shuffle-hash-hinted, never broadcast; the verdict attach is two
    * left joins of rejection-sized sets back onto the incoming ids.
    * Output: `(idCol, corpus_dup, batch_dup)`. */
  def incrementalNearDupVerdicts(
      incoming: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8, threshold: Double = 0.4,
      bucketCap: Int = 100000): DataFrame = {
    val (shInc, bandsInc) = shingleBandKeys(incoming, idCol, textCol, k, bands, bucketCap)
    val (shCor, bandsCor) = shingleBandKeys(corpus, idCol, textCol, k, bands, bucketCap)
    val innerCand = bandsInc.as("a")
      .join(bandsInc.as("b").hint("shuffle_hash"),
        col("a._band") === col("b._band") && col("a._bkey") === col("b._bkey") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val innerDups = verifyJaccard(innerCand, shInc, shInc)
      .where(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("_bd", lit(true))
    val crossCand = bandsInc.as("a")
      .join(bandsCor.as("b").hint("shuffle_hash"),
        col("a._band") === col("b._band") && col("a._bkey") === col("b._bkey"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val crossDups = verifyJaccard(crossCand, shInc, shCor)
      .where(col("jaccard") >= threshold)
      .select(col("id_a").as(idCol)).distinct()
      .withColumn("_cd", lit(true))
    incoming.select(col(idCol))
      .join(crossDups.hint("shuffle_hash"), Seq(idCol), "left")
      .join(innerDups.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_cd"), lit(false)).as("corpus_dup"),
        coalesce(col("_bd"), lit(false)).as("batch_dup"))
  }

  /** Exact n-gram Jaccard pairs via shingle inverted index (explode →
    * equi-join on shingle → count co-occurrences). No false negatives,
    * cost bounded by shingle document frequency — the standard exact
    * alternative to MinHash when shingle frequencies are tame. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.3, dfCap: Int = 100000,
      capStats: Option[CapStats] = None): DataFrame =
    shinglePairCounts(docs, idCol, textCol, n, dfCap, capStats)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Exact Jaccard-threshold pairs via PREFIX FILTERING — the
    * AllPairs/PPJoin candidate rule (Bayardo, Ma & Srikant, WWW'07;
    * Xiao et al., WWW'08): under any global token order, two sets with
    * `|A∩B| ≥ α` must share a token inside their first
    * `|X| − α + 1` tokens (pigeonhole), and `J(A,B) ≥ τ` implies
    * `|A∩B| ≥ ⌈τ·max(|A|,|B|)⌉`. So indexing only each document's
    * `|S| − ⌈τ|S|⌉ + 1` RAREST shingles (global df-ascending order,
    * ties by shingle hash) and equi-joining on those is LOSSLESS for
    * pairs at or above τ — unlike MinHash-LSH there is no recall
    * contract to audit, and unlike the full inverted index
    * ([[ngramJaccardPairs]]) only a (1−τ) fraction of each document is
    * indexed, and it is precisely the low-df fraction, so join fan-out
    * is bounded by RARE-token document frequencies. The higher the
    * threshold, the shorter the prefix — at τ=0.9 only ~10% of each
    * set is indexed. The oracle for this operator is the brute-force
    * all-pairs truth, so the hash gate doubles as the losslessness
    * proof.
    *
    * The prefix length `|S| − ⌈τ|S|⌉ + 1` is computed in exact integer
    * arithmetic (`⌈τn⌉ = (τ_micro·n + 999999) div 1e6` with τ
    * micro-quantized), so both engines cut identical prefixes.
    *
    * Scale shape: one df aggregate (vocabulary-sized, shingle-key
    * equi-join back — never broadcast), per-doc array sort (bounded by
    * document length), prefix equi-join with the shuffle-hash hint
    * ([[shinglePairCounts]]'s rule), then exact verification of the
    * distinct candidates against the checkpointed shingle sets.
    */
  def prefixFilterJaccardPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 5, threshold: Double = 0.6): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val tauMicro = math.round(threshold * 1000000)
    val sh = docs.select(col(idCol).as("_id"),
        hashedShingleSetNative(col(textCol), n).as("_sh"))
      .localCheckpoint()
    val ex = sh.select(col("_id"), explode(col("_sh")).as("_s"))
    // vocabulary-sized df table: shuffle-hash on the shingle key, never
    // broadcast (the t9/t10 rule — vocabulary grows with the corpus)
    val dfreq = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
      .hint("shuffle_hash")
    // per-doc tokens in (df asc, hash asc) global rarity order; the
    // struct sort is deterministic because shingles are unique per doc
    val sorted = ex.join(dfreq, Seq("_s"))
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_df"), col("_s")))).as("_ts"))
      .select(col("_id"), expr("transform(_ts, x -> x._s)").as("_toks"))
    val pex = sorted
      .select(col("_id"), expr(
        s"slice(_toks, 1, CAST(size(_toks) - ((CAST(size(_toks) AS BIGINT)" +
          s" * $tauMicro + 999999) div 1000000) + 1 AS INT))").as("_pfx"))
      .select(col("_id"), explode(col("_pfx")).as("_s"))
    val cand = pex.as("a")
      .join(pex.as("b").hint("shuffle_hash"),
        col("a._s") === col("b._s") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sh, sh)
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** IDF-weighted shingle-cosine similarity pairs — the WEIGHTED
    * complement of [[ngramJaccardPairs]]: Jaccard counts every shared
    * shingle equally; idf-weighted cosine scores overlap by how
    * DISCRIMINATIVE the shared shingles are, so two docs sharing a
    * site-wide boilerplate paragraph (high-df shingles) rank below two
    * docs sharing rare content. Weighting at the SHINGLE level (not
    * unigram terms) is what keeps the inverted index scale-safe: word
    * vocabularies are small and Zipfian — a unigram index fans out
    * quadratically on "the" — while n-gram shingles are near-unique,
    * so join fan-out tracks true near-dup structure (the d4 lesson,
    * now weighted).
    *
    * Engine-exact: per (doc, shingle) weight is
    * `round₆(ln((N+1)/(df+1)) + 1)` micro-quantized to an integer, so
    * dots and squared norms are exact DECIMAL sums; doubles appear
    * only in the final `dot/(√n2a·√n2b)` and the threshold compares
    * the ROUNDED cosine.
    *
    * Scale shape: one shingle pass (checkpointed, shared by df and
    * join sides), df table joins back shuffle-hash (vocabulary-sized,
    * never broadcast), inverted-index self-join with the
    * [[shinglePairCounts]] hot-key discipline — shingles with
    * df > dfCap are dropped from the DOT while norms keep every
    * shingle, so a capped pair's cosine is a (tight) lower bound; the
    * bound is TIGHT precisely because a high-df shingle's idf weight is
    * the smallest in the vector, so the default cap sits at the
    * [[capExposureReport]] audit's 16 (at production scale a single
    * boilerplate shingle near a loose cap contributes df² candidate
    * pairs — 10¹⁰ at df=10⁵). Drops are OBSERVABLE, not silent: pass a
    * [[CapStats]] and each hot shingle tallies (1 bucket, df rows) once
    * per successful task at construction time, same contract as
    * [[ngramJaccardPairs]]. Two caveats inherent to Spark accumulators:
    * the tally is BEST-EFFORT under task retries/speculation (a retried
    * task can double-count — use the numbers as an audit signal, not an
    * exact ledger), and when `capStats` is set, CONSTRUCTING the
    * returned DataFrame runs one small Spark job eagerly (the tally's
    * localCheckpoint) before any action on the result.
    *
    * Output: `(id_a, id_b, cos_sim)` for pairs at or above `threshold`.
    */
  def idfCosinePairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 5, threshold: Double = 0.8, dfCap: Int = 16,
      capStats: Option[CapStats] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val sh = docs.select(col(idCol).as("_id"),
        hashedShingleSetNative(col(textCol), n).as("_sh"))
      .localCheckpoint()
    val ex = sh.select(col("_id"), explode(col("_sh")).as("_s"))
    val dfs = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
    val nDocs = sh.select(countDistinct(col("_id")).as("_nd"))
    val wt = ex.join(dfs.hint("shuffle_hash"), "_s")
      .crossJoin(broadcast(nDocs))
      .withColumn("_w", expr(
        "CAST(round(round(ln((CAST(_nd AS DOUBLE) + 1)" +
          " / (CAST(_df AS DOUBLE) + 1)) + 1, 6) * 1000000) AS BIGINT)"))
      .select(col("_id"), col("_s"), col("_df"), col("_w"))
      .localCheckpoint()
    val norms = wt.groupBy(col("_id"))
      .agg(sum(col("_w").cast("decimal(38,0)") * col("_w")).as("_n2"))
    // observability for the hot-shingle drop: tally each shingle over
    // the cap once per successful task. Reads the CHECKPOINTED wt (dfs
    // is not checkpointed — filtering it would replay the full corpus df
    // aggregate just to bump two counters); the re-aggregate on _s
    // collapses wt's per-(doc, shingle) rows back to one row per hot
    // shingle, and the nondeterministic filter cannot be pushed below
    // it. Like all Spark accumulators the count is best-effort under
    // task retry/speculation — an audit signal, not an exact ledger.
    capStats.foreach { cs =>
      val tally = udf { d: Long => cs.buckets.add(1L); cs.rows.add(d); true }
        .asNondeterministic()
      wt.where(col("_df") > dfCap)
        .groupBy(col("_s")).agg(first(col("_df")).as("_hdf"))
        .where(tally(col("_hdf")))
        .select(col("_s")).localCheckpoint()
    }
    val pruned = wt.where(col("_df") <= dfCap)
    val dots = pruned.as("a")
      .join(pruned.as("b").hint("shuffle_hash"),
        col("a._s") === col("b._s") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(sum(col("a._w").cast("decimal(38,0)") * col("b._w")).as("_dot"))
    dots
      .join(norms.select(col("_id").as("id_a"), col("_n2").as("_na")), "id_a")
      .join(norms.select(col("_id").as("id_b"), col("_n2").as("_nb")), "id_b")
      .withColumn("cos_sim", round(col("_dot").cast("double") /
        (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))), 6))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Asymmetric containment near-dup pairs: score = |A ∩ B| / min(|A|, |B|)
    * — the shingle containment of the SMALLER document in the larger.
    * Catches excerpt/quote/prefix duplication that symmetric Jaccard
    * structurally misses: a 200-char excerpt of a 2000-char page scores
    * jaccard ≈ 0.1 but containment 1.0. This is the containment screen
    * web-corpus pipelines run alongside [[ngramJaccardPairs]] (same
    * inverted-index plan shape, hot-shingle guard, and exactness
    * properties; only the normalizer differs). */
  def containmentPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.9, dfCap: Int = 100000,
      capStats: Option[CapStats] = None): DataFrame =
    shinglePairCounts(docs, idCol, textCol, n, dfCap, capStats)
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))

  /** Shared inverted-index core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: hashed shingle sets → explode → hot-shingle
    * prune → self equi-join on the shingle → per-pair co-occurrence
    * count. Returns (id_a, id_b, n_a, n_b, inter) with id_a < id_b. */
  private def shinglePairCounts(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, dfCap: Int, capStats: Option[CapStats]): DataFrame = {
    // materialize the compact per-doc shingle arrays once, eagerly (see
    // minhashLshPairs); the exploded view is re-derived from the
    // checkpointed arrays per consumer — exploding cached arrays is
    // cheap, and identical exchange subtrees are computed once anyway
    // (ReusedExchange), while checkpointing the exploded table itself
    // holds |shingles| rows in block storage for the whole query
    val sh = docs.select(col(idCol).as("_id"), hashedShingleSetNative(col(textCol), n).as("_sh"))
      .localCheckpoint()
    val ex = sh.select(col("_id"), size(col("_sh")).as("_n"), explode(col("_sh")).as("_s"))
    // Hot-shingle guard: a shingle present in more than dfCap documents
    // (boilerplate at web scale) fans the inverted-index join out
    // quadratically on a single shuffle key. Ubiquitous shingles carry no
    // dedup signal, so they are dropped before the join; for pairs that
    // shared a dropped shingle the jaccard becomes a (tight) lower bound.
    // With near-unique shingles the cap never fires and results are exact.
    val hot0 = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
      .where(col("_df") > dfCap)
    val hot = capStats match {
      case Some(cs) =>
        val tally = udf { d: Long => cs.buckets.add(1L); cs.rows.add(d); true }
        // eager checkpoint: the hot list feeds broadcasts on BOTH sides of
        // the self-join below — materializing it once keeps the tally
        // exactly-once instead of depending on ReusedExchange
        hot0.where(tally(col("_df"))).select(col("_s")).localCheckpoint()
      case None => hot0.select(col("_s"))
    }
    val pruned = ex.join(broadcast(hot), Seq("_s"), "left_anti")
    // shuffle-hash hint: the inverted index is corpus-sized — broadcast
    // is scale-wrong and measurably unstable (see minhashLshPairs)
    pruned.as("a").join(pruned.as("b").hint("shuffle_hash"),
        col("a._s") === col("b._s") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a._n").as("n_a"), col("b._n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Embedding-cosine near-duplicate pairs via banded sign-LSH candidate
    * generation + exact cosine verification — the 100 TB plan shape: a
    * (band, bucket) equi-join replaces the O(n²) all-pairs cross join.
    *
    * `bands` independent sign-sketches of `planesPerBand` hyperplanes
    * each; two vectors become a candidate pair when ANY band's full
    * bucket id matches. For a pair at angle θ the miss probability is
    * (1-(1-θ/π)^p)^b — with the defaults (8×8) and cos ≥ 0.95 (θ/π ≤
    * 0.103) it is < 1e-3, and for the near-identical pairs dedup targets
    * (cos ≥ 0.99) effectively zero. Candidates are verified with the
    * exact quantized-integer cosine, so false positives never surface.
    * `bucketCap` bounds any one (band, bucket)'s members (quadratic-
    * candidate guard — see [[capBuckets]]).
    */
  /** Derives the (bands, planesPerBand) pair for [[embeddingNearDupPairs]]
    * from a target miss probability at the caller's cosine threshold,
    * instead of guessing a grid. For a pair exactly at `threshold`
    * (angle θ = acos(threshold)) a plane agrees with probability
    * 1 - θ/π, a band of p planes matches with (1-θ/π)^p, and b bands
    * miss with `(1 - (1-θ/π)^p)^b ≤ targetMiss`. Pairs above the
    * threshold miss strictly less often.
    *
    * The search prefers the DEEPEST band (largest p) whose required band
    * count fits `maxBands`: p controls bucket granularity — each extra
    * plane roughly halves bucket occupancy, and candidate verification
    * cost is quadratic in occupancy — while b only multiplies the cheap
    * linear explode.
    *
    * SCALE LIMIT, measured at the round-10 4th octave (SCALE.md): any
    * FIXED grid saturates its 2^p buckets as the corpus grows (d5's
    * 35×16: 57k → 121M candidate pairs at sf0.1 → 100×, quadratic),
    * and deriving p from the corpus count does NOT fix it — sign-LSH
    * buckets over clustered embeddings are skewed, so expected-
    * occupancy depths undershoot the hot buckets, and the depth that
    * would shed the clustered background needs thousands of bands
    * under the same miss target (a derived-depth variant was built,
    * verified recall-exact, measured 1.6× WORSE at 100×, and
    * rejected). For clustered corpora at web scale the near-dup
    * candidate limiter is the trained-cells route —
    * [[semDedupByCellSize]] (same threshold semantics, measured
    * corpus-linear at 100× on the identical corpus); this banding is
    * the recall-certified pair miner for small-to-moderate scale. */
  def bandingForTargetMiss(
      threshold: Double, targetMiss: Double,
      maxPlanes: Int = 16, maxBands: Int = 64): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1): $threshold")
    require(targetMiss > 0.0 && targetMiss < 1.0,
      s"targetMiss must be in (0,1): $targetMiss")
    val agree = 1.0 - math.acos(threshold) / math.Pi
    val fits = (maxPlanes to 1 by -1).iterator.map { p =>
      val bandHit = math.pow(agree, p)
      val b = math.max(1, math.ceil(math.log(targetMiss) / math.log1p(-bandHit)).toInt)
      (b, p)
    }.find(_._1 <= maxBands)
    fits.getOrElse((maxBands, 1))
  }

  /** Corpus bound for the FIXED-GRID banded pair miner, from the
    * round-10 4th-octave measurement (SCALE.md): at ~1.8M vectors
    * (30×) the 2¹⁶-bucket grid produced 12.2M candidates; at ~6M
    * (100×) it saturated — 121M candidates, 125 s, quadratic — while
    * the trained-cells route handled the identical corpus in 24.4 s.
    * Below this bound the banding's explicit recall contract
    * (miss ≤ targetMiss at the threshold) is worth its cost; above it
    * the auto router delegates to trained cells. */
  val MaxBandedCorpus: Long = 2000000L

  /** Near-dup pair mining with the route derived from the CORPUS, not
    * just the recall target. At or below `maxBandedCorpus` rows
    * (default [[MaxBandedCorpus]], a MEASURED bound — see its doc):
    * the fixed sign-LSH grid from [[bandingForTargetMiss]], which
    * carries an explicit recall certificate ("miss at most
    * `targetMiss` of pairs at the threshold"). Above it: the
    * trained-cells route ([[embeddingNearDupPairsTrained]] — the d32
    * production discipline), whose candidate budget stays
    * corpus-linear because cell count grows with N; its recall
    * contract is SemDeDup's in-cell rule (near-identical vectors land
    * in the same trained cell) rather than a closed-form bound —
    * the honest trade at web scale, where the fixed grid's 2¹⁶
    * buckets are measured-quadratic. The branch costs one `count()`
    * over the prepared (checkpointed) corpus, which the chosen route
    * reuses. */
  def embeddingNearDupPairsAuto(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, targetMiss: Double = 1e-3,
      bucketCap: Int = 100000, capStats: Option[CapStats] = None,
      maxBandedCorpus: Long = MaxBandedCorpus): DataFrame = {
    val q = Similarity.prepare(emb, idCol, vecCol).localCheckpoint()
    val n = q.count()
    if (n <= maxBandedCorpus) {
      val (bands, planes) = bandingForTargetMiss(threshold, targetMiss)
      bandedPairsOn(q, threshold, bands, planes, bucketCap, capStats)
    } else trainedPairsOn(q, threshold, knownCount = Some(n))
  }

  /** Trained-cells near-dup PAIR miner — [[semDedupByCellSize]]'s
    * candidate discipline (derived k = ⌈N/targetCellSize⌉, two-level
    * coarse→fine assignment, in-cell equi-join) emitting verified
    * pairs instead of applying the keeper rule. This is the
    * production-scale twin of [[embeddingNearDupPairs]]: candidate
    * work is Σ n_c² ≈ N·⟨cell⟩ (corpus-LINEAR at fixed
    * `targetCellSize`) at any corpus size, vs the fixed grid's
    * measured-quadratic saturation past [[MaxBandedCorpus]]. */
  def embeddingNearDupPairsTrained(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, targetCellSize: Long = 1024,
      iters: Int = 2): DataFrame =
    trainedPairsOn(Similarity.prepare(emb, idCol, vecCol).localCheckpoint(),
      threshold, targetCellSize, iters)

  private def trainedPairsOn(
      q: DataFrame, threshold: Double, targetCellSize: Long = 1024,
      iters: Int = 2, knownCount: Option[Long] = None): DataFrame = {
    require(targetCellSize > 0,
      s"targetCellSize must be positive, got $targetCellSize")
    // the auto router already counted the checkpointed corpus — reuse
    val n = knownCount.getOrElse(q.count())
    val k = math.min(((n + targetCellSize - 1) / targetCellSize).max(1L),
      Int.MaxValue.toLong).toInt
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = (k + k1 - 1) / k1
    val cells = Similarity.trainTwoLevelCellsOn(q, k1, k2, iters)
    val base = q.join(cells, "_id").localCheckpoint()
    val a = base.select(col("_cell"), col("_id").as("id_a"),
      col("_q").as("_qa"), col("_n2").as("_n2a"))
    val b = base.select(col("_cell"), col("_id").as("id_b"),
      col("_q").as("_qb"), col("_n2").as("_n2b"))
    a.join(b.hint("shuffle_hash"), Seq("_cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineFrom(
          Similarity.dotQ(col("_qa"), col("_qb")),
          col("_n2a"), col("_n2b")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, bands: Int = 8, planesPerBand: Int = 8,
      bucketCap: Int = 100000, capStats: Option[CapStats] = None): DataFrame =
    bandedPairsOn(Similarity.prepare(emb, idCol, vecCol).localCheckpoint(),
      threshold, bands, planesPerBand, bucketCap, capStats)

  private def bandedPairsOn(
      q: DataFrame, threshold: Double, bands: Int, planesPerBand: Int,
      bucketCap: Int, capStats: Option[CapStats]): DataFrame = {
    // all band keys in ONE fused codegen loop — the 35×16-grid when-chain
    // form overflowed codegen's method budget and ran interpreted,
    // measured as d5's dominant stage (see functions.SignBands)
    val bandCols = graft.functions.SignBands.bandKeys(
      col("_q"), (0 until bands).map(b => s"nd$b:"), planesPerBand)
    val bk = capBuckets(
      q.select(col("_id"), posexplode(bandCols))
        .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bb"),
      Seq("_band", "_bb"), bucketCap, capStats)
      .localCheckpoint()
    val cand = bk.as("x").join(bk.as("y").hint("shuffle_hash"),
        col("x._band") === col("y._band") && col("x._bb") === col("y._bb") &&
          col("x._id") < col("y._id"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .distinct()
    val qa = q.select(col("_id").as("id_a"), col("_q").as("_qa"), col("_n2").as("_n2a"))
    val qb = q.select(col("_id").as("id_b"), col("_q").as("_qb"), col("_n2").as("_n2b"))
    cand.join(qa, "id_a").join(qb, "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosineFrom(
          Similarity.dotQ(col("_qa"), col("_qb")),
          col("_n2a"), col("_n2b")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space with k-means, then compare vectors only
    * WITHIN their cluster and drop every vector that has a lower-id
    * in-cluster neighbor at cosine ≥ `threshold`. The clustering replaces
    * the LSH banding of [[embeddingNearDupPairs]] as the candidate
    * limiter: per-cluster candidate sets make the pairwise step
    * Σ n_c² instead of N², and the keeper rule (smallest id wins) is the
    * same deterministic first-occurrence contract as [[exact]] /
    * [[spanDedup]].
    *
    * Scale shape: the training loop is [[Similarity.trainIvfCells]]'s
    * broadcast+2-agg per iteration; the candidate step is a self-join on
    * the cell id (shuffle-hash — a cluster never broadcasts its own
    * corpus); the anti-join drops dups without moving survivors' vectors.
    * `k` bounds the expected cluster size — at production scale use
    * [[semDedupByCellSize]], which derives k ≈ N/⟨cell⟩ from one count
    * so the in-cell pair budget holds as N grows (the SemDeDup paper
    * uses tens of thousands of clusters for web-scale corpora) AND
    * assigns through [[Similarity.trainTwoLevelCellsOn]]'s hierarchical
    * coarse→fine probe so assignment arithmetic is N·O(√k) instead of
    * the flat trainer's N·k; cap runaway cells the same way
    * [[embeddingNearDupPairs]] caps hot buckets.
    *
    * Returns the survivors as `(idCol, cell)`. */
  def semDedupByCellSize(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Long = 1024, iters: Int = 2,
      threshold: Double = 0.95): DataFrame = {
    require(targetCellSize > 0,
      s"targetCellSize must be positive, got $targetCellSize")
    // k ∝ N: one count derives k = ⌈N/targetCellSize⌉, so the expected
    // cell occupancy — and with it the in-cell pair work Σ n_c² ≈ N·⟨cell⟩
    // — stays CONSTANT per document as the corpus grows (the pinned-k
    // form measured 4.5× at 10× data in the round-6 rehearsal precisely
    // because occupancy grew 10×). This is the production rule the
    // fixed-k scaladoc documents; the fixed-k form remains for
    // oracle-pinned comparisons.
    //
    // ASSIGNMENT is two-level ([[Similarity.trainTwoLevelCellsOn]]):
    // at derived k, FLAT Lloyd assignment is N·k = N²/⟨cell⟩ exact dot
    // products — quadratic arithmetic the round-9 100× octave measured
    // as the one plan in the repo that would not ship at scale (491.9 s
    // at 100×, 21.7× wall for the 11.1×-arithmetic 30→100 step). The
    // k1 = ⌈√k⌉ coarse / k2 = ⌈k/k1⌉ fine split keeps the cell-count
    // rule (k1·k2 ≥ k cells, occupancy still ⟨cell⟩ in expectation, so
    // the in-cell pair join stays corpus-linear) while assignment
    // arithmetic drops to N·O(√k): at N = 10¹⁰, ~10¹² dots instead of
    // ~10¹⁷. The prepared corpus is checkpointed once; the derived-k
    // count rides that materialization.
    val base = Similarity.prepare(emb, idCol, vecCol).localCheckpoint()
    val n = base.count()
    val k = math.min(((n + targetCellSize - 1) / targetCellSize).max(1L),
      Int.MaxValue.toLong).toInt
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = (k + k1 - 1) / k1
    val cells = Similarity.trainTwoLevelCellsOn(base, k1, k2, iters)
    semDedupInCells(base, cells, idCol, threshold)
  }

  def semDedup(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 8, iters: Int = 2, threshold: Double = 0.95): DataFrame = {
    // prepare ONCE: trainer and in-cell screen share one materialized
    // corpus projection (the ivfTopKSelfTrained rule — the old shape
    // paid a second full-corpus quantize for the screen side); the
    // trainer chain stays lazy (ckptEvery > iters) and executes inside
    // the screen's own base⋈cells materialization job
    val base = Similarity.prepare(emb, idCol, vecCol).localCheckpoint()
    val cells = Similarity.trainIvfCellsOn(base, k, iters,
      ckptEvery = iters + 1)
    semDedupInCells(base, cells, idCol, threshold)
  }

  /** The SemDeDup keeper rule over a prepared corpus and a cell
    * assignment (shared by the flat-k and two-level forms): compare
    * vectors only within their cell, drop every vector with a lower-id
    * in-cell neighbor at cosine ≥ `threshold`. */
  private def semDedupInCells(
      prepared: DataFrame, cells: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val base = prepared.join(cells, "_id").localCheckpoint()
    val a = base.select(col("_cell"), col("_id").as("id_a"),
      col("_q").as("_qa"), col("_n2").as("_n2a"))
    val b = base.select(col("_cell"), col("_id").as("id_b"),
      col("_q").as("_qb"), col("_n2").as("_n2b"))
    val dups = a.join(b.hint("shuffle_hash"), Seq("_cell"))
      .where(col("id_a") < col("id_b"))
      .where(Similarity.cosineFrom(
        Similarity.dotQ(col("_qa"), col("_qb")),
        col("_n2a"), col("_n2b")) >= threshold)
      .select(col("id_b").as("_dup")).distinct()
    base.join(dups, col("_id") === col("_dup"), "left_anti")
      .select(col("_id").as(idCol), col("_cell").as("cell"))
  }

  /** Incremental (frozen-index) SemDeDup — the form a production
    * pipeline actually runs day-to-day: the accepted corpus's k-means
    * index is built ONCE ([[Similarity.trainIvfCentersOn]] — an index
    * build ends with a mean update; its cost amortizes over every
    * future batch), then each incoming batch is assigned against the
    * frozen centers and screened in-cell, WITHOUT ever re-clustering
    * or re-shuffling the accepted corpus. The batch-side twin of
    * [[incrementalNearDupNew]], with [[semDedup]]'s cosine keeper rule.
    *
    * Keeper rule: a new vector is dropped iff its cell holds an
    * ACCEPTED vector at cosine ≥ `threshold` (already represented), or
    * a LOWER-ID new vector at cosine ≥ `threshold` (first occurrence
    * within the batch wins — [[exact]]'s contract). Survivors are
    * returned as `(idCol, cell)`; accepted vectors are never dropped
    * (they were admitted by prior batches' screens).
    *
    * Scale shape: one training pass over the corpus (the amortized
    * index build), then per batch: two broadcast assignments against
    * the k-row center table (pinned k — at derived k swap in
    * [[Similarity.trainTwoLevelCellsOn]]'s coarse→fine probe exactly as
    * [[semDedupByCellSize]] does), one cell equi-join of the batch
    * against the corpus (shuffle-hash — the corpus is hash-partitioned
    * by cell and NEVER broadcast; at a stable cell layout it can be
    * pre-bucketed so only the batch moves), and one in-cell self-join
    * of the batch against itself (batch-sized, bounded by occupancy).
    */
  def semDedupIncrementalNew(
      newEmb: DataFrame, corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 8, iters: Int = 2, threshold: Double = 0.95): DataFrame = {
    val ob = Similarity.prepare(corpus, idCol, vecCol).localCheckpoint()
    val cents = Similarity.trainIvfCentersOn(ob, k, iters)
    def assign(b: DataFrame): DataFrame = {
      val a = b.crossJoin(broadcast(cents))
        .withColumn("_dist2",
          col("_n2") + col("_cn2") -
            lit(2L) * Similarity.dotQ(col("_q"), col("_cvec")))
        .groupBy(col("_id"))
        .agg(min_by(col("_cell"), struct(col("_dist2"), col("_cell")))
          .as("_cell"))
      b.join(a, "_id")
    }
    val nb = Similarity.prepare(newEmb, idCol, vecCol).localCheckpoint()
    incrementalScreen(assign(ob), assign(nb).localCheckpoint(), idCol,
      threshold)
  }

  /** Derived-k, frozen TWO-LEVEL-index incremental SemDeDup — the form
    * that survives corpus growth: [[semDedupIncrementalNew]]'s pinned k
    * lets cell occupancy — and with it the per-batch new-vs-corpus
    * screen work Σ n_newᶜ·n_oldᶜ ≈ |batch|·N/k — grow linearly with
    * the accepted corpus (the round-10 octave measured the cliff:
    * 21× wall at 100× corpus, superlinear on the 30→100 step). Here
    * k = ⌈N/targetCellSize⌉ is derived from one count so occupancy
    * stays CONSTANT as the corpus grows, and — because flat Lloyd at
    * derived k is the N²/⟨cell⟩ scale-killer the round-9 verdict
    * named — both the index build and every assignment ride the
    * two-level hierarchy: [[Similarity.trainTwoLevelIndexOn]] freezes
    * the coarse (≤ ⌈√k⌉ rows, broadcastable forever) and fine
    * (corpus-sized/⟨cell⟩, NEVER broadcast — equi-joined on the coarse
    * cell) center tables after their final mean updates, and
    * [[Similarity.probeTwoLevel]] assigns corpus and batch through
    * them in N·O(√k) dot products. Keeper rule and output are
    * [[semDedupIncrementalNew]]'s. */
  def semDedupIncrementalNewByCellSize(
      newEmb: DataFrame, corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Long = 1024, iters: Int = 2,
      threshold: Double = 0.95): DataFrame = {
    require(targetCellSize > 0,
      s"targetCellSize must be positive, got $targetCellSize")
    val ob = Similarity.prepare(corpus, idCol, vecCol).localCheckpoint()
    val n = ob.count()
    val k = math.min(((n + targetCellSize - 1) / targetCellSize).max(1L),
      Int.MaxValue.toLong).toInt
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = (k + k1 - 1) / k1
    val (cc, ff) = Similarity.trainTwoLevelIndexOn(ob, k1, k2, iters)
    def assign(b: DataFrame): DataFrame =
      b.join(Similarity.probeTwoLevel(b, cc, ff, k2), "_id")
    val nb = Similarity.prepare(newEmb, idCol, vecCol).localCheckpoint()
    incrementalScreen(assign(ob), assign(nb).localCheckpoint(), idCol,
      threshold)
  }

  /** The shared incremental keeper screen over cell-assigned prepared
    * tables (`(_id, _q, _n2, _cell)`): a new row is dropped iff an
    * accepted in-cell neighbor sits at cosine ≥ `threshold`, or a
    * lower-id new in-cell neighbor does. Corpus side rides shuffle-hash
    * on the cell — never broadcast. */
  private def incrementalScreen(
      oa: DataFrame, na: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val o = oa.select(col("_cell"), col("_id").as("id_o"),
      col("_q").as("_qo"), col("_n2").as("_n2o"))
    val naA = na.select(col("_cell"), col("_id").as("id_a"),
      col("_q").as("_qa"), col("_n2").as("_n2a"))
    val naB = na.select(col("_cell"), col("_id").as("id_b"),
      col("_q").as("_qb"), col("_n2").as("_n2b"))
    val dupVsOld = naA.join(o.hint("shuffle_hash"), Seq("_cell"))
      .where(Similarity.cosineFrom(
        Similarity.dotQ(col("_qa"), col("_qo")),
        col("_n2a"), col("_n2o")) >= threshold)
      .select(col("id_a").as("_dup"))
    val dupVsNew = naA.join(naB.hint("shuffle_hash"), Seq("_cell"))
      .where(col("id_a") < col("id_b"))
      .where(Similarity.cosineFrom(
        Similarity.dotQ(col("_qa"), col("_qb")),
        col("_n2a"), col("_n2b")) >= threshold)
      .select(col("id_b").as("_dup"))
    val dups = dupVsOld.unionByName(dupVsNew).distinct()
    na.join(dups, col("_id") === col("_dup"), "left_anti")
      .select(col("_id").as(idCol), col("_cell").as("cell"))
  }

  /** Dedup group assignment: connected components over a near-dup pair
    * table (any of [[minhashLshPairs]] / [[ngramJaccardPairs]] /
    * [[embeddingNearDupPairs]]) — the step that turns pairwise matches
    * into keeper groups: every document in a component gets the
    * component's minimum id as `group_id`, so `doc_id = group_id` selects
    * one keeper per group.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) over
    * canonical `lo <= hi` edges. Each round is two steps of one
    * neighborhood-min window each, both shuffles on the node id, plus
    * the distinct of the round's output:
    *   - large-star: every node u hooks each larger neighbor v onto
    *     m = min(Γ(u) ∪ u), emitting (v, m);
    *   - small-star: every node u, keyed as the larger endpoint, points
    *     itself and each smaller neighbor v ≠ m at the minimum m of its
    *     smaller neighborhood, emitting (v, m).
    * Both steps preserve connectivity; at the fixed point the edge set is
    * the star forest {(component min, v)}. A self-loop (x, x) stays an
    * edge, so a node seen only in self-loops keeps a row. The round's
    * edge fingerprint (edge count and decimal sum of `xxhash64`) is
    * observed on the checkpoint that materialises the round
    * ([[Observed.checkpoint]]), so detecting the fixed point runs no job
    * of its own.
    *
    * Why this algorithm: its rounds grow with log n, not with the
    * diameter or the id order. On shuffled-id paths it needs 7 rounds at
    * 128 nodes and 9-10 at 1,024 (counting the round that confirms the
    * fixed point), where the min-label propagation with pointer jump it
    * replaced needed 58-84 and 352-373 rounds (three shuffles each, exact
    * simulations of both update rules); sorted paths need 8 and 11 either
    * way. On curation's near-dup pairs it runs 6-10 jobs per call, where
    * min-label ran 22.
    *
    * Output: (doc_id, group_id) for every non-NULL id appearing in
    * `pairs`; documents without any near-dup pair are their own singleton
    * group — left-join this result and coalesce to the document's own id.
    * No NULL id is ever output: a `(NULL, x)` pair becomes the self-loop
    * `(x, x)`, so `x` gets a row and the NULL id none, and a
    * `(NULL, NULL)` pair is dropped.
    *
    * Throws `IllegalStateException` when the edges have not reached the
    * fixed point after `maxIter` rounds, instead of returning wrong
    * labels. */
  def connectedComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    // least/greatest skip a NULL id, so only a (NULL, NULL) pair leaves
    // a NULL _lo
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("_a"), col("_b")).as("_lo"),
          greatest(col("_a"), col("_b")).as("_hi"))
        .where(col("_lo").isNotNull).distinct()
    def checkpoint(df: DataFrame): (DataFrame, Seq[Any]) = {
      // decimal sum: order-independent and ANSI-overflow-free
      val (cp, m) = Observed.checkpoint(df,
        sum(xxhash64(col("_lo"), col("_hi")).cast("decimal(38,0)")).as("fp"))
      (cp, Seq(m("rows"), m.getOrElse("fp", null)))
    }
    var (edges, fp) =
      checkpoint(canon(pairs.select(col(idA).as("_a"), col(idB).as("_b"))))
    var rounds = 0
    var converged = fp.head == 0L
    while (!converged && rounds < maxIter) {
      // large-star: adjacency in both directions, keyed on u; emits
      // (v, m) as (_x, _y), keyed on its larger endpoint for small-star
      val adj = edges.select(col("_lo").as("_x"), col("_hi").as("_y"))
        .unionByName(edges.select(col("_hi").as("_x"), col("_lo").as("_y")))
      val large = adj.withColumn("_mn", min(col("_y")).over(Window.partitionBy(col("_x"))))
        .where(col("_y") >= col("_x"))
        .select(col("_y").as("_x"), least(col("_mn"), col("_x")).as("_y"))
      // small-star: the smaller neighborhood's min is the new hub for
      // the smaller neighbors + self
      val byHi = large.withColumn("_mn", min(col("_y")).over(Window.partitionBy(col("_x"))))
      val (small, fpNext) = checkpoint(canon(
        byHi.where(col("_y") =!= col("_mn"))
          .select(col("_y").as("_a"), col("_mn").as("_b"))
          .unionByName(byHi.select(col("_x").as("_a"), col("_mn").as("_b")))))
      converged = fpNext == fp
      fp = fpNext
      edges = small
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    edges.select(col("_hi").as("doc_id"), col("_lo").as("group_id"))
      .unionByName(edges.select(col("_lo").as("doc_id"), col("_lo").as("group_id")))
      .distinct()
  }

  /** Reduces a corpus to its near-dup survivors: given component labels
    * from [[connectedComponents]], drops
    * every document that is a non-canonical member of its component
    * (id ≠ the component's min id). Documents that never appeared in a
    * pair have no label row and survive by construction — no left-join
    * + coalesce spine over the corpus is needed.
    *
    * Scale shape: the dup-id list is one row per *discarded* document —
    * potentially corpus-sized on crawl data (30–50% dup rates), so the
    * anti-join is a shuffle-hash join on the id, never a broadcast.
    * This is the terminal step of the standard pipeline:
    * pairs → components → keep canonical. */
  def keepCanonical(
      docs: DataFrame, labels: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val dups = labels.where(col("doc_id") =!= col("group_id"))
      .select(col("doc_id").as(idCol))
    docs.join(dups.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Quality-aware canonical selection: keeps, per duplicate component,
    * the member with the highest `scoreCol` (ties → smallest id) —
    * [[keepCanonical]]'s arbitrary min-id rule replaced by "keep the
    * best copy" (longest text, highest quality score, newest crawl …),
    * which is how production dedup actually picks survivors. Documents
    * in no pair survive by construction, exactly as in
    * [[keepCanonical]].
    *
    * Scale shape: the label table (one row per clustered doc, tiny next
    * to the corpus on most data, corpus-scale on crawl data) joins the
    * corpus' (id, score) projection shuffle-hash on the id; the winner
    * per component is an argmax riding the group aggregate
    * (max(struct(score, -id))) — no window, no self-join; and the final
    * anti-join ships only loser ids, shuffle-hash, never broadcast. */
  def keepBest(
      docs: DataFrame, labels: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame =
    docs.join(keepBestLosers(docs, labels, scoreCol, idCol).hint("shuffle_hash"),
      Seq(idCol), "left_anti")

  /** The loser side of [[keepBest]]: ids of every clustered document
    * that is NOT its component's best copy — the rows a dedup pass
    * removes. Exposed separately so audit operators (per-source dup
    * rates, removal manifests) can aggregate over the removed set
    * without materializing the surviving corpus. Same scale shape as
    * [[keepBest]]: shuffle-hash joins on the id, argmax riding the
    * group aggregate, no window. */
  def keepBestLosers(
      docs: DataFrame, labels: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val scored = docs.select(col(idCol).as("_id"), col(scoreCol).as("_score"))
    val members = labels.select(col("doc_id").as("_id"), col("group_id"))
      .join(scored.hint("shuffle_hash"), Seq("_id"))
    val winners = members.groupBy(col("group_id"))
      .agg(max(struct(col("_score").as("_score"), (-col("_id")).as("_nid"))).as("_w"))
      .select((-col("_w._nid")).as("_id"))
    members.select(col("_id"))
      .join(winners.hint("shuffle_hash"), Seq("_id"), "left_anti")
      .select(col("_id").as(idCol))
  }

  /** Span-level exact dedup (the C4 / RefinedWeb "remove repeated
    * paragraphs corpus-wide" operator, on fixed word-windows instead of
    * newline paragraphs): each document is chunked into consecutive
    * `spanWords`-word spans; every span that already occurred earlier in
    * the corpus (first occurrence = minimum (doc_id, span_idx)) is
    * dropped; surviving spans are reassembled in order.
    *
    * Output: (doc_id, spans_kept, text_dedup) — documents whose every
    * span lost vanish from the result (their text is empty).
    *
    * Scale shape: two shuffles, no windows, no joins. Chunking is a
    * per-row higher-order function (sequence → slice → array_join)
    * inside the scan stage; the first-occurrence winner per span is
    * min(struct(doc_id, span_idx, …)) under a single groupBy on the
    * span text — the argmin rides the aggregation buffer, so winner
    * selection needs no self-join back. Reassembly is a second groupBy
    * on doc_id (collect_list + array_sort — bounded by document size).
    * At 100 TB the group key would be a 128-bit span hash instead of
    * the span text to cut shuffle bytes (collisions then trade exactness
    * for bandwidth); the text key keeps the operator exactly equal to
    * its SQL oracle. */
  /** (doc_id, span_idx, span_text) exploded word-window spans — the
    * chunking stage shared by [[spanDedup]] and [[topSpans]]; a per-row
    * higher-order function inside the scan stage. */
  private def docSpans(
      docs: DataFrame, idCol: String, textCol: String, spanWords: Int): DataFrame = {
    require(spanWords > 0, s"spanWords=$spanWords must be positive")
    val toks = split(col(textCol), " ")
    val nSpans = ceil(size(toks).cast("double") / spanWords).cast("long")
    val spanArr = transform(
      sequence(lit(0L), greatest(nSpans, lit(1L)) - 1),
      g => array_join(slice(toks, (g * spanWords + 1).cast("int"), lit(spanWords)), " "))
    docs.select(col(idCol).as("doc_id"),
      posexplode(spanArr).as(Seq("span_idx", "span_text")))
  }

  /** Most-duplicated spans corpus-wide: the audit report behind
    * [[spanDedup]] — which exact passages (boilerplate, licenses,
    * navigation chrome) repeat most, with total copies and distinct
    * carrying documents. One map-side-combined aggregate on the span
    * text + a bounded TakeOrdered top-k; spans occurring once are
    * pruned before the sort. */
  def topSpans(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 10, k: Int = 20): DataFrame =
    docSpans(docs, idCol, textCol, spanWords)
      .groupBy(col("span_text"))
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_copies") > 1)
      .orderBy(col("n_copies").desc, col("span_text"))
      .limit(k)

  def spanDedup(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 10): DataFrame = {
    val spans = docSpans(docs, idCol, textCol, spanWords)
    val kept = spans.groupBy(col("span_text"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("_w"))
      .select(col("_w.doc_id").as("doc_id"), col("_w.span_idx").as("span_idx"),
        col("span_text"))
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("spans_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("span_idx"), col("span_text")))),
            x => x.getField("span_text")),
          " ").as("text_dedup"))
  }

  /** Winnowing fingerprint sets (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS scheme): per document, the k-char grams of the normalized text
    * are hashed (the [[graft.functions.Text.fingerprint64]] md5-derived
    * 60-bit gram hash — t4 parity) and the MINIMUM hash of every window
    * of `w` consecutive grams is selected; the distinct selected values
    * are the document's fingerprint set. Winnowing's guarantee: any
    * shared substring of length ≥ k + w − 1 chars yields at least one
    * SHARED fingerprint, so local overlap (plagiarism, quotation, span
    * copying) is detectable from set intersection — the LOCAL complement
    * to [[minhashLshPairs]]' whole-document similarity.
    *
    * Plan shape at 100 TB: grams, windows and per-window minima all form
    * INSIDE the scan stage (`transform` over `sequence` + `slice` —
    * array expressions, no window operator, no self-join; per-doc work
    * is O(|text|·w)); one explode feeds the distinct. Output:
    * `(doc_id, fp)`. */
  def winnowingFingerprints(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k w=$w")
    val t = Text.normalized(col(textCol))
    // gram hashes: same md5-derived hash and 1-based substring windows
    // as fingerprint64 (which is the w = ∞ degenerate case of this)
    val grams = transform(
      sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => conv(substring(md5(t.substr(i, lit(k)).cast("binary")), 1, 15), 16, 10)
        .cast("long"))
    // distinct INSIDE the row (array_distinct before the explode): the
    // fingerprint set is per-document, so the corpus-wide distinct
    // exchange the explode previously fed was pure waste — per-doc set
    // semantics are identical and one full shuffle disappears (§2.4)
    docs.select(col(idCol).as("doc_id"), grams.as("_g"))
      .select(col("doc_id"), explode(winnowedFpArr(col("_g"), w)).as("fp"))
  }

  /** The per-document winnowed fingerprint SET as an array column —
    * shared by [[winnowingFingerprints]] and [[winnowingPairs]] (which
    * also needs the per-doc set SIZE from the same scan pass). */
  private def winnowedFpArr(grams: Column, w: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(grams) - (w - 1), lit(1))),
      j => array_min(slice(grams, j, lit(w)))))

  /** Local-overlap pairs over [[winnowingFingerprints]]: documents
    * sharing fingerprints, scored by
    * `overlap_ppm = |A∩B|·10⁶ div min(|A|,|B|)` — the containment-style
    * normalization, so a short excerpt of a long document still scores
    * near 10⁶. The inverted-index self-join on the fingerprint follows
    * the repo's hot-key discipline: fingerprints with document frequency
    * over `dfCap` are dropped from MATCHING (a single boilerplate
    * fingerprint near a loose cap contributes df² candidate pairs)
    * while set sizes keep every fingerprint — a capped pair's score is
    * a tight lower bound, and drops are observable via `capStats`
    * (best-effort under task retries, like all Spark accumulators).
    * Singleton fingerprints (df = 1) are pruned before the join — they
    * cannot produce a pair.
    *
    * EAGER: the fingerprint table (and, with `capStats`, the df table)
    * is `localCheckpoint()`ed, so constructing this DataFrame runs a
    * Spark job — the [[minhashLshPairs]]/[[idfCosinePairs]] trade, same
    * caveats.
    *
    * sf0.01 calibration (probed in DuckDB before shipping, the simhash
    * lesson): the synthetic template corpus puts p99 fingerprint df at
    * ~94 and max at 517; dfCap 64 bounds candidate work at Σdf² ≈ 2.2M
    * while every constructed source→excerpt pair scores ≥ 689,189 ppm
    * against a noise p99.9 of ~228k — `minOverlapPpm` = 500,000
    * separates them cleanly.
    *
    * Output: `(id_a, id_b, n_shared, overlap_ppm)`. */
  def winnowingPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, w: Int = 4, dfCap: Int = 64, minOverlapPpm: Long = 500000L,
      capStats: Option[CapStats] = None): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k w=$w")
    val t = Text.normalized(col(textCol))
    val grams = transform(
      sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => conv(substring(md5(t.substr(i, lit(k)).cast("binary")), 1, 15), 16, 10)
        .cast("long"))
    // each exploded row carries its document's fingerprint-set SIZE
    // computed in the same scan pass (round 14, §2.3/§2.4): the former
    // per-doc `sizes` aggregate and its two pair-side joins disappear —
    // _na/_nb now ride the pair groupBy's key — and the per-doc
    // array_distinct replaces the corpus-wide distinct exchange. Sizes
    // still count EVERY fingerprint (df filters only gate matching,
    // the documented lower-bound contract).
    //
    // _g and _fps are bound to columns ACROSS Generate boundaries before
    // anything maps over them: inlining the gram-array expression into
    // the per-window lambda (higher-order functions evaluate
    // interpreted) re-hashes the whole document per window — measured
    // as a runaway O(|text|²) md5 stage before this structure was
    // pinned down.
    val fps = docs
      .select(col(idCol).as("doc_id"), grams.as("_g"))
      .select(col("doc_id"), explode(array(winnowedFpArr(col("_g"), w))).as("_fps"))
      .select(col("doc_id"), size(col("_fps")).as("_nf"),
        explode(col("_fps")).as("fp"))
      .localCheckpoint() // shared by the df table and both join sides
    // vocabulary-sized df table, joined back shuffle-hash on the
    // fingerprint (the prefixFilter/t9 rule — never broadcast); df = 1
    // cannot pair, df > dfCap is the hot-key drop, both pruned in one
    // pass. The tally reads the checkpointed df table so it fires once
    // per call (idfCosinePairs' pattern).
    val dfs0 = fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
    val dfs = if (capStats.isDefined) dfs0.localCheckpoint() else dfs0
    capStats.foreach { cs =>
      val tally = udf { d: Long => cs.buckets.add(1L); cs.rows.add(d); true }
        .asNondeterministic()
      dfs.where(col("_df") > dfCap).where(tally(col("_df")))
        .select(col("fp")).localCheckpoint()
    }
    val kept = fps.join(
      dfs.where(col("_df") >= 2 && col("_df") <= dfCap)
        .select(col("fp")).hint("shuffle_hash"), "fp")
    kept.as("a")
      .join(kept.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a._nf").as("_na"), col("b._nf").as("_nb"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        expr("CAST(n_shared * CAST(1000000 AS BIGINT) div least(_na, _nb) AS BIGINT)")
          .as("overlap_ppm"))
      .where(col("overlap_ppm") >= minOverlapPpm)
  }

  /** Exact duplicate-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * primitive behind most production LLM corpora): every word k-gram
    * that occurs at least `minCount` times ANYWHERE in the corpus
    * (across documents or repeated within one) marks its token span,
    * and overlapping/adjacent marked spans merge into maximal excision
    * intervals per document. The suffix-array formulation ("sort the
    * corpus's gram stream, mark adjacent equal runs") is relational:
    * the sort IS the group-by-hash shuffle, the equal-run mark IS the
    * frequency filter, and the map-back is the join below.
    *
    * This is the span-level complement of the repo's other text-dedup
    * modalities: d2/minhash finds near-dup DOCUMENTS, t12/t35 find
    * spans by shingle document-frequency heuristics, d26/winnowing
    * finds sampled local fingerprints — this finds EVERY exactly
    * repeated ≥k-token substring, the Lee et al. contract. The shipped
    * rule excises all occurrences (conservative: repeated boilerplate
    * contributes zero training tokens); the keep-first variant is a
    * one-line refinement (anti-join the corpus-wide min-(doc,pos)
    * occurrence out of the mark set) that the conservative form
    * dominates for memorization-risk screening.
    *
    * Plan shape at 100 TB: [[graft.functions.PositionalGramHashes]]
    * computes each document's positional gram hashes in ONE
    * normalize+tokenize pass (scan-stage, codegen'd); the exploded
    * (gram, doc, pos) stream is corpus-token-sized and is shuffled
    * exactly twice — once into the gram-frequency aggregate
    * (map-side-combinable) and once joining the duplicated-gram set
    * back (shuffle-hash on the gram — the winnowingPairs discipline;
    * the duplicated-gram table is corpus-sized in the worst case, so
    * it is never broadcast). Crucially there is NO pairwise step:
    * work is linear in occurrences, never df², because the rule needs
    * only "appears ≥ minCount", not who-matches-whom. The span merge
    * is a per-document window (bounded by document length). Output is
    * excision-sized.
    *
    * Output: `(doc_id, span_start, span_end)` — merged 1-based token
    * intervals to excise, `span_end` inclusive. Documents with no
    * duplicated k-gram emit nothing.
    *
    * `keepFirst = true` is the Lee et al. "remove all but one" rule:
    * each duplicated gram's corpus-wide FIRST occurrence — min
    * (doc_id, position), the deterministic first-occurrence contract
    * every keeper rule in this file uses — does not mark a span, so
    * one copy of every repeated passage survives. The first-occurrence
    * key packs (doc_id, pos) as `doc_id·2³⁰ + pos` so the ordering is
    * one integer min the oracle replays verbatim (contract: positions
    * below 2³⁰ — any real corpus chunks documents far below a billion
    * tokens — and ids in [0, 2³³), ENFORCED loudly by
    * [[packedDomainId]]: an out-of-domain id would overflow the pack
    * and silently corrupt the keeper, so it raises instead; an
    * unparseable id quarantines per the shared [[tryLongId]] rule).
    * The conservative default (`false`) excises every copy —
    * the right screen when repeated boilerplate should contribute
    * zero training tokens. */
  def duplicateSubstringSpans(
      docs: DataFrame, k: Int = 8, minCount: Long = 2,
      idCol: String = "doc_id", textCol: String = "text",
      keepFirst: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(minCount >= 2, s"minCount must be at least 2, got $minCount")
    val grams = docs
      .where(tryLongId(idCol).isNotNull) // quarantine unparseable ids
      .select(packedDomainId(idCol).as("doc_id"),
        posexplode(graft.functions.PositionalGramHashes(col(textCol), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("_p"),
        col("col").as("_h"))
      .localCheckpoint() // shared by the frequency aggregate + mark join
    val occKey = col("doc_id") * lit(1073741824L) + col("_p")
    val dups = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_df"), min(occKey).as("_firstKey"))
      .where(col("_df") >= minCount).select(col("_h"), col("_firstKey"))
    val marks = grams.join(dups.hint("shuffle_hash"), "_h")
      .where(if (keepFirst) occKey =!= col("_firstKey") else lit(true))
      .select(col("doc_id"), col("_p").as("_s"),
        (col("_p") + (k - 1)).as("_e"))
    mergeSpans(marks)
  }

  /** Gaps-and-islands merge of per-document `(doc_id, _s, _e)` mark
    * intervals: an interval starts a new island iff it begins past
    * every previous interval's end + 1 (adjacent spans merge — their
    * union is contiguous tokens). The shared tail of every span-level
    * excision operator (d28/d34/d36); the window is per-document,
    * bounded by document length. Output:
    * `(doc_id, span_start, span_end)`, `span_end` inclusive. */
  private[operators] def mergeSpans(marks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_s"), col("_e"))
    marks
      .withColumn("_pe",
        max(col("_e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_isl",
        sum(when(col("_pe").isNull || col("_s") > col("_pe") + 1, 1)
          .otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("_s")).as("span_start"), max(col("_e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** The frozen gram-frequency index an incremental ExactSubstr
    * pipeline screens against: one row per distinct k-gram hash of the
    * ACCEPTED corpus with its occurrence count and first-occurrence
    * key. This is [[duplicateSubstringSpans]]' frequency aggregate
    * FROZEN — built once when a corpus version is accepted, amortized
    * over every future batch (the d8→d31/d32 incremental discipline
    * applied to substrings).
    *
    * The index keeps df = 1 grams too, NOT just the duplicated set: a
    * batch occurrence of a corpus-singleton gram makes that substring
    * globally duplicated (1 + 1 ≥ 2), which the dups-only table would
    * silently miss. The full table is corpus-vocabulary-sized (one
    * 24-byte row per distinct gram — the relational twin of Lee et
    * al.'s corpus-sized suffix array); at rest it is stored
    * hash-bucketed on `_h` so a batch screen prunes to touched
    * buckets. Schema: `(_h, _df, _firstKey)`. */
  def substringGramIndex(
      corpus: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val occKey = col("doc_id") * lit(1073741824L) + col("_p")
    corpus
      .where(tryLongId(idCol).isNotNull) // quarantine unparseable ids
      .select(packedDomainId(idCol).as("doc_id"),
        posexplode(graft.functions.PositionalGramHashes(col(textCol), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("_p"),
        col("col").as("_h"))
      .groupBy(col("_h"))
      .agg(count(lit(1)).as("_df"), min(occKey).as("_firstKey"))
  }

  /** Incremental ExactSubstr — [[duplicateSubstringSpans]] for the
    * day-to-day posture: mark duplicate-substring spans in an incoming
    * BATCH against an accepted corpus's frozen [[substringGramIndex]],
    * without recounting (or even reshuffling) the corpus. A batch
    * gram's global frequency is its batch-internal count plus the
    * frozen corpus count; spans are marked in batch documents only
    * (the corpus was screened when IT was admitted).
    *
    * `keepFirst = true` keeps the GLOBAL first occurrence unmarked —
    * min of the frozen corpus first-key and the batch first-key, the
    * packed (doc_id·2³⁰ + pos) contract of [[duplicateSubstringSpans]].
    * Note the asymmetry a frozen index implies, stated honestly: when
    * the first occurrence lies in the corpus, every batch occurrence
    * is excised (the corpus copy survives — it is already training
    * data); the corpus side is never re-marked.
    *
    * Scale shape (the d32 discipline, substring edition): the batch's
    * gram stream is batch-token-sized and shuffles once into the
    * batch-internal count aggregate; the corpus-vocabulary-sized index
    * is NEVER broadcast (a day's batch is itself 10⁹ grams — nothing
    * here fits a broadcast), NEVER recounted, and NEVER hash-built (a
    * hash relation of a vocab-sized side is a spill hazard — measured
    * at the round-11 100× octave, where a lean executor could not
    * acquire the build memory) — it meets the batch-distinct gram set
    * in ONE spill-safe SORT-MERGE equi-join on `_h`. With the index
    * stored hash-bucketed + sorted on `_h`, only the batch side sorts
    * and moves and per-batch work is fully corpus-independent;
    * unbucketed, the corpus term is one linear columnar
    * shuffle+sort of 24-byte rows. Everything downstream of that join
    * is batch-sized; the span merge is [[duplicateSubstringSpans]]'
    * per-document window.
    *
    * Output: `(doc_id, span_start, span_end)` over BATCH documents,
    * same contract as [[duplicateSubstringSpans]]. */
  def duplicateSubstringSpansIncremental(
      batch: DataFrame, index: DataFrame, k: Int = 8, minCount: Long = 2,
      idCol: String = "doc_id", textCol: String = "text",
      keepFirst: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(minCount >= 2, s"minCount must be at least 2, got $minCount")
    val grams = batch
      .where(tryLongId(idCol).isNotNull) // quarantine unparseable ids
      .select(packedDomainId(idCol).as("doc_id"),
        posexplode(graft.functions.PositionalGramHashes(col(textCol), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("_p"),
        col("col").as("_h"))
      .localCheckpoint() // shared by the count aggregate + mark join
    val occKey = col("doc_id") * lit(1073741824L) + col("_p")
    val batchAgg = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_bn"), min(occKey).as("_bFirst"))
    // one equi-join against the frozen index — SORT-MERGE, never
    // broadcast in either direction (both sides can be huge) and never
    // hash-built: a hash relation of the corpus-vocabulary-sized index
    // is a spill hazard (measured: a lean executor cannot acquire the
    // build memory at the 100× octave), while merge is spill-safe and
    // FREE on the index side when the at-rest index is stored
    // hash-bucketed + sorted on `_h` (then only the batch side sorts
    // and moves)
    val totals = batchAgg
      .join(index.hint("merge"), Seq("_h"), "left")
      .select(col("_h"),
        (col("_bn") + coalesce(col("_df"), lit(0L))).as("_tot"),
        least(col("_bFirst"),
          coalesce(col("_firstKey"), lit(Long.MaxValue))).as("_gFirst"))
      .where(col("_tot") >= minCount)
    val marks = grams.join(totals.hint("shuffle_hash"), "_h")
      .where(if (keepFirst) occKey =!= col("_gFirst") else lit(true))
      .select(col("doc_id"), col("_p").as("_s"),
        (col("_p") + (k - 1)).as("_e"))
    mergeSpans(marks)
  }

  /** All-pairs brute-force variant of [[embeddingNearDupPairs]] — exact
    * recall oracle for tests; O(n²), never the shipped query path. */
  def embeddingNearDupPairsBrute(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95): DataFrame = {
    val q = Similarity.prepare(emb, idCol, vecCol)
    q.as("a").join(q.as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        Similarity.cosineFrom(
          Similarity.dotQ(col("a._q"), col("b._q")),
          col("a._n2"), col("b._n2")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández–Stolfo SNM, the
    * record-linkage classic): documents are keyed by their normalized
    * text (lowercased, non-alphanumerics stripped), blocked on the first
    * `blockLen` key characters, sorted within each block by
    * (key, doc_id), and each document is compared only against the next
    * `window - 1` documents in sort order. A pair survives when the
    * Levenshtein distance between the two docs' `prefixLen`-char
    * normalized prefixes is ≤ `maxDist`.
    *
    * Complements the shingle-based detectors: edit distance catches
    * small in-place character edits (typos, near-identical templates)
    * that shift every containing shingle, and the sort key makes the
    * candidate set |docs|·(window-1) instead of quadratic.
    *
    * Scale shape: one shuffle on the block key; the window frame
    * (`ROWS BETWEEN 1 FOLLOWING AND window-1 FOLLOWING`) carries at most
    * `window - 1` (id, prefix) structs per row, so the expanded
    * candidate set is a bounded projection of the sorted scan — no
    * self-join, no cartesian. Blocks are prefix groups (bounded by key
    * cardinality); a hot block degrades to that block's rows × window,
    * never rows². Like all single-key SNM, near-dups whose first
    * `blockLen` normalized chars differ are missed — production runs do
    * 2-3 passes with independent keys (e.g. reversed text) and union the
    * pairs.
    *
    * Output: `(doc_lo, doc_hi, dist)`, one row per surviving unordered
    * pair (each pair of sort positions appears exactly once in exactly
    * one frame, so no dedup pass is needed).
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      window: Int = 6, blockLen: Int = 6, prefixLen: Int = 40,
      maxDist: Int = 12, keyTransform: Column => Column = identity): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(blockLen >= 1 && prefixLen >= blockLen,
      s"need 1 <= blockLen <= prefixLen, got $blockLen/$prefixLen")
    val key = keyTransform(regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""))
    val keyed = docs.select(col(idCol).cast("long").as("_id"),
      key.as("_key"), substring(key, 1, blockLen).as("_blk"),
      substring(key, 1, prefixLen).as("_pfx"))
    val w = Window.partitionBy(col("_blk"))
      .orderBy(col("_key"), col("_id"))
      .rowsBetween(1, window - 1)
    keyed
      .withColumn("_next", collect_list(struct(col("_id"), col("_pfx"))).over(w))
      .select(col("_id"), col("_pfx"), explode(col("_next")).as("_nb"))
      .withColumn("dist", levenshtein(col("_pfx"), col("_nb._pfx")).cast("long"))
      .where(col("dist") <= maxDist)
      .select(least(col("_id"), col("_nb._id")).as("doc_lo"),
        greatest(col("_id"), col("_nb._id")).as("doc_hi"), col("dist"))
  }

  /** Multi-pass SNM (the production form the single-key scaladoc
    * promises): a forward pass over the normalized key UNION a pass
    * over the REVERSED key, so near-dups whose first `blockLen` chars
    * differ (a changed title, a prepended header) are still caught by
    * their shared tail. Each pass is a full [[sortedNeighborhoodPairs]]
    * run (the reversed pass blocks, sorts, and Levenshtein-verifies on
    * the reversed key — i.e. suffix edit distance); a pair found by
    * both keeps its minimum distance. Two block-key shuffles total.
    */
  def sortedNeighborhoodPairsMultiPass(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      window: Int = 6, blockLen: Int = 6, prefixLen: Int = 40,
      maxDist: Int = 12): DataFrame = {
    val fwd = sortedNeighborhoodPairs(docs, idCol, textCol, window,
      blockLen, prefixLen, maxDist)
    val rev = sortedNeighborhoodPairs(docs, idCol, textCol, window,
      blockLen, prefixLen, maxDist, keyTransform = reverse)
    fwd.unionByName(rev)
      .groupBy(col("doc_lo"), col("doc_hi")).agg(min(col("dist")).as("dist"))
  }

  /** Per-document duplicated-n-gram coverage — the Gopher/MassiveText
    * "fraction of the document made of corpus-repeated n-grams" screen
    * (Rae et al. 2021 repetition filters, lifted from within-doc to
    * ACROSS-corpus): for each document, the share of its distinct
    * n-gram shingles that appear in at least `minDf` documents. A high
    * share marks boilerplate, templated, or memorization-risk text
    * even when no single pair crosses a near-dup threshold — the
    * document-granular complement of [[ngramJaccardPairs]] (which
    * reports pairs, not exposure).
    *
    * Exactness: the shingles are the same codegen'd
    * [[hashedShingleSetNative]] sets the pair operators use (distinct
    * per document, so df counts DOCUMENTS); the coverage is integer
    * ppm by DECIMAL floor division — bit-identical on any engine.
    * Every document emits ≥ 1 shingle (short texts collapse to the
    * whole-text shingle), so the division is total.
    *
    * Scale shape: the t9/t10 inverted-index rule — the shingle set is
    * computed ONCE (checkpointed doc→set table), the df table is
    * vocabulary-sized and equi-joined back on the shingle key with the
    * shuffle-hash hint (NEVER broadcast — vocabulary grows with the
    * corpus), then one doc-key aggregate. Two shuffles total, nothing
    * quadratic: unlike the pair operators there is no candidate join
    * at all, so no df cap is needed — a hot shingle costs one counter,
    * not fan-out².
    *
    * Output: one row per document
    * `(doc_id, n_shingles, n_dup, dup_frac_ppm)`.
    */
  def dupShingleCoverage(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 5, minDf: Int = 2): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val sh = docs.select(col(idCol).as("doc_id"),
        hashedShingleSetNative(col(textCol), n).as("_sh"))
      .localCheckpoint()
    val ex = sh.select(col("doc_id"), explode(col("_sh")).as("_s"))
    val dfreq = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
      .hint("shuffle_hash")
    ex.join(dfreq, Seq("_s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(when(col("_df") >= minDf, 1L)), lit(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("CAST(CAST(n_dup AS DECIMAL(38,0)) * 1000000 div n_shingles AS BIGINT)")
          .as("dup_frac_ppm"))
  }
}
