package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * token counting, language ID, quality scoring, fingerprinting.
  *
  * All functions are compositions of Spark's native (codegen'd) SQL
  * functions — no UDFs — so they stay inside whole-stage codegen and scale
  * linearly with input size. Where the Scala `functions` API lacks a
  * column-typed argument (e.g. `substring` with a column start), we drop to
  * `expr(...)`, which compiles to the same Catalyst tree as the SQL form.
  */
object Text {

  /** Word tokens: maximal runs of letters/digits/apostrophes. */
  def tokens(c: Column): Column =
    regexp_extract_all(c, lit("[a-zA-Z0-9']+"), lit(0))

  /** Token count via the word regex (BPE-ish lower bound). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Token count via whitespace splitting (fast path). */
  def tokenCountWs(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  /** fastText-style linear quality model over hashed unigram features:
    * each token contributes the integer weight
    * `hash60("qw|" ∥ token) % 2001 − 1000` (the same md5-derived weight
    * scheme as the LSH hyperplanes — a stand-in for trained
    * classifier weights, which at production scale arrive as a broadcast
    * `(feature_hash → weight)` map instead of a hash formula). The score
    * is the exact integer sum, so it is partitioning- and
    * engine-independent.
    *
    * A single codegen'd `aggregate` over the token array — the whole
    * model evaluates inside whole-stage codegen in one pass over the
    * text, no explode, no shuffle, no UDF. */
  def hashedLinearScore(c: Column): Column =
    aggregate(tokens(lower(c)), lit(0L), (acc, t) =>
      acc + (conv(substring(md5(concat(lit("qw|"), t)), 1, 15), 16, 10)
        .cast("long") % 2001 - 1000))

  /** [[hashedLinearScore]] via the fused one-pass expression. Identical
    * output; the composable `aggregate` HOF evaluates the md5 expression tree
    * interpreted once per token (measured 15.8× vs ~2× scaling at the
    * round-6 10× rehearsal). */
  def hashedLinearScoreNative(c: Column): Column = HashedLinearScore(c)

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "que", "de", "por"))

  private def stopwordHits(c: Column, lang: String): Column = {
    val set = stopwords(lang)
    size(filter(tokens(lower(c)), t => t.isin(set: _*)))
  }

  /** The stopword list for one language — the contract surface shared
    * with [[GateMetricsUtil]]'s fused lookup tables (one definition,
    * two evaluation strategies). */
  private[functions] def stopwordSet(lang: String): Seq[String] = stopwords(lang)

  /** Language-ID heuristic: stopword-hit count per candidate language,
    * argmax with a fixed tie-break order (en > de > fr > es). Returns the
    * winner or 'und' when no stopword of any language appears.
    */
  def langId(c: Column): Column = {
    val en = stopwordHits(c, "en"); val de = stopwordHits(c, "de")
    val fr = stopwordHits(c, "fr"); val es = stopwordHits(c, "es")
    when(en === 0 && de === 0 && fr === 0 && es === 0, lit("und"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Language-ID confidence margin in ppm of the token count:
    * `⌊(hits₁ − hits₂) · 1e6 / n_tokens⌋` where hits₁/hits₂ are the
    * winning and runner-up stopword-hit counts — the CCNet-style
    * "keep only confidently-identified documents" filter signal (a
    * margin near 0 means two languages scored alike, or none did).
    * 0 for token-less documents. The double arithmetic is one
    * multiply + divide + floor over exact small integers, identical op
    * order in the oracle, so the output is engine-stable.
    */
  def langIdMarginPpm(c: Column): Column = {
    val sorted = sort_array(array(stopwordHits(c, "en"), stopwordHits(c, "de"),
      stopwordHits(c, "fr"), stopwordHits(c, "es")), asc = false)
    val h1 = element_at(sorted, 1)
    val h2 = element_at(sorted, 2)
    val n = tokenCount(c)
    when(n === 0, lit(0L))
      .otherwise(floor((h1 - h2).cast("double") * lit(1000000.0) /
        n.cast("double")).cast("long"))
  }

  /** Ratio of alphabetic characters to total characters (0 for empty). */
  def alphaRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "[^a-zA-Z]", "")).cast("double") /
        length(c).cast("double"))

  /** Ratio of English stopword tokens to all tokens (0 for no tokens). */
  def stopwordRatio(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(0.0))
      .otherwise(stopwordHits(c, "en").cast("double") / n.cast("double"))
  }

  /** Mean token length in characters (0 for no tokens). */
  def avgWordLen(c: Column): Column = {
    val t = tokens(c)
    when(size(t) === 0, lit(0.0))
      .otherwise(aggregate(t, lit(0L), (acc, x) => acc + length(x))
        .cast("double") / size(t).cast("double"))
  }

  /** Composite document-quality score in [0, 1]:
    * token-volume, alphabetic-ness, non-stopword density, word length.
    * Deterministic arithmetic only — reproducible across engines.
    */
  def qualityScore(c: Column): Column = {
    val volume = least(lit(1.0), tokenCount(c).cast("double") / 200.0)
    val wordLen = least(lit(1.0), avgWordLen(c) / 8.0)
    round(
      volume * 0.25 + alphaRatio(c) * 0.25 +
        (lit(1.0) - stopwordRatio(c)) * 0.2 + wordLen * 0.3, 6)
  }

  /** Canonical form used by the fingerprints: lowercase, whitespace
    * collapsed to single spaces, trimmed. */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whole-document content hash (md5 hex of the normalized text) — the
    * exact-dedup key. */
  def docHash(c: Column): Column = md5(normalized(c).cast("binary"))

  /** 60-bit rolling k-gram fingerprint: the minimum md5-derived hash over
    * all k-char grams of the normalized text (winnowing with a single
    * global window). Robust to local edits anywhere outside the minimal
    * gram, unlike [[docHash]].
    */
  def fingerprint64(c: Column, k: Int = 8): Column = {
    val t = normalized(c)
    array_min(transform(
      sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => conv(substring(md5(t.substr(i, lit(k)).cast("binary")), 1, 15), 16, 10)
        .cast("long")))
  }

  /** [[fingerprint64]] via the fused one-pass expression. Identical
    * output; the composable form re-normalizes the document once per gram in
    * interpreted HOF evaluation. */
  def fingerprint64Native(c: Column, k: Int = 8): Column =
    Fingerprint64(c, k)

  /** Deterministic word-dropout augmentation: the kept-token array of
    * the lowercased word tokens, where the token at 1-based position
    * `p` survives iff `hash60("aug|" ∥ id ∥ "|" ∥ p) % 1e6 ≥ ratePpm` —
    * an md5 coin per (document, position), no RNG, so every epoch /
    * engine / partitioning reproduces the same augmented corpus (the
    * [[graft.operators.Split]] discipline applied to token-level
    * augmentation). Positional hashing keeps repeated words independent
    * and the keep decision O(1) per token inside one codegen'd `filter`
    * HOF — a pure projection riding the scan.
    */
  def dropoutTokens(text: Column, id: Column, ratePpm: Int): Column = {
    require(ratePpm >= 0 && ratePpm <= 1000000, s"ratePpm must be in [0, 1e6]: $ratePpm")
    filter(tokens(lower(text)), (_, i) =>
      pmod(graft.operators.Dedup.hash60(
        concat(lit("aug|"), id.cast("string"), lit("|"), (i + 1).cast("string"))),
        lit(1000000L)) >= ratePpm)
  }

  /** Script classes for [[scriptCount]], as explicit CODE-POINT RANGES
    * (name, Java-regex class, RE2-regex class). Ranges — not Unicode
    * script properties — deliberately: `\p{script=...}` tables shift
    * with the engine's Unicode version, while a hex range means the
    * same code points in every engine forever (the cross-engine
    * reproducibility rule every operator here follows). The classes
    * cover each script's BASE block; supplementary blocks (Latin
    * extended, CJK ext B, …) are out of contract, documented. */
  val ScriptRanges: Seq[(String, String, String)] = Seq(
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cyrillic", "[\\u0400-\\u04FF]", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\\u0370-\\u03FF]", "[\\x{0370}-\\x{03FF}]"),
    ("han", "[\\u4E00-\\u9FFF]", "[\\x{4E00}-\\x{9FFF}]"),
    ("arabic", "[\\u0600-\\u06FF]", "[\\x{0600}-\\x{06FF}]"))

  /** Count of code points of one [[ScriptRanges]] class — a codegen'd
    * `regexp_count` (each match is exactly one code point; Java regex
    * never splits surrogate pairs, and all contract ranges are BMP). */
  def scriptCount(c: Column, script: String): Column = {
    val cls = ScriptRanges.find(_._1 == script).getOrElse(
      throw new IllegalArgumentException(s"unknown script class: $script"))._2
    regexp_count(c, lit(cls))
  }

  /** Mixed-script flag (the script-confusion spam screen — Cyrillic
    * letters inside Latin words, CJK stuffing in English pages — that
    * per-document language ID alone misses, because langId reports the
    * DOMINANT language): true iff at least two script classes each
    * hold ≥ 10% of the document's scripted code points. Exact integer
    * rule (`cnt·10 ≥ total ∧ cnt > 0`), no floats.
    *
    * The flag references every count ~7×, and `FilterExec` codegen
    * does no common-subexpression elimination — worse, a WHERE over a
    * plain aliased count projection is pushed THROUGH the projection
    * by Catalyst (PushPredicateThroughNonJoin substitutes the aliases
    * back), re-inlining every script regex into the filter no matter
    * how the caller staged it (measured on the executed plan). When
    * gating with this flag, profile through [[withScriptProfile]] —
    * its generator barrier is the form the optimizer provably cannot
    * re-inline; a bare projection only works when nothing filters on
    * the counts. */
  def scriptMixed(counts: Seq[Column], total: Column): Column =
    counts.map(c => when(c > 0 && c * 10 >= total, 1).otherwise(0))
      .reduce(_ + _) >= 2

  /** Appends the materialized `n_<script>` profile columns to `df`
    * with an ENFORCED single-evaluation barrier: the five counts are
    * computed once per row inside a generator (explode of a
    * one-element struct array). Catalyst never pushes a filter
    * predicate through a Generate whose output it references, so a
    * downstream WHERE on the counts (the [[scriptMixed]] gate) reads
    * struct fields instead of re-running each script regex ~7× per row
    * in `FilterExec` — which is exactly what happens to a plain
    * aliased projection (PushPredicateThroughNonJoin re-inlines it;
    * measured: this form keeps the plan at 5 regex evaluations total,
    * the projection form re-inlines 35 into the filter). Still one
    * scan-stage whole-stage-codegen span, pinned in `PlanSpec`.
    *
    * As the documented canonical profiling path, it guards against
    * column-name collisions: any pre-existing `_sp` or `n_<script>`
    * column on `df` (e.g. a caller that already profiled once) is
    * DROPPED and recomputed rather than duplicated — a duplicate name
    * would make every downstream `n_<script>` resolution ambiguous. */
  def withScriptProfile(df: DataFrame, textCol: Column): DataFrame = {
    val reserved = ("_sp" +: ScriptRanges.map(r => s"n_${r._1}")).toSet
    val base = df.drop(df.columns.filter(reserved): _*)
    base.select(col("*"),
        explode(array(struct(scriptProfileCols(textCol): _*))).as("_sp"))
      .select(base.columns.map(col) ++
        ScriptRanges.map(r => col(s"_sp.n_${r._1}")): _*)
  }

  /** The FUSED gate profile — every per-document metric the curation
    * gate consumes, appended in ONE [[GateMetrics]] scan (plus the
    * lowercase pass) instead of the ~16 regex/tokenization passes the
    * composable forms cost (measured: the gate scan is 78% of the
    * whole composed pipeline's wall at 1000× docs, SCALE.md). Output
    * columns and their values are BIT-IDENTICAL to the composable
    * path — `quality` == [[qualityScore]], `lang_pred` == [[langId]],
    * the `ok_*`/`passes_quality` flags == [[QualityRules.flags]] at
    * the same thresholds, `n_<script>` == [[scriptProfileCols]], and
    * `script_mixed` == [[scriptMixed]] over them (the derived doubles
    * repeat the composable forms' operation order exactly; pinned in
    * `GateFusedSpec` on the corpus plus adversarial case-mapping and
    * astral fixtures).
    *
    * Same generator barrier as [[withScriptProfile]]: the struct is
    * computed once per row inside an explode, so a downstream WHERE
    * over any emitted column reads struct fields — Catalyst cannot
    * push a predicate through the Generate and re-inline the scan. */
  def withGateProfile(df: DataFrame, textCol: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8, minRequiredWords: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val emitted = Seq("n_tokens", "quality", "lang_pred",
      "ok_word_count", "ok_word_len", "ok_symbols", "ok_bullets",
      "ok_ellipsis", "ok_alpha_words", "ok_required_words",
      "passes_quality", "script_mixed") ++
      ScriptRanges.map(r => s"n_${r._1}")
    val reserved = ("_gm" +: emitted).toSet
    val base = df.drop(df.columns.filter(reserved): _*)
    val gm = ColumnBridge.column(
      GateMetrics(ColumnBridge.expression(textCol)))
    def f(n: String): Column = col(s"_gm.$n")

    val nTok = f("n_tokens")
    def safeFrac(num: Column, den: Column): Column =
      when(den === 0, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
    // operation order below is copied from qualityScore / flags /
    // symbolWordRatio verbatim — double arithmetic must match bitwise
    val awl = safeFrac(f("token_char_sum"), nTok)
    val alphaRatio = safeFrac(f("alpha_chars"), f("total_chars"))
    val stopRatio = safeFrac(f("stop_en"), nTok)
    val volume = least(lit(1.0), nTok.cast("double") / 200.0)
    val wordLen = least(lit(1.0), awl / 8.0)
    val quality = round(
      volume * 0.25 + alphaRatio * 0.25 +
        (lit(1.0) - stopRatio) * 0.2 + wordLen * 0.3, 6)
    val (en, de, fr, es) = (f("stop_en"), f("stop_de"), f("stop_fr"), f("stop_es"))
    val langPred =
      when(en === 0 && de === 0 && fr === 0 && es === 0, lit("und"))
        .when(en >= de && en >= fr && en >= es, lit("en"))
        .when(de >= fr && de >= es, lit("de"))
        .when(fr >= es, lit("fr"))
        .otherwise(lit("es"))
    val symRatio = safeFrac(
      f("hash_chars").cast("double") + f("ellipsis_triples").cast("double"),
      nTok)
    val gates = Seq(
      "ok_word_count" -> (nTok >= minWords && nTok <= maxWords),
      "ok_word_len" -> (awl >= minMeanWordLen && awl <= maxMeanWordLen),
      "ok_symbols" -> (symRatio <= maxSymbolRatio),
      "ok_bullets" -> (safeFrac(f("n_bullet_lines"), f("n_lines")) <= maxBulletFrac),
      "ok_ellipsis" -> (safeFrac(f("n_ellipsis_lines"), f("n_lines")) <= maxEllipsisFrac),
      "ok_alpha_words" -> (safeFrac(f("n_alpha_tokens"), nTok) >= minAlphaWordFrac),
      "ok_required_words" -> (f("required_distinct") >= minRequiredWords))
    val scriptCounts = ScriptRanges.map {
      case ("latin", _, _) => f("alpha_chars").as("n_latin")
      case (n, _, _) => f(s"n_$n").as(s"n_$n")
    }
    val scriptTotal = ScriptRanges.map {
      case ("latin", _, _) => f("alpha_chars")
      case (n, _, _) => f(s"n_$n")
    }.reduce(_ + _)
    val mixed = scriptMixed(ScriptRanges.map {
      case ("latin", _, _) => f("alpha_chars")
      case (n, _, _) => f(s"n_$n")
    }, scriptTotal)

    base.select(col("*"), explode(array(gm)).as("_gm"))
      .select(base.columns.map(col) ++ (Seq(
        nTok.as("n_tokens"), quality.as("quality"), langPred.as("lang_pred")) ++
        gates.map { case (n, g) => g.as(n) } :+
        gates.map(_._2).reduce(_ && _).as("passes_quality")) ++
        scriptCounts :+ mixed.as("script_mixed"): _*)
  }

  /** The one canonical script-profile projection: `n_<script>` long
    * counts for every [[ScriptRanges]] class over `textCol` — the
    * single place the class list is wired, shared by the t46 query,
    * the pipeline example, and the specs. */
  def scriptProfileCols(textCol: Column): Seq[Column] =
    ScriptRanges.map { case (n, _, _) =>
      scriptCount(textCol, n).cast("long").as(s"n_$n") }

  /** References to [[scriptProfileCols]]' output columns, for the
    * mixed-flag / total stages downstream of the projection. */
  def scriptCountCols: Seq[Column] =
    ScriptRanges.map(r => col(s"n_${r._1}"))
}
