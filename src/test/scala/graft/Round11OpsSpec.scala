package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Web}

/** Behavior specs for the round-11 work: cross-engine URL-authority
  * parity on garbage input, the long-id contract on the domain cap,
  * and the corpus-count routing of the embedding near-dup pair miner
  * (fixed-grid banding below the measured saturation bound, trained
  * cells above it). */
class Round11OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("round11-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.registerAll(s)
    s
  }

  // --- URL authority parity on garbage input -------------------------
  //
  // The normalizeUrls host/port rule and the DuckDB oracle's urlNormSql
  // CTE must agree BYTE-FOR-BYTE on inputs the synthetic fixture never
  // generates — multi-colon authorities, userinfo, bracketed IPv6 —
  // or the engines drift silently the first time real crawl data hits
  // them. Shared rule (documented in both places): the authority is
  // `host[:port]`, split at the FIRST colon; anything else is garbage
  // that must at least be the SAME garbage on both engines. The
  // expected values below are hand-evaluated from the DuckDB formula
  // (`split_part(hp,':',1)` / `substr(hp, strpos(hp,':')+1)`), so this
  // test breaks if EITHER side's formula changes alone.
  test("normalizeUrls authority split matches the oracle formula on garbage input") {
    import spark.implicits._
    val in = Seq(
      (1L, "http://h:80:90/x"),          // malformed double port
      (2L, "https://u:p@host/x"),        // userinfo (out of contract)
      (3L, "http://[::1]:8080/x"),       // bracketed IPv6 (out of contract)
      (4L, "https://host:443/x"),        // default port, dropped
      (5L, "http://host:8080/x"),        // explicit port, kept
      (6L, "http://:80/x")               // empty host
    ).toDF("id", "url")
    val out = Web.normalizeUrls(in, "url")
      .select(col("id"), col("host"), col("norm_url"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    // hand-evaluated twins of the DuckDB CTE:
    //  hp="h:80:90"  → host0="h",    port="80:90"   (kept: not a default)
    assert(out(1L) === (("h", "http://h:80:90/x")))
    //  hp="u:p@host" → host0="u",    port="p@host"  (same garbage both engines)
    assert(out(2L) === (("u", "https://u:p@host/x")))
    //  hp="[::1]:8080" → host0="[", port=":1]:8080" (same garbage both
    //  engines; "["+":"+":1]:8080" reassembles the original authority)
    assert(out(3L) === (("[", "http://[::1]:8080/x")))
    //  contract cases
    assert(out(4L) === (("host", "https://host/x")))
    assert(out(5L) === (("host", "http://host:8080/x")))
    //  hp=":80" → host0="", port="80" (default, dropped)
    assert(out(6L) === (("", "http:///x")))
  }

  test("domainCap quarantines non-castable ids instead of NPEing the encoder") {
    import spark.implicits._
    val urls = Seq(
      ("10", "https://a.com/1"), ("11", "https://a.com/2"),
      ("oops", "https://a.com/3"),  // non-numeric id: casts to NULL
      (null.asInstanceOf[String], "https://a.com/4"),
      ("12", "https://b.com/1")
    ).toDF("doc_id", "url")
    val out = Web.domainCap(urls, "url", "doc_id", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === Set(("a.com", 10L), ("a.com", 11L), ("b.com", 12L)))
  }

  test("stateful domain cap bounded fold: mega-domain burst, unsorted, with repeats") {
    import spark.implicits._
    // one domain floods a single trigger with ids in adversarial order
    // and batch-internal repeats; the O(k)-memory fold must still admit
    // exactly the k smallest DISTINCT ids with ascending ranks (the
    // pre-round-11 sort-the-group fold's semantics, without the buffer)
    val ids = (1000L to 1L by -7L) ++ Seq(3L, 3L, 500L, 2L, 2L)
    val urls = ids.map(i => (i, s"https://mega.com/p/$i")).toDF("doc_id", "url")
    val out = graft.streaming.StatefulDomainCap
      .admit(urls, "url", "doc_id", k = 3)
      .collect().map(a => (a.doc_id, a.rk)).toSet
    val distinct = ids.distinct.sorted.take(3)
    assert(out === distinct.zipWithIndex.map { case (id, i) => (id, i + 1L) }.toSet)
  }

  // --- 256-bit perceptual bands (the m9/m10 octave fix) ---------------

  test("deep perceptual bands: re-encoded raster still pairs, quarantine holds, caps account") {
    import spark.implicits._
    // lossless re-encode (PNG <-> BMP) of one raster must pair at
    // Hamming 0 through the 256-bit chain — the round-11 recall
    // contract for the scale-safe route
    val imgs = (0L until 6L).flatMap { c =>
      Seq((2 * c, MediaScaleGen.renderContent(c, "png")),
        (2 * c + 1, MediaScaleGen.renderContent(c, "bmp")))
    } ++ Seq(
      (100L, Array.fill[Byte](64)(7)),                    // undecodable
      (101L, { // decodable but sub-17x16: quarantined for the deep grid
        val im = new java.awt.image.BufferedImage(10, 10,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "png", bos); bos.toByteArray
      }))
    val df = imgs.toDF("media_id", "bytes")
    val pairs = graft.operators.Multimodal
      .perceptualNearDupPairsDeep(df, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs === (0L until 6L).map(c => (2 * c, 2 * c + 1, 0L)).toSet)
    // quarantine: both junk rows carry all-NULL bands
    val q = graft.operators.Multimodal.perceptualHashesDeep(df)
      .where(col("media_id") >= 100L).collect()
    assert(q.length === 2 && q.forall(_.isNullAt(1)))
    // monoculture guard: many copies of ONE raster blow past a tiny
    // bandCap — the bucket drops WITH accounting, instead of going
    // cap^2-quadratic on one shuffle key
    val mono = (0L until 20L).map(i => (i, MediaScaleGen.renderContent(42L, "bmp")))
      .toDF("media_id", "bytes")
    val cs = graft.operators.Dedup.CapStats(spark, "mono-deep")
    val capped = graft.operators.Multimodal.perceptualNearDupPairsDeep(
      mono, maxHamming = 7, bandCap = 5, capStats = Some(cs)).count()
    assert(capped === 0L)
    assert(cs.buckets.value === 8L, "all 8 identical-key band buckets dropped")
    assert(cs.rows.value === 160L, "20 members x 8 bands accounted")
    // and the same corpus with an honest cap keeps every pair
    assert(graft.operators.Multimodal.perceptualNearDupPairsDeep(
      mono, maxHamming = 7).count() === 20L * 19 / 2)
  }

  // --- incremental ExactSubstr ---------------------------------------

  test("incremental ExactSubstr: hand-checked gates, both keeper rules") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six"),
      (2L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "one two three four XX"),   // cross: corpus df=1 + batch 1
      (11L, "p q r s p q r s"),          // batch-internal repeat
      (12L, "u1 u2 u3 u4 u5")            // unique: no spans
    ).toDF("doc_id", "text")
    val index = graft.operators.Dedup.substringGramIndex(corpus, k = 4)
    def spans(keepFirst: Boolean) = graft.operators.Dedup
      .duplicateSubstringSpansIncremental(batch, index, k = 4,
        keepFirst = keepFirst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // conservative: every copy excised — doc 10's [1,4] (the corpus
    // holds the other copy) and doc 11's two overlapping-adjacent
    // occurrences merge to [1,8]
    assert(spans(keepFirst = false) === Set((10L, 1L, 4L), (11L, 1L, 8L)))
    // keep-first: doc 10's gram first occurred in the CORPUS, so the
    // batch copy is still excised; doc 11's first occurrence (pos 1)
    // survives, only the repeat at pos 5 marks
    assert(spans(keepFirst = true) === Set((10L, 1L, 4L), (11L, 5L, 8L)))
  }

  test("incremental ExactSubstr equals the full run restricted to batch docs, and is partition-invariant") {
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 4 =!= 3)
    val batch = docs.where(col("doc_id") % 4 === 3)
      .unionAll(docs.where(col("doc_id") % 7 === 2)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          substring(col("text"), 31, 400).as("text")))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (kf <- Seq(false, true)) {
      // the freeze boundary must be semantics-free: global counts and
      // global first-keys are what they would be in one full run
      val full = key(graft.operators.Dedup
        .duplicateSubstringSpans(corpus.unionAll(batch), k = 8, keepFirst = kf))
        .filter(s => batchIds.contains(s._1))
      val incr = key(graft.operators.Dedup.duplicateSubstringSpansIncremental(
        batch, graft.operators.Dedup.substringGramIndex(corpus, k = 8),
        k = 8, keepFirst = kf))
      assert(incr === full, s"keepFirst=$kf")
      assert(incr.nonEmpty)
      // partition invariance: the screen must not depend on layout
      val repart = key(graft.operators.Dedup.duplicateSubstringSpansIncremental(
        batch.repartition(7),
        graft.operators.Dedup.substringGramIndex(corpus.repartition(3), k = 8),
        k = 8, keepFirst = kf))
      assert(repart === incr, s"keepFirst=$kf partition variance")
    }
  }

  test("incremental ExactSubstr: fixed batch output invariant under disjoint corpus growth") {
    // the per-batch corpus-independence contract at spec scale: blow
    // the accepted corpus up 3x with id-shifted, vocabulary-disjoint
    // copies (the ScaleGen discipline) — the fixed batch's span table
    // must not change, because disjoint grams can neither create nor
    // mask a mark
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 4 =!= 3)
    val batch = docs.where(col("doc_id") % 4 === 3)
    val corpus3x = corpus
      .unionAll(corpus.select((col("doc_id") + 10000000L).as("doc_id"),
        regexp_replace(col("text"), "[a-zA-Z0-9']+", "$0cA").as("text")))
      .unionAll(corpus.select((col("doc_id") + 20000000L).as("doc_id"),
        regexp_replace(col("text"), "[a-zA-Z0-9']+", "$0cB").as("text")))
    def spans(c: org.apache.spark.sql.DataFrame) = graft.operators.Dedup
      .duplicateSubstringSpansIncremental(batch,
        graft.operators.Dedup.substringGramIndex(c, k = 8), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = spans(corpus)
    assert(base.nonEmpty)
    assert(spans(corpus3x) === base)
  }

  test("contamination spans: hand-checked surgical excision, consistent with the document report") {
    import spark.implicits._
    val eval = Seq((100L, "secret bench question alpha beta")).toDF("doc_id", "text")
    val train = Seq(
      // leak in the middle: tokens 3-7 hold the eval 4-grams
      (1L, "clean intro text secret bench question alpha beta and a clean tail"),
      (2L, "totally clean document nothing shared here"),
      // leak at the start, doc shorter than the leak + k
      (3L, "secret bench question alpha x")
    ).toDF("doc_id", "text")
    val spans = graft.operators.Decontaminate
      .contaminationSpans(train, eval, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: grams at positions 4 and 5 ("secret bench question alpha",
    // "bench question alpha beta") mark [4,7] and [5,8] -> merged [4,8];
    // doc 3: one gram at 1 -> [1,4]; doc 2: nothing
    assert(spans === Set((1L, 4L, 8L), (3L, 1L, 4L)))
    // consistency with the document-level report on the gate fixture:
    // the docs carrying spans are exactly the docs d7's report flags
    // (same 4-gram recipe; positional and set forms agree for docs
    // with >= k tokens)
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val tr = docs.where(col("doc_id") % 20 =!= 0)
    val ev = docs.where(col("doc_id") % 20 === 0)
    val spanDocs = graft.operators.Decontaminate.contaminationSpans(tr, ev, k = 4)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val reportDocs = graft.operators.Decontaminate.report(tr, ev, n = 4)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(spanDocs === reportDocs)
    assert(spanDocs.nonEmpty)
  }

  test("banded semantic decontamination: shuffle-hash eval path equals the broadcast path") {
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val evalSet = e.where(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("eval_id"),
        transform(col("embedding"), x => x * 1.1 + 0.01).as("embedding"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bc = key(graft.operators.Decontaminate.semanticReportBanded(
      e, evalSet, threshold = 0.95))
    val sh = key(graft.operators.Decontaminate.semanticReportBanded(
      e, evalSet, threshold = 0.95, broadcastEval = false))
    assert(bc === sh)
    assert(bc.nonEmpty)
  }

  // --- data-driven PSL registrable domain ----------------------------

  /** ~1.2k-suffix PSL: the real 4 the fixture hosts use, plus decoy
    * TLDs and multi-label suffixes in the shape of the Mozilla list. */
  private val bigPsl: Seq[String] =
    Web.DefaultSuffixes ++
      (0 until 600).map(i => s"tld$i") ++
      (0 until 600).map(i => s"reg$i.tld${i % 50}")

  test("native PSL expression equals the when-chain contract on adversarial hosts") {
    import spark.implicits._
    val suffixes = Seq("co.uk", "com", "org", "io", "k12.ok.us", "ok.us", "us")
    val hosts = Seq(
      "x.co.uk", "blog.x.co.uk", "co.uk",       // multi-label + bare suffix
      "a.b.k12.ok.us", "b.k12.ok.us", "k12.ok.us", // nested suffixes: longest wins
      "c.ok.us", "d.us", "us",
      "plain.com", "deep.sub.plain.org",
      "10.0.0.1", "intranet", "", "x.", ".com", "a..com")
    val df = hosts.toDF("host")
    val chain = df.select(Web.registrableDomain(col("host"), suffixes).as("r"))
      .collect().map(_.getString(0)).toSeq
    val native = df.select(
        graft.functions.RegistrableDomainExpr(col("host"), suffixes).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(native === chain)
    // and a NULL host propagates NULL, like any builtin
    val nul = Seq(Option.empty[String]).toDF("host")
      .select(graft.functions.RegistrableDomainExpr(col("host"), suffixes))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("1.2k-suffix PSL through w1/w2: same results as the 4-suffix chain when decoys never match") {
    val urls = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"),
        concat(lit("https://site"), (col("doc_id") % 37).cast("string"),
          when(col("doc_id") % 4 === 0, ".co.uk").otherwise(".com"),
          lit("/p/"), col("doc_id").cast("string")).as("url"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // w1 shape: domainStats; w2 shape: domainCap
    assert(key(Web.domainStats(urls, "url", bigPsl)) ===
      key(Web.domainStats(urls, "url")))
    assert(key(Web.domainCap(urls, "url", "doc_id", 3, bigPsl)) ===
      key(Web.domainCap(urls, "url", "doc_id", 3)))
    // the big-PSL run really exercised the native expression, not the chain
    assert(bigPsl.size > Web.WhenChainMaxSuffixes)
    // and multi-label decoy suffixes DO fire when a host matches one:
    // longest match wins over the bare TLD decoy
    import spark.implicits._
    val hit = Seq("a.reg7.tld7", "b.tld7").toDF("host")
      .select(graft.functions.RegistrableDomainExpr(col("host"), bigPsl).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(hit === Seq("a.reg7.tld7", "b.tld7"))
  }

  // --- script-mix profile ---------------------------------------------

  test("script counts: hand-checked ranges, surrogate safety, mixed-flag rule") {
    import spark.implicits._
    import graft.functions.Text
    val supplementaryHan = new String(Character.toChars(0x20000)) // CJK ext B
    val rows = Seq(
      (1L, "hello мир"),              // 5 latin + 3 cyrillic
      (2L, "abc"),                    // pure latin: not mixed
      (3L, "ab 你好"),        // 2 latin + 2 han -> mixed
      (4L, "abcdefghij б"),      // 10 latin + 1 cyr: 1*10 >= 11 false -> NOT mixed
      (5L, "abcdefghi б"),       // 9 latin + 1 cyr: 10 >= 10 -> mixed
      (6L, s"ab $supplementaryHan")   // supplementary Han OUT of contract, not split either
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id") +: Text.scriptProfileCols(col("text")): _*)
      .withColumn("tot", Text.scriptCountCols.reduce(_ + _))
      .withColumn("mixed", Text.scriptMixed(Text.scriptCountCols, col("tot")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(7)))).toMap
    assert(out(1L) === ((5L, 3L, 0L, true)))
    assert(out(2L) === ((3L, 0L, 0L, false)))
    assert(out(3L) === ((2L, 0L, 2L, true)))
    assert(out(4L) === ((10L, 1L, 0L, false)))
    assert(out(5L) === ((9L, 1L, 0L, true)))
    // U+20000 is outside every contract range AND must not be
    // miscounted via its surrogate halves
    assert(out(6L) === ((2L, 0L, 0L, false)))
  }

  // --- d5 routing: corpus-count-aware pair mining --------------------

  private def augSmall = {
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    e.unionByName(e.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x * 1.1 + 0.01).as("embedding")))
  }

  private def pairKey(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("embeddingNearDupPairsAuto routes to trained cells past the corpus bound") {
    val aug = augSmall
    val brute = pairKey(DedupReference.embeddingNearDupPairsBrute(aug, threshold = 0.95))
    // below the bound: the banded grid with its recall certificate
    val banded = pairKey(Dedup.embeddingNearDupPairsAuto(aug, threshold = 0.95))
    assert(banded === brute)
    // force the trained route (maxBandedCorpus = 0 — every corpus is
    // "too big"): at this N the derived k is 1, one cell holds
    // everything, candidates are complete, so the route must ALSO
    // equal brute — proving the router swaps plans, not semantics
    val trained = pairKey(Dedup.embeddingNearDupPairsAuto(aug,
      threshold = 0.95, maxBandedCorpus = 0L))
    assert(trained === brute)
    assert(brute.nonEmpty)
  }

  test("trained-cells pair miner equals brute when cells separate the corpus") {
    import spark.implicits._
    // the Round10OpsSpec hand-separable corpus (two super-groups × two
    // sub-clusters, id base chosen so the md5 seeding converges to the
    // sub-cluster truth): near-dup pairs (cos >= 0.95) exist only
    // WITHIN a sub-cluster (cross-sub-cluster cos ≈ 0.74), and
    // trained cells at targetCellSize = 16 over N = 64 derive k = 4 ⇒
    // 2 coarse × 2 fine — exactly the sub-clusters, so the in-cell
    // candidate set covers every true pair.
    val rows = for (i <- 0 until 64) yield {
      val id = 11392L + i
      val c = (id % 4).toInt
      val v = Array.fill(64)(0.0f)
      v(c / 2) = 1.0f
      v(2 + c) = 0.6f
      v(40 + c) = 0.02f * (i / 4 % 5)
      (id, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val brute = pairKey(DedupReference.embeddingNearDupPairsBrute(df, threshold = 0.95))
    val trained = pairKey(Dedup.embeddingNearDupPairsTrained(df,
      threshold = 0.95, targetCellSize = 16))
    assert(trained === brute)
    assert(brute.size >= 4 * (16 * 15) / 4) // >= C(16,2)/... sanity: many pairs
  }
}
