package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Repetition, Vocab}
import graft.functions.Text
import graft.operators.Similarity.hexHash60

class TextOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("textops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("repetition report: hand-computed line and 2-gram fractions") {
    import spark.implicits._
    val docs = Seq(
      // 3 lines, one duplicated -> dup 1/3; grams: "a b","b a","a b","b c","c d" -> top 2/5
      (1L, "a b\na b\nc d"),
      (2L, ""), // no lines, no grams
      (3L, "hello"), // one line, zero 2-grams
      // grams: "foo bar" x3, "bar foo" x2 -> top 3/5
      (4L, "foo bar foo bar foo bar"),
      // blank/whitespace-only lines are dropped before the line stats
      (5L, "x\n   \n\nx"))
      .toDF("doc_id", "text").repartition(2)
    val r = Repetition.report(docs, n = 2).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getLong(3)))).toMap
    assert(r(1L) === ((0.333333, 0.4, 5L)))
    assert(r(2L) === ((0.0, 0.0, 0L)))
    assert(r(3L) === ((0.0, 0.0, 0L)))
    assert(r(4L) === ((0.0, 0.6, 5L)))
    assert(r(5L) === ((0.5, 1.0, 1L))) // lines [x, x] -> dup 1/2; one gram "x x"
  }

  test("vocab top terms: hand-computed df/cf, tie-break, minDf prune") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "Alpha delta")) // case folds into 'alpha'
      .toDF("doc_id", "text").repartition(2)
    val top = Vocab.topTerms(docs, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // cf: alpha 3 (docs 1,1,3), beta 2, delta 1, gamma 1 (ties by token asc)
    assert(top.toSeq === Seq(("alpha", 2L, 3L), ("beta", 2L, 2L),
      ("delta", 1L, 1L), ("gamma", 1L, 1L)))
    val pruned = Vocab.topTerms(docs, k = 10, minDf = 2).collect().map(_.getString(0))
    assert(pruned.toSeq === Seq("alpha", "beta"))
    // k truncates after the deterministic (cf desc, token) order
    assert(Vocab.topTerms(docs, k = 3).collect().map(_.getString(0)).toSeq ===
      Seq("alpha", "beta", "delta"))
  }

  test("repetition report is partitioning-invariant") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"line a\nline b\nword$i " * (i % 5 + 1).toInt))
      .toDF("doc_id", "text")
    val one = Repetition.report(docs.repartition(1)).collect().toSet
    val many = Repetition.report(docs.repartition(7)).collect().toSet
    assert(one === many)
  }

  test("vocab encode: dense ids in cf order, OOV as -1, document order kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a b zz a"))
      .toDF("doc_id", "text").repartition(2)
    // corpus cf: a=4, b=4, c=1, zz=1 → tie at 4 breaks on token: a=0, b=1 (k=2)
    val vocab = Vocab.assignIds(Vocab.topTerms(docs, k = 2))
    assert(vocab.orderBy("token_id").collect().map(r =>
      (r.getAs[String]("token"), r.getAs[Int]("token_id"))).toSeq ===
      Seq(("a", 0), ("b", 1)))
    val enc = Vocab.encode(docs, vocab).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(enc(1L) === ((6L, 1L, "1 1 1 0 0 -1")))  // c is OOV
    assert(enc(2L) === ((4L, 1L, "0 1 -1 0")))      // zz is OOV
    // the shuffle-join variant (huge-vocab path) produces the same result
    val encShuffled = Vocab.encode(docs, vocab, broadcastVocab = false).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(encShuffled(1L) === "1 1 1 0 0 -1" && encShuffled(2L) === "0 1 -1 0")
  }

  test("bigram surprisal: hand-computed add-alpha model, short docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"), // bigrams (a,b) (b,a) (a,b)
      (2L, "a b"),     // bigram (a,b)
      (3L, "c"))       // no bigrams — absent from the report
      .toDF("doc_id", "text").repartition(2)
    // corpus: c2(a,b)=3, c2(b,a)=1; c1(a)=3, c1(b)=1; V=3; alpha=0.5
    def micro(c2: Long, c1: Long): Long =
      math.round(-math.log((c2 + 0.5) / (c1 + 0.5 * 3)) * 1e6)
    val sAB = micro(3, 3) // -ln(3.5/4.5)
    val sBA = micro(1, 1) // -ln(1.5/2.5)
    def mean(ms: Seq[Long]): Double =
      math.round(ms.sum.toDouble / ms.size / 1e6 * 1e6) / 1e6
    val r = Vocab.meanBigramSurprisal(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r.keySet === Set(1L, 2L))
    assert(r(1L)._1 === 3L && r(2L)._1 === 1L)
    assert(math.abs(r(1L)._2 - mean(Seq(sAB, sAB, sBA))) < 1e-9)
    assert(math.abs(r(2L)._2 - mean(Seq(sAB))) < 1e-9)

    // partition-invariant: integer micro-nat sums don't care about order
    val again = Vocab.meanBigramSurprisal(docs.repartition(7)).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(again === r)
  }

  test("misra-gries: exact when capacity holds the vocab, bounded under eviction") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    // exact regime: capacity >= distinct terms → counts equal GROUP BY
    val docs = Seq((1L, "a a a b b c"), (2L, "a b c d"), (3L, "a e")).toDF("doc_id", "text")
    val exact = HeavyHitters.topTokens(docs.repartition(3), capacity = 64, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(exact.toSeq === Seq(("a", 5L, 1), ("b", 3L, 2), ("c", 2L, 3),
      ("d", 1L, 4), ("e", 1L, 5)))
    // eviction regime: 3 heavy terms (100 each) among 200 singletons,
    // capacity 8 → bound N/(cap+1) = 500/9 ≈ 55.6; heavies must survive
    // with counts within the bound, on any partitioning
    val stream = (1 to 100).flatMap(_ => Seq("h1", "h2", "h3")) ++
      (1 to 200).map(i => s"noise$i")
    val n = stream.size.toLong
    val hh = HeavyHitters.topTokens(
      stream.map(t => (0L, t)).toDF("doc_id", "text").repartition(5),
      capacity = 8, k = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = n.toDouble / 9
    Seq("h1", "h2", "h3").foreach { h =>
      assert(hh.contains(h), s"heavy hitter $h evicted: $hh")
      assert(hh(h) <= 100L && hh(h) >= 100L - bound, s"$h count ${hh(h)} outside bound")
    }
    hh.foreach { case (t, c) =>
      val truth = if (t.startsWith("h")) 100L else 1L
      assert(c <= truth && c >= truth - bound, s"$t=$c violates the MG bound")
    }
  }

  test("bpe merges: frequency order, greedy-left overlap, early stop") {
    import spark.implicits._
    // words: "aa" x2, "ab" x1 → round 1 merges (a,a) count 2, round 2
    // merges (a,b) count 1, round 3 finds nothing and stops early
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val m = graft.operators.Bpe.trainMerges(docs, "text", rounds = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq((1, "a", "a", 2L), (2, "a", "b", 1L)))

    // "aaa": pair (a,a) occurs twice but overlapping — greedy-left
    // replace merges only the first, leaving " aa a ", so round 2
    // learns (aa, a)
    val tri = Seq((1L, "aaa")).toDF("doc_id", "text")
    val m2 = graft.operators.Bpe.trainMerges(tri, "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m2.toSeq === Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))

    // encoding with the first merge only: "aa"→1 symbol, "ab"→2 symbols
    // ⇒ doc has 3 tokens, 1+1+2 = 4 subword symbols
    val enc = graft.operators.Bpe.encodeStats(docs, "doc_id", "text", Seq(("a", "a")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.toSeq === Seq((1L, 3L, 4L)))
  }

  test("bpe batched training equals sequential greedy exactly") {
    import spark.implicits._
    // real corpus slice: many independent high-frequency pairs (the
    // batch-friendly case), plus self-repeating and chained merges that
    // force conservative batch closes — the equality must hold through
    // all of them, at several batch widths
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .where(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val seqM = graft.operators.Bpe.trainMerges(docs, "text", rounds = 16)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(seqM.size === 16, "fixture must sustain 16 merges")
    for (k <- Seq(1, 3, 8)) {
      val batM = graft.operators.Bpe
        .trainMergesBatched(docs, "text", rounds = 16, batchK = k)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(batM === seqM, s"batchK=$k diverged from sequential")
    }
    // the aa/ab + overlap fixtures from the sequential test, batched
    val m = graft.operators.Bpe
      .trainMergesBatched(Seq((1L, "aa aa ab")).toDF("doc_id", "text"),
        "text", rounds = 5, batchK = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq((1, "a", "a", 2L), (2, "a", "b", 1L)))
    val m2 = graft.operators.Bpe
      .trainMergesBatched(Seq((1L, "aaa")).toDF("doc_id", "text"),
        "text", rounds = 2, batchK = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m2.toSeq === Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("property: batched BPE equals sequential on random corpora") {
    import spark.implicits._
    // random small-alphabet corpora maximize merge interaction (chained
    // merges, self-repeats, created-pair ranking hazards) — exactly the
    // cases the safe-prefix rule must close the batch on
    val rnd = new scala.util.Random(1205)
    for (round <- 1 to 6) {
      val alpha = "abcd".take(2 + rnd.nextInt(3))
      val docs = (1 to 6).map { i =>
        (i.toLong, Seq.fill(8 + rnd.nextInt(20))(
          Seq.fill(1 + rnd.nextInt(6))(alpha(rnd.nextInt(alpha.length)))
            .mkString).mkString(" "))
      }.toDF("doc_id", "text")
      val rounds = 4 + rnd.nextInt(8)
      val seqM = graft.operators.Bpe.trainMerges(docs, "text", rounds)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val k = 1 + rnd.nextInt(6)
      val batM = graft.operators.Bpe
        .trainMergesBatched(docs, "text", rounds, batchK = k)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(batM === seqM, s"round=$round batchK=$k rounds=$rounds")
    }
  }

  test("lexical diversity: hand-computed types/hapax/ttr, case folding, empty docs drop") {
    import spark.implicits._
    val docs = Seq(
      // "the The cat cat cat sat" → 6 tokens, 3 types (case-folded),
      // hapax {sat}, ttr 0.5
      (1L, "the The cat cat, cat sat!"),
      // all distinct → ttr 1, every token hapax
      (2L, "alpha beta gamma"),
      // punctuation-only → zero tokens → no output row
      (3L, "?!... --- ..."))
      .toDF("doc_id", "text").repartition(3)
    val r = Vocab.lexicalDiversity(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))))
      .toMap
    assert(r === Map(
      1L -> ((6L, 3L, 1L, 0.5)),
      2L -> ((3L, 3L, 3L, 1.0))))
  }

  test("zipf fit matches an exact BigInt replication of the quantized regression") {
    import spark.implicits._
    // frequencies 4/3/2/1 over ranks 1..4 (ties broken by token)
    val docs = Seq((1L, "a a a a b b b c c d")).toDF("doc_id", "text")
    val row = Vocab.zipfFit(docs, k = 10).collect().head
    val cf = Seq(4L, 3L, 2L, 1L)
    val xs = cf.indices.map(i => math.round(math.log(i + 1.0) * 1e6))
    val ys = cf.map(c => math.round(math.log(c.toDouble) * 1e6))
    def bi(l: Long) = BigInt(l)
    val n = bi(cf.size)
    val (sx, sy) = (xs.map(bi).sum, ys.map(bi).sum)
    val sxx = xs.map(x => bi(x) * bi(x)).sum
    val syy = ys.map(y => bi(y) * bi(y)).sum
    val sxy = xs.zip(ys).map { case (x, y) => bi(x) * bi(y) }.sum
    val num = (n * sxy - sx * sy).toDouble
    val slope = BigDecimal(num / (n * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r2 = BigDecimal(num * num /
        ((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(0) === 4L)
    assert(math.abs(row.getDouble(1) - slope) < 1e-9, s"slope ${row.getDouble(1)} vs $slope")
    assert(math.abs(row.getDouble(2) - r2) < 1e-9, s"r2 ${row.getDouble(2)} vs $r2")
    // natural-ish data slopes negative
    assert(row.getDouble(1) < 0)
  }

  test("pmi pairs: exact counts, micro-nat scores, and tie-broken top-k order") {
    import spark.implicits._
    // tokens: [a b a b] + [a b c] → N=7; bigrams (a,b)×3 (b,a) (b,c) → B=5
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    def m(c2: Long, ca: Long, cb: Long): Long =
      math.round(math.log(c2.toDouble * 7.0 * 7.0 / (5.0 * ca.toDouble * cb.toDouble)) * 1e6)
    val got = Vocab.pmiTopPairs(docs, k = 10, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // (a,b) and (b,c) share the identical ratio 49/15 → tie-break on prev
    assert(got === Seq(
      ("a", "b", 3L, m(3, 3, 3)),
      ("b", "c", 1L, m(1, 3, 1)),
      ("b", "a", 1L, m(1, 3, 3))))
  }

  test("hashed linear score equals the md5-weight sum; empty text scores 0") {
    import spark.implicits._
    def w(tok: String): Long = hexHash60(s"qw|$tok") % 2001 - 1000
    val df = Seq(
      (1L, "Alpha beta ALPHA"), // case-folds: w(alpha)·2 + w(beta)
      (2L, "  .,;  "),          // no tokens
      (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Text.hashedLinearScore(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 2 * w("alpha") + w("beta"))
    assert(got(2L) === 0L && got(3L) === 0L)
  }
}
