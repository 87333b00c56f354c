package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
  * vocabulary learner of an LLM data pipeline, as iterated aggregation.
  *
  * Classic BPE (Sennrich et al., "Neural Machine Translation of Rare
  * Words with Subword Units", ACL 2016) greedily learns merges: count
  * adjacent symbol pairs over the corpus, merge the most frequent pair
  * everywhere, repeat. The distributed shape mirrors the textbook
  * word-frequency formulation: training iterates over the DISTINCT-word
  * table weighted by corpus counts (|vocab| rows — orders of magnitude
  * smaller than the corpus, but still far too large to collect), so each
  * round is one explode→aggregate for pair counts, one TakeOrdered(1)
  * for the winning pair, and one per-row literal `replace` applying the
  * merge. Nothing corpus-sized is ever collected; the only driver-side
  * value per round is the single winning pair (the same role as the
  * observed edge fingerprint in [[Dedup.connectedComponents]]).
  *
  * Determinism: winner = max count, ties broken by (left, right)
  * lexicographically — ASCII-only symbols, so Spark's UTF8 ordering and
  * any SQL engine's binary collation agree, and an oracle can replay
  * training round-for-round.
  */
object Bpe {

  /** Space-delimited symbol string of a word, space-padded on both ends:
    * "fox" → " f o x ". The padding makes every symbol occurrence
    * ` l r ` -matchable with no word-boundary false positives, and
    * left-to-right non-overlapping `replace` applies a merge exactly the
    * way greedy BPE does. */
  private def charString(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "))

  /** Corpus word-frequency table: one row per distinct normalized token
    * with its occurrence count — the table BPE training iterates on. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(Text.normalized(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Adjacent-pair counts over the current symbol strings, weighted by
    * word frequency. Slice-zip instead of `sequence` (which would emit a
    * descending range for 1-symbol words). */
  private def pairCounts(words: DataFrame): DataFrame = {
    val t = split(trim(col("s")), " ")
    val len = greatest(size(t) - 1, lit(0))
    words
      .select(col("cnt"),
        explode(zip_with(slice(t, lit(1), len), slice(t, lit(2), len),
          (a, b) => struct(a.as("l"), b.as("r")))).as("_p"))
      .groupBy(col("_p.l").as("l"), col("_p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))
  }

  /** Learns `rounds` merges; returns (merge_rank, lhs, rhs, pair_count)
    * in learn order. Stops early if no pair is left to merge.
    *
    * CONTRACT — this is a MODEL BUILD, not a corpus pass: BPE training
    * is inherently sequential (each merge re-ranks the next), so every
    * round costs one driver round-trip (a `limit(1)` job) plus one
    * rewrite; a real 32k-merge vocabulary is ~64k Spark jobs. Train on
    * a SAMPLED slice of the corpus (tokenizer quality saturates far
    * below full-corpus word counts — the word-frequency table, not the
    * corpus, is what training sees, and a uniform document sample
    * preserves its shape), then apply the learned merges corpus-wide
    * with [[encodeStats]], which IS a single-pass scan-stage operator.
    * [[trainMergesBatched]] cuts the round-trips ~batchK× with
    * provably identical output when many merges per round are
    * independent. */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // eagerly materialized per round: each round's strings feed both the
    // pair count and the next round's rewrite (see Dedup.minhashLshPairs)
    var words = wordCounts(docs, textCol)
      .select(col("cnt"), charString(col("word")).as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rr, n))
        words = words
          .withColumn("s", replace(col("s"), lit(s" $l $rr "), lit(s" $l$rr ")))
          .localCheckpoint()
        r += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** [[trainMerges]] with up to `batchK` merges per driver round-trip —
    * EXACTLY the sequential greedy output (property-tested equal), with
    * ~batchK× fewer Spark jobs when merges are independent (they
    * usually are: distinct high-frequency pairs rarely share symbols).
    *
    * Each round collects the top candidates ONCE and applies the
    * maximal SAFE PREFIX of the ranked list in one rewrite. A prefix
    * selection is safe — i.e. sequential greedy would provably have
    * picked the same pairs with the same counts — when
    *  1. the candidate shares no symbol with any earlier selection
    *     (and no symbol equal to an earlier selection's merged string):
    *     the rewrites then commute and leave each other's pair counts
    *     untouched, so the collected (stale) counts are the true
    *     sequential ones; and
    *  2. no pair an earlier selection s CREATES can outrank the
    *     candidate: a created pair is (x, s.lhs∥s.rhs) or
    *     (s.lhs∥s.rhs, y), and its count is bounded by the OLD count of
    *     (x, s.lhs) / (s.rhs, y) — every created occurrence "x s.lhs
    *     s.rhs" contains an old "x s.lhs" — so it suffices that every
    *     collected pair adjacent to s's symbols counts strictly below
    *     the candidate (pairs NOT collected count below the collected
    *     minimum, hence below the candidate a fortiori).
    * The batch ends at the first candidate that cannot be proven safe
    * — conservative, never wrong. */
  def trainMergesBatched(
      docs: DataFrame, textCol: String, rounds: Int,
      batchK: Int = 8): DataFrame = {
    require(batchK >= 1, s"batchK must be positive, got $batchK")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = wordCounts(docs, textCol)
      .select(col("cnt"), charString(col("word")).as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // one collect per ROUND: the ranked head, wide enough to check
      // the created-pair bound (rule 2) around each selection
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(batchK * 4).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val picked = safePrefix(top, batchK, rounds - r + 1)
        for ((l, rr, n) <- picked) { merges += ((r, l, rr, n)); r += 1 }
        words = words
          .withColumn("s", picked.foldLeft(col("s")) { case (c, (l, rr, _)) =>
            replace(c, lit(s" $l $rr "), lit(s" $l$rr ")) })
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** The maximal provably-safe prefix of a ranked pair head (the
    * batched trainers' shared selection rule — see
    * [[trainMergesBatched]]'s scaladoc for the two safety conditions).
    * `top` is the collected head, `limit` the max picks this batch,
    * `remaining` the merges still wanted. */
  private def safePrefix(
      top: Array[(String, String, Long)], limit: Int,
      remaining: Int): Seq[(String, String, Long)] = {
    val picked = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val usedSymbols = scala.collection.mutable.Set[String]()
    // rule 2 needs every pair adjacent to a used symbol to be
    // bounded: pairs NOT collected count at most the collection
    // floor, so past the floor nothing is provable — and AT the
    // floor an uncollected tie could win the (n, l, r) sort
    val floor = if (top.length == limit * 4) top.last._3 else -1L
    var open = true
    for ((l, rr, n) <- top if open && picked.size < limit &&
        picked.size < remaining) {
      val safeDisjoint = picked.isEmpty ||
        (!usedSymbols(l) && !usedSymbols(rr) && !usedSymbols(l + rr))
      // rule 2: every collected pair touching an earlier selection's
      // symbols (the already-picked pairs themselves excluded —
      // they are consumed, not created) must count strictly below
      // this candidate
      val safeCreated = picked.isEmpty || (n > floor &&
        top.forall { case (ql, qr, qn) =>
          qn < n ||
            picked.exists(p => p._1 == ql && p._2 == qr) ||
            !(usedSymbols(ql) || usedSymbols(qr))
        })
      if (safeDisjoint && safeCreated) {
        picked += ((l, rr, n))
        usedSymbols += l; usedSymbols += rr; usedSymbols += (l + rr)
        // a self-repeating pick (a,a) can create (aa,aa) bounded
        // only by ITSELF (count ≥ any later candidate): close the
        // batch — sequential must re-rank from here
        if (l == rr) open = false
      } else open = false
    }
    picked.toSeq
  }

  /** Applies a learned merge list to the corpus and reports per-document
    * subword statistics: (id, n_tokens, n_symbols) — the "how many BPE
    * tokens is this document" accounting every token-budgeted pipeline
    * stage (packing, mixture, billing) runs after tokenizer training.
    *
    * Scale shape: the merge list is a driver-side constant (one row per
    * learned merge — thousands at most), folded into a single
    * chained-replace projection; it is applied to the DISTINCT-word
    * table (vocab-sized), which then joins the exploded token stream on
    * the word — one shuffle each side, aggregation absorbed map-side.
    * Documents with no tokens vanish (inner join on an empty explode). */
  def encodeStats(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode(Text.tokens(Text.normalized(col(textCol)))).as("word"))
    val merged = merges.foldLeft(charString(col("word"))) { case (s, (l, r)) =>
      replace(s, lit(s" $l $r "), lit(s" $l$r "))
    }
    val vocab = tokens.select(col("word")).distinct()
      .select(col("word"), size(split(trim(merged), " ")).as("_n_sym"))
    tokens.join(vocab.hint("shuffle_hash"), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_n_sym")).as("n_symbols"))
  }
}
