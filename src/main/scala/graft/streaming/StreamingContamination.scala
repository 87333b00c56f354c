package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-time benchmark-contamination gate — the streaming posture of
  * the d7/d36 n-gram screens: a crawl/ingest stream is checked against
  * the FROZEN eval gram set the moment each document arrives, instead
  * of re-screening the corpus per release. The strict GPT-3-style rule
  * (any shared k-gram ⇒ contaminated) streams cleanly because it is an
  * EXISTS, not an aggregate: explode the document's grams (scan-stage,
  * the ExactSubstr native pass), inner-join the static eval set (a
  * stream-static join — Spark broadcasts or rebuilds the static side
  * per micro-batch; at ~10³-10⁵ eval items it is broadcast-sized
  * forever), and emit each doc id once via streaming `dropDuplicates`.
  *
  * State, stated honestly: the dedup keeps one entry PER FLAGGED doc id
  * — not per document — so state grows with contamination hits only
  * (the screen's output, which a pipeline wants durable anyway). For a
  * long-running gate, pass `eventTimeCol`/`watermarkDelay`: the dedup
  * switches to `dropDuplicatesWithinWatermark`, so a flagged id's state
  * entry expires once the watermark passes it — bounded state, with
  * re-emission possible only for a duplicate id arriving later than
  * the delay (the standard watermark trade, callers pick the delay).
  *
  * Batch parity (asserted in `StreamingSpec`): the flagged-id set
  * equals the batch screens' — documents with ≥ 1 shared gram, i.e.
  * exactly [[graft.operators.Decontaminate.contaminationSpans]]'
  * distinct doc ids and `report`'s n_hit ≥ 1 set.
  */
object StreamingContamination {

  /** Unparseable ids follow the shared [[graft.operators.Dedup.tryLongId]]
    * quarantine (one malformed id in a micro-batch must never kill the
    * long-running query under ANSI mode), matching `StreamingNearDup`.
    *
    * @param evalGrams the frozen eval gram set —
    *   [[graft.operators.Decontaminate.evalGramSet]], typically read
    *   back from its at-rest parquet (built once per eval-suite
    *   version, amortized over every ingest batch).
    * @param eventTimeCol optional event-time column on `docs`: when
    *   set (with `watermarkDelay`), the per-flagged-id dedup state is
    *   bounded by `dropDuplicatesWithinWatermark` instead of growing
    *   for the life of the query. The column is watermarked and kept
    *   alongside `doc_id` in the output.
    * @param watermarkDelay the watermark delay string (e.g. "1 hour")
    *   — how late a duplicate id may arrive and still be suppressed. */
  def flaggedIds(
      docs: DataFrame, evalGrams: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, eventTimeCol: Option[String] = None,
      watermarkDelay: String = "1 hour"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val flagged = docs
      .where(graft.operators.Dedup.tryLongId(idCol).isNotNull) // shared id quarantine
      .select(graft.operators.Dedup.tryLongId(idCol).as("doc_id") +:
        explode(graft.functions.PositionalGramHashes(col(textCol), k))
          .as("_h") +:
        eventTimeCol.map(col).toSeq: _*)
      .join(evalGrams, "_h")
    eventTimeCol match {
      case Some(t) =>
        flagged.select(col("doc_id"), col(t))
          .withWatermark(t, watermarkDelay)
          .dropDuplicatesWithinWatermark("doc_id")
      case None =>
        flagged.select(col("doc_id")).dropDuplicates("doc_id")
    }
  }
}
