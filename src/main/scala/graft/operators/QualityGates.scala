package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Heuristic quality-gate battery — the C4 / Gopher / RefinedWeb
  * rule-based document filters, evaluated as independent boolean gates
  * with the measured features kept in the output (so a pipeline can
  * both filter and audit WHY documents were dropped, which the
  * published pipelines all report).
  *
  * Gates (public thresholds in the Gopher appendix / C4 §2.2 spirit,
  * adapted to whitespace tokens):
  *   - word count within [minWords, maxWords];
  *   - mean word length within [1.5, 10] chars;
  *   - stopword fraction ≥ 0.01 (natural-language prose contains
  *     function words; token soup does not);
  *   - top-word concentration ≤ 0.30 (no single word claims more than
  *     30% of the document — the cheap repetition gate, complementing
  *     the n-gram Gopher gates in t32);
  *   - symbol-character fraction ≤ 0.25.
  *
  * Scale shape: every feature except top-word concentration is pure
  * scan-stage column arithmetic (zero shuffle). Concentration needs a
  * (doc, word) term-frequency aggregation — one exploded pass with
  * map-side partial counts, the same machinery t19/t20/t39 ride; the
  * doc-keyed max then joins back by id. Text itself never becomes a
  * shuffle key, and the join carries one row per doc.
  */
object QualityGates {

  def apply(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 5,
      maxWords: Int = 5000): DataFrame = {
    val id = col(idCol)
    val text = col(textCol)

    // (doc, word) term frequencies → per-doc top-word share.
    val tf = docs
      .filter(length(trim(text)) > 0)
      .select(id, explode(TextFunctions.tokens(lower(text))).as("t"))
      .groupBy(id, col("t")).agg(count(lit(1)).as("c"))
    val topShare = tf
      .groupBy(id)
      .agg((max(col("c")) / sum(col("c")).cast("double")).as("top_frac_raw"))

    docs
      .select(
        id,
        TextFunctions.tokenCount(text).as("n_words"),
        round(TextFunctions.meanWordLength(text), 4).as("mean_wlen"),
        round(TextFunctions.stopwordRatio(text), 4).as("stop_frac"),
        round(TextFunctions.symbolRatio(text), 4).as("symbol_frac"))
      .join(topShare, Seq(idCol), "left")
      .withColumn("top_frac", round(coalesce(col("top_frac_raw"), lit(0.0)), 4))
      .drop("top_frac_raw")
      .withColumn("pass_nwords",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_wlen",
        col("mean_wlen") >= 1.5 && col("mean_wlen") <= 10.0)
      .withColumn("pass_stop", col("stop_frac") >= 0.01)
      .withColumn("pass_top", col("top_frac") <= 0.30)
      .withColumn("pass_symbol", col("symbol_frac") <= 0.25)
      .withColumn("keep",
        col("pass_nwords") && col("pass_wlen") && col("pass_stop") &&
          col("pass_top") && col("pass_symbol"))
  }
}
