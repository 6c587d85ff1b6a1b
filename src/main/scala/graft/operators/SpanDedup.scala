package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Exact duplicate-SPAN detection — the training-data signal from
  * "Deduplicating Training Data Makes Language Models Better" (Lee et
  * al., ACL 2022): a document is contaminated by boilerplate to the
  * extent that its fixed-width token windows also occur elsewhere in
  * the corpus. Document-level dedup (exact t06, near-dup t07/t08/t09)
  * misses this — two distinct pages sharing a 10-word navigation
  * footer are not document duplicates, but the footer tokens are still
  * duplicated training text.
  *
  * Reference scope: the reference engine's dedup surface is
  * whole-record (`analyse_main.py` event ids); span-level dedup is the
  * corpus-curation extension demanded by the build brief.
  *
  * Scale shape (the suffix-array construction in the paper is
  * single-machine; this is the distributed approximation over fixed
  * windows):
  *   - every sliding window is reduced to its xxhash64 IN THE SCAN
  *     STAGE — the shuffle carries (doc_id, 8-byte long key), never
  *     window text. Round 14 shipped md5 string keys here; the 32-hex
  *     key was 4-5× the sort/shuffle bytes of a long and the
  *     corpus-wide sorts of these keys are exactly what grew
  *     1.35×/decade in the fourth-decade probe, so round 15 swapped to
  *     the 8-byte key and round 16 measured the swap same-build
  *     (numbers in PLANS.md round 16). Collision
  *     tolerance: two distinct windows colliding (≈ W²/2⁶⁵ per corpus;
  *     ~3 % odds of a SINGLE collision at 10⁹ distinct windows) can
  *     only raise a `tot` — marking at most those two windows
  *     duplicated — which is the conservative direction for both the
  *     profile and the scrub (an over-scrub of one window per ~30
  *     corpora; the md5 alternative carries the same risk at 2⁻¹²⁸,
  *     i.e. never, but pays the string key on every shuffled row);
  *   - occurrence counting is two hash aggregations with map-side
  *     partial combine: (doc, key) → count, then key → total;
  *   - the (doc, key) ⋈ key join moves only distinct-window rows, so a
  *     document repeating one window 1 000× contributes ONE row to the
  *     join, not 1 000;
  *   - nothing is collected to the driver; output is one row per doc.
  * At 100 TB the key space is bounded by total token count; hot keys
  * (a footer shared by millions of pages) hit the `tot` aggregation as
  * single-key partial sums — AQE skew handling territory, no
  * collect_list of doc ids anywhere.
  */
object SpanDedup {

  /** Per-document duplicated-span profile.
    *
    * A window (w consecutive lowercased whitespace tokens) is
    * "duplicated" when its corpus-wide occurrence count is ≥ 2 —
    * including a second occurrence inside the same document, matching
    * the paper's self-repetition semantics.
    *
    * Output: one row per input doc —
    * (idCol, n_windows, n_dup_windows, dup_fraction). Docs shorter
    * than w tokens have zero windows and dup_fraction 0.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      window: Int = 10): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val id = col(idCol)

    // widened (r20, measured): the window tokenize+explode+hash is the
    // operator's scan-stage hot loop, and a sub-MB parquet input arrives
    // as ONE split — t42 ran at 2.2 effective cores on a 32-core box
    // (bench cpu/wall 12.3/5.65). Identity once the input has ≥
    // defaultParallelism partitions (any real corpus): no exchange at
    // 100 TB. Integer counts + a per-doc rounded ratio — partition-
    // order invariant, oracle re-verified.
    val wide = graft.core.Tables.widened(docs)

    // (doc_id, xxhash64(window)) — key computed before the explode leaves the
    // scan stage; ngramsRaw yields [] for docs shorter than the window.
    val wins = wide
      .select(id, explode(
        TextFunctions.ngramsRaw(lower(col(textCol)), window)).as("gram"))
      .select(id, xxhash64(col("gram")).as("k"))

    val perDocKey = wins.groupBy(id, col("k")).agg(count(lit(1)).as("c"))
    val totals = perDocKey.groupBy(col("k")).agg(sum(col("c")).as("tot"))

    // `totals` is O(distinct windows) — unbounded in corpus size — so it
    // must NEVER be a broadcast build side. Without the hint, Spark's
    // static size estimate (which shrinks through the two aggregations)
    // drops it under autoBroadcastJoinThreshold and plans a broadcast
    // hash join whose deserialized relation needs a ~1 GB hash array per
    // task at the 100x corpus (~45 M keys) — measured as a reproducible
    // UNABLE_TO_ACQUIRE_MEMORY abort. Sort-merge is the spill-safe shape
    // for this unbounded ⋈ unbounded join at every scale.
    val per = perDocKey
      .join(totals.hint("merge"), "k")
      .groupBy(id)
      .agg(
        sum(col("c")).as("n_windows"),
        sum(when(col("tot") >= 2, col("c")).otherwise(0L)).as("n_dup_windows"))

    docs.select(id)
      .join(per, Seq(idCol), "left")
      .select(
        id,
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_fraction",
        when(col("n_windows") === 0, 0.0)
          .otherwise(round(col("n_dup_windows") / col("n_windows").cast("double"), 4)))
  }

  /** The REMOVAL transform behind [[duplicateSpans]]: rewrite each
    * document with every token covered by a corpus-duplicated window
    * deleted — the Lee et al. scrub itself, not just the profile. A
    * token survives iff NO window containing it occurs ≥ 2× corpus-wide.
    *
    * Output text is whitespace-normalized lowercase (the window
    * tokenization); docs shorter than the window pass through unchanged
    * (normalized), fully-duplicated docs come back empty.
    *
    * Scale shape: rewriting text is inherently O(corpus) — tokens move
    * through the reassembly shuffle exactly once, keyed by doc id (the
    * same per-doc payload a plain read moves). Everything else rides
    * the [[duplicateSpans]] contract: xxhash64 window keys, skinny
    * (doc, position) rows for the removal set, map-side combines.
    *
    * Output: (idCol, n_tokens, n_removed, cleaned_text), one row per
    * input doc. */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      window: Int = 10): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val id = col(idCol)

    // NOT widened (r20, measured): unlike [[duplicateSpans]] this
    // operator's wall is the token-reassembly joins and the final
    // collect_list shuffle, not the tokenize — the A/B (calm windows,
    // t46 isolated) read 2.01-2.14 s unwidened vs 2.14-2.52 s widened,
    // so the extra exchange buys nothing here.
    val words = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(id, TextFunctions.tokens(lower(col(textCol))).as("ws"))

    // (doc, window start i [1-based], xxhash64 key)
    val wins = words
      .select(id, posexplode(
        TextFunctions.ngramsRawFromTokens(col("ws"), window))
        .as(Seq("p0", "gram")))
      .select(id, (col("p0") + 1).as("i"), xxhash64(col("gram")).as("k"))

    // Same unbounded-⋈-unbounded posture as [[duplicateSpans]]: `tot` is
    // O(distinct windows), never broadcastable (see the comment there).
    val tot = wins.groupBy(col("k")).agg(count(lit(1)).as("tot"))
    val removed = wins
      .join(tot.hint("merge"), "k")
      .filter(col("tot") >= 2)
      .select(id, explode(sequence(col("i"), col("i") + (window - 1))).as("p"))
      .distinct()

    val toks = words
      .select(id, posexplode(col("ws")).as(Seq("p0", "tok")))
      .select(id, (col("p0") + 1).as("p"), col("tok"))

    val kept = toks
      .join(removed.hint("merge"), Seq(idCol, "p"), "left_anti")
      .groupBy(id)
      .agg(concat_ws(" ",
        transform(
          sort_array(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok"))).as("cleaned_text"))

    val nrem = removed.groupBy(id).agg(count(lit(1)).as("n_removed"))

    docs.select(id)
      .join(words.select(id, size(col("ws")).cast("long").as("n_tokens")), Seq(idCol), "left")
      .join(nrem, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(id,
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }
}
