package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-6 selection/audit operators: duplicate-span profiling
  * (SpanDedup), the heuristic gate battery (QualityGates), and
  * token-budget assembly (Selection) — hand-built corpora with
  * closed-form expectations; the DuckDB oracles (t42–t44) pin the same
  * operators against the real SF tables.
  */
class SelectionOpsSpec extends SparkSpec {
  import testImplicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, text) => (id, text, "en", "src", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // ---- SpanDedup ----------------------------------------------------

  test("spans: planted shared window is flagged in both docs, unique text is not") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ") // exactly one 10-window
    val out = SpanDedup.duplicateSpans(docs(
        (1L, shared + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "one two three four five six seven eight nine ten eleven " + shared),
        (3L, "unique tokens only here nothing repeats at all anywhere today")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: 20 tokens → 11 windows; only the window fully inside `shared`
    // (position 1) also occurs in doc2 (position 12 of 21 tokens → 12 windows).
    assert(out(1L)._1 === 11L && out(2L)._1 === 12L && out(3L)._1 === 1L)
    assert(out(1L)._2 === 1L)
    assert(out(2L)._2 === 1L)
    assert(out(3L)._2 === 0L)
  }

  test("spans: within-document repetition counts as duplication; short docs have zero windows") {
    val rep = (("a b c d e f g h i j " * 2).trim, 20) // window 1 == window 11
    val out = SpanDedup.duplicateSpans(docs((1L, rep._1), (2L, "too short")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._1 === 11L)
    assert(out(1L)._2 >= 2L) // positions 1 and 11 share one window key
    assert(out(2L) === ((0L, 0L, 0.0)))
  }

  test("scrub: duplicated block is cut from both docs, surrounding text survives") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val tail = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val out = SpanDedup.removeDuplicateSpans(docs(
        (1L, shared + " " + tail),
        (2L, "one two three four five six seven eight nine ten eleven " + shared),
        (3L, "unique tokens only here nothing repeats at all anywhere today")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc1: positions 1-10 (the shared block) removed, tail survives
    assert(out(1L) === ((20L, 10L, tail)))
    // doc2: the block sits at positions 12-21; the 11-token prefix survives
    assert(out(2L) === ((21L, 10L,
      "one two three four five six seven eight nine ten eleven")))
    assert(out(3L) === ((10L, 0L,
      "unique tokens only here nothing repeats at all anywhere today")))
  }

  test("scrub: within-doc repetition scrubs the whole doc; short docs pass through") {
    val out = SpanDedup.removeDuplicateSpans(docs(
        (1L, ("a b c d e f g h i j " * 2).trim),
        (2L, "too short to window")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((20L, 20L, "")))
    assert(out(2L) === ((4L, 0L, "too short to window")))
  }

  // ---- QualityGates -------------------------------------------------

  test("gates: prose passes, token soup fails stopword gate, repetition fails top gate") {
    val out = QualityGates(docs(
        (1L, "the quick brown fox jumps over a lazy dog in the field today"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3L, "spam spam spam spam spam the spam spam spam spam")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("pass_stop") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("pass_top") && !out(3L).getAs[Boolean]("keep"))
  }

  test("gates: empty and too-short docs fail the word-count gate with zeroed features") {
    val out = QualityGates(docs((1L, ""), (2L, "just four words here")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getAs[Boolean]("pass_nwords") && !out(1L).getAs[Boolean]("keep"))
    assert(out(1L).getAs[Double]("top_frac") === 0.0)
    assert(!out(2L).getAs[Boolean]("pass_nwords"))
  }

  test("vocabulary report: counts, hapax, and TTR are closed-form per stratum") {
    val d = Seq(
      (1L, "a b a c", "en", "s1", 7L),
      (2L, "c d", "en", "s1", 3L),
      (3L, "x x x", "en", "s2", 5L),
      (4L, "", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusStats.vocabularyReport(d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // s1: tokens a,b,a,c,c,d → 6 tokens, 4 types, hapax {b, d} = 2
    assert(out("s1") === ((6L, 4L, 2L, 0.6667)))
    // s2: x×3 → 3 tokens, 1 type, 0 hapax; empty doc contributes nothing
    assert(out("s2") === ((3L, 1L, 0L, 0.3333)))
  }

  test("snapshot diff: added/removed/changed/unchanged classified by content fingerprint") {
    val oldSnap = docs((1L, "same text"), (2L, "will change"), (3L, "will vanish"))
    val newSnap = docs((1L, "same   text"), (2L, "has changed"), (4L, "brand new"))
    val out = SnapshotDiff.diff(oldSnap, newSnap)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // whitespace-normalized fingerprints: doc 1 is unchanged despite spacing
    assert(out === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("snapshot diff: NULL text classifies by side presence, not fingerprint nullness") {
    val oldSnap = Seq((1L, null: String), (2L, null: String), (3L, "gone"))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, null: String), (2L, "now real"))
      .toDF("doc_id", "text")
    val out = SnapshotDiff.diff(oldSnap, newSnap)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      1L -> "unchanged", // null → null: same (absent) content
      2L -> "changed",   // null → real text
      3L -> "removed"))  // present only in old, even with non-null text
  }

  // ---- Selection.tokenBudget ---------------------------------------

  test("budget: greedy fill is quality-ordered, inclusive, and stops at the boundary") {
    // qualities: len-score dominates; doc 1 longest → best
    val d = docs(
      (1L, ("the of a " * 20).trim),  // 60 tokens
      (2L, ("the of a " * 10).trim),  // 30 tokens
      (3L, ("the of a " * 5).trim),   // 15 tokens
      (4L, "the of"))                 // 2 tokens
    val out = Selection.tokenBudget(d, budget = 100L)
      .orderBy(col("cum_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // 60 + 30 = 90 ≤ 100; +15 = 105 > 100 → doc3 excluded; doc4 would fit
    // greedily by size but is QUALITY-ordered after doc3, and cum already
    // crossed the budget — greedy-prefix semantics, not knapsack.
    assert(out.map(_._1).toSeq === Seq(1L, 2L))
    assert(out.map(_._3).toSeq === Seq(60L, 90L))
  }

  test("budget: cumulative counts are a correct prefix sum across many range partitions") {
    val d = docs((1L to 200L).map(i => (i, s"tok$i word number $i plus filler")): _*)
    val out = Selection.tokenBudget(d, budget = 1000000L)
      .orderBy(col("cum_tokens")).collect()
    assert(out.length === 200)
    var acc = 0L
    out.foreach { r =>
      acc += r.getLong(2)
      assert(r.getLong(3) === acc, s"prefix sum broken at doc ${r.getLong(0)}")
    }
  }

  test("budget: result is independent of input partitioning") {
    val d = docs((1L to 50L).map(i => (i, s"doc $i has some words " + ("pad " * (i.toInt % 7)))): _*)
    val a = Selection.tokenBudget(d.repartition(1), budget = 150L).collect().toSet
    val b = Selection.tokenBudget(d.repartition(13), budget = 150L).collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("budget: a single-quality-level corpus splits across chunks, prefix stays exact") {
    // every doc identical text → ONE quality level: the skew case a real
    // classifier produces. chunkBits=3 → id chunks of 8, so the level
    // must fan out across >1 window task while the id-ordered prefix
    // sum stays exact (chunk order composes with id order).
    val d = docs((1L to 100L).map(i => (i, "the same boilerplate text repeated here")): _*)
    val out = Selection.tokenBudget(d, budget = Long.MaxValue / 2, chunkBits = 3)
      .orderBy(col("doc_id")).collect()
    assert(out.length === 100)
    assert(out.map(_.getDouble(1)).distinct.length === 1, "corpus must be one level")
    var acc = 0L
    out.foreach { r =>
      acc += r.getLong(2)
      assert(r.getLong(3) === acc, s"prefix sum broken at doc ${r.getLong(0)}")
    }
    // the plan's final window partitions by (quality, chunk) — 13 chunk
    // groups for ids 1..100 at width 8, i.e. no single-task level window
    val plan = Selection.tokenBudget(d, chunkBits = 3).queryExecution
      .executedPlan.toString
    assert(plan.contains("chunk"), "chunk key missing from the executed plan")
    val nChunks = Selection.tokenBudget(d, budget = Long.MaxValue / 2, chunkBits = 3)
      .select((col("doc_id") / 8).cast("long")).distinct().count()
    assert(nChunks > 1)
  }

  test("budget: NULL-text docs classify as quality 0.0 with 0 tokens, not dropped") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, "a real document with several proper words"),
      org.apache.spark.sql.Row(2L, null),
      org.apache.spark.sql.Row(3L, "another real document with words to count"))
    val d = spark.createDataFrame(rows, schema)
    val out = Selection.tokenBudget(d, budget = 1000000L)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.keySet === Set(1L, 2L, 3L), "NULL-text doc must not vanish")
    assert(out(2L) === ((0.0, 0L)), "NULL text → lowest quality, zero tokens")
  }
}
