package graft.operators

import graft.SparkSpec
import graft.queries.LlmQueries
import org.apache.spark.sql.DataFrame

/** Round-5 corpus curation queries (t32–t35): Gopher repetition
  * signals, per-source caps, hash split, and the hashing-trick
  * classifier — hand-built corpora with closed-form expectations.
  * (The DuckDB oracles pin the same queries against real SFs; these
  * specs pin the SEMANTICS on inputs small enough to verify by hand.)
  */
class CorpusOpsSpec extends SparkSpec {
  import testImplicits._

  private def runQuery(name: String, rows: Seq[(Long, String, String)]): DataFrame = {
    val dir = tempDir("graft_corpus").toString
    rows.map { case (id, src, text) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    LlmQueries.all.find(_.name == name).get.fn(spark, dir)
  }

  test("t32: all-repeated doc scores 1.0, all-distinct 0.0, short doc 0.0") {
    val out = runQuery("t32_gopher_repetition", Seq(
      (1L, "s", "x x x x x x"),        // 2 identical 5-grams → dup mass 1.0
      (2L, "s", "a b c d e f"),        // 2 distinct 5-grams → dup mass 0.0
      (3L, "s", "a b")))               // < 5 tokens → no grams
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) === ((1.0, 1.0)))         // top word x: 6/6
    assert(out(2L) === ((0.0, 0.1667)))      // top word: 1/6
    assert(out(3L) === ((0.0, 0.5)))         // top word: 1/2
  }

  test("t33: cap keeps at most 50 per source, rank is 1..n and deterministic") {
    val rows = (0 until 60).map(i => (i.toLong, "big", s"text number $i")) ++
      (100 until 110).map(i => (i.toLong, "small", s"other text $i"))
    val out = runQuery("t33_source_cap", rows)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc === Map("big" -> 50L, "small" -> 10L))
    val ranks = out.filter($"source" === "big").select("rk")
      .collect().map(_.getInt(0)).sorted
    assert(ranks.toSeq === (1 to 50))
    // deterministic: same selection on a rerun
    val again = runQuery("t33_source_cap", rows)
    assert(out.exceptAll(again).isEmpty)
  }

  test("t34: split is hash-deterministic, exhaustive, and ~80/10/10") {
    val rows = (0 until 1000).map(i => (i.toLong, "s", s"doc $i"))
    val out = runQuery("t34_hash_split", rows).collect()
    assert(out.length === 1000)
    val buckets = out.map(_.getLong(1))
    assert(buckets.forall(b => b >= 0 && b < 100))
    val frac = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    // md5 is uniform: expect 800/100/100 within a loose tolerance
    assert(frac("train") > 740 && frac("train") < 860, s"train=${frac("train")}")
    assert(frac("val") > 60 && frac("val") < 140)
    assert(frac("test") > 60 && frac("test") < 140)
    // split depends only on doc_id — text/source changes must not move it
    val moved = runQuery("t34_hash_split",
      rows.map { case (id, s, t) => (id, s + "2", t + " changed") }).collect()
    assert(out.map(r => r.getLong(0) -> r.getString(2)).toMap ===
      moved.map(r => r.getLong(0) -> r.getString(2)).toMap)
  }

  test("t35: score is the mean bucket weight; label thresholds at 0") {
    val out = runQuery("t35_hash_classifier", Seq(
      (1L, "s", "alpha beta alpha"), (2L, "s", "gamma")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
    // closed-form replica of the query's weight chain
    def w(tok: String): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val bucket = java.lang.Long.parseLong(md5.substring(0, 4), 16) % 1024
      bucket * 2654435761L % 2001L - 1000L
    }
    def score(toks: Seq[String]): Double = {
      val raw = toks.map(w).sum / (997.0 * toks.length)
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === score(Seq("alpha", "beta", "alpha")))
    assert(byId(1L)._3 === 3L)
    assert(byId(2L)._2 === score(Seq("gamma")))
    out.foreach { case (_, s, _, label) =>
      assert(label === (if (s > 0) "keep" else "drop"))
    }
  }
}
