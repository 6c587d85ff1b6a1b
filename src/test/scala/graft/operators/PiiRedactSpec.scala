package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PII truth table (each category, multiples, cross-category order),
  * the domain-blocklist admission semantics, and redaction inside a
  * streaming plan. */
class PiiRedactSpec extends SparkSpec {
  import testImplicits._

  private def run(texts: String*): Seq[(Long, Long, Long, Long, Long, String)] =
    PiiRedact.redact(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
      .toSeq

  test("redaction truth table") {
    val got = run(
      "write to alice.b+tag@sub.example.co today",
      "server at 192.168.1.77 responded",
      "call +1 555-0134 now",
      "none of the above here",
      "two mails a@b.io and c@d.org plus 10.0.0.1",
      // an IP must be consumed by the IP pass, NOT the phone pattern
      "+49 555-1234 vs 12.34.56.78",
      "")
    assert(got(0) == ((0L, 1L, 0L, 0L, 0L, "write to <EMAIL> today")))
    assert(got(1) == ((1L, 0L, 0L, 1L, 0L, "server at <IP> responded")))
    assert(got(2) == ((2L, 0L, 0L, 0L, 1L, "call <PHONE> now")))
    assert(got(3) == ((3L, 0L, 0L, 0L, 0L, "none of the above here")))
    assert(got(4) == ((4L, 2L, 0L, 1L, 0L, "two mails <EMAIL> and <EMAIL> plus <IP>")))
    assert(got(5) == ((5L, 0L, 0L, 1L, 1L, "<PHONE> vs <IP>")))
    assert(got(6) == ((6L, 0L, 0L, 0L, 0L, "")))
  }

  test("card redaction: Luhn gate, not shape alone") {
    val got = run(
      "pay 4111111111111111 now",            // classic Luhn-valid test number
      "acct 4111111111111112 here",          // checksum fails → kept
      "id 123456789012 short",               // 12 digits: below card shape
      "two 4111111111111111 and 5500005555555559 cards",
      "a@b.io then 4111111111111111 from 10.0.0.1",
      "run 12345678901234567890 too long")   // 20 digits: no interior boundary
    assert(got(0) == ((0L, 0L, 1L, 0L, 0L, "pay <CARD> now")))
    assert(got(1) == ((1L, 0L, 0L, 0L, 0L, "acct 4111111111111112 here")))
    assert(got(2) == ((2L, 0L, 0L, 0L, 0L, "id 123456789012 short")))
    assert(got(3) == ((3L, 0L, 2L, 0L, 0L, "two <CARD> and <CARD> cards")))
    assert(got(4) == ((4L, 1L, 1L, 1L, 0L, "<EMAIL> then <CARD> from <IP>")))
    assert(got(5) == ((5L, 0L, 0L, 0L, 0L, "run 12345678901234567890 too long")))
  }

  test("card redaction is word-bounded: no splice inside longer runs") {
    val got = run(
      // the valid card's digits ALSO appear inside a 20-digit run and
      // an alphanumeric token — only the word-bounded occurrence may
      // be redacted; a literal substring replace would splice both
      "pay 4111111111111111 ref 94111111111111111138 id x4111111111111111y")
    assert(got(0) == ((0L, 0L, 1L, 0L, 0L,
      "pay <CARD> ref 94111111111111111138 id x4111111111111111y")))
  }

  test("NULL text: zero counts, empty redaction") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val rows = java.util.Arrays.asList(org.apache.spark.sql.Row(1L, null))
    val got = PiiRedact.redact(spark.createDataFrame(rows, schema)).collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4),
      got.getString(5)) == ((0L, 0L, 0L, 0L, "")))
  }

  test("domain filter drops blocked hosts, keeps unparseable URLs") {
    val rows = Seq(
      (1L, "https://Bad.example.com/x"),   // blocked (case-insensitive)
      (2L, "https://good.example.com/x"),  // kept
      (3L, "HTTP://BAD.EXAMPLE.COM:8080/y?z=1"), // blocked, port/query noise
      (4L, "not a url"),                   // kept: host '' not blocked
      (5L, "https://bad.example.com.evil.org/") // kept: different host
    ).toDF("doc_id", "url")
    val blocked = Seq("bad.example.com").toDF("host")
    val kept = UrlDedup.domainFilter(rows, "url", blocked)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
  }

  private val docSchema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def writeDocs(dir: String, n: Int, rows: Seq[(String, Long, String)]): Unit =
    rows.toDF("ts_s", "doc_id", "text")
      .select(to_timestamp(col("ts_s")).as("ts"), col("doc_id"), col("text"))
      .coalesce(1).write.parquet(s"$dir/batch$n")

  test("streaming PII redaction: stateless scan-stage transform composes into the stream") {
    // PiiRedact is pure column arithmetic, so it rides the streaming
    // plan unchanged — redaction before admission means PII never
    // reaches dedup state or the sink
    val dir = tempDir("spii_src").toString
    val ckpt = tempDir("spii_ckpt").toString
    writeDocs(dir, 1, Seq(
      ("2024-03-15 12:00:00", 1L, "contact me at alice@example.com or 10.1.2.3"),
      ("2024-03-15 12:00:05", 2L, "nothing sensitive in this one")))

    val stream = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val redacted = graft.operators.PiiRedact.redact(
      stream, idCol = "doc_id", textCol = "text")

    val q = redacted.writeStream.format("memory").queryName("spii_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("spii_out")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(3), r.getString(5))).toMap
      assert(rows(1L) == ((1L, 1L, "contact me at <EMAIL> or <IP>")))
      assert(rows(2L) == ((0L, 0L, "nothing sensitive in this one")))
    } finally q.stop()
  }
}
