package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Webhook admission gate: the composed-Column HMAC must be
  * bit-identical to javax.crypto.Mac, and the status precedence must
  * mirror the reference service's actual control flow (mimetype → token
  * → lazy size cap → signature → JSON parse). */
class WebhookGateSpec extends SparkSpec {
  import testImplicits._

  private def javaHmac(secret: String, body: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("composed HMAC-SHA256 is bit-identical to javax.crypto.Mac") {
    val cases = Seq(
      ("graft-webhook-secret", """{"k": 87}"""),
      ("s", ""),
      ("x" * 63, "short key boundary"),
      ("y" * 64, "exact block size"),
      ("z" * 200, "long key is pre-hashed per RFC 2104"),
      ("päßwörd", "non-ascii key and bödy ✓"))
    val df = cases.toDF("secret", "body")
    cases.foreach { case (secret, body) =>
      val got = Seq(body).toDF("body")
        .select(WebhookGate.hmacSha256Hex(secret, col("body")))
        .head.getString(0)
      assert(got === javaHmac(secret, body), s"secret=$secret body=$body")
    }
    assert(df.count() === cases.length) // silence unused warning path
  }

  private val Secret = "s3cret"

  private def gate(rows: Seq[(Long, String, String, String, String)], maxBytes: Int = 16384) =
    WebhookGate.admit(
      rows.toDF("id", "body", "sig", "token", "mime"),
      "id", "body", "sig", "token", "mime", Secret, maxBytes)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), Option(r.getString(3))))).toMap

  test("status precedence mirrors the reference: 415 > 401 token > 413 > 401 sig > 400 > 200") {
    val body = """{"a": 1}"""
    val sig = javaHmac(Secret, body)
    val out = gate(Seq(
      (1L, body, sig, Secret, "application/json"),              // clean
      (2L, body, sig, Secret, "text/plain"),                    // 415
      (3L, body, sig, "bad", "application/json"),               // 401 token
      (4L, body, "deadbeef", Secret, "application/json"),       // 401 sig
      (5L, "not json", javaHmac(Secret, "not json"), Secret,
        "application/json"),                                    // 400
      (6L, body, "deadbeef", "bad", "text/plain")))             // 415 wins over both 401s
    assert(out(1L) === ((200, true, Some(body))))
    assert(out(2L) === ((415, false, None)))
    assert(out(3L) === ((401, false, None)))
    assert(out(4L) === ((401, false, None)))
    assert(out(5L) === ((400, false, None)))
    assert(out(6L) === ((415, false, None)))
  }

  test("NULL headers and bodies reject (fail closed), exactly like missing request parts") {
    val body = """{"a": 1}"""
    val sig = javaHmac(Secret, body)
    val rows = Seq(
      (1L, body, null, Secret, "application/json"),   // no signature → 401
      (2L, body, sig, null, "application/json"),      // no token → 401
      (3L, body, sig, Secret, null),                  // no content-type → 415
      (4L, null, javaHmac(Secret, ""), Secret,
        "application/json"))                          // no body: sig over b"" ok → 400 at parse
      .toDF("id", "body", "sig", "token", "mime")
    val out = WebhookGate.admit(rows, "id", "body", "sig", "token", "mime", Secret)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 401, 2L -> 401, 3L -> 415, 4L -> 400))
  }

  test("mimetype is normalized like Flask's request.mimetype (params stripped, lowercased)") {
    val body = """{"a": 1}"""
    val sig = javaHmac(Secret, body)
    val out = gate(Seq(
      (1L, body, sig, Secret, "application/json; charset=utf-8"),
      (2L, body, sig, Secret, "Application/JSON")))
    assert(out(1L)._1 === 200)
    assert(out(2L)._1 === 200)
  }

  test("strict JSON gate: json.loads semantics, not try_parse_json leniency") {
    val cases = Seq(
      ("""{"k": 87}""", true),
      ("""{"k": 87}x""", false),   // trailing garbage — try_parse_json accepts this
      ("""{"k": 87} """, true),    // trailing whitespace is fine (json.loads parity)
      ("""[1, 2, {"a": null}]""", true),
      ("5", true), ("\"str\"", true), ("true", true), // bare values parse
      ("NaN", true), ("""{"v": -Infinity}""", true),  // json.loads leniency
      ("1e999", true),                   // numeral overflow → inf parses in both
      ("+Infinity", false), ("-INF", false),          // Jackson-only spellings
      ("""{"v": +INF}""", false),
      ("", false), ("not json", false), ("{", false), ("{}{}", false))
    val dir = tempDir("whg_json").toString
    cases.map(_._1).toDF("b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("b"), call_function("graft_json_strict", col("b")).as("ok"))
    // fallback off: a codegen COMPILE failure now throws instead of
    // silently interpreting, so the containment check below can't pass
    // on never-compiled source
    val priorFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got =
      try df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      finally spark.conf.set("spark.sql.codegen.fallback", priorFallback)
    cases.foreach { case (b, want) => assert(got(b) === want, s"body=<$b>") }
    // the expression participates in codegen (static kernel call)
    val code = df.queryExecution.debug.codegenToSeq()
    assert(code.exists(_._2.contains("graft.expr.JsonStrict.isStrict(")),
      "graft_json_strict must compile to the static kernel call")
  }

  test("size cap fires where Flask's lazy MAX_CONTENT_LENGTH does: after mime and token") {
    val big = """{"pad": """" + ("x" * 100) + "\"}"
    val out = gate(Seq(
        (1L, big, "whatever", Secret, "application/json"),  // 413 (before sig)
        (2L, big, "whatever", Secret, "text/plain"),        // 415 wins (mime precedes body read)
        (3L, big, "whatever", "bad", "application/json")),  // 401 token wins
      maxBytes = 50)
    assert(out(1L) === ((413, false, None)))
    assert(out(2L)._1 === 415)
    assert(out(3L)._1 === 401)
  }

  test("signature comparison is exact hex, like hmac.compare_digest (uppercase rejects)") {
    val body = """{"b": 2}"""
    val out = gate(Seq(
      (1L, body, javaHmac(Secret, body).toUpperCase, Secret, "application/json"),
      (2L, body, javaHmac(Secret, body), Secret, "application/json")))
    assert(out(1L)._1 === 401)
    assert(out(2L)._1 === 200)
  }

  test("the gate is stream-safe: pure projection over a readStream, no state") {
    import org.apache.spark.sql.types._
    val dir = tempDir("whg_src").toString
    val ckpt = tempDir("whg_ckpt").toString
    val body = """{"ok": 1}"""
    Seq(
      (1L, body, javaHmac(Secret, body), Secret, "application/json"),
      (2L, body, "bad-signature", Secret, "application/json"))
      .toDF("id", "body", "sig", "token", "mime")
      .coalesce(1).write.parquet(s"$dir/batch1")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("body", StringType),
      StructField("sig", StringType), StructField("token", StringType),
      StructField("mime", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$dir/*")
    val admitted = WebhookGate.admit(stream, "id", "body", "sig", "token", "mime", Secret)
    val q = admitted.writeStream.format("memory").queryName("whg_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("whg_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(rows === Map(1L -> 200, 2L -> 401))
      assert(q.lastProgress.stateOperators.isEmpty,
        "the admission gate must not introduce a stateful operator")
    } finally q.stop()
  }
}
