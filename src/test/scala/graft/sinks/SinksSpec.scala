package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.SparkSpec

/** K1/K3/K4/K6 sink semantics: TTL expiry, single-file CSV, register
  * packing and one-shot consumption, idempotent atomic JSON store. */
class SinksSpec extends SparkSpec {

  test("K3: KV hash with TTL expires on the injected clock") {
    var now = 1000L
    val kv = new InMemoryKvSink(() => now)
    kv.hset("stats:a", Map("x:mean" -> "1.0"), ttlSeconds = Some(60))
    kv.set("health:x", "0", ttlSeconds = Some(60))
    assert(kv.hget("stats:a", "x:mean").contains("1.0"))
    now += 59000L
    assert(kv.get("health:x").contains("0"))
    now += 2000L // past the 60 s TTL
    assert(kv.hget("stats:a", "x:mean").isEmpty)
    assert(kv.get("health:x").isEmpty)
    assert(kv.scan("stats:*").isEmpty)
  }

  test("K3: scan matches glob prefix patterns") {
    val kv = new InMemoryKvSink()
    kv.hset("stats:f1", Map("a" -> "1"), None)
    kv.hset("stats:f2", Map("a" -> "1"), None)
    kv.set("health:z", "0", None)
    assert(kv.scan("stats:*") == Seq("stats:f1", "stats:f2"))
  }

  test("K1: CsvSink.write produces one exact file, not a directory") {
    val dir = tempDir("csv_sink")
    val target = dir.resolve("out_stats.csv")
    val header = Seq("Sensor", "Mean")
    CsvSink.write(target, header, Seq(Row("s1", 1.5), Row("s2", 2.0)))
    assert(Files.readString(target) == "Sensor,Mean\ns1,1.5\ns2,2.0\n")
    // RFC 4180 quoting with doubled quotes (pandas to_csv); null → empty
    CsvSink.write(target, header, Seq(Row("a,b", 1.0), Row("say \"hi\"", -0.5),
      Row("two\r\nlines", 0.0), Row("s3", null), Row(null, 1.0E-4)))
    assert(Files.readString(target) == "Sensor,Mean\n\"a,b\",1.0\n" +
      "\"say \"\"hi\"\"\",-0.5\n\"two\r\nlines\",0.0\ns3,\n,1.0E-4\n")
    // an empty row set writes the header line only, replacing the file
    CsvSink.write(target, header, Nil)
    assert(Files.readString(target) == "Sensor,Mean\n")
    // nothing else left behind (no temp file)
    assert(Files.list(dir).count() == 1)
  }

  test("K4: float32 spans two registers, prefill, one-shot consumption (D2)") {
    val kv = new InMemoryKvSink()
    val regs = new RegisterSink(highestRegister = 10)
    assert(regs.readFloat(4) == 0.0f) // A6 prefill
    val writer = new RegisterWriter(kv, regs,
      mapping = Seq("ch_a:mean" -> 0, "ch_b:max" -> 2, "missing:field" -> 4))
    kv.hset("stats:f1", Map("ch_a:mean" -> "4.5", "ch_b:max" -> "1,5",
      "ch_bad" -> "oops"), None)
    assert(writer.sweep() == 1)
    assert(regs.readFloat(0) == 4.5f)
    assert(regs.readFloat(2) == 1.5f) // P8 decimal comma parsed
    assert(regs.readFloat(4) == 0.0f) // missing field skipped (inner join)
    // word packing: high word first
    val bits = java.lang.Float.floatToIntBits(4.5f)
    assert(regs.readRaw(0) == ((bits >>> 16) & 0xffff))
    assert(regs.readRaw(1) == (bits & 0xffff))
    // D2: a second sweep consumes nothing new
    assert(writer.sweep() == 0)
    kv.hset("stats:f2", Map("ch_a:mean" -> "9.0"), None)
    assert(writer.sweep() == 1)
    assert(regs.readFloat(0) == 9.0f)
  }

  test("K6: JSON doc store is atomic, idempotent, and tracks latest") {
    val store = new JsonDocStore(tempDir("json_store"))
    assert(store.store("abc123", """{"v":1}"""))
    assert(!store.store("abc123", """{"v":2}""")) // D4 idempotent skip
    assert(store.get("abc123").contains("""{"v":1}"""))
    assert(store.store("def456", """{"v":3}"""))
    assert(store.latest().contains("""{"v":3}"""))
    assert(store.ids() == Seq("abc123", "def456"))
  }

  test("K6: latest falls back to newest event file when pointer is missing") {
    val dir = tempDir("json_store2")
    val store = new JsonDocStore(dir)
    store.store("a", """{"n":1}"""); store.store("b", """{"n":2}""")
    Files.delete(dir.resolve("latest.json"))
    Files.setLastModifiedTime(dir.resolve("event_a.json"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis + 5000))
    assert(store.latest().contains("""{"n":1}""")) // A3 newest by mtime
  }
}
