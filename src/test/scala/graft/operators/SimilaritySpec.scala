package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Similarity-search correctness: exact cosine math on known vectors,
  * top-k shape/order, ANN k-fill, and planted-near-dup recall for the
  * multi-table LSH path. */
class SimilaritySpec extends SparkSpec {
  import testImplicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def plantedEmb = {
    val embs = embeddings.select(col("vec_id"), col("embedding"))
    embs.unionAll(embs.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")))
  }

  test("dot, norm, cosine on known vectors") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")),
      Similarity.norm(col("a")),
      Similarity.cosine(col("a"), col("b"))).head
    assert(math.abs(r.getDouble(0) - 32.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-9)
    val expCos = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(r.getDouble(2) - expCos) < 1e-9)
  }

  test("cosine of orthogonal vectors is 0, of parallel vectors is 1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(2.0f, 2.0f), Array(4.0f, 4.0f))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(out(0)) < 1e-9)
    assert(math.abs(out(1) - 1.0) < 1e-9)
  }

  test("cosine with zero vector is 0 (guarded division)") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).head.getDouble(0) == 0.0)
  }

  test("topK returns exactly k rows, descending, excluding the query") {
    val out = Similarity.topK(embeddings, "vec_id", "embedding", 0L, 10).collect()
    assert(out.length == 10)
    assert(!out.map(_.getLong(0)).contains(0L))
    val sims = out.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("annTopK fills k with multi-table LSH") {
    val k = 20
    val out = Similarity.annTopK(embeddings, "vec_id", "embedding",
      dims = 64, queryId = 0L, k = k, bits = 4, tables = 4).collect()
    assert(out.length == k, s"ann returned ${out.length} of k=$k")
    val sims = out.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("annTopK candidates are a subset of brute-force scores") {
    val brute = Similarity.scoreAgainst(embeddings, "vec_id", "embedding", 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTopK(embeddings, "vec_id", "embedding",
      dims = 64, queryId = 0L, k = 20, bits = 4, tables = 4).collect()
    ann.foreach { r =>
      assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9)
    }
  }

  test("multi-probe fills k where fine single-probe buckets under-fill") {
    // bits=12 → 4096 buckets/table over 500 near-uniform vectors: the
    // query's exact buckets are nearly empty, so single-probe cannot
    // fill k — the sparse-bucket regime multi-probe exists for
    val single = Similarity.annTopK(
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"),
      "vec_id", "embedding", dims = 64, queryId = 0L, k = 20,
      bits = 12, tables = 4).count()
    assert(single < 20, s"expected single-probe to under-fill, got $single")
    val multi = Similarity.annTopK(
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"),
      "vec_id", "embedding", dims = 64, queryId = 0L, k = 20,
      bits = 12, tables = 4, probeHamming = 2)
    assert(multi.count() == 20, "Hamming-2 probe expansion must fill k")
    // expansion must not invent scores: every reported similarity is the
    // brute-force value
    val brute = Similarity.scoreAgainst(
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"),
      "vec_id", "embedding", 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    multi.collect().foreach(r =>
      assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("probeMasks enumerates exactly the Hamming ball") {
    assert(Similarity.probeMasks(12, 0) === Seq(0L))
    val h1 = Similarity.probeMasks(12, 1)
    assert(h1.length == 13 && h1.forall(m => java.lang.Long.bitCount(m) <= 1))
    val h2 = Similarity.probeMasks(12, 2)
    assert(h2.length == 1 + 12 + 66 && h2.distinct.length == h2.length)
    assert(h2.forall(m => java.lang.Long.bitCount(m) <= 2 && m < (1L << 12)))
  }

  test("planted embedding near-dups have cosine >= 0.99") {
    val pairs = plantedEmb.filter(col("vec_id") < 1000000L)
      .select(col("vec_id"), col("embedding").as("a"))
      .join(plantedEmb.filter(col("vec_id") >= 1000000L)
        .select((col("vec_id") - 1000000L).as("vec_id"), col("embedding").as("b")),
        Seq("vec_id"))
      .select(Similarity.cosine(col("a"), col("b")).as("cos"))
      .agg(min(col("cos"))).head.getDouble(0)
    assert(pairs >= 0.99, s"min planted cosine $pairs")
  }

  test("nearDupPairs recovers planted embedding near-duplicates") {
    val got = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
      dims = 64, threshold = 0.95, bits = 8, tables = 4)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = embeddings.select("vec_id").collect().map(_.getLong(0))
    val recovered = ids.count(id => got.contains((id, id + 1000000L)))
    assert(recovered.toDouble / ids.length >= 0.95,
      s"planted embedding recall ${recovered}/${ids.length}")
    // every reported pair truly meets the threshold (exact verify)
    Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
      dims = 64, threshold = 0.95, bits = 8, tables = 4)
      .collect().foreach(r => assert(r.getDouble(2) >= 0.95))
    // chunk-salting is answer-invariant: chunkSize = 2 forces every LSH
    // bucket through the multi-chunk enumeration
    val salted = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
        dims = 64, threshold = 0.95, bits = 8, tables = 4, chunkSize = 2)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === got, "chunk-salted LSH join changed the pair set")
  }

  test("nearDupPairsBudgeted and capped nearDupPairs hold the exact-verify contract") {
    // below capAbove the budgeted path is the capless lshPlan-width
    // answer
    val (planBits, planTables) = Similarity.lshPlan(plantedEmb.count(), 0.95)
    val planned = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
        dims = 64, threshold = 0.95, bits = planBits, tables = planTables)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val budgeted = Similarity.nearDupPairsBudgeted(plantedEmb, "vec_id",
        "embedding", dims = 64, threshold = 0.95)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(budgeted == planned)
    // a cap that binds nothing (larger than every bucket) is answer-
    // invariant; a binding cap returns a SUBSET whose survivors still
    // meet the exact verify threshold
    val capless = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
        dims = 64, threshold = 0.95, bits = 8, tables = 4)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val slack = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
        dims = 64, threshold = 0.95, bits = 8, tables = 4,
        maxBucket = Some(1 << 20))
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(slack == capless, "non-binding cap changed the pair set")
    val capped = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
      dims = 64, threshold = 0.95, bits = 8, tables = 4, maxBucket = Some(4))
    val cappedSet = capped.select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedSet.subsetOf(capless), "cap invented pairs")
    capped.collect().foreach(r => assert(r.getDouble(2) >= 0.95))
    // degenerate caps are rejected loudly instead of silently emptying
    // the pair set (r18 advice)
    intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
        dims = 64, threshold = 0.95, bits = 8, tables = 4,
        maxBucket = Some(1)).count()
    }
  }

  test("nearDupPairsBudgeted stamps the capped marker: exact when capless, a subset when capped") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // capless default (every oracle scale): marker false per-row and in
    // column metadata; answer is the exact-verify capless set
    val capless = Similarity.nearDupPairsBudgeted(plantedEmb, "vec_id",
      "embedding", dims = 64, threshold = 0.95)
    assert(!capless.schema("capped").metadata.getBoolean("graft.capped"))
    assert(capless.select("capped").distinct().collect()
      .map(_.getBoolean(0)).toSeq == Seq(false))
    // forced above-threshold with a hostile budget: the marker reads
    // true even if the binding cap empties the result on this tiny
    // fixture, and survivors are a subset of the capless answer that
    // still meets the exact verify
    val a = Similarity.nearDupPairsBudgeted(plantedEmb, "vec_id", "embedding",
      dims = 64, threshold = 0.95, streamPerVec = 0.001, capAbove = 10L)
    assert(a.schema("capped").metadata.getBoolean("graft.capped"))
    val aRows = a.select("capped").distinct().collect().map(_.getBoolean(0))
    assert(aRows.isEmpty || aRows.toSeq == Seq(true))
    assert(pairSet(a).subsetOf(pairSet(capless)), "cap invented pairs")
    a.select("cosine_sim").collect().foreach(r =>
      assert(r.getDouble(0) >= 0.95))
  }

  test("lshPlan: occupancy-driven bits, recall-driven tables, caps honored") {
    // bits tracks corpus size at constant occupancy
    val (b1, _) = Similarity.lshPlan(20000L, 0.95)
    val (b2, t2) = Similarity.lshPlan(2000000L, 0.95)
    assert(b2 > b1, "100x corpus must get finer buckets")
    assert((1L << b2) * 64 >= 2000000L, "occupancy bound")
    // finer buckets need more OR-attempts to hold recall
    val (_, t1) = Similarity.lshPlan(20000L, 0.95)
    assert(t2 > t1, "more bits must bring more tables at equal recall")
    // analytic recall at the returned plan meets the target
    def recall(bits: Int, tables: Int, sim: Double): Double = {
      val p = math.pow(1.0 - math.acos(sim) / math.Pi, bits)
      1.0 - math.pow(1.0 - p, tables)
    }
    assert(recall(b2, t2, 0.95) >= 0.9, s"plan ($b2, $t2) misses target recall")
    // caps bind
    val (b3, t3) = Similarity.lshPlan(1L << 40, 0.6, maxBits = 24, maxTables = 64)
    assert(b3 === 24 && t3 === 64)
    // degenerate corpora stay at the floor
    assert(Similarity.lshPlan(0L, 0.95)._1 === 4)
  }

  test("nearDupPairsBudgeted recovers the planted pairs via the sized plan") {
    val sized = Similarity.nearDupPairsBudgeted(plantedEmb, "vec_id",
        "embedding", dims = 64, threshold = 0.95)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = embeddings.select("vec_id").collect().map(_.getLong(0))
    val recovered = ids.count(id => sized.contains((id, id + 1000000L)))
    assert(recovered.toDouble / ids.length >= 0.9,
      s"auto-sized recall ${recovered}/${ids.length}")
    // and sized == the fixed-bits call at the plan it chose
    val (bits, tables) = Similarity.lshPlan(plantedEmb.count(), 0.95)
    val manual = Similarity.nearDupPairs(plantedEmb, "vec_id", "embedding",
        dims = 64, threshold = 0.95, bits = bits, tables = tables)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sized === manual)
  }

  test("lshBucket is deterministic and within [0, 2^bits)") {
    val out = embeddings.limit(50)
      .select(Similarity.lshBucket(col("embedding"), 64, bits = 6).as("b1"),
        Similarity.lshBucket(col("embedding"), 64, bits = 6).as("b2"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(0) >= 0 && r.getLong(0) < 64)
    }
  }
}
