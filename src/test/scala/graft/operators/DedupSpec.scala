package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operator correctness: exact semantics plus DETERMINISTIC
  * completeness mirrors for the LSH candidate generators — the collected
  * signatures define exactly which pairs must collide, and the operator
  * output must equal that set (no probabilistic flake: signatures are
  * deterministic functions of the corpus). */
class DedupSpec extends SparkSpec {
  import testImplicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def planted = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.unionAll(docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" graftdup")).as("text")))
  }

  test("exact dedup groups identical normalized text and keeps min id") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different"),
      (4L, "  hello   world  ")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getLong(2) == 3L).get
    assert(dupGroup.getLong(1) == 1L) // keep_id = min(1,2,4)
  }

  test("minHashSignature has numHashes elements and is deterministic") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val sig1 = df.select(Dedup.minHashSignature(col("text"), 32)).head.getSeq[Long](0)
    val sig2 = df.select(Dedup.minHashSignature(col("text"), 32)).head.getSeq[Long](0)
    assert(sig1.length == 32)
    assert(sig1 == sig2)
  }

  test("identical texts have identical minhash signatures; disjoint texts differ") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.minHashSignature(col("text"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("minHashPairs output equals the exact band-collision candidate set") {
    val numHashes = 32; val bands = 8; val rows = numHashes / bands
    val corpus = planted
    val sigs = corpus
      .select(col("doc_id"), Dedup.minHashSignature(col("text"), numHashes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // expected: pairs sharing an identical signature slice in >=1 band
    val expected = scala.collection.mutable.Set[(Long, Long)]()
    for (b <- 0 until bands) {
      sigs.toSeq.groupBy { case (_, sig) => sig.slice(b * rows, b * rows + rows) }
        .values.filter(_.size > 1).foreach { grp =>
          val ids = grp.map(_._1).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            expected += ((ids(i), ids(j)))
        }
    }
    val got = Dedup.minHashPairs(corpus, "text", "doc_id", numHashes, bands)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected.toSet)
    // chunk-salting is answer-invariant: chunkSize = 2 forces every
    // band bucket through the multi-chunk enumeration
    val salted = Dedup.minHashPairs(corpus, "text", "doc_id", numHashes,
        bands, chunkSize = 2)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == expected.toSet, "chunk-salted minhash changed the pair set")
    // planted one-token-appended copies of long docs must be recovered
    val longDocs = corpus.filter(col("doc_id") < 1000000L)
      .filter(size(split(trim(col("text")), "\\s+")) >= 20)
      .select("doc_id").collect().map(_.getLong(0))
    val recovered = longDocs.count(id => got.contains((id, id + 1000000L)))
    assert(recovered.toDouble / longDocs.length >= 0.9,
      s"planted minhash recall ${recovered}/${longDocs.length}")
  }

  test("minHashPairs verifies candidates with exact jaccard on re-joined text") {
    val out = Dedup.minHashPairs(planted, "text", "doc_id").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val est = r.getDouble(2); val exact = r.getDouble(3)
      assert(est >= 0.0 && est <= 1.0)
      assert(exact >= 0.0 && exact <= 1.0)
    }
  }

  test("simHash is 64-bit, deterministic, identical for identical text") {
    val df = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "completely unrelated words here")).toDF("doc_id", "text")
    val sigs = Dedup.simHash(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("hamming distance via bit_count xor") {
    val df = Seq((0x0FL, 0x00L), (0xFFL, 0xFFL), (1L, 2L)).toDF("a", "b")
    val out = df.select(Dedup.hamming(col("a"), col("b")))
      .collect().map(_.getAs[Number](0).longValue)
    assert(out.sameElements(Array(4L, 0L, 2L)))
  }

  test("simHashPairs with blocks=maxHamming+1 is exactly the hamming-ball pair set") {
    val maxH = 6
    val corpus = planted
    val sigs = Dedup.simHash(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // expected: ALL pairs within hamming <= maxH (pigeonhole completeness)
    val expected = (for {
      i <- sigs.indices.iterator; j <- ((i + 1) until sigs.length).iterator
      a = sigs(i); b = sigs(j)
      if java.lang.Long.bitCount(a._2 ^ b._2) <= maxH
    } yield {
      val (lo, hi) = if (a._1 < b._1) (a._1, b._1) else (b._1, a._1)
      (lo, hi)
    }).toSet
    val got = Dedup.simHashPairs(corpus, "text", "doc_id", maxH, blocks = maxH + 1)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty) // planted near-identical copies must collide
    // chunk-salting is answer-invariant: chunkSize = 2 forces every
    // bucket through the multi-chunk (i, j) enumeration, including the
    // cross-chunk orientation where the lower id hashes into the HIGHER
    // chunk (the least/greatest canonicalization path)
    val salted = Dedup.simHashPairs(corpus, "text", "doc_id", maxH,
        blocks = maxH + 1, chunkSize = 2)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == expected, "chunk-salted join changed the pair set")
    // multi-block combination keys (keyBlocks > 1): blocks − keyBlocks
    // = maxH preserves the pigeonhole guarantee, so the answer is
    // IDENTICAL to the classic scheme — wider 2-block keys, C(8,2)=28
    // tables instead of 7
    val wide = Dedup.simHashPairs(corpus, "text", "doc_id", maxH,
        blocks = maxH + 2, keyBlocks = 2)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == expected, "keyBlocks=2 scheme changed the pair set")
    // occupancy cap: output is a SUBSET (candidates only ever drop),
    // and a cap no bucket reaches leaves the answer exact
    val capped = Dedup.simHashPairs(corpus, "text", "doc_id", maxH,
        blocks = maxH + 2, keyBlocks = 2, maxBucket = Some(3))
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(expected), "cap introduced false candidates")
    val bigCap = Dedup.simHashPairs(corpus, "text", "doc_id", maxH,
        blocks = maxH + 2, keyBlocks = 2, maxBucket = Some(1000000))
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bigCap == expected, "un-binding cap changed the pair set")
  }

  test("simHashPlan sizes keys to the corpus and keeps the guarantee") {
    // below capAbove: the classic single-block scheme, capless — the
    // r17 A/B measured it cheapest at every capless size
    val (b0, k0, c0) = Dedup.simHashPlan(500L, 6)
    assert(b0 == 7 && k0 == 1 && c0.isEmpty)
    val (b1, k1, c1) = Dedup.simHashPlan(100000L, 6)
    assert(b1 == 7 && k1 == 1 && c1.isEmpty)
    // heaps 100× scale (1 M docs, log2 = 20): key width must cover
    // log2(n) → 3-block ~21-bit keys, C(9,3)=84 tables, cap engaged
    val (b2, k2, c2) = Dedup.simHashPlan(1000000L, 6)
    assert(k2 == 3 && b2 == 9 && c2.nonEmpty)
    assert(64.0 * k2 / b2 >= 20.0)
    // guarantee invariant at every size: blocks − keyBlocks = radius
    for (n <- Seq(100L, 100000L, 10000000L, 10000000000L)) {
      val (b, k, _) = Dedup.simHashPlan(n, 6)
      assert(b - k == 6)
      var t = 1L; for (i <- 1 to k) t = t * (6 + i) / i
      assert(t <= 256, s"table budget exceeded at n=$n: $t")
    }
  }

  test("simHashPairsBudgeted is exact below capAbove and sizes caps from the corpus histogram") {
    // below the cap threshold the budgeted path must be the capless
    // exact Hamming ball
    val maxH = 6
    val exact = Dedup.simHashPairs(planted, "text", "doc_id", maxH,
      blocks = maxH + 1).select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val budgeted = Dedup.simHashPairsBudgeted(planted, "text", "doc_id", maxH)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(budgeted == exact)
    // the histogram aggregate it would size caps from matches a direct
    // computation of per-bucket pair mass on this corpus
    val hist = Dedup.simHashCollisionBuckets(planted, "text", "doc_id", 7, 1)
      .groupBy(col("sizeClass"))
      .agg(sum(col("m") * (col("m") - 1) / 2).as("pairs"))
      .collect().map(r => (r.getInt(0), r.getDouble(1).toLong)).toMap
    val direct = Dedup.simHash(planted, "text", "doc_id").collect()
      .map(_.getLong(1))
      .flatMap(sig => (0 until 7).map(b => (b, blockBits(sig, b, 7))))
      .groupBy(identity).map(_._2.length.toLong)
      .groupBy(m => math.ceil(math.log(math.max(m, 1).toDouble) /
        math.log(2.0)).toInt)
      .view.mapValues(_.map(m => m * (m - 1) / 2).sum).toMap
    assert(hist == direct.filter(_._2 >= 0))
  }

  /** bits of block `b` of `sig` under the simHashCollisions layout
    * (wider blocks first when 64 doesn't divide evenly). */
  private def blockBits(sig: Long, b: Int, blocks: Int): (Int, Long) = {
    val base = 64 / blocks; val rem = 64 % blocks
    val widths = (0 until blocks).map(k => if (k < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    (b, (sig >>> offsets(b)) & ((1L << widths(b)) - 1))
  }

  test("capFromHistogram inverts the measured histogram->stream identity") {
    // fixture: the committed fourth-decade occupancy histogram
    // (PROBE_t08_r17, 10 M docs, 10 blocks / 4-block keys) — sizeClass
    // -> unordered pair mass
    val hist1000x = Seq(0 -> 0L, 1 -> 47507555L, 2 -> 134474025L,
      3 -> 343367650L, 4 -> 823261795L, 5 -> 1890694361L,
      6 -> 4174776196L, 7 -> 8864821103L, 8 -> 18095885300L,
      9 -> 34971613832L, 10 -> 62727244119L, 11 -> 102947267829L,
      12 -> 148379220468L, 13 -> 183624880044L, 14 -> 175623154425L,
      15 -> 129644344629L, 16 -> 42732211851L, 17 -> 11511142623L)
    val n = 10000000L
    // default budget (8192 rows/doc ordered -> 40.96 B unordered):
    // classes <= 9 cumulate 69.3 B > budget; classes <= 8 cumulate
    // 34.4 B <= budget -> cap 256
    assert(Dedup.capFromHistogram(hist1000x, n) == Some(256))
    // the r17 probe's cap-64 stream: budget just above 1483 rows/doc
    // admits exactly classes <= 6 (7.41 B unordered = 14.8 B ordered,
    // the measured fourth-decade stream)
    assert(Dedup.capFromHistogram(hist1000x, n, streamPerDoc = 1500.0)
      == Some(64))
    // a budget above the whole histogram means no cap is needed
    assert(Dedup.capFromHistogram(hist1000x, n,
      streamPerDoc = 1e12).isEmpty)
    // a hostile budget still returns the cap floor (2), never None-by-
    // accident or a degenerate 1-member cap
    assert(Dedup.capFromHistogram(hist1000x, n, streamPerDoc = 0.001)
      == Some(2))
    // empty histogram (no bucket has 2+ members): nothing to cap
    assert(Dedup.capFromHistogram(Seq.empty, n).isEmpty)
    // Int-shift clamp (r18 advice): a fitting size class >= 31 must not
    // overflow to a negative cap (which would drop every bucket) — the
    // cap saturates at 2^30
    assert(Dedup.capFromHistogram(
      Seq(40 -> 1000L, 50 -> Long.MaxValue / 4), 1L << 40,
      streamPerDoc = 1.0) == Some(1 << 30))
  }

  test("simHashPairsBudgeted stamps the capped marker: exact when capless, a subset when capped") {
    val maxH = 6
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // capless default (every oracle scale): marker false — per-row and
    // in column metadata — and the answer is the exact Hamming ball
    val capless = Dedup.simHashPairsBudgeted(planted, "text", "doc_id", maxH)
    assert(!capless.schema("capped").metadata.getBoolean("graft.capped"))
    assert(capless.select("capped").distinct().collect()
      .map(_.getBoolean(0)).toSeq == Seq(false))
    val exact = pairSet(Dedup.simHashPairs(planted, "text", "doc_id", maxH,
      blocks = maxH + 1))
    assert(pairSet(capless) == exact)
    // forced above-threshold with a hostile budget: the marker reads
    // true, and the result is a subset of the exact ball
    val a = Dedup.simHashPairsBudgeted(planted, "text", "doc_id", maxH,
      streamPerDoc = 0.001, capAbove = 10L)
    assert(a.schema("capped").metadata.getBoolean("graft.capped"))
    val aRows = a.select("capped").distinct().collect().map(_.getBoolean(0))
    assert(aRows.isEmpty || aRows.toSeq == Seq(true))
    assert(pairSet(a).subsetOf(exact), "cap invented pairs")
  }

  test("jaccardPairs finds planted near-duplicates above threshold") {
    val corpus = planted
    val got = Dedup.jaccardPairs(corpus, "text", "doc_id", threshold = 0.6)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val eligible = corpus.filter(col("doc_id") < 1000000L)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3)
      .select("doc_id").collect().map(_.getLong(0))
    val recovered = eligible.count(id => got.contains((id, id + 1000000L)))
    assert(recovered.toDouble / eligible.length >= 0.95,
      s"planted shingle-jaccard recall ${recovered}/${eligible.length}")
    // verification is exact: every reported pair truly meets the threshold
    val verified = Dedup.jaccardPairs(corpus, "text", "doc_id", threshold = 0.6)
      .collect()
    verified.foreach(r => assert(r.getDouble(2) >= 0.6))
  }

  test("shingleJaccardPairs measures ORDER-sensitive similarity") {
    // same word set, permuted order: word-set jaccard is 1.0 but the
    // 3-shingle sets are nearly disjoint — the measure MinHash sketches
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val permuted = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    val near = a + " lambda" // shares all of a's shingles plus one more
    val docs = Seq((1L, a), (2L, permuted), (3L, near)).toDF("doc_id", "text")
    val pairs = Dedup.shingleJaccardPairs(docs, "text", "doc_id",
        threshold = 0.5, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 3L)), s"near-dup by shingles missing: $pairs")
    assert(pairs((1L, 3L)) > 0.8)
    assert(!pairs.contains((1L, 2L)),
      "permuted doc must NOT be shingle-similar despite word-jaccard 1.0")
    // and the word-set measure disagrees by design (computed directly:
    // jaccardPairs' shingle BLOCKING would never pair order-disjoint
    // docs — its documented recall contract)
    val wj = docs.as("l").join(docs.as("r"),
        col("l.doc_id") === 1L && col("r.doc_id") === 2L)
      .select(graft.functions.TextFunctions.jaccard(
        col("l.text"), col("r.text")).as("j"))
      .collect().head.getDouble(0)
    assert(wj == 1.0, s"permuted doc must have word-set jaccard 1.0, got $wj")
  }

  test("containmentPairs recovers planted wrappers and reports only true inclusions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val corpus = docs.unionAll(docs.select(
      (col("doc_id") + 2000000L).as("doc_id"),
      concat(lit("pre "), col("text"), lit(" post")).as("text")))
    val pairs = Dedup.containmentPairs(corpus, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every original is contained in its planted wrapper
    (0L until 100L).foreach { id =>
      assert(pairs.contains((id, id + 2000000L)),
        s"planted containment ($id, ${id + 2000000L}) missed")
    }
    // soundness: every reported pair is a true substring inclusion
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(a != b && texts(b).contains(texts(a)),
        s"false containment ($a, $b)")
    }
  }
}
