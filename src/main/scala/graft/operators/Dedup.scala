package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale contract (the 100 TB design rule): **only ids and fixed-size
  * signatures ever travel through the exploded band/block shuffles** —
  * document text is re-joined by id exactly once, for the final exact
  * verification over the (small) candidate-pair set. Candidate pairs are
  * `distinct`-ed *before* any text is touched, so a pair colliding in k
  * bands/blocks costs one verification, not k. No all-pairs stage exists;
  * bucket skew is bounded by doc-frequency caps and AQE skew-join.
  */
object Dedup {

  /** Exact dedup: group by normalized-content fingerprint, keep the
    * smallest id per group. One hash-aggregate shuffle on the 128-bit key. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Token-set Jaccard verification for candidate id-pairs: tokenize
    * each document ONCE into its distinct word set, HASH each member to
    * 64 bits (xxhash64 — see the body comment for why), join the
    * (id, hashed-sorted words, |words|) side tables by id, and compute
    * |A∩B| / (|A|+|B|−|A∩B|) with a native two-pointer merge over the
    * sorted long arrays (identical values: the inputs are distinct
    * arrays, so |A∪B| = |A|+|B|−|A∩B|). Exact modulo 64-bit hash
    * collisions between two DISTINCT words inside one pair's union
    * (≲ m²·2⁻⁶⁵ per pair — the accepted xxhash64-span-key collision
    * class). Appends a `jaccard` column rounded to 4 dp. */
  private def verifyJaccard(candidates: DataFrame, docs: DataFrame,
      minJaccard: Option[Double] = None): DataFrame = {
    // tokenized ONCE: the repartition materializes an exchange of the
    // (doc_id, words, n) rows that ReuseExchange shares across all four
    // consuming join branches (left/right size-prefilter, left/right
    // word join) — and since the join keys are renames of doc_id, the
    // ws side arrives pre-partitioned and is never re-shuffled. Word
    // sets are HASHED (xxhash64 per word — 8 bytes per set member
    // instead of the word text, so the corpus-sized exchange and the
    // two candidate-frame exchanges that carry word arrays shrink by
    // the mean word length) and SORTED here, once per document, so the
    // per-pair exact Jaccard below is a native two-pointer LONG merge
    // instead of an array_intersect hash set per candidate pair (the
    // verify stage's dominant cost at millions of candidates). Jaccard
    // is a set measure, so the value is identical under the hash unless
    // two DISTINCT words of one pair's union collide in 64 bits
    // (≲ m²·2⁻⁶⁵ per pair — the accepted xxhash64-span-key class; the
    // outer array_distinct keeps the kernel's sorted-distinct
    // precondition even then).
    val ws = docs.select(col("doc_id"),
      sort_array(array_distinct(transform(
        TextFunctions.wordSet(col("text")), w => xxhash64(w)))).as("words"))
      .select(col("doc_id"), col("words"), size(col("words")).as("n"))
      .repartition(col("doc_id"))

    // merge hints on every candidates-side join: `candidates` is a
    // distinct over exploded pairs — the t42 signature whose static size
    // estimate collapses through the aggregate while its true
    // cardinality is O(candidate pairs). On the 100× heaps-density
    // corpus the r16 BroadcastAudit truth-counted the t09 frame at
    // 39.6 M rows (1.2 GB deserialized) under a 25 MB estimate — a
    // statically-planned broadcast that OOMs executors at scale. The
    // doc-side frames (lw/rw) are O(corpus) too; sort-merge is the
    // spill-safe shape for every one of these joins at every scale.
    //
    // TWO joins, not four (r20, measured): the provable length
    // prefilter — J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs outside
    // the size band can never reach the threshold — used to run as a
    // skinny (id, n) join pair BEFORE the word-array joins. On a
    // rare-shingle-blocked candidate set it passes 64–74% of pairs
    // (probed at sf0.1: 1.76 M candidates, 64% pass at t=0.6, 74% at
    // t=0.8 — blocked pairs already share a rare shingle, so wildly
    // mismatched lengths are rare), and two extra sort-merge passes
    // over the full candidate stream cost more than carrying word
    // arrays for the 26–36% they would have dropped. The filter itself
    // is KEPT — applied between the joins and the (expensive)
    // two-pointer kernel, so certainly-below-threshold pairs still
    // never reach the kernel and the output is unchanged.
    val lw = ws.select(col("doc_id").as("left_id"),
      col("words").as("__lw"), col("n").as("__ln"))
    val rw = ws.select(col("doc_id").as("right_id"),
      col("words").as("__rw"), col("n").as("__rn"))
    val joined = candidates.join(lw.hint("merge"), Seq("left_id"))
      .join(rw.hint("merge"), Seq("right_id"))
    val sized = minJaccard match {
      case Some(t) if t > 0 =>
        joined.filter(least(col("__ln"), col("__rn")).cast("double")
          >= greatest(col("__ln"), col("__rn")) * t)
      case _ => joined
    }
    sized
      .withColumn("jaccard",
        round(call_function("graft_jaccard_sorted",
          col("__lw"), col("__rw")), 4))
      .drop("__lw", "__rw", "__ln", "__rn")
  }

  /** MinHash signature: for each of `numHashes` hash functions i, the min
    * over shingles of h_i(s) where h_i(s) = xxhash64(i, s) — the standard
    * "many independent hash functions" construction, computed by the
    * native one-pass [[graft.expr.MinHashSig]] expression (codegen'd;
    * hash-identical to the Column fold below, pinned by the test suite).
    * Returns ArrayType(Long). */
  def minHashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column =
    call_function("graft_minhash_sig",
      TextFunctions.shingles(text, shingleSize), lit(numHashes))

  /** Composed-Column reference for [[minHashSignature]]: a fold with a
    * `numHashes`-wide running-min accumulator (`aggregate` +
    * `zip_with(least)`). Kept for the native-expression parity spec. */
  def minHashSignatureComposed(text: Column, numHashes: Int, shingleSize: Int = 3): Column = {
    val sh = TextFunctions.shingles(text, shingleSize)
    aggregate(
      sh,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(
        acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(i, s)),
        (a, h) => least(a, h)))
  }

  /** MinHash-LSH candidate pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), bucket-join on (band, hash-of-band-slice),
    * emit distinct candidate pairs with estimated Jaccard (fraction of
    * matching signature positions) and exact token-set Jaccard.
    *
    * Scale shape: the exploded stream is (doc_id, sig, band, bucket) —
    * ~`bands × (8·numHashes + 16)` bytes/doc regardless of document size.
    * Candidate id-pairs are distinct-ed, then text is joined back by id
    * once per side for the exact-Jaccard verify. With b=8, r=4 the
    * collision threshold is (1/b)^(1/r) ≈ 0.59 Jaccard.
    */
  def minHashPairs(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   chunkSize: Int = 2048): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // signature via the native graft_minhash_sig expression: ONE codegen'd
    // pass over the shingle array, hash-identical to xxhash64(lit(i), s)
    // (pinned by the expression spec), computed right in the scan stage.
    // The repartition materializes an exchange of the skinny (doc_id,
    // sig) rows so ReuseExchange feeds BOTH sides of the band self-join
    // from one signature computation — without it each side re-tokenizes
    // and re-hashes the whole corpus (measured 2-3x slower at sf0.1).
    val withSig = docs.select(col("doc_id"),
      call_function("graft_minhash_sig",
        TextFunctions.shingles(col("text"), 3), lit(numHashes)).as("sig"))
      .repartition(col("doc_id"))

    // (doc_id, sig, band, bucket) — no text beyond this point
    val banded = withSig.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bucket"))))
        .as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    // native codegen'd estimator: the composed zip_with+filter+size chain
    // evaluated interpreted once per banded collision row (the per-row
    // hot spot of the self-join — a pair colliding in k bands paid it k
    // times before the distinct)
    val matchFrac = call_function("graft_match_frac",
      col("left_sig"), col("right_sig"))

    // chunk-salted band self-join ([[SaltedSelfJoin]]): a band bucket
    // holding a large share of the corpus would otherwise serialize its
    // quadratic enumeration on one task (the t08 skew class). The
    // lower-chunk member lands on the left — canonicalize by
    // least/greatest (matchFrac is symmetric).
    // distinct BEFORE the word-set join: one verification per pair, not per band
    val candidates = SaltedSelfJoin.pairs(banded, Seq("band", "bucket"),
        "doc_id", payload = Seq("sig"), chunkSize = chunkSize)
      .select(least(col("left_id"), col("right_id")).as("left_id"),
        greatest(col("left_id"), col("right_id")).as("right_id"),
        round(matchFrac, 4).as("est_jaccard"))
      .distinct()

    verifyJaccard(candidates, docs)
      .select(col("left_id"), col("right_id"), col("est_jaccard"), col("jaccard"))
  }

  /** SimHash: 64-bit signature where bit k is the sign of the sum over
    * tokens of ±1 votes from bit k of each token's hash. Near-dups have
    * small Hamming distance.
    *
    * Computed by the native [[graft.expr.SimHash64]] expression: one
    * codegen'd pass over the token array, NO shuffle — the signature
    * materializes where the document is read. Bit-identical to the
    * earlier explode + 64×sum() aggregate plan ([[simHashComposed]],
    * kept as the parity reference), which paid an aggregation exchange
    * per corpus pass. */
  def simHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      call_function("graft_simhash",
        TextFunctions.tokens(lower(col(textCol)))).as("simhash"))

  /** Composed reference implementation of [[simHash]] (explode + 64
    * codegen'd partial-sum aggregates), kept for the native-expression
    * parity spec. */
  def simHashComposed(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    // votes: for each of 64 bits, +1 if bit set else -1; sum per doc
    val bitCols = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$k")
    }
    val voted = toks.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 64).map { k =>
      when(col(s"b$k") > 0, shiftleft(lit(1L), k)).otherwise(0L)
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))
    voted.select(col("doc_id"), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within Hamming radius, via multi-block
    * partitioning (Manku et al., WWW'07 — the permuted-table scheme,
    * realized as block COMBINATIONS instead of permutations): split the
    * 64-bit signature into `blocks` nearly equal bit-blocks, and join
    * each doc once per `keyBlocks`-subset of blocks on (table id,
    * concatenated subset bits). By pigeonhole, a pair within Hamming
    * distance ≤ blocks − keyBlocks has all its differing bits inside at
    * most blocks − keyBlocks blocks, so SOME keyBlocks-subset of the
    * remaining blocks matches exactly → recall is COMPLETE for
    * maxHamming ≤ blocks − keyBlocks (the keyBlocks = 1 default is the
    * classic one-block-per-table scheme).
    *
    * Why keyBlocks matters at scale (measured, round 17): on a
    * distribution-correlated corpus the signature bits agree ~79% per
    * bit across RANDOM pairs, so a 9-bit single-block key collides a
    * constant fraction of all pairs — the r16 probes measured a
    * SATURATED 99.7 B-row collision stream at the 100× heaps decade
    * (quadratic-tracking, 76×/decade). Wider concatenated keys cut the
    * per-table collision rate exponentially in the key width while the
    * table count C(blocks, keyBlocks) grows polynomially, and — the
    * operational point — they spread the corpus over 2^(keyBlocks·w)
    * buckets instead of 2^w, which is what makes `maxBucket` a usable
    * guard instead of a recall massacre.
    *
    * `maxBucket`: optional per-(table, key) occupancy cap — buckets
    * holding more members than the cap are dropped BEFORE pair
    * enumeration (the stop-shingle / `maxDocFreq` pattern). This is the
    * saturation guard for correlated corpora, where complete-recall
    * blocking is provably ~Θ(n²) (any covering of radius maxHamming
    * pays ≥ t·q^w per random pair, and q per bit is a corpus property —
    * see PLANS.md round 17). Recall contract under a cap: a true pair
    * within radius is lost only if EVERY table where it matches is
    * saturated; a pair at distance d matches ~C(blocks − d', keyBlocks)
    * tables (d' = blocks hit by its d differing bits), so near pairs
    * (small d) hold many independent tickets and the measured recall
    * loss concentrates on the far edge of the radius. None = exact.
    * Measured at the 100× heaps decade (1 M docs, 9 blocks × 3-block
    * keys, PROBE_t08_r17.jsonl): cap 1024 cuts the collision stream
    * 9.4× while keeping 99.85% of planted near-dup pairs and 99.95%
    * of Hamming ≤ 2 edges (80% of all radius-6 edges — the losses sit
    * at d = 5–6, the redundant intra-cluster bulk); cap 256 cuts 31×
    * at 98.4% planted / 95.3% d ≤ 2.
    *
    * Only (doc_id, simhash) rides the explode — 16 bytes/doc/table. */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 8, blocks: Int = 4,
                   chunkSize: Int = 2048, keyBlocks: Int = 1,
                   maxBucket: Option[Int] = None): DataFrame =
    simHashCandidates(df, textCol, idCol, blocks, chunkSize, keyBlocks, maxBucket)
      .withColumn("hamming", hamming(col("left_simhash"), col("right_simhash")))
      .filter(col("hamming") <= maxHamming)
      .select(col("left_id"), col("right_id"), col("hamming"))

  /** Append the exactness marker the Budgeted entry points return
    * (r18 verdict item 2): a boolean `capped` column — per-row, so it
    * survives writes and unions — whose column METADATA carries the
    * same flag under key "graft.capped", readable even when the result
    * has zero rows (a binding cap on a small corpus can legitimately
    * empty the pair set). */
  private[graft] def withCappedMarker(df: DataFrame,
                                      capped: Boolean): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.capped", capped).build()
    df.withColumn("capped", lit(capped).as("capped", meta))
  }

  /** [[simHashPairs]] at [[simHashPlan]]-sized blocking with the
    * occupancy cap sized to THIS corpus — the production path (the
    * [[Similarity]] `nearDupPairsBudgeted` pattern): one count() sizes
    * the keys to the corpus; below `capAbove` docs the plan is capless,
    * so the answer is the exact Hamming ball and the oracle holds at
    * every verify scale.
    *
    * Above `capAbove` it runs the full two-pass discipline
    * [[capFromHistogram]] documents, as one call: pass 1 aggregates the
    * occupancy histogram under the corpus-sized blocking (one groupBy
    * over corpus × tables thin rows, collected as ≤ 64 tiny size-class
    * rows), pass 2 runs the capped pair enumeration at the largest cap
    * whose ordered stream stays within `streamPerDoc` rows per doc.
    * Exists because the r18 fourth-decade measurement showed fixed
    * `targetBucketSize` caps silently losing recall per decade
    * (PROBE_t08_r18: planted recall 90.7% at 1 M docs → 85.7% at 10 M
    * under cap 64) while the admitted stream per doc balloons — the
    * only stable contract across decades is a per-doc stream BUDGET,
    * which this entry point enforces.
    *
    * Output schema: (left_id, right_id, hamming, capped) — `capped` is
    * true iff an occupancy cap actually engaged (subset semantics),
    * false on every exact run, including above-threshold corpora whose
    * whole histogram fits the budget — so a downstream consumer can
    * gate on exactness programmatically; golden projections drop it.
    *
    * Lineage discipline (r18 verdict item 4): the sizing needs the doc
    * count and, above `capAbove`, the occupancy histogram before the
    * pair enumeration — over a DERIVED input (a curation-stage output,
    * not a raw scan) each extra pass re-executes the upstream pipeline,
    * so callers with expensive derived inputs should persist them
    * (PROBE_budgetpass_r19 measured 4 upstream evaluations: the count,
    * the histogram and the self-join's two arms). */
  def simHashPairsBudgeted(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int, streamPerDoc: Double = 8192.0,
                           chunkSize: Int = 2048,
                           capAbove: Long = 262144L): DataFrame = {
    val n = df.count()
    val (blocks, keyBlocks, planCap) = simHashPlan(n, maxHamming,
      capAbove = capAbove)
    if (planCap.isEmpty)
      return withCappedMarker(simHashPairs(df, textCol, idCol, maxHamming,
        blocks, chunkSize, keyBlocks, None), capped = false)
    // pairs per class sums in DOUBLE (Spark's `/` divides as double);
    // m(m−1) is even so the value is exact well past any realistic pair
    // mass (integer-exact to 2^53 ≈ 9·10^15; the measured fourth-decade
    // classes top out at ~1.8·10^11)
    val hist = simHashCollisionBuckets(df, textCol, idCol, blocks, keyBlocks)
      .groupBy(col("sizeClass"))
      .agg(sum(col("m") * (col("m") - 1) / 2).as("pairs"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1).toLong))
      .toSeq
    val cap = capFromHistogram(hist, n, streamPerDoc)
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"[graft] simHashPairsBudgeted: n=$n blocks=$blocks " +
        s"keyBlocks=$keyBlocks budget=${streamPerDoc}/doc -> cap=$cap" +
        (if (cap.isEmpty) " (whole histogram fits — exact)" else ""))
    withCappedMarker(simHashPairs(df, textCol, idCol, maxHamming, blocks,
      chunkSize, keyBlocks, cap), capped = cap.isDefined)
  }

  /** Corpus-sized blocking plan for [[simHashPairs]] (the
    * [[IvfIndex.autoK]] pattern). Two regimes, both pigeonhole-exact
    * in structure (blocks = maxHamming + keyBlocks always):
    *
    *   - n ≤ `capAbove`: the CLASSIC single-block scheme, capless.
    *     Measured (r17, clean JVMs): below the cap threshold the raw
    *     collision stream is cheaper than any wider key's explode
    *     factor — 10× heaps classic 11.9 s vs keyBlocks = 2 15.5 s vs
    *     keyBlocks = 3 27.9 s, identical 545,075-pair output; even at
    *     1 M docs the capless streams tie (99.7 B rows / 103 s classic
    *     vs 24.5 B / 102 s at keyBlocks = 3). Wider keys buy stream
    *     reduction, not wall — UNTIL the cap engages.
    *   - n > `capAbove`: smallest keyBlocks whose key width
    *     64·k/(maxHamming+k) covers log2(n) (buckets ≳ docs, so
    *     uniform occupancy stays O(1)), table count capped by
    *     `maxTables`, plus `maxBucket` = targetBucketSize. The wider
    *     keys are what make the cap surgical instead of a recall
    *     massacre — see [[simHashPairs]] for the measured frontier.
    */
  def simHashPlan(n: Long, maxHamming: Int, maxTables: Int = 256,
                  targetBucketSize: Int = 1024,
                  capAbove: Long = 262144): (Int, Int, Option[Int]) = {
    require(n >= 0 && maxHamming >= 0 && maxTables >= 1)
    if (n <= capAbove) return (maxHamming + 1, 1, None)
    val log2n = math.max(1.0, math.log(math.max(n, 2).toDouble) / math.log(2.0))
    def tables(k: Int): Long = {
      var t = 1L
      for (i <- 1 to k) t = t * (maxHamming + i) / i // C(maxHamming+k, k)
      t
    }
    // smallest k whose key width 64k/(maxHamming+k) reaches log2(n),
    // clamped to the largest k the table budget admits (and to keys
    // that still fit the 64-bit signature: blocks ≤ 64)
    val kBudget = Iterator.from(1).takeWhile(k =>
      tables(k) <= maxTables && maxHamming + k <= 64).toSeq.lastOption.getOrElse(1)
    val kWanted = Iterator.from(1).find(k =>
      64.0 * k / (maxHamming + k) >= log2n || k >= kBudget).getOrElse(1)
    val k = math.min(kWanted, kBudget)
    (maxHamming + k, k, Some(targetBucketSize))
  }

  /** Data-driven `maxBucket` from an occupancy histogram — the missing
    * half of [[simHashPlan]]'s cap story. A FIXED targetBucketSize
    * admits a collision stream that grows with corpus density, not just
    * size: the committed fourth-decade histogram (PROBE_t08_r17, 10 M
    * docs) shows the default cap 1024 admitting ~264 B ordered rows
    * (~26 k rows/doc) where 100× admits ~10.6 k/doc — the per-doc
    * stream balloons silently as correlated corpora densify. This
    * function inverts the measured histogram→stream identity instead:
    * given `hist` (sizeClass → unordered pair mass, exactly the
    * [[simHashCollisionBuckets]] aggregate the probes emit, one cheap
    * aggregation pass over the corpus) and a per-doc ordered-stream
    * budget, it returns the largest power-of-two cap whose admitted
    * stream (2 × cumulative pair mass at classes ≤ log2 cap) stays
    * within budget — or None when even the full histogram fits, i.e.
    * the corpus needs no cap at all. The recall consequence of the
    * chosen cap is then read off the same histogram (what the next
    * class up drops) and measured by the planted-recall probes; cap
    * floor 2 because a 1-member bucket pairs with nothing.
    *
    * Sizing discipline at 100 TB: run [[simHashCollisionBuckets]] once
    * (one groupBy over corpus × tables thin rows), aggregate by
    * sizeClass, call this, then run [[simHashPairs]] at the returned
    * cap — two passes total, no trial-and-error over the quadratic
    * stream. */
  def capFromHistogram(hist: Seq[(Int, Long)], n: Long,
                       streamPerDoc: Double = 8192.0): Option[Int] = {
    require(n > 0, "capFromHistogram: n must be positive")
    require(hist.forall { case (c, p) => c >= 0 && p >= 0 },
      "capFromHistogram: size classes and pair masses must be non-negative")
    val budget = streamPerDoc * n / 2.0 // unordered pair budget
    val byClass = hist.sortBy(_._1)
    var cum = 0.0
    var best = 1 // size class 1 = cap 2, the floor
    var fitsAll = true
    byClass.foreach { case (cls, pairs) =>
      cum += pairs.toDouble
      if (cum <= budget) best = math.max(best, cls)
      else fitsAll = false
    }
    // clamp: size class >= 31 would overflow the Int shift to a
    // negative cap, and the downstream `__bn <= cap` gate would then
    // drop EVERY bucket (r18 advice). 2^30 members per bucket is past
    // any cap a per-doc budget can sensibly admit, so the clamp only
    // trades an unreachable cap for the largest representable one.
    if (fitsAll) None else Some(1 << math.min(best, 30))
  }

  /** The t08 CANDIDATE stage on its own — distinct canonical block-
    * collision pairs with both signatures, before the Hamming verify.
    * `private[graft]` so the scale probes can measure candidate growth
    * directly (the round-14 decade rows asserted it from wall times).
    * Factoring the distinct to HERE also computes the Hamming verify
    * once per pair instead of once per colliding block row — output
    * identical (hamming is symmetric and a pure function of the two
    * signatures, which are themselves functions of the ids). */
  private[graft] def simHashCandidates(df: DataFrame, textCol: String,
                                       idCol: String, blocks: Int = 4,
                                       chunkSize: Int = 2048,
                                       keyBlocks: Int = 1,
                                       maxBucket: Option[Int] = None): DataFrame = {
    val lo = col("left_id") <= col("right_id")
    simHashCollisions(df, textCol, idCol, blocks, chunkSize, keyBlocks, maxBucket)
      .select(least(col("left_id"), col("right_id")).as("left_id"),
        greatest(col("left_id"), col("right_id")).as("right_id"),
        when(lo, col("left_simhash")).otherwise(col("right_simhash")).as("left_simhash"),
        when(lo, col("right_simhash")).otherwise(col("left_simhash")).as("right_simhash"))
      .distinct()
  }

  /** Bucket-size spectrum of the blocking [[simHashCollisions]] would
    * run: one row per (table, key) bucket with its member count `m`
    * and `sizeClass` = ceil(log2 m) — the control-plane aggregate the
    * scale probes histogram to choose `maxBucket` from data instead of
    * guesswork. `private[graft]`: probe surface, not API. */
  private[graft] def simHashCollisionBuckets(df: DataFrame, textCol: String,
                                             idCol: String, blocks: Int,
                                             keyBlocks: Int): DataFrame = {
    // reuse the explode by running the collision builder's front half:
    // signatures → per-table keys → bucket counts
    val base = 64 / blocks
    val rem = 64 % blocks
    val widths = (0 until blocks).map(k => if (k < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val combos = (0 until blocks).combinations(keyBlocks).toIndexedSeq
    def comboBits(c: Seq[Int]): Column =
      c.foldLeft(lit(0L): Column) { (acc, k) =>
        shiftleft(acc, widths(k)).bitwiseOR(
          shiftright(col("simhash"), offsets(k))
            .bitwiseAND(lit((1L << widths(k)) - 1)))
      }
    simHash(df, textCol, idCol)
      .select(col("doc_id"), explode(array(combos.zipWithIndex.map {
        case (c, i) => struct(lit(i).as("blk"), comboBits(c).as("bits"))
      }: _*)).as("bb"))
      .groupBy(col("bb.blk").as("blk"), col("bb.bits").as("bits"))
      .agg(count(lit(1)).as("m"))
      .withColumn("sizeClass",
        ceil(log(2.0, greatest(col("m"), lit(1L)))).cast("int"))
  }

  /** The RAW block-collision stream feeding [[simHashCandidates]] —
    * pre-canonicalization, pre-distinct. Its row count is what the full
    * t08 query actually STREAMS through the pushed-down Hamming filter
    * (Catalyst pushes `hamming ≤ r` below the distinct, so the verify
    * never materializes the candidate set); `private[graft]` so the
    * scale probes can measure that stream directly. */
  private[graft] def simHashCollisions(df: DataFrame, textCol: String,
                                       idCol: String, blocks: Int = 4,
                                       chunkSize: Int = 2048,
                                       keyBlocks: Int = 1,
                                       maxBucket: Option[Int] = None): DataFrame = {
    require(blocks >= 2 && blocks <= 64, "blocks must be in [2, 64]")
    require(keyBlocks >= 1 && keyBlocks <= blocks,
      "keyBlocks must be in [1, blocks]")
    require(chunkSize >= 2, "chunkSize must be >= 2")
    maxBucket.foreach(c => require(c >= 2, "maxBucket must be >= 2"))
    // block k covers bits [offsets(k), offsets(k+1)) of the signature
    val base = 64 / blocks
    val rem = 64 % blocks
    val widths = (0 until blocks).map(k => if (k < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    // one table per keyBlocks-subset of blocks; its key is the
    // concatenation of the subset's bit ranges (total ≤ 64 bits, so one
    // long). Enumerated at PLAN time — C(blocks, keyBlocks) literal
    // structs, not a data-dependent explode.
    val combos = (0 until blocks).combinations(keyBlocks).toIndexedSeq
    def comboBits(c: Seq[Int]): Column =
      c.foldLeft(lit(0L): Column) { (acc, k) =>
        shiftleft(acc, widths(k)).bitwiseOR(
          shiftright(col("simhash"), offsets(k))
            .bitwiseAND(lit((1L << widths(k)) - 1)))
      }
    // exchange of the 16-byte (doc_id, simhash) rows so ReuseExchange
    // computes signatures once for both self-join sides (see minHashPairs)
    val sigs = simHash(df, textCol, idCol).repartition(col("doc_id"))
    val exploded = sigs.select(col("doc_id"), col("simhash"),
      explode(array(combos.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("blk"), comboBits(c).as("bits"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.blk").as("blk"), col("bb.bits").as("bits"))
    // occupancy guard: drop saturated (table, key) buckets before any
    // pair is enumerated — one count-aggregate over the thin exploded
    // frame plus a semi-join back (merge-hinted: both sides are
    // O(corpus × tables) frames whose static estimates collapse through
    // the explode, the t42 broadcast-OOM signature). Recall semantics
    // in [[simHashPairs]]'s scaladoc. The pinned repartition on the key
    // makes the gated subtree's exchange IDENTICAL on both sides of the
    // downstream pair self-join (different projections sit above it),
    // so ReuseExchange evaluates the whole simhash+explode+count+gate
    // lineage ONCE instead of once per side (r17 advice: up to three
    // evaluations rode on ReuseExchange happening to fire) — and the
    // pair join's SMJ consumes the partitioning, adding no exchange.
    val gated = maxBucket match {
      case Some(cap) =>
        val small = exploded.groupBy(col("blk"), col("bits"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= cap)
          .select(col("blk"), col("bits"))
        exploded.join(small.hint("merge"), Seq("blk", "bits"), "left_semi")
          .repartition(col("blk"), col("bits"))
      case None => exploded
    }
    // CHUNK-SALTED self-join ([[SaltedSelfJoin]] — measured 1003 s →
    // 14 s at the 10× probe; see its scaladoc for the AQE-invisible
    // skew it removes). A pair surfaces with its lower-CHUNK member on
    // the left, not necessarily the lower id; [[simHashCandidates]]
    // canonicalizes by least/greatest (hamming is symmetric) and its
    // distinct dedups same-chunk double-matches and multi-block hits
    // alike. Under a cap the max surviving bucket is ≤ maxBucket by
    // construction, so the salt probe can be skipped via the hint.
    SaltedSelfJoin.pairs(gated, Seq("blk", "bits"), "doc_id",
      payload = Seq("simhash"), chunkSize = chunkSize,
      maxBucketHint = maxBucket.map(_.toLong))
  }

  /** n-gram Jaccard near-dup pairs via shared-shingle blocking: docs
    * sharing at least one rare shingle are candidates; exact Jaccard
    * (computed ONCE per distinct candidate pair, after a text re-join by
    * id) filters. `maxDocFreq` drops stop-shingles so bucket sizes stay
    * bounded — the skew guard that matters at scale. Only (shingle,
    * doc_id) rides the blocking shuffle. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double, shingleSize: Int = 3,
                   maxDocFreq: Int = 20): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val candidates = shingleCandidates(docs, shingleSize, maxDocFreq)
    verifyJaccard(candidates, docs, minJaccard = Some(threshold))
      .select(col("left_id"), col("right_id"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Rare-shingle blocking, shared by [[jaccardPairs]] and
    * [[containmentPairs]]: distinct (left_id, right_id) pairs (left <
    * right) sharing at least one shingle with document frequency in
    * [2, maxDocFreq]. ONE aggregation pass: group to each shingle's
    * sorted doc list, keep rare shingles (the skew guard), enumerate the
    * ≤ maxDocFreq·(maxDocFreq−1)/2 ordered pairs per shingle in-place.
    * Only (shingle, doc_id) rides the shuffle. */
  /** Exact SHINGLE-set Jaccard pairs — the ground truth for evaluating
    * shingle-based sketches: MinHash signatures estimate exactly this
    * set similarity (word-set Jaccard, `jaccardPairs`, is a different
    * measure that ignores order — a permuted document has word-Jaccard
    * 1.0 but near-zero shingle overlap). Same rare-shingle blocking;
    * verification joins sorted distinct shingle arrays through the
    * same native two-pointer kernel. */
  def shingleJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                          threshold: Double, shingleSize: Int = 3,
                          maxDocFreq: Int = 20): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val candidates = shingleCandidates(docs, shingleSize, maxDocFreq)
    // shingle sets are HASHED before the shuffle (xxhash64 per shingle:
    // 8 bytes per set member instead of a shingleSize-word string — the
    // largest per-doc payload in the engine, ~3× the corpus bytes as
    // strings). Set Jaccard is hash-invariant modulo 64-bit collisions
    // inside one pair's union (≲ m²·2⁻⁶⁵ — the xxhash64-span-key
    // class); the outer array_distinct keeps the kernel's
    // sorted-distinct precondition even then.
    val ss = docs.select(col("doc_id"),
        sort_array(array_distinct(transform(
          TextFunctions.shingles(col("text"), shingleSize),
          sh => xxhash64(sh)))).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .repartition(col("doc_id"))
    // TWO joins, not four (r20 — the verifyJaccard restructure): the
    // provable length prefilter J <= min(|A|,|B|)/max(|A|,|B|) runs as
    // a FILTER between the array joins and the two-pointer kernel
    // instead of a skinny (id, n) pre-join pair — on a rare-shingle-
    // blocked candidate set it passes ~64% (probed at sf0.1, t=0.6),
    // so the two extra sort-merge passes over the candidate stream
    // cost more than the array bytes they save. Certainly-below-
    // threshold pairs still never reach the kernel; output unchanged.
    // merge-hinted for the same reason as [[verifyJaccard]]: the
    // candidates frame's static estimate hides O(pairs) truth (r16
    // audit on the heaps 100× corpus), and the ss-side frames are
    // O(corpus) — neither is ever a safe broadcast build.
    val lw = ss.select(col("doc_id").as("left_id"),
      col("sh").as("__lw"), col("n").as("__ln"))
    val rw = ss.select(col("doc_id").as("right_id"),
      col("sh").as("__rw"), col("n").as("__rn"))
    candidates.join(lw.hint("merge"), Seq("left_id"))
      .join(rw.hint("merge"), Seq("right_id"))
      .filter(least(col("__ln"), col("__rn")).cast("double")
        >= greatest(col("__ln"), col("__rn")) * threshold)
      .withColumn("jaccard",
        round(call_function("graft_jaccard_sorted",
          col("__lw"), col("__rw")), 4))
      .drop("__lw", "__rw", "__ln", "__rn")
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  private[graft] def shingleCandidates(docs: DataFrame, shingleSize: Int,
                                       maxDocFreq: Int): DataFrame =
    // blocks on xxhash64(shingle), not the shingle text: the blocking
    // exchange carries an 8-byte key per shingle occurrence instead of
    // a shingleSize-word string (~3× the corpus bytes). A 64-bit
    // collision between two shingle TYPES merges their doc lists —
    // extra candidate pairs are culled by the exact verify that follows
    // every blocking stage; the only semantic edge is a merged list
    // crossing the [2, maxDocFreq] df band — and the UPWARD crossing is
    // the one the verify cannot recover: a rare shingle whose merged
    // list exceeds maxDocFreq is dropped, a silent false negative
    // (recall loss), unlike the downward direction's extra candidates.
    // Expected type collisions ≈ types²·2⁻⁶⁵, so the bound is a scale
    // contract: ≲ 1 spurious merge per ~6·10⁹ shingle types, i.e.
    // negligible through the heaps decades but material if a corpus
    // approaches ~10¹² types — widen the blocking key there (e.g.
    // two-seed 128-bit hash) before trusting recall.
    docs.select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), shingleSize)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxDocFreq))
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as("left_id"), b.as("right_id")))))).as("p"))
      .select(col("p.left_id"), col("p.right_id"))
      // dedup on the JOIN key's partitioning (r20): HashPartitioning
      // (left_id) satisfies the distinct's clustered distribution (all
      // copies of a pair share left_id), so the aggregate runs complete
      // on the repartition output and the downstream verify join on
      // left_id needs NO further exchange — 2 exchanges of the pair
      // stream collapse to 1. A pair's duplicates (one per shared rare
      // shingle) ride this exchange where they used to ride the
      // distinct's (l, r) exchange: same 16-byte rows, scattered across
      // shingle groups either way, so the map-side partial dedup the
      // old shape lost here never fired to begin with. Skew bound: one
      // left doc's pairs ≤ its rare-shingle count × (maxDocFreq − 1).
      .repartition(col("left_id"))
      .distinct()

  /** Substring-containment dedup pairs: (contained_id, container_id)
    * where one document's text appears verbatim inside another's — the
    * "exact-substring inclusion" stage web-corpus curation runs next to
    * near-dup detection. Candidates come from the same rare-shingle
    * blocking as [[jaccardPairs]] (a contained document shares ALL its
    * shingles with its container, so any of its rare shingles blocks the
    * pair); the verify is one codegen'd `Contains` per candidate after a
    * length prefilter, with text re-joined by id once — the standard
    * scale contract. Equal texts are mutually containing and emit both
    * directions (exact dedup handles them upstream). Recall contract:
    * found unless EVERY shared shingle is corpus-common (df >
    * maxDocFreq) — near-impossible for verbatim inclusion of
    * non-boilerplate text. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, maxDocFreq: Int = 20): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val candidates = shingleCandidates(docs, shingleSize, maxDocFreq)
    // one text exchange, not two (r20): the repartition materializes an
    // exchange of (doc_id, text) that ReuseExchange feeds to BOTH join
    // sides (the renames sit above the exchange, and the join keys are
    // alias-propagated doc_id partitionings) — without it each side
    // re-scans and re-shuffles the whole corpus text, the verifyJaccard
    // ws lesson applied to the containment verify.
    val dt = docs.repartition(col("doc_id"))
    val lt = dt.select(col("doc_id").as("left_id"), col("text").as("__lt"))
    val rt = dt.select(col("doc_id").as("right_id"), col("text").as("__rt"))
    // candidate pairs are left < right by id; containment is asymmetric,
    // so verify both orientations. Merge-hinted: the r16 audit
    // truth-counted this candidates frame at 40 M rows (1.2 GB) on the
    // heaps 100× corpus under a 25 MB static estimate, and the text
    // sides are O(corpus) — no side is ever a safe broadcast.
    //
    // ONE pass (r19): the old unionAll of two filters over this same
    // subtree planned the whole blocking + both text joins TWICE —
    // Catalyst cannot ReusedExchange across the orientation-specific
    // projections (plan-measured: 2× the candidates subtree, 8 SMJ, 26
    // Exchanges at sf0.1). Each joined row now emits its 0–2 oriented
    // verdicts in a single projection (array-build → filter → explode,
    // all codegen), halving the operator's scans, joins and shuffles.
    // Same rows, same multiplicities (equal texts still emit both
    // directions); callers order the result, so emission order is free.
    val joined = candidates.join(lt.hint("merge"), Seq("left_id"))
      .join(rt.hint("merge"), Seq("right_id"))
    joined
      .select(explode(filter(array(
        struct(
          (length(col("__lt")) <= length(col("__rt")) &&
            col("__rt").contains(col("__lt"))).as("k"),
          col("left_id").as("contained_id"),
          col("right_id").as("container_id")),
        struct(
          (length(col("__rt")) <= length(col("__lt")) &&
            col("__lt").contains(col("__rt"))).as("k"),
          col("right_id").as("contained_id"),
          col("left_id").as("container_id"))),
        p => p.getField("k"))).as("p"))
      .select(col("p.contained_id"), col("p.container_id"))
  }

  /** Benchmark decontamination via a Bloom-sketch prefilter — the scale
    * path beside the broadcast semi-join (t24): build a [[org.apache.
    * spark.util.sketch.BloomFilter]] over the xxhash64 of the benchmark's
    * n-grams (a few MB regardless of dictionary size), probe every corpus
    * n-gram inside whole-stage codegen (`graft_bloom_contains` — no join,
    * no shuffle), and exact-verify only the survivors with a semi-join.
    * At 100 TB the broadcast variant needs the full benchmark n-gram
    * DICTIONARY on every executor; this variant ships a constant-size
    * sketch and shuffles only `fpp × stream + true hits` rows. The final
    * answer is identical to the exact computation — Bloom false positives
    * die in the verify join, and false negatives don't exist.
    *
    * Output: (doc_id, contaminated) for every input document. */
  def bloomDecontaminate(docs: DataFrame, bench: DataFrame,
                         textCol: String, idCol: String,
                         shingleSize: Int = 8,
                         expectedNgrams: Long = 1L << 22,
                         fpp: Double = 0.01): DataFrame = {
    val docsN = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val benchNg = bench
      .select(explode(TextFunctions.shingles(col(textCol), shingleSize)).as("ng"))
    // one aggregation action builds the sketch (tree-merged partials);
    // duplicates need no pre-distinct — Bloom insertion is idempotent.
    // A zero-row benchmark yields a null-buffer sketch that
    // stat.bloomFilter NPEs on (Spark 4.1) — test emptiness explicitly
    // and substitute a minimal empty filter (still sound: it contains
    // nothing, so nothing survives the prefilter). An explicit guard,
    // not a catch: any OTHER failure must fail loudly rather than
    // silently mark every document uncontaminated.
    val bloom =
      if (benchNg.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(1)
      else benchNg.select(xxhash64(col("ng")).as("h"))
        .stat.bloomFilter("h", expectedNgrams, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val sketch = lit(bos.toByteArray)
    val flagged = docsN
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), shingleSize)).as("ng"))
      .filter(call_function("graft_bloom_contains",
        xxhash64(col("ng")), sketch))
      .join(benchNg.distinct(), Seq("ng"), "left_semi") // exact verify
      .select(col("doc_id")).distinct()
      .withColumn("__c", lit(true))
    docsN.select(col("doc_id")).join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__c"), lit(false)).as("contaminated"))
  }
}
