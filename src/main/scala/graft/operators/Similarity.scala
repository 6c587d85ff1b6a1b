package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine — one broadcast of the query vector(s),
  * a codegen'd per-row dot product, and a top-k. Scale path: multi-table
  * random-hyperplane LSH bucketing so only same-bucket candidates are
  * scored — candidate selection shuffles (table, bucket, id) rows only;
  * vectors are re-joined by id for scoring. All arithmetic in double with
  * sequential accumulation (index order), so results are
  * engine-reproducible.
  */
object Similarity {

  /** Dot product of two array columns, accumulated in double in index
    * order via the higher-order `aggregate`. Composed-Column reference
    * implementation — the production [[cosine]] path uses the native
    * codegen'd expression instead (HOF lambdas evaluate interpreted). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via the native [[graft.expr.CosineSimilarity]]
    * expression: ONE codegen'd pass computes dot + both norms (the
    * composed fold is three interpreted array traversals). Values are
    * bit-identical to [[cosineComposed]] — pinned by the test suite. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** The original composed-Column cosine (three `aggregate` folds), kept
    * as the parity reference for the native expression. */
  def cosineComposed(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Brute-force cosine of every row against one query vector (selected
    * by id from the same table). The 1-row query side is broadcast; the
    * big side streams — no shuffle at all before the top-k. */
  def scoreAgainst(df: DataFrame, idCol: String, vecCol: String,
                   queryId: Long): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    df.join(broadcast(q))
      .select(col(idCol),
        round(cosine(col(vecCol), col("__qvec")), 4).as("cosine_sim"))
  }

  /** Top-k nearest by cosine, deterministic tiebreak on id. TakeOrdered
    * (sort+limit) keeps only k rows per partition — no global sort. */
  def topK(df: DataFrame, idCol: String, vecCol: String,
           queryId: Long, k: Int): DataFrame =
    scoreAgainst(df, idCol, vecCol, queryId)
      .filter(col(idCol) =!= queryId)
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)

  /** Deterministic ±1 hyperplane components for (table, bit): Rademacher
    * projections — a valid sign-random-projection family — seeded from a
    * driver-side hash so plans are reproducible across runs/JVMs.
    * Delegates to [[graft.expr.Hyperplanes]], the single source of truth
    * shared with the native expression. */
  private def hyperplane(dims: Int, bits: Int, table: Int): Seq[Seq[Double]] =
    (0 until bits).map(b =>
      (0 until dims).map(i => graft.expr.Hyperplanes.sign(table, b, i)))

  /** Random-hyperplane LSH signature for one hash table: `bits`
    * hyperplanes, each evaluated as a single `zip_with`+`aggregate` dot
    * product against a LITERAL sign array (one small higher-order
    * expression per bit — not a `dims`-term Add chain, which would bloat
    * codegen to multi-MB task binaries). Vector → sign pattern packed in
    * a Long. Same-bucket vectors have high cosine with high probability. */
  def lshBucket(vec: Column, dims: Int, bits: Int = 12, table: Int = 0): Column = {
    val bitExprs = hyperplane(dims, bits, table).zipWithIndex.map { case (sv, b) =>
      val proj = aggregate(
        zip_with(vec, typedLit(sv), (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bitExprs.reduce((a, b) => a.bitwiseOR(b))
  }

  /** `tables` independent LSH tables as an array of (tbl, bucket) structs.
    * Multiple tables are the standard recall knob: a pair is a candidate
    * if it collides in ANY table, so recall ≈ 1 − (1 − p^bits)^tables.
    *
    * Computed by the native [[graft.expr.LshBuckets]] expression: all
    * `tables × bits` sign projections in ONE codegen'd pass over the
    * vector (the composed form re-traverses the vector once per bit per
    * table, interpreted). Buckets are identical — same [[graft.expr
    * .Hyperplanes]] signs, same sequential double accumulation; the
    * struct wrapper over the tiny `tables`-element result keeps the
    * public (tbl, bucket) shape. */
  def lshBuckets(vec: Column, dims: Int, bits: Int, tables: Int): Column =
    transform(
      call_function("graft_lsh_buckets", vec, lit(dims), lit(bits), lit(tables)),
      (bucket, t) => struct(t.as("tbl"), bucket.as("bucket")))

  /** Composed-Column reference for [[lshBuckets]] (per-bit interpreted
    * folds), kept for the native-expression parity spec. */
  def lshBucketsComposed(vec: Column, dims: Int, bits: Int, tables: Int): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("tbl"), lshBucket(vec, dims, bits, t).as("bucket"))
    }: _*)

  /** XOR masks of Hamming weight ≤ `maxHamming` over `bits` positions —
    * the multi-probe expansion set. Sorted for deterministic plans. */
  private[operators] def probeMasks(bits: Int, maxHamming: Int): Seq[Long] =
    (0 to maxHamming).flatMap(h =>
      (0 until bits).combinations(h)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq).sorted

  /** Bucketed ANN top-k: score only candidates colliding with the query
    * in at least one of `tables` LSH tables. The query's probe set is a
    * tiny broadcast, so candidate selection is a broadcast hash join on
    * (tbl, bucket) — the big side never shuffles. Brute force (`topK`)
    * is the correctness baseline; this is the bounded-candidate path
    * (at true scale the bucketing would live in the table layout, so a
    * query reads only its bucket partitions).
    *
    * `probeHamming` is the multi-probe knob (Lv et al., "Multi-Probe
    * LSH", VLDB'07 — simplified to uniform bit flips): also probe every
    * bucket within that Hamming distance of the query's bucket in each
    * table. Adjacent buckets differ in one hyperplane sign, so they hold
    * the next-most-similar candidates; expansion fills k when fine
    * buckets (large `bits`) leave the exact bucket nearly empty, without
    * re-bucketing the corpus. Probe count per table is Σ C(bits, h) for
    * h ≤ probeHamming — still a broadcast-sized query side. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, dims: Int,
              queryId: Long, k: Int, bits: Int = 6, tables: Int = 4,
              probeHamming: Int = 0): DataFrame = {
    val bucketed = df.select(col(idCol), col(vecCol),
      explode(lshBuckets(col(vecCol), dims, bits, tables)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val exact = bucketed.filter(col(idCol) === queryId)
      .select(col("tbl"), col("bucket"), col(vecCol).as("__qvec"))
    val q =
      if (probeHamming <= 0) exact
      else exact.select(col("tbl"),
        explode(array(probeMasks(bits, probeHamming)
          .map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"),
        col("__qvec"))
    bucketed.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__qvec")), 4).as("cosine_sim"))
      .distinct() // a candidate colliding in several tables scores once
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** Corpus-proportional LSH sizing — the [[IvfIndex.autoK]] regime
    * applied to the hyperplane tables, forced by the 100× scaling probe:
    * FIXED `bits` keeps 2^bits buckets while the corpus grows, so
    * per-bucket occupancy rises linearly and candidate pairs
    * QUADRATICALLY — at 2 M vectors and bits = 8 the probe measured
    * [[nearDupPairs]] spilling the disk dry (> 79 GB) and failing;
    * salting had kept it parallel, but parallel-quadratic is still
    * quadratic. Sizing discipline:
    *
    *   - `bits` from target occupancy: 2^bits ≈ n / targetBucketSize
    *     keeps expected bucket size constant, so candidate volume grows
    *     LINEARLY in n (≈ tables · n · targetBucketSize/2 pairs);
    *   - `tables` from the recall bound at that width: a hyperplane
    *     splits a pair at angle θ with probability θ/π, so the
    *     per-table collision probability is p^bits with
    *     p = 1 − acos(sim)/π, and `tables` OR-attempts give recall
    *     1 − (1 − p^bits)^tables ≥ targetRecall when
    *     tables ≥ ln(1 − targetRecall) / ln(1 − p^bits). Finer buckets
    *     NEED more tables — sizing one without the other silently
    *     trades recall for speed.
    *
    * `maxTables` caps the duplication factor (bucketed rows =
    * tables · n); if the cap binds, the returned plan delivers less
    * than targetRecall — callers that cannot accept that must lower
    * simThreshold's resolution (larger targetBucketSize) instead. */
  def lshPlan(n: Long, simThreshold: Double, targetRecall: Double = 0.9,
              targetBucketSize: Long = 64, minBits: Int = 4,
              maxBits: Int = 24, maxTables: Int = 64): (Int, Int) = {
    require(n >= 0 && targetBucketSize >= 1)
    require(simThreshold > 0.0 && simThreshold < 1.0,
      s"simThreshold must be in (0, 1), got $simThreshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(minBits >= 1 && maxBits >= minBits && maxTables >= 1)
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    val bits = math.min(maxBits, math.max(minBits, needed))
    val pBit = 1.0 - math.acos(simThreshold) / math.Pi
    val pTable = math.pow(pBit, bits)
    val tables =
      if (pTable >= 1.0) 1
      else math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable)).toInt
    (bits, math.min(maxTables, math.max(1, tables)))
  }

  /** [[nearDupPairs]] at [[lshPlan]]-sized width with the occupancy
    * cap sized to THIS corpus's bucket histogram — the production
    * default for corpora of unknown size (one count action sizes the
    * plan; the fixed-bits variant stays for oracle determinism, exactly
    * the autoK/pruneAuto convention). Below `capAbove` vectors this is
    * the capless exact-verify path at lshPlan width (every oracle
    * scale).
    *
    * Above `capAbove` it runs the
    * [[graft.operators.Dedup.simHashPairsBudgeted]] two-pass discipline
    * on the LSH tables: pass 1 aggregates bucket occupancy under the
    * lshPlan width (one groupBy over corpus × tables thin rows,
    * collected as ≤ 64 size-class rows), pass 2 runs the capped
    * enumeration at the largest cap whose admitted candidate stream
    * stays within `streamPerVec × n` ordered rows. Exists for the same
    * measured reason as the simhash variant (PROBE_t08_r18): fixed
    * caps lose recall as corpora densify, and fixed capFactors admit
    * ballooning streams — the stable cross-decade contract is the
    * budget.
    *
    * Output schema: (left_id, right_id, cosine_sim, capped) — `capped`
    * is true iff an occupancy cap actually engaged (candidate-subset
    * semantics), false on every exact-candidate run, so downstream
    * consumers can gate on exactness; golden projections drop it.
    * Over a derived input each sizing pass re-executes the upstream
    * pipeline — persist expensive derived inputs. */
  def nearDupPairsBudgeted(df: DataFrame, idCol: String, vecCol: String,
                           dims: Int, threshold: Double,
                           targetRecall: Double = 0.9,
                           targetBucketSize: Long = 64,
                           streamPerVec: Double = 1024.0,
                           chunkSize: Int = 2048,
                           capAbove: Long = 262144): DataFrame = {
    val n = df.count()
    val (bits, tables) = lshPlan(n, threshold, targetRecall,
      targetBucketSize)
    if (n <= capAbove)
      return graft.operators.Dedup.withCappedMarker(
        nearDupPairs(df, idCol, vecCol, dims, threshold, bits, tables,
          chunkSize), capped = false)
    // pairs per class sums in DOUBLE (Spark `/`), integer-exact to 2^53
    val hist = lshCollisionBuckets(df, idCol, vecCol, dims, bits, tables)
      .groupBy(col("sizeClass"))
      .agg(sum(col("m") * (col("m") - 1) / 2).as("pairs"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1).toLong))
      .toSeq
    val cap = graft.operators.Dedup.capFromHistogram(hist, n, streamPerVec)
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"[graft] nearDupPairsBudgeted: n=$n bits=$bits " +
        s"tables=$tables budget=${streamPerVec}/vec -> cap=$cap" +
        (if (cap.isEmpty) " (whole histogram fits — exact-verify capless)"
         else ""))
    graft.operators.Dedup.withCappedMarker(
      nearDupPairs(df, idCol, vecCol, dims, threshold, bits, tables,
        chunkSize, cap), capped = cap.isDefined)
  }

  /** Embedding near-duplicate pairs: multi-table LSH-bucket self-join on
    * (tbl, bucket, id) rows ONLY — vectors are re-joined by id for the
    * cosine verify over the distinct candidate-pair set, mirroring the
    * Dedup scale contract. Fixed `bits` is the oracle-deterministic
    * surface; at unknown corpus scale use [[nearDupPairsBudgeted]] — the
    * 100× probe measured THIS shape going quadratic at constant bits. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                   threshold: Double, bits: Int = 8, tables: Int = 4,
                   chunkSize: Int = 2048,
                   maxBucket: Option[Int] = None): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val candidates = lshCandidates(df, idCol, vecCol, dims, bits, tables,
      chunkSize, maxBucket)
    val lv = vecs.select(col("id").as("left_id"), col("vec").as("left_vec"))
    val rv = vecs.select(col("id").as("right_id"), col("vec").as("right_vec"))
    candidates.join(lv, Seq("left_id")).join(rv, Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        round(cosine(col("left_vec"), col("right_vec")), 4).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** The t13 CANDIDATE stage on its own — distinct canonical LSH
    * bucket-collision id pairs, before the cosine verify.
    * `private[graft]` so the scale probes can measure candidate growth
    * directly under the production [[lshPlan]] width (round 14 measured
    * it from a spark-shell transcript). Chunk-salted bucket self-join
    * ([[SaltedSelfJoin]]): an LSH bucket capturing a large slice of the
    * corpus would otherwise serialize its quadratic enumeration (the
    * t08 skew class); lower-chunk lands left, so canonicalize by
    * least/greatest before the distinct. */
  private[graft] def lshCandidates(df: DataFrame, idCol: String,
                                   vecCol: String, dims: Int, bits: Int,
                                   tables: Int,
                                   chunkSize: Int = 2048,
                                   maxBucket: Option[Int] = None): DataFrame = {
    // cap validation (r18 advice, mirroring simHashCollisions): a
    // non-positive or 1 cap would silently filter out every bucket —
    // a 1-member bucket pairs with nothing, so caps below 2 are bugs
    maxBucket.foreach(c => require(c >= 2,
      s"lshCandidates: maxBucket must be >= 2, got $c"))
    val bucketed = df.select(col(idCol).as("id"),
      explode(lshBuckets(col(vecCol), dims, bits, tables)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // occupancy guard (the [[graft.operators.Dedup.simHashCollisions]]
    // pattern): drop saturated (tbl, bucket) buckets before pair
    // enumeration. Merge-hinted for the same collapsed-estimate reason;
    // the pinned repartition makes the gated exchange identical on both
    // self-join sides so the bucketing lineage evaluates once.
    val gated = maxBucket match {
      case Some(cap) =>
        val small = bucketed.groupBy(col("tbl"), col("bucket"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= cap)
          .select(col("tbl"), col("bucket"))
        bucketed.join(small.hint("merge"), Seq("tbl", "bucket"), "left_semi")
          .repartition(col("tbl"), col("bucket"))
      case None => bucketed
    }
    SaltedSelfJoin.pairs(gated, Seq("tbl", "bucket"),
        "id", chunkSize = chunkSize,
        maxBucketHint = maxBucket.map(_.toLong))
      .select(least(col("left_id"), col("right_id")).as("left_id"),
        greatest(col("left_id"), col("right_id")).as("right_id"))
      .distinct()
  }

  /** Bucket-size spectrum the [[lshCandidates]] blocking would run —
    * one row per (tbl, bucket) with member count `m` and `sizeClass` =
    * ceil(log2 m); the control-plane aggregate that sizes `maxBucket`
    * from data (the [[graft.operators.Dedup.simHashCollisionBuckets]]
    * convention). `private[graft]`: probe surface, not API. */
  private[graft] def lshCollisionBuckets(df: DataFrame, idCol: String,
                                         vecCol: String, dims: Int,
                                         bits: Int, tables: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(lshBuckets(col(vecCol), dims, bits, tables)).as("tb"))
      .groupBy(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .agg(count(lit(1)).as("m"))
      .withColumn("sizeClass",
        ceil(log(2.0, greatest(col("m"), lit(1L)))).cast("int"))
}
