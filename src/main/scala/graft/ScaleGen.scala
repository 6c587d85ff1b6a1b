package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the LLM-pipeline tables
  * (documents / embeddings / events) for scaling-decade probes — the
  * committed, seeded generator behind PLANS.md's "measured scaling"
  * tables. NOT part of the correctness gate: the driver's corpora stay
  * authoritative; this exists so further decades (sf0.1 → 10× → 100×
  * → 1000×) can be measured on demand without touching /root/testdata.
  *
  * Documents draw tokens from an UNBOUNDED head-smoothed Zipf rank
  * distribution whose low ranks map onto the base corpus vocabulary
  * (frequency-ranked) and whose deep ranks mint novel synthetic tokens
  * — so the type space grows ∝ √N with the corpus (Heaps' law,
  * β = 0.5; the repo measures exactly this curve on corpora as t89).
  * This is what real web text does and what a fixed-vocabulary
  * resample does NOT: round 14 measured such a resample saturating the
  * ~27 k-type 3-gram shingle space at 100×, where every shingle's df
  * blows past the rare-shingle band [2, 20] and the t09/t26 decade
  * rows measure only the blocking aggregate (zero candidates —
  * PLANS.md round-14 "honest limit" note). Here rare shingles stay
  * rare at EVERY factor, so near-dup blocking density is
  * scale-invariant and the verify arm does real work at 100×/1000×.
  *
  * Copy discipline (copy 0 is the original rows, ids preserved):
  *   - documents: copy k re-draws each document's tokens with
  *     [[zipfRank]] keyed by (k, doc_id, position) — same per-doc
  *     length, fresh draws — so the scaled corpus has no planted
  *     10-cliques (verbatim copies would hand the near-dup detectors a
  *     quadratic answer that says nothing about scaling). lang/source
  *     ride along; n_chars recomputed.
  *   - embeddings: copy k cyclically shifts the vector by k positions,
  *     composed with a per-copy sign flip keyed xxhash64(k, i). Both
  *     steps are isometries, so norms, label cluster structure, and the
  *     IVF regime survive while cross-copy cosines scatter like
  *     unrelated vectors (rotation alone would keep smooth base
  *     vectors' copies highly self-similar, and has period dims — copy
  *     k and copy k+dims would be IDENTICAL, a fake exact-duplicate
  *     family; PLANS.md records both remeasures).
  *   - events: copy k shifts event_id by k·10⁹ and user_id by k·10⁵ —
  *     factor× users over the same time range, so per-user session
  *     shapes hold while windows carry factor× rows (the honest
  *     growth axis for the windowed/stateful queries).
  *
  * All three are ONE plan regardless of factor: the copy index is an
  * exploded `sequence(0, factor-1)` column, not a factor-way union —
  * a 1000-way union is itself a scale defect (plan size and analysis
  * time linear in factor, codegen fallback); ScaleGenSpec pins the
  * events generator against a literal union-form reference.
  *
  * The TPC-H-ish tables are byte-copied verbatim (the decade probe
  * targets the pipeline tables; relational queries then run unchanged
  * inputs and serve as the fixed-cost control group).
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> [factor]
  */
object ScaleGen {

  /** Head-smoothed Zipf rank draw over an unbounded domain, the
    * documents generator's core: u = (h+1)/M uniform on (0,1], rank
    * R = ⌊H·M/(h+1)⌋ − H + 1 ∈ [1, ∞). Exactly
    * P(R = r) = H/((H+r−1)(H+r)) — tail ∝ r⁻², so distinct types seen
    * in N draws grow ∝ √(H·N) (Heaps β = 0.5), while the head constant
    * H = 16 caps the top rank at P(1) = 1/(H+1) ≈ 5.9 % (a bare 1/u
    * draw would put 50 % of all tokens on rank 1 — no natural corpus
    * does that). Doubles are exact here: H·M = 2³⁵ < 2⁵³ and IEEE
    * division is deterministic across JVMs. */
  private def zipfRank(k: Column, id: Column, j: Column, tag: String): Column = {
    val M = 1L << 31
    val H = 16L
    val h = pmod(xxhash64(k, id, j, lit(tag)), lit(M)).cast("double")
    (floor(lit((H * M).toDouble) / (h + 1d)) - lit((H - 1).toDouble)).cast("long")
  }

  /** Exploded copy index 0..factor-1 as an IntegerType column named
    * `__k` (IntegerType is load-bearing: xxhash64 hashes Int and Long
    * differently, and the recorded scaled corpora hashed an Int). */
  private def withCopyIndex(src: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    src.withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
  }

  /** Scaled documents: tokens come from the [[zipfRank]] draw —
    * rank r ≤ V₀ is the base corpus's r-th most frequent word (so the
    * common-word head keeps the corpus's own character), rank r > V₀
    * mints the synthetic type `x<base36(r−V₀)>`. Novel types therefore
    * arrive at the Heaps rate √(H·N) as draws accumulate ACROSS copies
    * (all copies share one rank space), which is what keeps the
    * rare-shingle df band [2, maxDocFreq] populated at every factor. */
  def scaleDocumentsHeaps(spark: SparkSession, src: DataFrame, factor: Int): DataFrame = {
    // limit BEFORE collect: rank truncation at 65536 is semantically
    // harmless (deep ranks mint synthetic types anyway), whereas the
    // bare Bounded.collect contract THROWS past the cap — fine for the
    // driver corpus (31 types) but aborts on any real-text corpus or a
    // re-scale of a heaps output whose type space grew ∝ √N (r15 advice)
    val ranked = graft.core.Bounded.collect(
      src.select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(1 << 16),
        1 << 16, "ScaleGen.vocabRanked")
      .map(_.getString(0))
    val vLit = typedLit(ranked)
    val v0 = lit(ranked.length.toLong)
    val k = col("__k")
    val nTok = size(split(trim(col("text")), "\\s+"))
    val fresh = array_join(
      transform(sequence(lit(1), nTok), j => {
        val r = zipfRank(k, col("doc_id"), j, "heaps")
        when(r <= v0, element_at(vLit, r.cast("int")))
          .otherwise(concat(lit("x"), lower(conv((r - v0).cast("string"), 10, 36))))
      }), " ")
    withCopyIndex(src, factor).select(
      (col("doc_id") + k.cast("long") * lit(10000000L)).as("doc_id"),
      when(k === 0, col("text")).otherwise(fresh).as("text"),
      col("lang"), col("source"),
      when(k === 0, col("n_chars"))
        .otherwise(length(fresh).cast("long")).as("n_chars"))
  }

  /** Scaled embeddings: rotation composed with a PER-COPY sign flip
    * keyed xxhash64(k, i) for every copy k ≥ 1. Pure rotations are not
    * enough: cos(rot_j(v), rot_l(v)) is v's autocorrelation at lag
    * l−j, which for smooth base vectors is HIGH — each base vector's
    * copies formed a partially-similar family and the t13 bucket
    * occupancy densified across decades, the r14
    * candidate-amplification artifact. Independent ±1 flip sequences
    * turn every cross-copy inner product into a signed random walk,
    * cos ~ N(0, 1/d) — unrelated-vector statistics — while each step
    * stays an isometry: norms, within-copy cluster structure, and the
    * IVF regime survive. */
  def scaleEmbeddingsScattered(src: DataFrame, factor: Int): DataFrame = {
    val k = col("__k")
    val dims = size(col("embedding"))
    val scattered = transform(sequence(lit(0), dims - 1), i => {
      val e = element_at(col("embedding"), (pmod(i + k, dims) + 1).cast("int"))
      val sign = (pmod(xxhash64(k, i), lit(2)).cast("int") * lit(2) - lit(1)).cast("float")
      (e * sign).cast("float")
    })
    withCopyIndex(src, factor).select(
      (col("vec_id") + k.cast("long") * lit(10000000L)).as("vec_id"),
      when(k === 0, col("embedding")).otherwise(scattered).as("embedding"),
      col("label"))
  }

  def scaleEvents(src: DataFrame, factor: Int): DataFrame = {
    val k = col("__k")
    withCopyIndex(src, factor).select(
      (col("event_id") + k.cast("long") * lit(1000000000L)).as("event_id"),
      col("ts"),
      (col("user_id") + k.cast("long") * lit(100000L)).as("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: ScaleGen <srcSfDir> <outDir> [factor]")
    val (srcDir, outDir) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1 && factor <= 10000)
    val spark = graft.core.Sessions.local("graft-scalegen")
    Files.createDirectories(Paths.get(outDir))

    // partition count scales with output size so no single write task
    // owns gigabytes (factor 10 → 32 partitions, factor 1000 → 320)
    val parts = math.max(32, 32 * factor / 100)
    val srcDocs = graft.core.Tables.documents(spark, srcDir)
    val srcEmbs = graft.core.Tables.embeddings(spark, srcDir)
    scaleDocumentsHeaps(spark, srcDocs, factor)
      .repartition(parts).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddingsScattered(srcEmbs, factor)
      .repartition(parts).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    scaleEvents(graft.core.Tables.events(spark, srcDir), factor)
      .repartition(parts).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // control group: relational tables verbatim
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        Files.copy(Paths.get(s"$srcDir/$t.parquet"),
          Paths.get(s"$outDir/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      }
    println(s"[scalegen] wrote ${factor}x of $srcDir to $outDir")
    spark.stop()
  }
}
