package graft

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The seeded scale-up generator behind the PLANS.md scaling decades:
  * deterministic, distribution-preserving, and free of artificial
  * near-dup families (verbatim copies would hand the detectors a
  * quadratic answer that says nothing about scaling). The generator is
  * ONE plan at any factor (exploded copy index); the events spec pins
  * it against the historical factor-way-union formulation so the
  * recorded decade tables stay comparable across rounds. */
class ScaleGenSpec extends SparkSpec {
  import testImplicits._

  // ---- literal union-form reference (the pre-round-12 generator) ----

  private def unionEvents(src: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) src
      else src.select(
        (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * 100000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionAll(_))

  private def events = Seq(
    (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.5, "{}"),
    (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 8L, "view", 0.5, "{}"))
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("explode form reproduces the historical union form bit for bit") {
    assert(ScaleGen.scaleEvents(events, 7)
      .exceptAll(unionEvents(events, 7)).isEmpty)
  }

  // ---- documents: Heaps-law type growth (round 15) ----

  /** Deterministic 200-doc × 30-token base over a 40-word vocabulary —
    * the shape of the driver corpus (tiny fixed vocab), which is
    * exactly what a fixed-vocabulary resample saturates. */
  private def heapsBase = {
    val words = (1 to 40).map(i => s"w$i")
    (0 until 200).map { d =>
      val toks = (0 until 30).map(j => words((d * 31 + j * 7) % 40))
      (d.toLong, toks.mkString(" "), "en", "src0", toks.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def copyTokens(out: DataFrame) = out
    .where(col("doc_id") >= 10000000L)
    .select(explode(split(col("text"), " ")).as("w"))

  test("heaps documents: copy 0 verbatim, lengths preserved, deterministic") {
    val out = ScaleGen.scaleDocumentsHeaps(spark, heapsBase, 4).cache()
    assert(out.count() === 800)
    assert(out.where(col("doc_id") < 1000000L).exceptAll(heapsBase).isEmpty)
    val lens = out.select((col("doc_id") % 10000000L).as("base"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .groupBy("base").agg(countDistinct(col("n")).as("d")).collect()
    assert(lens.forall(_.getLong(1) === 1L), "token count drifted across copies")
    assert(ScaleGen.scaleDocumentsHeaps(spark, heapsBase, 4).exceptAll(out).isEmpty)
  }

  test("heaps documents: type space grows ~sqrt(N) — Heaps beta ≈ 0.5") {
    // factor 16 draws 5x the tokens of factor 4 (15 vs 3 fresh copies);
    // beta = 0.5 predicts a sqrt(5) ≈ 2.24x type ratio. A fixed-vocabulary
    // resample would give exactly 1.0 (same 40-word vocab at every
    // factor) — the round-14 saturation defect this generator fixes.
    val v4 = copyTokens(ScaleGen.scaleDocumentsHeaps(spark, heapsBase, 4))
      .distinct().count()
    val v16 = copyTokens(ScaleGen.scaleDocumentsHeaps(spark, heapsBase, 16))
      .distinct().count()
    val ratio = v16.toDouble / v4
    assert(v4 > 100, s"factor-4 copies should already mint novel types, got $v4")
    assert(ratio > 1.7 && ratio < 2.9,
      s"type growth ratio $ratio outside the Heaps beta=0.5 band (expect ~2.24)")
  }

  test("heaps documents: head is smoothed and the rare-shingle band stays populated") {
    val out = ScaleGen.scaleDocumentsHeaps(spark, heapsBase, 16).cache()
    val toks = copyTokens(out).cache()
    val n = toks.count().toDouble
    val topShare = toks.groupBy("w").count()
      .orderBy(col("count").desc).head().getLong(1) / n
    // P(rank 1) = 1/(H+1) ≈ 5.9%; a bare 1/u draw would put ~50% here
    assert(topShare > 0.02 && topShare < 0.12,
      s"head token share $topShare outside the smoothed band")
    // the round-14 defect in one number: count 3-gram shingle types in
    // the rare-df band [2, 20] — a fixed-vocabulary resample saturates
    // this to zero as the factor grows; this generator keeps it populated
    val band = out.select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
      .groupBy("sh").agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df").between(2, 20)).count()
    assert(band > 50, s"rare-shingle band nearly empty at factor 16: $band types")
    toks.unpersist(); out.unpersist()
  }

  test("scattered embeddings: isometric, decorrelated across copies, deterministic") {
    // a SMOOTH base vector is the adversarial case: its rotations are
    // highly self-similar (cos(rot_j(v), rot_l(v)) = autocorrelation),
    // which is the r14 t13 densification artifact. 64 dims, near-DC.
    val d = 64
    val smooth = (0 until d).map(i => (1.0 + 0.05 * math.sin(2 * math.Pi * i / d)).toFloat).toArray
    val base = Seq((0L, smooth, 1)).toDF("vec_id", "embedding", "label")
    val factor = 8
    val scat = ScaleGen.scaleEmbeddingsScattered(base, factor).cache()
    def vecs(df: DataFrame) = df.orderBy("vec_id").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val sv = vecs(scat)
    def maxCrossCos(vs: Array[Array[Double]]) = (for {
      i <- vs.indices; j <- vs.indices if i < j
    } yield math.abs(cos(vs(i), vs(j)))).max
    // scattered: unrelated-vector statistics
    assert(maxCrossCos(sv) < 0.6,
      s"scattered copies still correlated: ${maxCrossCos(sv)}")
    // every copy is still an isometry of the base
    val n0 = math.sqrt(smooth.map(x => x.toDouble * x).sum)
    sv.foreach { v =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - n0) < 1e-3) }
    assert(ScaleGen.scaleEmbeddingsScattered(base, factor).exceptAll(scat).isEmpty)
  }

  test("scaleEvents: factor x users over the same time range") {
    val ev = events.limit(1)
    val out = ScaleGen.scaleEvents(ev, 5).cache()
    assert(out.count() === 5)
    assert(out.select(col("user_id")).distinct().count() === 5)
    assert(out.select(col("ts")).distinct().count() === 1, "time range must not grow")
    assert(out.select(col("event_id")).distinct().count() === 5)
  }
}
