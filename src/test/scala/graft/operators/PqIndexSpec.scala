package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: encode determinism and shape, ADC vs exact
  * distance agreement, recall against brute force, planted near-dup
  * retrieval, and the codegen contract of the native kernels. */
class PqIndexSpec extends SparkSpec {
  import testImplicits._

  private val dims = 16

  /** Deterministic synthetic corpus: 200 vectors in [0,1)^16 from a
    * fixed LCG (no RNG API), plus a planted near-copy of vector 7. */
  private lazy val corpus = {
    def vec(id: Long): Seq[Float] =
      (0 until dims).map(d => (((id * 6364136223846793005L + d * 1442695040888963407L)
        >>> 33) % 1000) / 1000.0f)
    val base = (0L until 200L).map(id => (id, vec(id)))
    val planted = (900L, vec(7L).updated(0, vec(7L).head + 0.01f))
    (base :+ planted).toDF("vec_id", "embedding")
  }

  test("encode: m codes in [0, k); identical vectors get identical codes") {
    val cb = PqIndex.train(corpus, "vec_id", "embedding", dims, m = 4, k = 8)
    val enc = call_function("graft_pq_encode",
      col("embedding"), typedLit(cb.flatten.flatten), lit(4), lit(8))
    val rows = corpus.select(col("vec_id"), enc.as("codes")).collect()
    rows.foreach { r =>
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(codes.length === 4)
      assert(codes.forall(c => c >= 0 && c < 8))
    }
    val byId = rows.map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Int]]("codes")).toMap
    // re-encode is stable across runs
    val again = corpus.select(col("vec_id"), enc.as("codes")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Int]]("codes")).toMap
    assert(byId === again)
  }

  test("ragged or ill-fitting inputs return null, never garbage reads or AIOOBE") {
    val cb = PqIndex.train(corpus, "vec_id", "embedding", dims, m = 4, k = 8)
    // vector shorter than m·sub → null codes
    val short = Seq((1L, Seq(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val encShort = short.select(call_function("graft_pq_encode",
      col("embedding"), typedLit(cb.flatten.flatten), lit(4), lit(8)).as("codes"))
      .collect().head
    assert(encShort.isNullAt(0), "short vector must encode to null")
    // codes outside [0, k) against the table → null score
    val badCodes = Seq((1L, Seq(0, 1, 2, 99))).toDF("vec_id", "codes")
    val table = (0 until 4 * 8).map(_.toDouble)
    val adcBad = badCodes.select(call_function("graft_pq_adc",
      col("codes"), typedLit(table), lit(8)).as("s")).collect().head
    assert(adcBad.isNullAt(0), "out-of-range code must score null")
    // wrong table size for the code width → null
    val okCodes = Seq((1L, Seq(0, 1))).toDF("vec_id", "codes")
    val adcWrong = okCodes.select(call_function("graft_pq_adc",
      col("codes"), typedLit(table), lit(8)).as("s")).collect().head
    assert(adcWrong.isNullAt(0), "table/code-width mismatch must score null")
  }

  test("ADC score equals the table-sum of the row's codes (kernel parity)") {
    val cb = PqIndex.train(corpus, "vec_id", "embedding", dims, m = 4, k = 8)
    val q = corpus.filter(col("vec_id") === 0L).collect()
      .head.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray
    val table = PqIndex.adcTable(q, cb, 8)
    val enc = call_function("graft_pq_encode",
      col("embedding"), typedLit(cb.flatten.flatten), lit(4), lit(8))
    val adc = call_function("graft_pq_adc", enc, typedLit(table), lit(8))
    val rows = corpus.select(enc.as("codes"), adc.as("score")).collect()
    rows.foreach { r =>
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      val expect = codes.zipWithIndex.map { case (c, j) => table(j * 8 + c) }.sum
      assert(math.abs(r.getDouble(1) - expect) < 1e-12)
    }
  }

  test("planted near-duplicate is the top result; recall vs brute force") {
    val out = PqIndex.scanTopK(corpus, "vec_id", "embedding", dims,
      queryId = 7L, k = 10, m = 4, kCodes = 16, iters = 3, refine = 4)
      .collect().map(_.getLong(0))
    assert(out.head === 900L, s"planted near-copy of 7 must rank first, got ${out.toSeq}")
    // brute-force exact top-10 by L2
    val q = corpus.filter(col("vec_id") === 7L).collect()
      .head.getAs[scala.collection.Seq[Float]](1).map(_.toDouble)
    val exact = aggregate(
      zip_with(col("embedding"), typedLit(q),
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
    val brute = corpus.filter(col("vec_id") =!= 7L)
      .select(col("vec_id"), round(exact, 4).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = out.count(brute.contains) / 10.0
    assert(recall >= 0.5, s"PQ@refine4 recall vs brute force too low: $recall")
  }

  test("exact re-rank: returned l2_sq is the true distance, ascending") {
    val out = PqIndex.scanTopK(corpus, "vec_id", "embedding", dims,
      queryId = 0L, k = 5, m = 4, kCodes = 16)
      .collect()
    val ds = out.map(_.getDouble(2))
    assert(ds.sorted.toSeq === ds.toSeq, "results must ascend by exact distance")
    assert(out.map(_.getLong(0)).distinct.length === 5)
  }

  test("kernels run inside WholeStageCodegen (parquet-sourced plan)") {
    val dir = tempDir("pqspec").toString
    corpus.write.mode("overwrite").parquet(dir)
    val fromDisk = spark.read.parquet(dir)
    val cb = PqIndex.train(fromDisk, "vec_id", "embedding", dims, m = 4, k = 8)
    val q = (0 until dims).map(_.toDouble).toArray
    val enc = call_function("graft_pq_encode",
      col("embedding"), typedLit(cb.flatten.flatten), lit(4), lit(8))
    val adc = call_function("graft_pq_adc",
      enc, typedLit(PqIndex.adcTable(q, cb, 8)), lit(8))
    val df = fromDisk.select(col("vec_id"), adc.as("s"))
    df.collect()
    // a CodegenFallback would call eval() on the expression object; the
    // real doGenCode emits direct PqKernel static calls in the span
    val code = df.queryExecution.debug.codegenToSeq()
    assert(code.nonEmpty, "expected a WholeStageCodegen span")
    assert(code.exists(c => c._2.contains("graft.expr.PqKernel.encode(") &&
      c._2.contains("graft.expr.PqKernel.adc(")),
      "pq kernels must not fall back to interpreted eval")
  }
}
