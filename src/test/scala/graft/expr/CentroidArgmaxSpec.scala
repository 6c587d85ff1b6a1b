package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_argmax_cosine parity: value-identical to the composed
  * array_position(sims, array_max(sims)) - 1 chain over graft_cosine
  * columns, including ties (first max wins) and zero vectors. */
class CentroidArgmaxSpec extends SparkSpec {
  import testImplicits._

  private def composed(vec: org.apache.spark.sql.Column,
                       cb: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    val sims = array(cb.map(c =>
      call_function("graft_cosine", vec, typedLit(c))): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  private def native(vec: org.apache.spark.sql.Column,
                     cb: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    call_function("graft_argmax_cosine", vec,
      typedLit(cb.flatten), lit(cb.length))

  test("matches the composed chain on a random-ish corpus (parquet source)") {
    val dir = tempDir("cas").toString
    spark.range(3000).select(col("id"),
        transform(sequence(lit(0), lit(7)),
          d => ((col("id") * 31 + d * 17) % 97).cast("float") - 48f)
          .as("vec"))
      .write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val cb = (0 until 5).map(c =>
      (0 until 8).map(d => ((c * 13 + d * 7) % 19 - 9).toDouble))
    val out = vecs.select(col("id"),
        native(col("vec"), cb).as("n"), composed(col("vec"), cb).as("c"))
      .filter(col("n") =!= col("c") ||
        col("n").isNull =!= col("c").isNull)
    assert(out.count() === 0, "native argmax must equal the composed chain")
  }

  test("ties pick the FIRST maximal centroid; zero vector has sim 0 everywhere") {
    // centroids 1 and 2 are identical → any vector ties between them
    val cb = Seq(Seq(-1.0, 0.0), Seq(1.0, 1.0), Seq(1.0, 1.0))
    val rows = Seq(
      (1L, Seq(2.0f, 2.0f)),   // max cosine at centroids 1,2 → picks 1
      (2L, Seq(0.0f, 0.0f)))   // zero vector: sim 0 vs all → picks 0
      .toDF("id", "vec")
    val got = rows.select(col("id"), native(col("vec"), cb).as("n"),
        composed(col("vec"), cb).as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(1L) === ((1, 1)))
    assert(got(2L)._1 === got(2L)._2)
  }

  test("all-NaN similarities assign centroid 0 (composed-chain parity), never -1") {
    val cb = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rows = Seq(
      (1L, Seq(Float.NaN, 1.0f)),          // NaN poisons every cosine
      (2L, Seq(Float.PositiveInfinity, 0f)) // Inf → NaN via inf*0 terms
    ).toDF("id", "vec")
    val got = rows.select(col("id"), native(col("vec"), cb).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) === 0, "NaN row must clamp to centroid 0")
    assert(got.values.forall(c => c >= 0 && c < cb.length),
      s"assignment must always be a valid cluster id: $got")
  }

  test("kernel codegen emits the static call (no interpreted fallback)") {
    val dir = tempDir("cas2").toString
    spark.range(100).select(col("id"),
        array(lit(1.0f), lit(2.0f)).as("vec"))
      .write.mode("overwrite").parquet(dir)
    val cb = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = spark.read.parquet(dir).select(native(col("vec"), cb).as("a"))
    df.collect()
    val code = df.queryExecution.debug.codegenToSeq()
    assert(code.exists(_._2.contains("graft.expr.CentroidKernel.argmax(")),
      "assignment must go through the static kernel in generated code")
  }
}
