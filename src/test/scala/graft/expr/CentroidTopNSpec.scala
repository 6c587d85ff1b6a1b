package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_topn_cosine parity: value-identical to the composed
  * sort-by-(sim desc, id asc)-take-n chain over graft_cosine columns —
  * the crossJoin + row_number probe-ranking shape the kernel replaces —
  * including ties (lowest id first), zero vectors (sim 0 everywhere),
  * n > k clamping, and the documented NaN contract (NaN sims rank
  * LAST; an all-NaN row degenerates to ids in index order). */
class CentroidTopNSpec extends SparkSpec {
  import testImplicits._

  /** Composed oracle: sims via graft_cosine, ranked by
    * struct(-sim, id) array_sort — Spark struct ordering is (field1,
    * field2), i.e. sim desc with id-asc tie-break, and Spark sorts a
    * NaN key greatest (so NaN sims land last, matching the kernel). */
  private def composed(vec: org.apache.spark.sql.Column,
                       cb: Seq[Seq[Double]], n: Int): org.apache.spark.sql.Column = {
    val sims = array(cb.map(c =>
      call_function("graft_cosine", vec, typedLit(c))): _*)
    val ranked = array_sort(transform(
      sequence(lit(0), lit(cb.length - 1)),
      i => struct((-element_at(sims, i + 1)).as("negsim"),
        i.cast("int").as("id"))))
    slice(transform(ranked, s => s.getField("id")), 1, math.min(n, cb.length))
  }

  private def native(vec: org.apache.spark.sql.Column,
                     cb: Seq[Seq[Double]], n: Int): org.apache.spark.sql.Column =
    call_function("graft_topn_cosine", vec,
      typedLit(cb.flatten), lit(cb.length), lit(n))

  test("matches the composed ranking on a random-ish corpus (parquet source)") {
    val dir = tempDir("ctn").toString
    spark.range(3000).select(col("id"),
        transform(sequence(lit(0), lit(7)),
          d => ((col("id") * 31 + d * 17) % 97).cast("float") - 48f)
          .as("vec"))
      .write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val cb = (0 until 5).map(c =>
      (0 until 8).map(d => ((c * 13 + d * 7) % 19 - 9).toDouble))
    for (n <- Seq(1, 3, 5)) {
      val out = vecs.select(
          native(col("vec"), cb, n).as("n"), composed(col("vec"), cb, n).as("c"))
        .filter(col("n") =!= col("c") || col("n").isNull =!= col("c").isNull)
      assert(out.count() === 0,
        s"native top-$n must equal the composed ranking")
    }
  }

  test("ties rank the LOWER centroid id first; zero vector ranks ids in order") {
    // centroids 1 and 2 identical → tie; tie-break must put 1 before 2
    val cb = Seq(Seq(-1.0, 0.0), Seq(1.0, 1.0), Seq(1.0, 1.0))
    val rows = Seq(
      (1L, Seq(2.0f, 2.0f)),  // sims (-1, 1, 1): expect [1, 2, 0]
      (2L, Seq(0.0f, 0.0f)))  // zero vector: sim 0 everywhere → [0, 1, 2]
      .toDF("id", "vec")
    val got = rows.select(col("id"), native(col("vec"), cb, 3).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) === Seq(1, 2, 0))
    assert(got(2L) === Seq(0, 1, 2))
  }

  test("n > k clamps to k ids; n = 1 equals argmax") {
    val cb = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rows = Seq((1L, Seq(3.0f, 1.0f)), (2L, Seq(1.0f, 5.0f)))
      .toDF("id", "vec")
    val got = rows.select(col("id"),
        native(col("vec"), cb, 9).as("t"),
        call_function("graft_argmax_cosine", col("vec"),
          typedLit(cb.flatten), lit(cb.length)).as("a"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getInt(2)))).toMap
    assert(got(1L)._1 === Seq(0, 1), "n > k must return exactly k ids")
    assert(got(2L)._1 === Seq(1, 0))
    assert(got.values.forall { case (t, a) => t.head === a },
      "first ranked id must equal graft_argmax_cosine")
  }

  test("NaN sims rank last; an all-NaN row degenerates to ids in index order") {
    val cb = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
    val rows = Seq(
      (1L, Seq(Float.NaN, 1.0f)),           // NaN poisons every cosine
      (2L, Seq(Float.PositiveInfinity, 0f))) // Inf → NaN via inf*0 terms
      .toDF("id", "vec")
    val got = rows.select(col("id"), native(col("vec"), cb, 3).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) === Seq(0, 1, 2), "all-NaN row must rank ids in index order")
    assert(got(2L) === Seq(0, 1, 2))
  }

  test("null vector element → null result (not an exception)") {
    val cb = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rows = spark.sql(
      "SELECT array(cast(null as float), 1.0f) AS vec")
    val got = rows.select(native(col("vec"), cb, 2).as("t")).collect()
    assert(got.head.isNullAt(0), "null element must yield a null array")
  }

  test("NULL or null-element centroids literal fails analysis, not codegen") {
    val df = spark.range(1).select(
      array(lit(1.0f), lit(2.0f)).as("vec"))
    // both shapes pass the dataType match (foldable array<double>) and
    // previously NPE'd in the lazy toDoubleArray at planning time
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_topn_cosine", col("vec"),
        expr("cast(null as array<double>)"), lit(1), lit(1))).collect()
    }
    assert(e1.getMessage.contains("NULL"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_argmax_cosine", col("vec"),
        expr("array(1.0d, cast(null as double))"), lit(1))).collect()
    }
    assert(e2.getMessage.contains("null element"), e2.getMessage)
  }

  test("codegen emits the static call, and interpreted eval agrees with it") {
    val dir = tempDir("ctn2").toString
    spark.range(100).select(col("id"),
        transform(sequence(lit(0), lit(3)),
          d => ((col("id") * 7 + d * 3) % 11).cast("float") - 5f).as("vec"))
      .write.mode("overwrite").parquet(dir)
    val cb = Seq(Seq(1.0, 0.0, 2.0, -1.0), Seq(0.0, 1.0, -2.0, 1.0),
      Seq(2.0, 2.0, 0.0, 0.0))
    val q = spark.read.parquet(dir)
      .select(col("id"), native(col("vec"), cb, 2).as("t"))
    val gen = q.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val code = q.queryExecution.debug.codegenToSeq()
    assert(code.exists(_._2.contains("graft.expr.CentroidKernel.topn(")),
      "ranking must go through the static kernel in generated code")
    val conf = spark.conf
    val prevWs = conf.get("spark.sql.codegen.wholeStage")
    val prevFm = conf.get("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = spark.read.parquet(dir)
        .select(col("id"), native(col("vec"), cb, 2).as("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(interp === gen, "interpreted eval must match codegen")
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prevWs)
      conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }
}
