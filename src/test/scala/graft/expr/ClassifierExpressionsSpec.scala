package graft.expr

import graft.SparkSpec
import graft.operators.Classifier
import org.apache.spark.sql.functions._

/** Parity of the native classifier kernels with the composed expression
  * chains they replaced (r20): same values, not just same shapes — the
  * weight artifacts and the t35/t57/t104 oracles all retrain/score
  * through these paths. */
class ClassifierExpressionsSpec extends SparkSpec {
  import testImplicits._

  private val dims = 64

  // unicode, empty-string, repeated and null tokens on purpose
  private def tokenFrame = Seq(
    (1L, Seq("the", "spark", "the", "µm", "日本語")),
    (2L, Seq.empty[String]),
    (3L, Seq("x")),
    (4L, Seq("y", null))).toDF("id", "toks")

  /** The message chain of a (possibly task-wrapped) failure. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("graft_md5_buckets equals the composed transform+md5+conv chain") {
    val native = tokenFrame.select(col("id"),
      call_function("graft_md5_buckets", col("toks"), lit(dims)).as("bs"))
    val composed = tokenFrame.select(col("id"),
      transform(col("toks"),
        t => Classifier.bucket(t, dims).cast("int")).as("bs"))
    assert(native.orderBy("id").collect().toSeq ===
      composed.orderBy("id").collect().toSeq)
  }

  test("graft_lr_dot equals the interpreted aggregate fold") {
    val w: Seq[Long] = (0 until dims).map(i => (i * 37 - 1000).toLong) :+ 77L
    val wLit = typedLit(w)
    val bs = call_function("graft_md5_buckets", col("toks"), lit(dims))
    val native = tokenFrame
      .select(col("id"), call_function("graft_lr_dot", bs, wLit).as("s"))
    val composed = tokenFrame.select(col("id"),
      aggregate(bs, lit(0L), (acc, b) => acc + element_at(wLit, b + 1)).as("s"))
    assert(native.orderBy("id").collect().toSeq ===
      composed.orderBy("id").collect().toSeq)
    // SQL misuse: buckets hashed at a larger dims than the weights
    val misuse = intercept[Exception] {
      Seq(Seq(3, 4096)).toDF("bs")
        .select(call_function("graft_lr_dot", col("bs"), wLit)).collect()
    }
    assert(messages(misuse).exists(_.contains(
      "graft_lr_dot: bucket id 4096 is outside the 65-element weights")),
      messages(misuse).mkString(" <- "))
  }

  test("graft_logit_grad equals the explode+groupBy gradient within 1e-12") {
    val w: IndexedSeq[Double] =
      (0 to dims).map(i => math.sin(i.toDouble) / 10.0)
    val wLit = typedLit(w)
    // the last two rows: a null bucket element, and a null n
    val feats = Seq(
      (1.0, Seq(Some(0), Some(3), Some(3), Some(17)), true),
      (0.0, Seq(Some(5)), true),
      (1.0, Seq.empty[Option[Int]], true),
      (0.0, Seq(Some(0), Some(63), Some(17)), true),
      (0.0, Seq(Some(7), None, Some(7)), true),
      (1.0, Seq(Some(2), Some(9)), false)).toDF("y", "bs", "hasN")
      .select(col("y"),
        when(col("hasN"), size(col("bs")).cast("double")).as("n"), col("bs"))
      .repartition(3)

    val native = feats.select(call_function("graft_logit_grad",
        col("y"), col("n"), col("bs"), wLit).as("g"))
      .head().getSeq[Double](0)

    // the pre-r20 composed form, verbatim
    val margin = coalesce(
      aggregate(col("bs"), lit(0.0),
        (acc, b) => acc + element_at(wLit, b + 1)) /
        when(col("n") > 0, col("n")).otherwise(lit(1.0)),
      lit(0.0)) + element_at(wLit, dims + 1)
    val err = (lit(1.0) / (lit(1.0) + exp(-margin)) - col("y")).as("e")
    val composed = feats.select(err, col("n"), col("bs"))
      .select(explode(concat(
        transform(col("bs"),
          b => struct(b.as("b"), (col("e") / col("n")).as("g"))),
        array(struct(lit(dims).as("b"), col("e").as("g")),
          struct(lit(dims + 1).as("b"), lit(1.0).as("g"))))).as("c"))
      .groupBy(col("c.b").as("b")).agg(sum(col("c.g")).as("g"))
      // a null bucket element's group is no cell; an all-null sum adds 0
      .where(col("b").isNotNull && col("g").isNotNull)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

    assert(native.length === dims + 2)
    (0 until dims + 2).foreach { b =>
      assert(math.abs(native(b) - composed.getOrElse(b, 0.0)) < 1e-12,
        s"cell $b: ${native(b)} vs ${composed.getOrElse(b, 0.0)}")
    }
    // SQL misuse: buckets hashed at a larger dims than the weights
    val misuse = intercept[Exception] {
      Seq((1.0, 2.0, Seq(3, 4096))).toDF("y", "n", "bs")
        .select(call_function("graft_logit_grad",
          col("y"), col("n"), col("bs"), wLit)).collect()
    }
    assert(messages(misuse).exists(_.contains(
      "graft_logit_grad: bucket id 4096 is outside the 65-element weights")),
      messages(misuse).mkString(" <- "))
  }
}
