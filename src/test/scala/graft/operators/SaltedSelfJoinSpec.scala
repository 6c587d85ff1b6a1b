package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The chunk-salting gate must change the PLAN, never the ANSWER: the
  * unsalted fast path and forced salting enumerate the same candidate
  * pairs. */
class SaltedSelfJoinSpec extends SparkSpec {

  // (tbl, bucket, id) rows with buckets of up to 6 members
  private def bucketRows = spark.range(200).select(
    (col("id") % 3).as("tbl"), (col("id") % 37).as("bucket"),
    col("id").as("doc_id"), (col("id") * 7 % 11).as("sig"))

  private def canonPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(least(col("left_id"), col("right_id")).as("a"),
        greatest(col("left_id"), col("right_id")).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("SaltedSelfJoin gate: unsalted fast path answers exactly like forced salting") {
    // no bucket exceeds the default chunkSize → gate picks the plain join
    val gated = SaltedSelfJoin.pairs(bucketRows, Seq("tbl", "bucket"),
      "doc_id", payload = Seq("sig"))
    // chunkSize = 2 forces every bucket of 3+ through the chunk machinery
    val forced = SaltedSelfJoin.pairs(bucketRows, Seq("tbl", "bucket"),
      "doc_id", payload = Seq("sig"), chunkSize = 2)
    assert(canonPairs(gated) === canonPairs(forced),
      "gated and salted paths must enumerate the same candidate pairs")
    assert(canonPairs(gated).nonEmpty)
    // the fast path must carry none of the chunk machinery
    val plan = gated.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__m") && !plan.contains("__i"),
      s"gate failed to elide the chunk columns:\n$plan")
    // payload columns survive on both paths
    assert(gated.columns.toSet === forced.columns.toSet)
  }

  test("SaltedSelfJoin honors maxBucketHint without running the gate job") {
    val salted = SaltedSelfJoin.pairs(bucketRows, Seq("tbl", "bucket"),
      "doc_id", maxBucketHint = Some(100000L))
    assert(salted.queryExecution.optimizedPlan.toString.contains("__m"),
      "an oversized hint must force the chunk machinery")
    val plain = SaltedSelfJoin.pairs(bucketRows, Seq("tbl", "bucket"),
      "doc_id", chunkSize = 2, maxBucketHint = Some(2L))
    assert(!plain.queryExecution.optimizedPlan.toString.contains("__m"),
      "a within-bound hint must skip the chunk machinery")
    assert(canonPairs(salted) === canonPairs(plain))
  }
}
