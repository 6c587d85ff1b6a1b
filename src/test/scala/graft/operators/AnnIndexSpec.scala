package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The persisted ANN index: partition-pruned candidate reads and
  * agreement with the brute-force baseline. */
class AnnIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("index queries read only the probe partitions (partition pruning)") {
    val path = tempDir("ann_idx").toString + "/index"
    AnnIndex.build(embeddings, "vec_id", "embedding", dims = 64, path,
      bits = 4, tables = 2)
    val qvec = embeddings.filter(col("vec_id") === 0)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val cand = AnnIndex.candidates(spark, path, qvec, dims = 64,
      bits = 4, tables = 2)
    // the scan must carry partition filters on (tbl, bucket); unwrap AQE
    cand.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match { case f: FileSourceScanExec => Seq(f); case _ => Seq.empty }
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(s.plan)
        case _ => Seq.empty
      }
      here ++ inner ++ p.children.flatMap(scansOf)
    }
    val scans = scansOf(cand.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "candidate read must be partition-pruned")
    // pruned read touches at most `tables` partitions of 2^bits * tables
    val prunedRows = cand.count()
    val totalRows = spark.read.parquet(path).count()
    assert(prunedRows < totalRows / 4,
      s"pruning ineffective: $prunedRows of $totalRows rows read")
  }

  test("multi-probe widens the candidate set and stays partition-pruned") {
    val path = tempDir("ann_idx3").toString + "/index"
    AnnIndex.build(embeddings, "vec_id", "embedding", dims = 64, path,
      bits = 8, tables = 2)
    val qvec = embeddings.filter(col("vec_id") === 0)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val exact = AnnIndex.candidates(spark, path, qvec, dims = 64,
      bits = 8, tables = 2).count()
    val multi = AnnIndex.candidates(spark, path, qvec, dims = 64,
      bits = 8, tables = 2, probeHamming = 1)
    assert(multi.count() >= exact, "probe expansion must not lose candidates")
    // still a pruned read: candidates ≪ the full index
    assert(multi.count() < spark.read.parquet(path).count() / 4)
  }

  test("index top-k agrees with brute force on the candidate set") {
    val path = tempDir("ann_idx2").toString + "/index"
    AnnIndex.build(embeddings, "vec_id", "embedding", dims = 64, path,
      bits = 4, tables = 4)
    val qvec = embeddings.filter(col("vec_id") === 0)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val top = AnnIndex.topK(spark, path, qvec, dims = 64, k = 10,
      bits = 4, tables = 4, excludeId = Some(0L)).collect()
    assert(top.length == 10)
    val sims = top.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // every reported similarity matches the brute-force value
    val brute = Similarity.scoreAgainst(embeddings, "vec_id", "embedding", 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    top.foreach(r => assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }
}
