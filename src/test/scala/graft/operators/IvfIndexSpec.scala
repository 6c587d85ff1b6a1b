package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The IVF ANN index: deterministic training, partition-pruned probed
  * reads, brute-force score agreement, and planted-near-dup recall. */
class IvfIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("training is deterministic and centroids have the declared shape") {
    val a = IvfIndex.train(embeddings, "vec_id", "embedding", dims = 64,
      k = 8, iters = 3)
    val b = IvfIndex.train(embeddings, "vec_id", "embedding", dims = 64,
      k = 8, iters = 3)
    assert(a == b, "two trainings over the same data must be identical")
    assert(a.length == 8 && a.forall(_.length == 64))
    // rounding convention applied (4 dp)
    assert(a.flatten.forall(v => (v * 10000).round / 10000.0 == v))
  }

  test("index queries read only the probed partitions and match brute force") {
    val path = tempDir("ivf_idx").toString + "/index"
    IvfIndex.build(embeddings, "vec_id", "embedding", dims = 64, path,
      k = 8, iters = 3)
    val qvec = embeddings.filter(col("vec_id") === 0)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val top = IvfIndex.topK(spark, path, qvec, k = 10, nprobe = 3,
      excludeId = Some(0L))
    top.collect() // materialize so AQE finalizes the plan
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match { case f: FileSourceScanExec => Seq(f); case _ => Seq.empty }
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(s.plan)
        case _ => Seq.empty
      }
      here ++ inner ++ p.children.flatMap(scansOf)
    }
    val scans = scansOf(top.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "vec"))
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "probed read must carry partition filters on cluster")
    val rows = top.collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    val brute = Similarity.scoreAgainst(embeddings, "vec_id", "embedding", 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach(r =>
      assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("planted near-duplicates are recovered through the probed read") {
    // a vector and its +0.05-on-dim-0 copy have cosine ≈ 0.999 and land
    // in the same (or a probed) cluster — IVF must find the plant
    val planted = embeddings.select(col("vec_id"), col("embedding"))
      .unionAll(embeddings.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")))
    val path = tempDir("ivf_idx2").toString + "/index"
    IvfIndex.build(planted, "vec_id", "embedding", dims = 64, path,
      k = 8, iters = 3)
    val qvec = embeddings.filter(col("vec_id") === 7)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val top = IvfIndex.topK(spark, path, qvec, k = 5, nprobe = 2,
      excludeId = Some(7L)).collect()
    assert(top.head.getLong(0) == 1000007L,
      s"nearest neighbour must be the planted copy, got ${top.head}")
    assert(top.head.getDouble(1) > 0.99)
  }

  test("empty cluster keeps its previous centroid (no NaN collapse)") {
    // k = corpus size forces most clusters to one vector and (after an
    // iteration) some to lose their only member when centroids move
    val tiny = embeddings.limit(6)
    val cs = IvfIndex.train(tiny, "vec_id", "embedding", dims = 64,
      k = 6, iters = 4)
    assert(cs.length == 6)
    assert(cs.flatten.forall(v => !v.isNaN && !v.isInfinite))
  }
}
