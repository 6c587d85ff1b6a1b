package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The layout operators actually LAYING OUT data: clusteredWrite must
  * produce a table whose rectangle reads are partition-pruned and
  * touch strictly fewer files than an unclustered copy — the "query
  * reads 2% of row groups" claim of Layout's scaladoc, proved on disk
  * instead of asserted in a comment (the AnnIndexSpec partition-
  * pruning pattern applied to z/hilbert clustering). */
class ClusteredLayoutSpec extends SparkSpec {

  /** 40k deterministic pseudo-uniform points in the unit square. */
  private def points: DataFrame =
    spark.range(40000).select(col("id"),
      (pmod(hash(col("id") * 2 + 1), lit(10000)) / 10000.0).as("x"),
      (pmod(hash(col("id") * 3 + 7), lit(10000)) / 10000.0).as("y"))

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match { case f: FileSourceScanExec => Seq(f); case _ => Seq.empty }
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(s.plan)
      case _ => Seq.empty
    }
    here ++ inner ++ p.children.flatMap(scansOf)
  }

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan in plan")
    scans.map { s =>
      val m = s.metrics.getOrElse("numFiles",
        fail("FileSourceScanExec has no numFiles metric"))
      m.value
    }.sum
  }

  private def checkClustered(useHilbert: Boolean): Unit = {
    val base = tempDir("layout").toString
    val clustered = s"$base/clustered"
    val flat = s"$base/flat"
    val layout = Layout.clusteredWrite(points, "x", "y", clustered,
      useHilbert = useHilbert, bits = 8, partBits = 4)
    points.repartition(16).write.parquet(flat)

    // a 0.2 x 0.2 rectangle — 4% of the space
    val (xLo, xHi, yLo, yHi) = (0.1, 0.3, 0.4, 0.6)
    val pruned = Layout.prunedRead(spark, clustered, layout,
      "x", "y", xLo, xHi, yLo, yHi)
    val baseline = spark.read.parquet(flat)
      .where(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))

    // identical answers: pruning only changes what the scan touches
    val got = pruned.select(col("id")).collect().map(_.getLong(0)).sorted
    val want = baseline.select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.nonEmpty && got.sameElements(want),
      s"pruned read changed the answer: ${got.length} vs ${want.length} rows")

    // the pruned plan carries partition filters on _zpart
    pruned.collect()
    val scans = scansOf(pruned.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "clustered read must be partition-pruned")

    // and touches strictly fewer files than the table has, while the
    // unclustered baseline reads every one of its files
    val totalClustered = spark.read.parquet(clustered).inputFiles.length.toLong
    val touchedClustered = filesRead(pruned)
    val totalFlat = spark.read.parquet(flat).inputFiles.length.toLong
    val touchedFlat = filesRead(baseline)
    assert(touchedFlat == totalFlat,
      s"unclustered filter should scan all files ($touchedFlat of $totalFlat)")
    assert(touchedClustered < totalClustered,
      s"clustered read not pruned: $touchedClustered of $totalClustered files")
    assert(touchedClustered.toDouble / totalClustered <= 0.5,
      s"pruning too weak: $touchedClustered of $totalClustered files for a 4% rectangle")
  }

  test("z-order clusteredWrite prunes rectangle reads (fewer files than flat layout)") {
    checkClustered(useHilbert = false)
  }

  test("hilbert clusteredWrite prunes rectangle reads (fewer files than flat layout)") {
    checkClustered(useHilbert = true)
  }

  test("row groups cover tight curve ranges: _zv is sorted within every file") {
    val base = tempDir("layout_sorted").toString
    Layout.clusteredWrite(points, "x", "y", s"$base/t", bits = 8, partBits = 4)
    val perFile = spark.read.parquet(s"$base/t")
      .select(col("_zv"), input_file_name().as("f"))
    // files partition the curve: per-file [min,max] ranges must not
    // overlap across files within the same _zpart directory
    val ranges = perFile.groupBy(col("f"))
      .agg(min(col("_zv")).as("lo"), max(col("_zv")).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byDir = ranges.groupBy(_._1.replaceAll("/[^/]+$", ""))
    byDir.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((fa, _, hiA), (fb, loB, _)) =>
        assert(hiA <= loB, s"overlapping curve ranges between $fa and $fb")
      }
    }
  }

  test("readLayout restores the persisted metadata bit-for-bit; pruning works cross-session") {
    val base = tempDir("layout_meta").toString
    val written = Layout.clusteredWrite(points, "x", "y", s"$base/t",
      useHilbert = true, bits = 8, partBits = 4)
    val restored = Layout.readLayout(s"$base/t")
    assert(restored === written)
    // a reader holding ONLY the restored metadata gets the same answer
    val viaRestored = Layout.prunedRead(spark, s"$base/t", restored,
      "x", "y", 0.1, 0.3, 0.4, 0.6).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    val viaWritten = Layout.prunedRead(spark, s"$base/t", written,
      "x", "y", 0.1, 0.3, 0.4, 0.6).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    assert(viaRestored.sameElements(viaWritten) && viaRestored.nonEmpty)
    // the metadata file is invisible to the parquet scan
    assert(spark.read.parquet(s"$base/t").count() === 40000L)
    intercept[IllegalArgumentException] {
      Layout.readLayout(tempDir("not_a_table").toString)
    }
  }

  test("curve-range decomposition equals the cell walk — every curve, bits, rectangle") {
    // the property the bits > 8 path rests on (including the Hilbert
    // quadrant-prefix claim): both enumerators must produce the SAME
    // partition set. Exhaustive-ish sweep: both curves, several
    // bits/partBits, 25 deterministic rectangles each (corners, full
    // grid, thin stripes, interior boxes)
    for (hilbert <- Seq(false, true); bits <- Seq(2, 3, 5, 8, 10);
         partBits <- Seq(1, math.min(2 * bits, 5))) {
      val layout = Layout.CurveLayout(0, 1, 0, 1, bits, partBits, hilbert)
      val n = (1L << bits) - 1
      val rects = Seq(
        (0L, n, 0L, n), (0L, 0L, 0L, 0L), (n, n, n, n),
        (0L, n, n / 2, n / 2), (n / 2, n / 2, 0L, n)) ++
        (1 to 20).map { i =>
          val a = (i * 7L) % (n + 1); val b2 = (i * 13L + 3) % (n + 1)
          val c = (i * 5L + 1) % (n + 1); val d = (i * 11L + 2) % (n + 1)
          (math.min(a, b2), math.max(a, b2), math.min(c, d), math.max(c, d))
        }
      rects.foreach { case (xl, xh, yl, yh) =>
        val walk = Layout.partsByCellWalk(layout, xl, xh, yl, yh)
        val ranges = Layout.partsByCurveRanges(layout, xl, xh, yl, yh)
        assert(ranges === walk,
          s"hilbert=$hilbert bits=$bits partBits=$partBits rect=($xl,$xh,$yl,$yh)")
      }
    }
  }

  test("bits = 16: range decomposition makes fine grids enumerable; pruning still exact") {
    // 4^16 = 4.3e9 cells — the cell walk is unusable here; the range
    // decomposition enumerates the same partitions from O(perimeter)
    // quadrants. Full write/read cycle at the finer resolution:
    val base = tempDir("layout16").toString
    val layout = Layout.clusteredWrite(points, "x", "y", s"$base/t",
      useHilbert = true, bits = 16, partBits = 5)
    val t0 = System.nanoTime()
    val pruned = Layout.prunedRead(spark, s"$base/t", layout,
      "x", "y", 0.1, 0.3, 0.4, 0.6)
    val enumMs = (System.nanoTime() - t0) / 1e6
    assert(enumMs < 2000.0, s"partition enumeration took $enumMs ms")
    val got = pruned.select(col("id")).collect().map(_.getLong(0)).sorted
    val want = points.where(col("x").between(0.1, 0.3) &&
        col("y").between(0.4, 0.6))
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.nonEmpty && got.sameElements(want))
    val totalFiles = spark.read.parquet(s"$base/t").inputFiles.length.toLong
    assert(filesRead(pruned) < totalFiles,
      "bits=16 rectangle read must still be partition-pruned")
  }

  test("clusteredWrite rejects reserved columns and degenerate inputs") {
    intercept[IllegalArgumentException] {
      Layout.clusteredWrite(points.withColumn("_zv", lit(1L)), "x", "y",
        tempDir("bad").toString + "/t")
    }
    intercept[IllegalArgumentException] {
      Layout.clusteredWrite(points.where(lit(false)), "x", "y",
        tempDir("empty").toString + "/t")
    }
  }
}
