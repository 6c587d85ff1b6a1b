package graft

import org.apache.spark.sql.functions._

/** The golden-parquet oracle gate, re-derived on every test run: the one
  * remaining output-golden query (u11, HMAC over raw bytes) must
  * reproduce its committed golden file EXACTLY, and every committed
  * model/signature artifact (t07/t08/t12/t13/t25/t28/t40/t52) must
  * equal a LIVE retraining, at every verify scale factor goldens exist
  * for. Catches detector-parameter or hash drift before the driver's
  * DuckDB compare would — a golden that needs to change must be
  * regenerated deliberately via [[GoldenGen]]. */
class GoldenSpec extends SparkSpec {

  GoldenGen.sfTags.foreach { case (sfTag, _) =>
    GoldenGen.goldenQueries.foreach { name =>
      test(s"$name reproduces its $sfTag golden bit-for-bit") {
        val golden = GoldenGen.goldenPath(sfTag, name)
        assert(new java.io.File(golden).isFile, s"missing golden $golden")
        val live = SparkEntry.queries(name)(spark, s"/root/testdata/$sfTag")
        val expected = spark.read.parquet(golden)
        assert(live.schema.map(f => (f.name, f.dataType)) ===
          expected.schema.map(f => (f.name, f.dataType)), "schema drift")
        // exact multiset equality, both directions
        assert(live.exceptAll(expected).isEmpty &&
          expected.exceptAll(live).isEmpty,
          s"$name output drifted from $golden — if the change is " +
            "intentional, regenerate via `runMain graft.GoldenGen`")
      }
    }
  }

  // trained-model artifacts: the committed parquet must equal a LIVE
  // retraining exactly — this is the training-drift gate now that
  // t12/t25/t40's scoring is replayed by FULL DuckDB SQL from these
  // artifacts (a drifted artifact would also surface as a driver hash
  // mismatch, but this fails earlier and names the cause)
  GoldenGen.sfTags.foreach { case (sfTag, _) =>
    GoldenGen.modelArtifacts.foreach { name =>
      test(s"$name artifact matches live training at $sfTag") {
        val path = GoldenGen.goldenPath(sfTag, name)
        assert(new java.io.File(path).isFile, s"missing artifact $path")
        val live = GoldenGen.modelFrame(spark, s"/root/testdata/$sfTag", name)
        val expected = spark.read.parquet(path)
        assert(live.exceptAll(expected).isEmpty &&
          expected.exceptAll(live).isEmpty,
          s"$name drifted from $path — retraining changed; regenerate " +
            "via `runMain graft.GoldenGen` if intentional")
      }
    }
  }

  // the t13 artifact must be sized by the SAME lshPlan the production
  // entry point (nearDupPairsBudgeted) derives from the corpus count — a
  // hand-edited or stale-width artifact would keep GoldenSpec's parity
  // test green (modelFrame reads the same plan) but betray the point of
  // the round-13 re-pin: the oracled row must exercise the auto-sized
  // path. Pins implied width (table count, bucket domain) to the plan.
  GoldenGen.sfTags.foreach { case (sfTag, _) =>
    test(s"t13_buckets artifact width matches lshPlan at $sfTag") {
      val n = graft.queries.LlmQueries
        .plantedEmbeddings(spark, s"/root/testdata/$sfTag").count()
      val (bits, tables) = GoldenGen.nearDupPlan(n)
      val art = spark.read.parquet(GoldenGen.goldenPath(sfTag, "t13_buckets"))
      val stats = art.agg(
        countDistinct(col("tbl")).as("tables"),
        max(col("bucket")).as("maxBucket"),
        min(col("bucket")).as("minBucket"),
        count(lit(1)).as("rows")).head()
      assert(stats.getLong(0) === tables.toLong,
        s"artifact table count != lshPlan tables at $sfTag")
      // two-sided width pin: `< 2^bits` alone is one-sided (an artifact
      // generated at NARROWER bits also satisfies it), so additionally
      // require the top half of the planned domain to be occupied — a
      // bits-1 artifact can never reach it, and with n·tables sign-hash
      // rows over 2^bits buckets an empty top half at matching width
      // has vanishing probability (both signs of the leading hyperplane
      // occur across any non-degenerate corpus)
      assert(stats.getLong(1) < (1L << bits) && stats.getLong(2) >= 0L,
        s"artifact bucket domain exceeds lshPlan bits=$bits at $sfTag")
      assert(stats.getLong(1) >= (1L << (bits - 1)),
        s"artifact max bucket ${stats.getLong(1)} never reaches the top " +
          s"half of the planned 2^$bits domain at $sfTag — artifact " +
          "generated at narrower bits than lshPlan?")
      assert(stats.getLong(3) === n * tables,
        s"artifact must hold one row per (vector, table) at $sfTag")
    }
  }

  // t28's centroid artifact must be sized by the SAME semDedupK
  // derivation the production entry point (SemDedup.pruneAuto) computes
  // from the corpus count — the t13 lshPlan discipline applied to the
  // cluster count. At every driver SF the planted corpus sits under
  // the floor (16 = IvfClusters), which is the invariant that keeps
  // the committed artifact and the oracle's 16-centroid replay valid;
  // this test names that invariant so a corpus or parameter change
  // that silently crosses the floor fails HERE, not as a baffling
  // driver hash mismatch.
  GoldenGen.sfTags.foreach { case (sfTag, _) =>
    test(s"t28_centroids artifact width matches semDedupK at $sfTag") {
      val n = graft.queries.LlmQueries
        .plantedEmbeddings(spark, s"/root/testdata/$sfTag").count()
      val k = GoldenGen.semDedupK(n)
      assert(k === GoldenGen.ModelParams.IvfClusters,
        s"planted corpus at $sfTag ($n vectors) now exceeds the autoK " +
          "floor — the oracle SQL's fixed-width artifact replay no " +
          "longer matches the production path; re-derive the oracle")
      val art = spark.read.parquet(GoldenGen.goldenPath(sfTag, "t28_centroids"))
      assert(art.select(countDistinct(col("cluster"))).head().getLong(0)
        === k.toLong, s"artifact cluster count != semDedupK at $sfTag")
    }
  }

  test("t12 hyperplane artifact matches Hyperplanes.sign exactly") {
    val path = GoldenGen.hyperplanePath
    assert(new java.io.File(path).isFile, s"missing artifact $path")
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Double]](2).toSeq).toMap
    assert(got.size == 4 * 6)
    for (t <- 0 until 4; b <- 0 until 6)
      assert(got((t, b)) ==
        (0 until 64).map(d => graft.expr.Hyperplanes.sign(t, b, d)),
        s"sign row ($t, $b) drifted")
  }

  test("u11 closed-form check: live statuses match the fault-injection rules") {
    // independent of WebhookGate.admit AND of the DuckDB oracle: every
    // status of the LIVE query must follow from the modulus rules and
    // the reference's check order (415 → 401 token → 401 sig → 400
    // parse → 200) — the in-engine half of the gate now that u11's
    // oracle is closed-form SQL (goldenQueries is empty)
    def expectedStatus(id: Long): Int =
      if (id % 11 == 0) 415
      else if (id % 7 == 0) 401
      else if (id % 5 == 0) 401
      else if (id % 3 == 0) 400
      else 200
    val live = SparkEntry.queries("u11_webhook_gate")(spark, "/root/testdata/sf0.001")
      .select("event_id", "status", "admitted").collect()
    assert(live.nonEmpty)
    val byClass = live.groupBy(r => expectedStatus(r.getLong(0)))
    assert(byClass.keySet == Set(200, 400, 401, 415), "a branch is unexercised")
    live.foreach { r =>
      val (id, status, admitted) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(status == expectedStatus(id),
        s"live status for event $id disagrees with the modulus rules")
      assert(admitted == (if (status == 200) 1 else 0),
        s"admitted flag inconsistent for event $id")
    }
  }
}
