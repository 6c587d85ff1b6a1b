package graft.plans

import graft.SparkSpec
import graft.operators.{ChannelStats, Dedup, Similarity}
import graft.queries.RelationalQueries
import graft.sources.udbf.UdbfWriter
import graft.sources.udbf.UdbfWriter.ChannelSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mechanical guards for the physical-plan properties PLANS.md claims —
  * so a regression that, e.g., starts shuffling document text through a
  * dedup self-join fails CI instead of only showing up as a bench
  * slowdown. Plans are inspected AFTER execution (AQE-final). */
class PlanAuditSpec extends SparkSpec {
  import testImplicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** The session of the shape guards: its scans split into several tasks
    * (every sf0.001 table file is larger than 1 KB), as every scan does at
    * scale. In the default session a one-file scan runs as one task and
    * [[graft.expr.SingleTaskExchange]] removes the exchange after its
    * partial aggregate, which would hide the exchanges these guards audit. */
  private lazy val split: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    s
  }
  private def documents = split.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def embeddings = split.read.parquet(s"$sfDir/embeddings.parquet")

  /** The plan `df` ran with, from running `df` itself (see
    * [[collectWithPlan]] for an adaptive one). */
  private def executedPlan(df: DataFrame): String = df.queryExecution.executedPlan match {
    case _: AdaptiveSparkPlanExec => collectWithPlan(df)._2
    case plan => df.collect(); plan.toString
  }

  /** Argument lists of every shuffle exchange in the plan. */
  private def shuffleKeys(plan: String): Seq[String] =
    "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSeq

  test("minHashPairs: no text column rides any shuffle exchange") {
    val plan = executedPlan(Dedup.minHashPairs(documents, "text", "doc_id"))
    val offending = shuffleKeys(plan).filter(_.contains("text"))
    assert(offending.isEmpty,
      s"text in shuffle keys: $offending")
    // the only range/hash partitionings may carry ids, sigs, bands, words
    assert(!plan.contains("CartesianProduct"))
  }

  test("jaccardPairs: single aggregation pass for blocking, no text in exchanges") {
    val df = Dedup.jaccardPairs(documents, "text", "doc_id", threshold = 0.6)
    val plan = executedPlan(df)
    assert(shuffleKeys(plan).forall(k => !k.contains("text")),
      "document text must not be a shuffle key")
    assert(!plan.contains("CartesianProduct"))
  }

  test("containmentPairs: text never a shuffle key, no cartesian product") {
    val df = Dedup.containmentPairs(documents, "text", "doc_id")
    val plan = executedPlan(df)
    assert(shuffleKeys(plan).forall(k => !k.contains("text")),
      "document text must not be a shuffle key")
    assert(!plan.contains("CartesianProduct"))
  }

  test("IVF query: centroids are plan literals — no join, no shuffle before top-k") {
    val df = graft.operators.IvfIndex.scanTopK(
      embeddings, "vec_id", "embedding", dims = 64,
      queryId = 0L, k = 5, kClusters = 4, iters = 1, nprobe = 2)
    val plan = executedPlan(df)
    // assignment + probe filter + scoring all evaluate against literal
    // centroid/query vectors in the scan stage: the only plan shape is
    // scan → filter → TakeOrdered; any Join or Exchange would mean the
    // centroids leaked into a data-plane join
    assert(!plan.contains("Join"), s"unexpected join in IVF query:\n$plan")
    assert(shuffleKeys(plan).isEmpty, "IVF scoring must not shuffle")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("simHash signature subplan is exchange-free (scan-stage computation)") {
    val plan = Dedup.simHash(documents, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
  }

  test("brute-force cosine scoring plan has no shuffle before the top-k") {
    val scored = Similarity.scoreAgainst(embeddings, "vec_id", "embedding", 0L)
    val plan = executedPlan(scored)
    // one broadcast of the 1-row query side; zero hash shuffles
    assert(shuffleKeys(plan).isEmpty, s"unexpected shuffle: ${shuffleKeys(plan)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("exact dedup is a single hash-aggregate shuffle") {
    val plan = executedPlan(Dedup.exact(documents, "text", "doc_id"))
    assert(shuffleKeys(plan).size <= 1,
      s"expected at most one exchange, got: ${shuffleKeys(plan)}")
  }

  test("dimension join broadcasts the small side (no shuffle of the fact table)") {
    val nation = split.read.parquet(s"$sfDir/nation.parquet")
    val customer = split.read.parquet(s"$sfDir/customer.parquet")
    val joined = customer.join(broadcast(nation),
      customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
    val plan = executedPlan(joined)
    assert(plan.contains("BroadcastHashJoin"))
    // the only shuffle is the final aggregation on n_name
    val keys = shuffleKeys(plan)
    assert(keys.forall(_.contains("n_name")), s"unexpected shuffles: $keys")
  }

  test("session_window aggregation is a single exchange on (user, window)") {
    val ev = split.createDataFrame(
        Seq(("2024-03-15 12:00:00", 1L, 1.0), ("2024-03-15 12:20:00", 1L, 2.0)))
      .toDF("ts_s", "user_id", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"), col("value"))
    val plan = executedPlan(
      graft.streaming.Sessionize.sessions(ev, "ts", "user_id", "value"))
    assert(shuffleKeys(plan).size <= 1,
      s"expected one session exchange, got: ${shuffleKeys(plan)}")
  }

  test("per-position vector aggregation runs partial averages map-side") {
    val agg = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")))
    val plan = executedPlan(agg.toDF())
    assert(plan.contains("partial_avg"),
      "posexplode aggregation must partial-aggregate before the exchange")
  }

  test("SemDedup: vectors never key a shuffle; self-join is cluster-equi") {
    val df = graft.operators.SemDedup.prune(embeddings, "vec_id", "embedding",
      dims = 64, threshold = 0.9, kClusters = 4, iters = 1)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"))
    // the scale contract: embeddings may RIDE the cluster partition but
    // must never BE a partitioning key (a vector-keyed shuffle would
    // hash 256-byte arrays corpus-wide)
    val offending = shuffleKeys(plan).filter(k =>
      k.contains("embedding") || k.contains("vec#") || k.contains("prev_vec"))
    assert(offending.isEmpty, s"vector in shuffle keys: $offending")
    // assignment is scan-stage: no exchange may sit BELOW the cluster
    // repartition (centroids are literals, not a joined table)
    assert(plan.contains("REPARTITION_BY_COL"),
      "cluster repartition missing — self-join sides would each re-plan")
  }

  test("Packing: the only corpus shuffle is the per-stream window partition") {
    val docs = split.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Packing.contextPack(docs, "doc_id", "text",
      "lang", ctxLen = 128, shards = 4)
    val keys = shuffleKeys(executedPlan(df))
    assert(keys.forall(k => k.contains("lang") && k.contains("shard")),
      s"unexpected shuffles: $keys")
    assert(keys.size <= 1, s"expected one window exchange, got: $keys")
  }

  test("Mixture: quota side broadcasts; corpus aggregated once, ranked once") {
    val docs = split.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Mixture.temperatureSample(
      docs, "source", "text", "doc_id", total = 50)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      "quota join must broadcast the strata-sized side")
    // exactly two source-keyed exchanges: the weight aggregation and the
    // rank window (the weight normalizer is a window over the tiny
    // weight table, NOT a second corpus aggregation)
    val corpusShuffles = shuffleKeys(plan).filter(_.contains("source"))
    assert(corpusShuffles.size <= 2,
      s"unexpected corpus shuffles: $corpusShuffles")
  }

  private def namedQuery(name: String): DataFrame =
    graft.queries.LlmQueries.all.find(_.name == name).get.fn(split, sfDir)

  test("t34 hash split: pure projection — zero hash shuffles before the output sort") {
    val plan = executedPlan(namedQuery("t34_hash_split"))
    assert(shuffleKeys(plan).isEmpty,
      s"split assignment must not shuffle: ${shuffleKeys(plan)}")
  }

  test("t33 source cap: exactly one hash shuffle, keyed by source (the window)") {
    val plan = executedPlan(namedQuery("t33_source_cap"))
    val keys = shuffleKeys(plan)
    assert(keys.size == 1 && keys.head.contains("source"),
      s"expected one source-keyed window exchange, got: $keys")
    assert(keys.forall(k => !k.contains("text")),
      "document text must not be a shuffle key")
  }

  test("t32 per-doc repetition signals: pure scan-stage projection, zero hash shuffles") {
    // both signals moved into scan kernels (graft_dup_mass /
    // graft_rep_ratio): the plan must be a projection over the file
    // scan with no aggregation and no hash exchange — only the output
    // range sort remains
    val plan = executedPlan(namedQuery("t32_gopher_repetition"))
    assert(shuffleKeys(plan).isEmpty,
      s"t32 must not hash-shuffle: ${shuffleKeys(plan)}")
    assert(plan.contains("graft_dup_mass") && plan.contains("graft_rep_ratio"),
      "t32 must evaluate the native repetition kernels at the scan")
    assert(!plan.contains("HashAggregate"), "t32 must not aggregate")
  }

  test("t39 token profile: pure scan-stage projection, zero hash shuffles") {
    val plan = executedPlan(namedQuery("t39_word_entropy"))
    assert(shuffleKeys(plan).isEmpty,
      s"t39 must not hash-shuffle: ${shuffleKeys(plan)}")
    assert(plan.contains("graft_token_profile"),
      "t39 must evaluate the native profile kernel at the scan")
    assert(!plan.contains("HashAggregate"), "t39 must not aggregate")
  }

  test("t35 per-doc signals: text never a shuffle key, aggs are partial") {
    val plan = executedPlan(namedQuery("t35_hash_classifier"))
    assert(shuffleKeys(plan).forall(k => !k.contains("text")),
      "t35: document text must not be a shuffle key")
    assert(!plan.contains("CartesianProduct"), "t35")
    // token weights combine map-side before the exchange
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "t35: expected map-side partial aggregation")
  }

  test("t36 bloom decontamination: sketch probe in-plan, text off shuffle keys") {
    val plan = executedPlan(namedQuery("t36_bloom_decontamination"))
    assert(plan.contains("graft_bloom_contains"),
      "prefilter must be the native sketch probe")
    assert(shuffleKeys(plan).forall(k => !k.contains("text")),
      "document text must not be a shuffle key")
    assert(!plan.contains("CartesianProduct"))
  }

  test("t42 duplicate spans: windows shuffle as md5 keys, never window text") {
    val plan = executedPlan(namedQuery("t42_duplicate_spans"))
    assert(shuffleKeys(plan).forall(k => !k.contains("text") && !k.contains("gram")),
      s"window text must not be a shuffle key: ${shuffleKeys(plan)}")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "window counts must combine map-side")
  }

  /** Round-14 regression guard: the window-key joins in SpanDedup are
    * unbounded ⋈ unbounded (both sides O(corpus windows)) and carry
    * merge hints because Spark's STATIC size estimate shrinks through
    * the aggregations — at the 100× corpus it priced the ~45 M-row
    * distinct-window side under autoBroadcastJoinThreshold and planned
    * a broadcast whose ~1 GB-per-task hash relation aborted the query
    * (PLANS.md round 14). At this tiny SF a dropped hint would ALSO
    * plan a broadcast, so asserting the md5-key join is sort-merge
    * here catches the regression exactly where it would reappear. */
  test("t42/t46 span joins: the md5 window-key join must never be a broadcast") {
    Seq("t42_duplicate_spans", "t46_span_scrub").foreach { name =>
      val plan = executedPlan(namedQuery(name))
      val broadcastKeyJoins = plan.linesIterator
        .filter(_.contains("BroadcastHashJoin"))
        .filter(_.contains("[k#")).toSeq
      assert(broadcastKeyJoins.isEmpty,
        s"$name: window-key join planned as broadcast (unbounded build " +
          s"side — the round-14 100× abort): $broadcastKeyJoins")
      assert(plan.contains("SortMergeJoin"),
        s"$name: expected the hinted sort-merge window-key join")
    }
  }

  test("t44 token budget: the CORPUS window is (level, chunk)-partitioned; partition-less windows touch only the chunk-totals table") {
    val plan = executedPlan(namedQuery("t44_token_budget"))
    // a physical Window node prints `Window [exprs], [partitionSpec],
    // [orderSpec]` when partitioned and `Window [exprs], [orderSpec]`
    // when global — the bracket-group count distinguishes them (the
    // windowspecdefinition STRING cannot: order keys match too)
    val winLines = plan.linesIterator.map(_.trim)
      .filter(_.contains("Window [")).toSeq
    def bracketGroups(l: String): Seq[String] =
      l.substring(l.indexOf("Window [") + 7).split("\\], \\[").toSeq
    assert(winLines.nonEmpty, "expected the running-sum windows")
    // the corpus-side cumulative sum (over n_tokens) MUST have a
    // PARTITION spec containing both the quality level and the id
    // chunk — the hard 2^chunkBits per-task row bound; a window that
    // merely ORDERS by them would re-create the level-skew killer
    val corpusWins = winLines.filter(_.contains("n_tokens"))
    assert(corpusWins.nonEmpty, "expected the corpus running-sum window")
    corpusWins.foreach { l =>
      val groups = bracketGroups(l)
      assert(groups.length >= 3,
        s"corpus running sum lost its partition spec (global window!): $l")
      assert(groups(1).contains("quality") && groups(1).contains("chunk"),
        s"corpus running sum must PARTITION by (quality, chunk): $l")
    }
    // every other window (level/global offsets, the dense_rank guard)
    // may only aggregate the bounded chunk-totals table — neither
    // corpus text nor per-doc token counts may appear in them
    winLines.filterNot(corpusWins.contains).foreach { l =>
      assert(l.contains("ctot#") || l.contains("dense_rank"),
        s"window over unexpected columns (corpus leak?): $l")
      assert(!l.contains("text"),
        s"window over corpus text: $l")
    }
    // the offsets join must be a keyed join, never a cartesian (the
    // join STRATEGY is AQE's choice — broadcast at this scale, SMJ
    // reusing the window partitioning at larger ones; both are fine)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "offsets must join on (quality, chunk), not cross-join")
    // two corpus scans only: the totals pass and the final pass (the
    // split-subtree formulation measured FOUR un-reused parquet scans)
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"expected <= 2 corpus scans, plan holds $scans")
  }

  test("t45 ccnet buckets: rank window partitions by language") {
    val plan = executedPlan(namedQuery("t45_ccnet_buckets"))
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("lang#")),
      s"tercile rank must partition by lang:\n${specs.mkString("\n")}")
    assert(shuffleKeys(plan).forall(k => !k.contains("text")),
      "document text must not be a shuffle key")
  }

  test("t71 probe ranking is the native kernel — the crossJoin+window probe arm is gone") {
    val plan = executedPlan(namedQuery("t71_ivf_recall"))
    assert(plan.contains("graft_topn_cosine"),
      "probe ranking must go through the native CentroidTopN kernel")
    // exactly the two rank-within-query windows (exact arm + ivf arm)
    // survive; a third window would mean the probe ranking regressed to
    // the crossJoin(centroids) + row_number shape, which pays a window
    // exchange over |Q|·k rows per probe ranking
    val winLines = plan.linesIterator.count(_.trim.contains("Window ["))
    assert(winLines <= 2,
      s"expected only the two rank-within-query windows, found $winLines")
  }

  test("native expressions appear in generated code, not as interpreted fallbacks") {
    val df = embeddings.limit(10).select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val code = df.queryExecution.debug.codegenToSeq()
    assert(code.nonEmpty, "expected a WholeStageCodegen span")
    // a CodegenFallback would wrap the call in an `eval` on the expression
    // object; the real doGenCode inlines the fused loop with Math.sqrt
    assert(code.exists(_._2.contains("java.lang.Math.sqrt(")))
  }

  test("building a relational query a second time in a session runs no Spark job") {
    // Each Tables read infers its schema once per session; no relational
    // query runs an action while it is built. No query is exempt.
    val jobs = RelationalQueries.all.map { q =>
      q.fn(spark, sfDir)
      q.name -> jobsRunBy(q.fn(spark, sfDir))
    }
    assert(jobs.size == 32)
    val eager = jobs.filter(_._2 > 0)
    assert(eager.isEmpty, s"Spark jobs on a second build: $eager")
  }

  /** The relational queries whose result is a global sort (under at most
    * a projection), built on `session`. */
  private def globallySorted(session: SparkSession): Seq[(String, DataFrame)] = {
    def endsInGlobalSort(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case p: Project => endsInGlobalSort(p.child)
      case _ => false
    }
    RelationalQueries.all.map(q => q.name -> q.fn(session, sfDir))
      .filter { case (_, df) => endsInGlobalSort(df.queryExecution.optimizedPlan) }
  }

  /** `df`'s rows and its final AQE plan (without the initial plan that
    * `AdaptiveSparkPlanExec` also prints), from running `df` itself. */
  private def collectWithPlan(df: DataFrame): (Seq[Row], String) = {
    val rows = df.collect().toSeq
    val adaptive = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(adaptive.isFinalPlan)
    (rows, adaptive.executedPlan.toString)
  }

  test("a relational query's final sort runs in one task: no rangepartitioning exchange") {
    // q23's sort input is an inner join, whose size estimate is the
    // product of its sides' sizes: it stays above 1 MB after every stage
    // below it has run, so its range exchange stays
    val exempt = Set("q23_interval_join")
    val sorted = globallySorted(spark)
    assert(sorted.size >= 30, s"only ${sorted.size} queries end in a global sort")
    val ranged = sorted.filter { case (_, df) =>
      collectWithPlan(df)._2.contains("rangepartitioning") }.map(_._1)
    assert(ranged.toSet == exempt, s"range exchange kept by: $ranged")
  }

  test("a sort over more than minPartitionSize keeps its range exchange, same ordered output") {
    val tiny = spark.newSession()
    tiny.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    val default = globallySorted(spark).toMap.view.mapValues(collectWithPlan).toMap
    val rewritten = globallySorted(tiny).filter { case (name, df) =>
      val (rows, plan) = collectWithPlan(df)
      val (defaultRows, defaultPlan) = default(name)
      assert(rows == defaultRows, s"$name: ordered output differs")
      val singleTask = defaultPlan.contains("Coalesce 1")
      // an empty result (q11 here) is planned as an EmptyRelation, with no sort to run
      assert(!singleTask || plan.contains("rangepartitioning") || plan.contains("EmptyRelation"),
        s"$name: range exchange rewritten over a 1-byte threshold:\n$plan")
      singleTask
    }
    assert(rewritten.size >= 20, s"only ${rewritten.size} sorts rewritten by default")
  }

  test("repartitionByRange is never rewritten, even when it fits in one partition") {
    val ids = spark.range(100).toDF("id")
    Seq(ids.repartitionByRange(4, col("id")), ids.repartitionByRange(col("id")))
      .map(_.orderBy(col("id")))
      .foreach { df =>
        val (rows, plan) = collectWithPlan(df)
        assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce 1"),
          s"user range repartition rewritten:\n$plan")
        assert(rows.map(_.getLong(0)) == (0L until 100L))
      }
  }

  /** Two 1 Hz udbf logger files of 100 frames in one new directory:
    * channel j of frame i holds `i + 10 * j` in the first file and 100
    * more in the second. */
  private def twoLoggerFiles(): (java.nio.file.Path, java.nio.file.Path) = {
    val dir = tempDir("plan_udbf")
    val chans = Seq(ChannelSpec("ch_a", "V"), ChannelSpec("ch_b", "V"))
    val first = dir.resolve("fhe_1hz_2024-03-15_12-00-00.dat")
    UdbfWriter.write(first, chans, 100, (i, j) => (i + 10 * j).toDouble,
      1710504000000000L, 1.0)
    UdbfWriter.write(dir.resolve("fhe_1hz_2024-03-15_12-10-00.dat"), chans, 100,
      (i, j) => (i + 10 * j + 100).toDouble, 1710504600000000L, 1.0)
    (dir, first)
  }

  test("ChannelStats over a two-file udbf read keeps its hashpartitioning exchange") {
    val (dir, first) = twoLoggerFiles()
    // the LPI and MIST apps read their stats through Bounded.collect's limit
    def stats(path: java.nio.file.Path) =
      collectWithPlan(ChannelStats(spark.read.format("udbf").load(path.toString),
        Seq("ch_a", "ch_b")).limit(3))
    // two files are two tasks: the partial aggregates' rows are shuffled
    val (rows, plan) = stats(dir)
    assert(plan.contains("hashpartitioning(sensor"), s"exchange removed:\n$plan")
    assert(rows == Seq(Row("ch_a", 99.5, 0.0, 199.0), Row("ch_b", 109.5, 10.0, 209.0)))
    // one file is one task: partial and final aggregate run in it
    val (oneRows, onePlan) = stats(first)
    assert(!onePlan.contains("hashpartitioning"), s"one-task exchange kept:\n$onePlan")
    assert(oneRows == Seq(Row("ch_a", 49.5, 0.0, 99.0), Row("ch_b", 59.5, 10.0, 109.0)))
  }

  test("a one-task input whose exchange feeds a window, not a partial aggregate, keeps it") {
    val (_, first) = twoLoggerFiles()
    val ranked = spark.read.format("udbf").load(first.toString)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("ch_a") % 2).orderBy(col("ts"))))
    val (rows, plan) = collectWithPlan(ranked)
    assert(plan.contains("Exchange hashpartitioning("), s"window exchange removed:\n$plan")
    assert(!plan.contains("Coalesce 1"), plan)
    assert(rows.map(r => r.getAs[Double]("ch_a").toInt -> r.getAs[Int]("rank")).sorted ==
      (0 until 100).map(i => i -> (i / 2 + 1)))
  }
}
