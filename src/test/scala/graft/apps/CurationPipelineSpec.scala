package graft.apps

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The composed curation flow on a corpus with planted junk, exact
  * duplicates, and near-duplicates: each stage must remove exactly its
  * targets, and the surviving canonical docs must be the group minima. */
class CurationPipelineSpec extends SparkSpec {
  import testImplicits._

  private def corpus = {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .filter(col("doc_id") < 200)
    val exactDups = real.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"), col("lang"))
    val nearDups = real.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text"), col("lang"))
    val junk = Seq(
      (30000L, "@@@@ #### $$$$ %%%% ^^^^ &&&&", "en"),
      (30001L, "!!!! **** (((( )))) ____ ++++", "en"))
      .toDF("doc_id", "text", "lang")
    real.unionAll(exactDups).unionAll(nearDups).unionAll(junk)
  }

  test("stages remove junk, exact dups, and near dups; sample respects per-lang cap") {
    val (sampled, report) = CurationPipeline.run(corpus,
      minQuality = 0.3, jaccardThreshold = 0.8, samplePerLang = 25)

    assert(report.nInput == 242)
    // junk (pure symbols -> quality ~1/3 * lenScore≈0.04) is gone
    assert(report.nAfterQuality <= report.nInput - 2)
    // all 20 planted exact duplicates collapse onto their originals
    assert(report.nAfterExact <= report.nAfterQuality - 20)
    // planted near-duplicates collapse too (one survivor per cluster)
    assert(report.nAfterNearDup < report.nAfterExact)
    assert(report.nSampled <= report.nAfterNearDup)

    val out = sampled.collect()
    assert(out.length.toLong == report.nSampled)
    // per-language cap respected
    val perLang = out.groupBy(_.getString(2)).view.mapValues(_.length)
    perLang.foreach { case (lang, n) =>
      assert(n <= 25, s"lang $lang exceeded cap: $n")
    }
    // canonical choice: for every planted exact-dup group the ORIGINAL
    // (smaller id) must be the survivor if any member survived
    val ids = out.map(_.getLong(0)).toSet
    (0L until 20L).foreach { id =>
      assert(!ids.contains(id + 10000),
        s"exact duplicate ${id + 10000} must lose to original $id")
    }
    (20L until 40L).foreach { id =>
      assert(!ids.contains(id + 20000),
        s"near duplicate ${id + 20000} must lose to original $id")
    }
  }

  test("pipeline is deterministic: two runs produce the identical sample") {
    val (s1, _) = CurationPipeline.run(corpus, samplePerLang = 10)
    val (s2, _) = CurationPipeline.run(corpus, samplePerLang = 10)
    val a = s1.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = s2.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
  }

  test("reliable-checkpoint knob: curate survives with checkpoint(eager=false)") {
    // preemptible-cluster configuration: rounds persist to the reliable
    // checkpoint dir instead of executor-local blocks; output must be
    // identical to the default path
    val dir = tempDir("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val reliable = CurationPipeline.curate(corpus, samplePerLang = 10,
        checkpoint = _.checkpoint(eager = false))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val default = CurationPipeline.curate(corpus, samplePerLang = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(reliable == default)
    // the reliable run actually wrote round state to the checkpoint dir
    val wrote = java.nio.file.Files.walk(dir).filter(_.toFile.isFile).count()
    assert(wrote > 0, "reliable checkpoint dir is empty — knob not wired")
  }

  // ---- crawl pre-pass (t67): extract -> normalize -> line scrub ----

  private def pages = {
    // 8 pages: chrome on all (nav pure-link, heading short), a unique
    // body paragraph, a shared disclaimer block on every page (df=8 >
    // maxDocFreq=3 -> scrubbed), mojibake in the body of doc 2
    val body = (i: Long) =>
      s"<p>Body paragraph number $i with enough characters to count.</p>"
    (0L until 8L).map { i =>
      val moji = if (i == 2) "<p>It was cafÃ© fresh donâ€™t argue with the text here.</p>" else ""
      (i, "<header><h1>T</h1></header>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
        body(i) + moji +
        "<div>This exact legal disclaimer appears on every single page.</div>")
    }.toDF("doc_id", "html")
  }

  test("crawl pre-pass composes extract, normalize, and line scrub") {
    val out = CurationPipeline.crawlPrePass(pages, "doc_id", "html",
      lineMaxDocFreq = 3).orderBy("doc_id").collect()
    assert(out.length == 8)
    // chrome never extracted; shared disclaimer scrubbed by frequency
    val t0 = out(0).getAs[String]("text")
    // trailing blank line: the paragraph separator is structure and
    // survives even when the paragraph after it was scrubbed (the
    // LineScrub blank-line contract)
    assert(t0 == "Body paragraph number 0 with enough characters to count.\n")
    assert(out(0).getAs[Long]("n_lines") == 2L) // body + disclaimer
    assert(out(0).getAs[Long]("n_kept") == 1L)
    // doc 2: mojibake repaired by the normalize stage, both paragraphs
    // kept (unique), blank-line paragraph structure preserved
    val t2 = out(2).getAs[String]("text")
    assert(t2.contains("café fresh don’t argue"))
    assert(t2.contains("\n\n"), "paragraph breaks must survive the scrub")
    assert(out(2).getAs[Long]("n_kept") == 2L)
  }

  test("crawl pre-pass stays scan-stage until the line-scrub shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    // extraction + normalization alone: ZERO exchanges — one projection
    val prePass = graft.operators.HtmlExtract.extract(pages, "doc_id", "html")
      .select(col("doc_id"),
        graft.operators.TextNormalize.clean(col("extracted_text")).as("text"))
    prePass.collect()
    def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => collectPlans(a.executedPlan)
        case s: QueryStageExec => collectPlans(s.plan)
        case _ => Nil
      }
      p +: (inner ++ p.children.flatMap(collectPlans))
    }
    val preNodes = collectPlans(prePass.queryExecution.executedPlan)
    assert(!preNodes.exists(_.isInstanceOf[Exchange]),
      "extract+normalize must not shuffle")

    // full pre-pass: the FIRST exchange (bottom-most) must be the line
    // scrub's hashpartitioning(line) — nothing upstream shuffles
    val full = CurationPipeline.crawlPrePass(pages, "doc_id", "html",
      lineMaxDocFreq = 3)
    full.collect()
    val shuffles = collectPlans(full.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    // every shuffle key is either the line text or the doc regroup —
    // no other exchange sneaks in
    shuffles.foreach { e =>
      val expr = e.outputPartitioning.toString
      assert(expr.contains("line") || expr.contains("doc_id"),
        s"unexpected exchange: $expr")
    }
  }

  test("density knobs bound candidate volume without losing planted near-dups") {
    // a tight doc-frequency cap prunes the candidate space hard...
    val (sampled, report) = CurationPipeline.run(corpus,
      samplePerLang = 1000, maxDocFreq = 5)
    // ...but the recall contract holds: planted near-dups share RARE
    // shingles with their originals, so they still collapse
    val ids = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    (20L until 40L).foreach { id =>
      assert(!ids.contains(id + 20000),
        s"near duplicate ${id + 20000} survived under maxDocFreq=5")
    }
    assert(report.nAfterNearDup < report.nAfterExact)
  }
}
