package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup, Mixture, Packing, SemDedup, Similarity}
import QueryDef.sql

/** LLM-training-data pipeline operators: text analysis, deduplication,
  * and embedding similarity search (BASELINE.json north-star extensions).
  *
  * Hash-based operators (MinHash/SimHash/LSH) are not DuckDB-expressible
  * (different hash primitives) but fully deterministic → gated by
  * reviewed golden parquet oracles ([[graft.GoldenGen]]) plus ScalaTest
  * specs with planted near-duplicates. Everything arithmetic is oracled
  * directly in SQL.
  */
object LlmQueries {

  /** Materialize a projection that the downstream operator references
    * MANY times (blocking, length prefilter, verify joins, …): a lazy
    * local checkpoint turns N parquet re-scans of the corpus into one
    * scan plus N block reads — the t23 `curate()` pattern applied at
    * the query layer (measured: t26 executed 12 un-reused FileScans,
    * t09 ten, before this). Blocks are session-scoped (MEMORY_AND_DISK,
    * spill not drop); a production pipeline materializes its survivors
    * explicitly and releases them, as `CurationPipeline` documents. */
  private def shared(df: org.apache.spark.sql.DataFrame,
      widen: Boolean = true) =
    // MEMORY_AND_DISK deliberately, including at big-corpus scale: a
    // DISK_ONLY gate for over-estimate corpora was A/B'd in round 16
    // (PLANS, "storage-level A/B") and LOST on the full 100× suite —
    // 1 966 s gated vs 1 732 s memory — because the iterative
    // consumers (t13 LSH tables, t28 k-means, t71 index build) re-read
    // the corpus many times and pay disk each pass, while the unified
    // memory manager already demotes these evictable blocks under the
    // verify arms' sort pressure. Isolated warm probes said the
    // opposite (t78 174 → 125 s), which is exactly why the decision
    // rode the suite-level total, not the probe.
    //
    // Widened (r19, default on): a small corpus arrives as 1-2 scan
    // splits (one sub-MB parquet file per branch at the oracle SFs),
    // so the checkpoint used to pin that width and EVERY consumer's
    // scan-stage pass (simhash / minhash signatures, tokenize+shingle)
    // ran 1-2-wide on a 32-core box. Tables.widened is the identity
    // once the input has >= defaultParallelism partitions — no
    // exchange at real corpus scale. A/B (best-of-3, idle box): the
    // five text consumers t07/t08/t09/t15/t78 total 24.0 s -> 18.5 s
    // with widening ON. `widen = false` exists because the SAME A/B on
    // the embedding consumers went the other way (t13 1.51 -> 2.32,
    // t28 1.62 -> 2.55, cpu up 2-4x): float-ARRAY rows pay exchange
    // serialization + narrower codegen'd consumers dwarfing the scan
    // parallelism they gain — the t25/t79 lesson at the checkpoint
    // layer. plantedEmbeddings opts out.
    (if (widen) graft.core.Tables.widened(df) else df)
      .localCheckpoint(eager = false)

  /** [[shared]] memoized per (session, source dir): the planted corpora
    * feed SEVERAL queries (t07/t08/t09/t15 text; t13/t28 embeddings),
    * and a fresh checkpoint per invocation would pile one corpus copy
    * per query run into the block manager until driver GC collects the
    * discarded RDD references. One copy per corpus per session is the
    * bound; repeated invocations (verify + bench + spec loops) reuse
    * the same materialized blocks. */
  // the widen flag is part of the key (r19 advice): a repeated lookup
  // under the same name with a different flag must not silently return
  // the other variant's checkpoint
  private val sharedCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Boolean), org.apache.spark.sql.DataFrame]
  private def sharedCached(s: org.apache.spark.sql.SparkSession, key: String,
      widen: Boolean = true)(
      build: => org.apache.spark.sql.DataFrame) = {
    // evict entries for stopped sessions on every lookup: without this
    // a long-lived multi-session JVM (test harness, notebook server)
    // pins dead sessions' plans and checkpoint blocks forever, and a
    // stale hit for a restarted-then-stopped session would fail on use
    sharedCache.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
    sharedCache.getOrElseUpdate((s, key, widen), shared(build, widen))
  }

  /** The t53/t55 URL fixture (modulus fault-injection, u11 convention)
    * as one SQL expression — single-sourced so the dedup and blocklist
    * queries cannot drift apart. One line on purpose: it interpolates
    * into |-margin oracle strings whose stripMargin only trims prefixed
    * lines. */
  private val UrlFixtureSql: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN upper('example-' || (doc_id % 50)::VARCHAR || '.com') " +
      "ELSE 'example-' || (doc_id % 50)::VARCHAR || '.com' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || " +
      "'/p/' || (doc_id % 20)::VARCHAR || " +
      "CASE WHEN doc_id % 17 = 0 THEN '/' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN '?utm_source=feed&utm_campaign=w' " +
      "WHEN doc_id % 13 = 0 THEN '?page=' || (doc_id % 4)::VARCHAR ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END"

  /** The same fixture as a Spark Column (value-identical to
    * [[UrlFixtureSql]] — the t53/t55 oracles pin it). */
  private def urlFixture: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    val hostBase = concat(lit("example-"), id % 50, lit(".com"))
    concat(
      when(id % 2 === 0, "HTTPS://").otherwise("https://"),
      when(id % 3 === 0, upper(hostBase)).otherwise(hostBase),
      when(id % 5 === 0, ":443").otherwise(""),
      lit("/p/"), id % 20,
      when(id % 17 === 0, "/").otherwise(""),
      when(id % 11 === 0, "?utm_source=feed&utm_campaign=w")
        .otherwise(when(id % 13 === 0, concat(lit("?page="), id % 4))
          .otherwise("")),
      when(id % 7 === 0, "#frag").otherwise(""))
  }

  /** The t56 HTML fixture (modulus fault-injection, u11/t53 convention)
    * as one SQL expression, single-sourced with [[htmlFixture]]. Every
    * extraction rule fires somewhere: chrome on every page (header
    * heading too short, nav pure-link), the corpus text as the main
    * `<p>` (+ an inline reference link on %3 — low density, must stay
    * content), an ad stub too short to keep (%5), a link farm that is
    * LONG but link-dense (%7), an entity-laden content paragraph (%11),
    * a link-free medium content block (%13), a short note (%17), and a
    * footer whose density sits just ABOVE the 0.33 threshold (%2). */
  private val HtmlFixtureSql: String =
    "'<header><h1>Doc ' || doc_id::VARCHAR || '</h1></header>' || " +
      "'<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> <a href=\"/contact\">Contact</a></nav>' || " +
      "'<p>' || coalesce(text, '') || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' See the <a href=\"/ref/' || (doc_id % 20)::VARCHAR || '\">reference manual</a> for details.' ELSE '' END || " +
      "'</p>' || " +
      "CASE WHEN doc_id % 5 = 0 THEN '<div>Ad</div>' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN '<div><a href=\"/p1\">Product one long name</a> <a href=\"/p2\">Product two long name</a> <a href=\"/p3\">Product three long name</a></div>' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN '<p>Fish &amp; chips &lt;daily&gt; at the corner &quot;shop&quot; for lunch.</p>' ELSE '' END || " +
      "CASE WHEN doc_id % 13 = 0 THEN '<div>A slightly longer remark sentence lives here.</div>' ELSE '' END || " +
      "CASE WHEN doc_id % 17 = 0 THEN '<div>Short note.</div>' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN '<footer>Copyright 2024 Example Corp <a href=\"/tos\">Terms of Service</a></footer>' ELSE '' END"

  /** The same fixture as a Spark Column (value-identical to
    * [[HtmlFixtureSql]] — the t56 oracle pins it). */
  private def htmlFixture: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      lit("<header><h1>Doc "), id, lit("</h1></header>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> <a href=\"/contact\">Contact</a></nav>"),
      lit("<p>"), coalesce(col("text"), lit("")),
      when(id % 3 === 0, concat(lit(" See the <a href=\"/ref/"), id % 20,
        lit("\">reference manual</a> for details."))).otherwise(""),
      lit("</p>"),
      when(id % 5 === 0, "<div>Ad</div>").otherwise(""),
      when(id % 7 === 0, "<div><a href=\"/p1\">Product one long name</a> <a href=\"/p2\">Product two long name</a> <a href=\"/p3\">Product three long name</a></div>").otherwise(""),
      when(id % 11 === 0, "<p>Fish &amp; chips &lt;daily&gt; at the corner &quot;shop&quot; for lunch.</p>").otherwise(""),
      when(id % 13 === 0, "<div>A slightly longer remark sentence lives here.</div>").otherwise(""),
      when(id % 17 === 0, "<div>Short note.</div>").otherwise(""),
      when(id % 2 === 0, "<footer>Copyright 2024 Example Corp <a href=\"/tos\">Terms of Service</a></footer>").otherwise(""))
  }

  /** The t58 multi-paragraph fixture (modulus fault-injection): the
    * corpus text as the body paragraph, plus planted template
    * paragraphs — an exact-shared disclaimer (%3), a 4-variant
    * newsletter footer (%7), and a near-variant of the disclaimer with
    * one token appended (%11, the graftdup idiom at paragraph
    * granularity). Single-sourced with [[paraFixture]]. */
  private val ParaFixtureSql: String =
    "coalesce(text, '') || " +
      "CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) || 'all rights reserved contact support for information' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) || 'subscribe to the newsletter for weekly updates issue ' || (doc_id % 4)::VARCHAR ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN chr(10) || chr(10) || 'all rights reserved contact support for information graftdup' ELSE '' END"

  /** The same fixture as a Spark Column (value-identical to
    * [[ParaFixtureSql]] — the t58 oracle and artifact pin it). */
  private[graft] def paraFixture: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      coalesce(col("text"), lit("")),
      when(id % 3 === 0,
        "\n\nall rights reserved contact support for information").otherwise(""),
      when(id % 7 === 0, concat(
        lit("\n\nsubscribe to the newsletter for weekly updates issue "),
        id % 4)).otherwise(""),
      when(id % 11 === 0,
        "\n\nall rights reserved contact support for information graftdup")
        .otherwise(""))
  }

  /** The t58 input corpus: documents with the paragraph fixture as
    * text — shared by the query definition and the GoldenGen signature
    * artifact so they cannot diverge. */
  private[graft] def paraCorpus(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"), paraFixture.as("text"))

  /** The t59 encoding-artifact fixture (modulus fault-injection): the
    * corpus text plus planted cp1252 mojibake (%2 quotes, %3 dashes,
    * %5 accents), a stray-Â NBSP (%7), zero-width space + BOM (%11),
    * an NFD decomposed sequence (%13), control chars (%17), and
    * tab/multi-space runs (%19). Single-sourced with [[normFixture]]. */
  private val NormFixtureSql: String =
    "coalesce(text, '') || " +
      "CASE WHEN doc_id % 2 = 0 THEN ' donâ€™t say â€œno' ELSE '' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' rangeâ€“wide â€” dash' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' cafÃ© and Ã¼ber Ã±o' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' padÂ' || chr(160) || 'ded' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN ' zero' || chr(8203) || 'width ' || chr(65279) || 'bom' ELSE '' END || " +
      "CASE WHEN doc_id % 13 = 0 THEN ' nfd e' || chr(769) || ' end' ELSE '' END || " +
      "CASE WHEN doc_id % 17 = 0 THEN ' bell' || chr(7) || chr(13) || 'line' ELSE '' END || " +
      "CASE WHEN doc_id % 19 = 0 THEN ' big' || chr(9) || 'gap  two' ELSE '' END"

  /** The same fixture as a Spark Column (value-identical to
    * [[NormFixtureSql]] — the t59 oracle pins it). */
  private def normFixture: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      coalesce(col("text"), lit("")),
      when(id % 2 === 0, " donâ€™t say â€œno").otherwise(""),
      when(id % 3 === 0, " rangeâ€“wide â€” dash").otherwise(""),
      when(id % 5 === 0, " cafÃ© and Ã¼ber Ã±o").otherwise(""),
      when(id % 7 === 0, " pad\u00C2\u00A0ded").otherwise(""),
      when(id % 11 === 0, " zero\u200Bwidth \uFEFFbom").otherwise(""),
      when(id % 13 === 0, " nfd e\u0301 end").otherwise(""),
      when(id % 17 === 0, " bell\u0007\rline").otherwise(""),
      when(id % 19 === 0, " big\tgap  two").otherwise(""))
  }

  /** DuckDB replace chain / occurrence count generated from the SAME
    * repair table the engine folds
    * ([[graft.operators.TextNormalize.Repairs]]) — the two sides
    * cannot drift. Patterns contain no quotes; counts use codepoint
    * lengths, identical in both engines for BMP patterns. */
  private def normRepairSql(c: String): String =
    graft.operators.TextNormalize.Repairs.foldLeft(c) {
      case (acc, (p, r)) => s"replace($acc, '$p', '$r')" }

  private def normRepairCountSql(c: String): String =
    graft.operators.TextNormalize.Repairs.map { case (p, _) =>
      s"((length($c) - length(replace($c, '$p', ''))) // ${p.length})" }
      .mkString("(", " + ", ")")

  /** Corpus with planted near-duplicates: every document unioned with a
    * copy (id + 1,000,000) that has one token appended — guarantees the
    * near-dup detectors have real positives to find at any SF. */
  private[graft] def plantedCorpus(s: org.apache.spark.sql.SparkSession, d: String) =
    sharedCached(s, s"planted-docs:$d") {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      docs.unionAll(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text")))
    }

  /** Embedding corpus with planted near-duplicates: every vector unioned
    * with a copy (id + 1,000,000) whose first component is nudged by
    * +0.05 — cosine ≈ 0.999, so the near-dup detectors have guaranteed
    * positives at any SF (mirrors plantedCorpus for text). */
  private[graft] def plantedEmbeddings(s: org.apache.spark.sql.SparkSession, d: String) =
    sharedCached(s, s"planted-embs:$d", widen = false) {
      val embs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      embs.unionAll(embs.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")))
    }

  /** Materialize the shared corpus checkpoints ([[plantedCorpus]] +
    * [[plantedEmbeddings]]) outside any timed region. Bench calls this in
    * its untimed warm-up so the one-off checkpoint cost stops being
    * attributed to whichever query happens to run first (it wandered
    * between t16/t22/t30 across rounds, making per-query comparison
    * noisy). Verify/specs don't need it — correctness is unaffected by
    * who pays the materialization.
    *
    * `layouts = false` skips the t105/t106 clustered-table writes: a
    * scaling probe that only drives the corpus queries should not pay
    * two sorted rewrites of the full events table up front. */
  def warmShared(s: org.apache.spark.sql.SparkSession, d: String,
                 layouts: Boolean = true): Unit = {
    plantedCorpus(s, d).count()
    plantedEmbeddings(s, d).count()
    if (layouts) {
      // the t105/t106 clustered-table writes are likewise one-per-session
      // artifacts — build them here so the first layout query times the
      // READ path, not the write
      clusteredEventsCached(s, d, useHilbert = false)
      clusteredEventsCached(s, d, useHilbert = true)
    }
  }

  /** Bounded connected-components rounds for the t15/t23 oracles — the
    * t62/t83/t84/t85 chained-CTE discipline applied to CC. The naive
    * recursive min-label CTE is a TRANSITIVE CLOSURE (every (vertex,
    * reachable-label) pair — quadratic per cluster, >10 min verbatim at
    * sf0.1), so earlier rounds needed a harness-side iterative rewrite.
    * This emits `rounds` materialized hybrid rounds instead — each round
    * takes the min over (self, in-neighbors' labels, label's label);
    * the pointer-jumping third term halves label-tree depth per round
    * (Shiloach–Vishkin style), so convergence needs O(log diameter)
    * rounds, and 12 covers any component this corpus can produce by
    * orders of magnitude. The final `chk` CTE makes insufficiency LOUD:
    * if the last round still changed a label the query errors instead
    * of returning a near-fixpoint. Expects CTEs `$base(doc_id)` and
    * symmetric `edges(u, v)` in scope; binds `reach(id, lbl)` with one
    * converged row per id. */
  private def ccRounds(base: String, rounds: Int = 12): String = {
    val rs = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT l.id,
         |    least(l.lbl, coalesce(nb.mn, l.lbl), coalesce(j.lbl, l.lbl)) AS lbl
         |  FROM l${k - 1} l
         |  LEFT JOIN (SELECT e.v AS id, min(x.lbl) AS mn
         |             FROM edges e JOIN l${k - 1} x ON x.id = e.u
         |             GROUP BY e.v) nb ON nb.id = l.id
         |  LEFT JOIN l${k - 1} j ON j.id = l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM $base),
       |$rs,
       |chk AS (SELECT count(*) AS n FROM l$rounds a
       |        JOIN l${rounds - 1} b ON a.id = b.id AND a.lbl <> b.lbl),
       |reach AS (
       |  SELECT id, CASE WHEN (SELECT n FROM chk) = 0 THEN lbl
       |                  ELSE error('cc rounds insufficient') END AS lbl
       |  FROM l$rounds)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    sql("t01_token_stats")(
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE cast(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |  END AS n_tokens,
        |  cast(length(text) AS BIGINT) AS n_chars_measured
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_measured"))
        .orderBy(col("doc_id"))
    },

    sql("t02_quality_score")(
      """SELECT doc_id, n_tokens,
        |  round(symbol_ratio, 4) AS symbol_ratio,
        |  round(stop_ratio, 4) AS stop_ratio,
        |  round((least(n_tokens / 50.0, 1.0)
        |       + (1.0 - least(symbol_ratio * 5.0, 1.0))
        |       + least(stop_ratio * 5.0, 1.0)) / 3.0, 4) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE cast(len(toks) AS BIGINT) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        |           / length(text)::DOUBLE END AS symbol_ratio,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
        |           / len(toks)::DOUBLE END AS stop_ratio
        |  FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents) x) y
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          round(TextFunctions.symbolRatio(col("text")), 4).as("symbol_ratio"),
          round(TextFunctions.stopwordRatio(col("text")), 4).as("stop_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    sql("t03_language_id")(
      """SELECT doc_id, lang AS lang_labeled,
        |  CASE WHEN best < 0.02 THEN 'und'
        |       WHEN s_fr = best THEN 'fr'
        |       WHEN s_es = best THEN 'es'
        |       WHEN s_en = best THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  round(s_en, 4) AS s_en, round(s_de, 4) AS s_de,
        |  round(s_es, 4) AS s_es, round(s_fr, 4) AS s_fr
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it'))) / len(toks)::DOUBLE AS s_en,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) / len(toks)::DOUBLE AS s_de,
        |    len(list_filter(toks, t -> t IN ('el','la','los','las','es','y','en','que'))) / len(toks)::DOUBLE AS s_es,
        |    len(list_filter(toks, t -> t IN ('le','la','les','et','est','en','que','une'))) / len(toks)::DOUBLE AS s_fr,
        |    greatest(
        |      len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it'))) / len(toks)::DOUBLE,
        |      len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) / len(toks)::DOUBLE,
        |      len(list_filter(toks, t -> t IN ('el','la','los','las','es','y','en','que'))) / len(toks)::DOUBLE,
        |      len(list_filter(toks, t -> t IN ('le','la','les','et','est','en','que','une'))) / len(toks)::DOUBLE) AS best
        |  FROM (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents) x) y
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("lang_labeled"),
          TextFunctions.languageId(col("text")).as("lang_pred"),
          round(TextFunctions.langScore(col("text"), "en"), 4).as("s_en"),
          round(TextFunctions.langScore(col("text"), "de"), 4).as("s_de"),
          round(TextFunctions.langScore(col("text"), "es"), 4).as("s_es"),
          round(TextFunctions.langScore(col("text"), "fr"), 4).as("s_fr"))
        .orderBy(col("doc_id"))
    },

    sql("t04_fingerprint")(
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    sql("t05_jaccard_consecutive")(
      """SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |  round(len(list_intersect(a.ws, b.ws))::DOUBLE
        |        / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard
        |FROM (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS ws
        |      FROM documents) a
        |JOIN (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS ws
        |      FROM documents) b ON b.doc_id = a.doc_id + 1
        |ORDER BY left_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id").as("left_id"), col("text").as("la"))
      val b = docs.select(col("doc_id").as("right_id"), col("text").as("rb"))
      a.join(b, col("right_id") === col("left_id") + 1)
        .select(col("left_id"), col("right_id"),
          round(TextFunctions.jaccard(col("la"), col("rb")), 4).as("jaccard"))
        .orderBy(col("left_id"))
    },

    sql("t06_exact_dedup")(
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp, doc_id
        |      FROM documents) t
        |GROUP BY fp
        |ORDER BY fp""") { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "text", "doc_id").orderBy(col("fp"))
    },

    // MinHash-LSH near-dup: the engine buckets on xxhash64 of each
    // signature band SLICE, and bucket equality ⟺ slice equality (a
    // 64-bit hash collision between different slices could only ADD a
    // candidate — and the hash-compare on the fixed corpora would
    // surface it) — so the oracle replays band collision as SLICE
    // equality straight from the committed per-doc signature artifact
    // (golden/<sf>/t07_sigs.parquet), then recomputes the signature
    // match fraction AND the exact token-set Jaccard verify from the
    // corpus text itself (the t09 idioms). Only the xxhash64 signature
    // stays artifact-gated (GoldenSpec parity + native-expression
    // specs); candidate selection, estimation, verification, and the
    // threshold are all re-derived in DuckDB.
    sql("t07_minhash_neardup") {
      val nh = graft.GoldenGen.ModelParams.MinHashes
      val bands = graft.GoldenGen.ModelParams.MinHashBands
      val rows = nh / bands
      s"""WITH sigs AS (${graft.GoldenGen.artifactSql("t07_sigs")}),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents
        |),
        |banded AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(sig, b.band * $rows + 1, b.band * $rows + $rows), ',') AS slice,
        |    b.band AS band
        |  FROM sigs, (SELECT unnest(range($bands)) AS band) b
        |),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM banded l JOIN banded r ON l.band = r.band AND l.slice = r.slice
        |  WHERE l.doc_id < r.doc_id
        |),
        |est AS (
        |  SELECT c.left_id, c.right_id,
        |    round(len(list_filter(range($nh), i -> a.sig[i+1] = b.sig[i+1])) / $nh.0, 4) AS est_jaccard
        |  FROM cand c
        |  JOIN sigs a ON a.doc_id = c.left_id
        |  JOIN sigs b ON b.doc_id = c.right_id
        |),
        |ws AS (
        |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS words
        |  FROM corpus
        |)
        |SELECT e.left_id, e.right_id, e.est_jaccard,
        |  round(len(list_intersect(a.words, b.words))::DOUBLE
        |        / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))), 4) AS jaccard
        |FROM est e
        |JOIN ws a ON a.doc_id = e.left_id
        |JOIN ws b ON b.doc_id = e.right_id
        |WHERE round(len(list_intersect(a.words, b.words))::DOUBLE
        |        / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))), 4) >= 0.5
        |ORDER BY left_id, right_id""".stripMargin
    } { (s, d) =>
      Dedup.minHashPairs(plantedCorpus(s, d), "text", "doc_id",
        numHashes = graft.GoldenGen.ModelParams.MinHashes,
        bands = graft.GoldenGen.ModelParams.MinHashBands)
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("left_id"), col("right_id"))
    },

    // blocks = maxHamming + 1 → pigeonhole-COMPLETE recall, so the
    // blocked self-join's output is EXACTLY "all pairs within Hamming
    // radius" — which the oracle replays brute-force from the committed
    // per-doc signature artifact (golden/<sf>/t08_sigs.parquet) with
    // bit_count(xor(...)); only the xxhash64-based signature itself
    // stays artifact-gated (parity-pinned by GoldenSpec + the native
    // expression specs).
    sql("t08_simhash_neardup")(
      s"""WITH sigs AS (${graft.GoldenGen.artifactSql("t08_sigs")})
        |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${graft.GoldenGen.ModelParams.SimHamming}
        |ORDER BY left_id, right_id""".stripMargin) { (s, d) =>
      // auto-sized blocking (r17): one-block 9-bit keys saturate on
      // correlated corpora — simHashPlan widens the keys with the
      // corpus while staying capless (exact) at every oracle scale;
      // the `capped` exactness marker (false here by that contract —
      // spec-pinned) is metadata, not answer, so the golden projection
      // drops it
      Dedup.simHashPairsBudgeted(plantedCorpus(s, d), "text", "doc_id",
        maxHamming = graft.GoldenGen.ModelParams.SimHamming)
        .drop("capped")
        .orderBy(col("left_id"), col("right_id"))
    },

    // fully deterministic set arithmetic → DuckDB-oracled end to end
    // (blocking on rare shingles, distinct candidate pairs, exact
    // token-set jaccard >= 0.6), unlike the hash-based detectors
    sql("t09_shingle_jaccard_neardup")(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM corpus
        |),
        |shingles AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks
        |),
        |doc_sh AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM shingles
        |),
        |rare AS (
        |  SELECT shingle FROM doc_sh GROUP BY shingle
        |  HAVING count(*) BETWEEN 2 AND 20
        |),
        |blocked AS (
        |  SELECT d.doc_id, d.shingle FROM doc_sh d JOIN rare r USING (shingle)
        |),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM blocked l JOIN blocked r USING (shingle)
        |  WHERE l.doc_id < r.doc_id
        |),
        |ws AS (
        |  SELECT doc_id, list_distinct(ts) AS words, len(list_distinct(ts)) AS n FROM toks
        |)
        |SELECT c.left_id, c.right_id,
        |  round(len(list_intersect(a.words, b.words))::DOUBLE
        |        / (a.n + b.n - len(list_intersect(a.words, b.words))), 4) AS jaccard
        |FROM cand c
        |JOIN ws a ON a.doc_id = c.left_id
        |JOIN ws b ON b.doc_id = c.right_id
        |WHERE round(len(list_intersect(a.words, b.words))::DOUBLE
        |        / (a.n + b.n - len(list_intersect(a.words, b.words))), 4) >= 0.6
        |ORDER BY left_id, right_id""") { (s, d) =>
      Dedup.jaccardPairs(plantedCorpus(s, d), "text", "doc_id", threshold = 0.6)
        .orderBy(col("left_id"), col("right_id"))
    },

    sql("t10_cosine_scores")(
      """SELECT vec_id,
        |  round(list_dot_product(embedding::DOUBLE[], q)
        |        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(q, q))), 4) AS cosine_sim
        |FROM embeddings,
        |     (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0) qq
        |ORDER BY vec_id""") { (s, d) =>
      Similarity.scoreAgainst(Tables.embeddings(s, d), "vec_id", "embedding", 0L)
        .orderBy(col("vec_id"))
    },

    sql("t11_cosine_topk")(
      """SELECT vec_id, cosine_sim FROM (
        |  SELECT vec_id,
        |    round(list_dot_product(embedding::DOUBLE[], q)
        |          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(q, q))), 4) AS cosine_sim
        |  FROM embeddings,
        |       (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0) qq
        |  WHERE vec_id <> 0) t
        |ORDER BY cosine_sim DESC, vec_id
        |LIMIT 20""") { (s, d) =>
      Similarity.topK(Tables.embeddings(s, d), "vec_id", "embedding", 0L, 20)
    },

    sql("t14_mean_word_length")(
      """SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE round(list_sum(list_transform(toks, t -> length(t)))
        |              / len(toks)::DOUBLE, 4) END AS mean_word_len
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents) t
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(TextFunctions.meanWordLength(col("text")), 4).as("mean_word_len"))
        .orderBy(col("doc_id"))
    },

    // dedup CLUSTER RESOLUTION: near-dup pairs -> connected components ->
    // per-document cluster_id (component min; itself for singletons).
    // Spark side runs alternating large-star/small-star; the oracle
    // reproduces the same fixpoint over the identical pair graph with
    // BOUNDED materialized min-label rounds ([[ccRounds]]) — tractable
    // verbatim at every SF (~30 s at sf0.1, where the earlier recursive
    // CTE needed >10 min and a harness-side rewrite) and loud if the
    // round count were ever insufficient.
    sql("t15_dedup_clusters")(
      raw"""WITH
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM corpus
        |),
        |shingles AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks
        |),
        |doc_sh AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM shingles
        |),
        |rare AS (
        |  SELECT shingle FROM doc_sh GROUP BY shingle
        |  HAVING count(*) BETWEEN 2 AND 20
        |),
        |blocked AS (
        |  SELECT d.doc_id, d.shingle FROM doc_sh d JOIN rare r USING (shingle)
        |),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM blocked l JOIN blocked r USING (shingle)
        |  WHERE l.doc_id < r.doc_id
        |),
        |ws AS (
        |  SELECT doc_id, list_distinct(ts) AS words, len(list_distinct(ts)) AS n FROM toks
        |),
        |pairs AS (
        |  SELECT c.left_id, c.right_id
        |  FROM cand c
        |  JOIN ws a ON a.doc_id = c.left_id
        |  JOIN ws b ON b.doc_id = c.right_id
        |  WHERE round(len(list_intersect(a.words, b.words))::DOUBLE
        |        / (a.n + b.n - len(list_intersect(a.words, b.words))), 4) >= 0.8
        |),
        |edges AS MATERIALIZED (
        |  SELECT left_id AS u, right_id AS v FROM pairs
        |  UNION
        |  SELECT right_id, left_id FROM pairs
        |),
        |${ccRounds("corpus")}
        |SELECT id AS doc_id, min(lbl) AS cluster_id
        |FROM reach GROUP BY id
        |ORDER BY doc_id""") { (s, d) =>
      val corpus = plantedCorpus(s, d)
      val pairs = Dedup.jaccardPairs(corpus, "text", "doc_id", threshold = 0.8)
      ConnectedComponents.clusters(corpus, "doc_id", pairs)
        .orderBy(col("doc_id"))
    },

    // per-language quality-percentile pruning: keep each language's top
    // half by composite quality score — the standard "quality filter with
    // per-stratum thresholds" shape (a global threshold would starve
    // low-resource languages). percent_rank + doc_id tiebreak is fully
    // deterministic in both engines.
    sql("t16_quality_percentile")(
      """SELECT doc_id, lang, quality,
        |       round(pr, 4) AS pr
        |FROM (
        |  SELECT d.doc_id, d.lang, q.quality,
        |    percent_rank() OVER (PARTITION BY d.lang ORDER BY q.quality, d.doc_id) AS pr
        |  FROM documents d
        |  JOIN (
        |    SELECT doc_id,
        |      round((least(n_tokens / 50.0, 1.0)
        |           + (1.0 - least(symbol_ratio * 5.0, 1.0))
        |           + least(stop_ratio * 5.0, 1.0)) / 3.0, 4) AS quality
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE cast(len(toks) AS BIGINT) END AS n_tokens,
        |        CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        |               / length(text)::DOUBLE END AS symbol_ratio,
        |        CASE WHEN len(toks) = 0 THEN 0.0
        |             ELSE len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
        |               / len(toks)::DOUBLE END AS stop_ratio
        |      FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks
        |            FROM documents) x) y) q ON q.doc_id = d.doc_id) z
        |WHERE round(pr, 4) >= 0.5
        |ORDER BY doc_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // TWO-LEVEL rank (100× probe: the direct per-lang percent_rank
      // sorts whole strata in |langs| tasks — corpus-sized partitions
      // that spill and re-merge, cpu growing ~2× faster than data).
      // With the unique (quality, doc_id) ordering,
      //   rank − 1 = (# rows below this quality) + (tie rank by doc_id)
      // and the below-counts live on the (lang, quality) AGGREGATE —
      // structurally bounded (4-dp score in [0,1] → ≤ 10 001 values per
      // lang), so its cumulative window and the broadcast back are
      // control-plane. The only corpus-side window partitions by
      // (lang, quality): tie-group-sized tasks, not stratum-sized.
      // (B + W)/(n−1) is the same double division percent_rank emits —
      // bit-identical, oracle unchanged.
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("quality"))
      val wb = Window.partitionBy(col("lang")).orderBy(col("quality"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val below = scored.groupBy(col("lang"), col("quality"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__below", coalesce(sum(col("__c")).over(wb), lit(0L)))
        .withColumn("__n",
          sum(col("__c")).over(Window.partitionBy(col("lang"))))
        .drop("__c")
      val wTie = Window.partitionBy(col("lang"), col("quality"))
        .orderBy(col("doc_id"))
      scored.join(broadcast(below), Seq("lang", "quality"))
        .withColumn("pr", round(
          when(col("__n") > 1,
            (col("__below") + row_number().over(wTie) - 1).cast("double")
              / (col("__n") - 1))
            .otherwise(lit(0.0)), 4))
        .filter(col("pr") >= 0.5)
        .select(col("doc_id"), col("lang"), col("quality"), col("pr"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signal: fraction of a document's bigrams
    // claimed by its single most repeated bigram (raw n-grams, duplicates
    // kept). Per-document computation, so it runs AT THE SCAN via the
    // graft_rep_ratio kernel — no explode, no (doc_id, bigram-text)
    // exchange (the relational form shuffled one row per bigram
    // occurrence: measured 2 628 cpu-s / 93 s wall at the 100× probe
    // corpus vs ~linear for the kernel; see expr/TextExpressions
    // RepRatio). Rounding stays in the query to mirror the oracle.
    sql("t17_repetition_ratio")(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
        |),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)),
        |      i -> array_to_string(ts[i:i+1], ' '))) AS bg
        |  FROM toks WHERE len(ts) >= 2
        |),
        |cnt AS (
        |  SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg
        |),
        |agg AS (
        |  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS rep_ratio
        |  FROM cnt GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.rep_ratio, 0.0) AS rep_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          coalesce(
            round(call_function("graft_rep_ratio", col("text"), lit(2)), 4),
            lit(0.0)).as("rep_ratio"))
        .orderBy(col("doc_id"))
    },

    // PII redaction over a corpus with deterministically planted
    // emails/ids (the synthetic corpus has none): every 5th document gets
    // a contact line appended — identically in both engines — then
    // redaction masks emails and long digit runs and counts the hits.
    sql("t18_pii_redaction")(
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN text || ' contact user' || cast(doc_id AS VARCHAR)
        |              || '@example.com ref ' || cast(doc_id * 1000000 + 123456789 AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{9,}', '<ID>', 'g') AS redacted,
        |  cast(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  cast(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_ids
        |FROM corpus
        |ORDER BY doc_id""") { (s, d) =>
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val idRe = "[0-9]{9,}"
      val corpus = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com ref "),
            (col("doc_id") * 1000000 + 123456789).cast("string")))
          .otherwise(col("text")).as("text"))
      corpus.select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          idRe, "<ID>").as("redacted"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(idRe)).cast("long").as("n_ids"))
        .orderBy(col("doc_id"))
    },

    // top-3 non-stopword terms per document (term-frequency feature
    // extraction): counts shuffle as (doc_id, term) pairs; the window
    // ranks within each doc with a full deterministic tiebreak.
    sql("t19_top_terms")(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |),
        |flt AS (
        |  SELECT doc_id, t FROM tok
        |  WHERE t NOT IN ('the','a','an','and','or','of','to','in','is','it')
        |),
        |cnt AS (
        |  SELECT doc_id, t, count(*) AS c FROM flt GROUP BY doc_id, t
        |),
        |rk AS (
        |  SELECT doc_id, t, c,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rn
        |  FROM cnt
        |)
        |SELECT doc_id, t AS term, c AS term_count, cast(rn AS INT) AS rank
        |FROM rk WHERE rn <= 3
        |ORDER BY doc_id, rank""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("c").desc, col("t"))
      Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("t"))
        .filter(!col("t").isInCollection(TextFunctions.Stopwords))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("t").as("term"),
          col("c").as("term_count"), col("rn").as("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // TF-IDF feature extraction: per-(doc, term) counts joined with the
    // corpus document-frequency table and the (broadcast, single-row)
    // corpus size — the classic two-level aggregation whose only wide
    // stages shuffle (doc_id, term) / (term) pairs. Top-3 per doc with
    // full deterministic tiebreaks.
    sql("t20_tfidf_top_terms")(
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
        |),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM docs
        |),
        |tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t
        |),
        |dfreq AS (
        |  SELECT t, count(*) AS df FROM tf GROUP BY t
        |),
        |n AS (SELECT count(*) AS n_docs FROM docs),
        |scored AS (
        |  SELECT tf.doc_id, tf.t, tf.tf,
        |    round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfreq.df + 1)) + 1), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (t) CROSS JOIN n
        |),
        |rk AS (
        |  SELECT doc_id, t, tf, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, t) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, t AS term, cast(tf AS BIGINT) AS tf, tfidf,
        |  cast(rn AS INT) AS rank
        |FROM rk WHERE rn <= 3
        |ORDER BY doc_id, rank""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
      val tf = docs
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("t"))
      // dfreq is VOCABULARY-sized (one row per distinct term) while tf is
      // corpus-sized: broadcasting it keeps the 100×-probe's measured
      // skew off the term join — a shuffled term join hashes every
      // (doc, term) row into ~|vocab| keys, and the hot terms serialize
      tf.join(broadcast(dfreq), Seq("t")).crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * (log((col("n_docs") + 1).cast("double")
            / (col("df") + 1)) + 1), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("t").as("term"), col("tf"),
          col("tfidf"), col("rn").as("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // per-label embedding centroids in long form (label, position, mean)
    // — the vector aggregation underlying k-means/IVF training. The
    // posexplode stream is (label, pos, component): fixed 64x
    // amplification of skinny rows, map-side partial averages, one
    // shuffle on (label, pos).
    // `+ 0.0` after round: embedding components are signed with near-zero
    // means, and the two engines sum rows in different orders — a mean of
    // ±1e-18 rounds to -0.0 in one engine and 0.0 in the other, which the
    // driver's text hash distinguishes. x + 0.0 maps -0.0 → 0.0 (IEEE)
    // and is the identity elsewhere; applied in BOTH engines.
    sql("t21_embedding_centroids")(
      """SELECT label, i - 1 AS pos,
        |  round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS centroid,
        |  cast(count(*) AS BIGINT) AS n_vectors
        |FROM (
        |  SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings) t
        |GROUP BY label, i
        |ORDER BY label, pos""") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((round(avg(col("v").cast("double")), 4) + 0.0).as("centroid"),
          count(lit(1)).as("n_vectors"))
        .select(col("label"), col("pos").cast("long").as("pos"),
          col("centroid"), col("n_vectors"))
        .orderBy(col("label"), col("pos"))
    },

    // deterministic stratified sampling: N docs per language, selected
    // by content-hash order — the reproducible "training mixture" sample
    // (hash order is engine-independent, so both engines pick the same
    // rows; a per-stratum window is one shuffle on lang).
    sql("t22_stratified_sample")(
      """SELECT doc_id, lang, cast(rn AS INT) AS rn
        |FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 50
        |ORDER BY lang, rn""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")).asc_nulls_last, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    },

    // the ENTIRE curation pipeline oracled end-to-end: quality gate →
    // exact dedup → shingle-Jaccard near-dup connected components →
    // canonical keep → per-language hash-order sample, all mirrored in
    // one DuckDB SQL (CC via bounded [[ccRounds]], tractable verbatim
    // at every SF). The strongest correctness artifact in the suite:
    // four composed operators, one hash-compared answer.
    sql("t23_curation_pipeline")(
      raw"""WITH
        |scored AS (
        |  SELECT doc_id,
        |    round((least(n_tokens / 50.0, 1.0)
        |         + (1.0 - least(symbol_ratio * 5.0, 1.0))
        |         + least(stop_ratio * 5.0, 1.0)) / 3.0, 4) AS quality
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE cast(len(toks) AS BIGINT) END AS n_tokens,
        |      CASE WHEN length(text) = 0 THEN 0.0
        |           ELSE (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        |             / length(text)::DOUBLE END AS symbol_ratio,
        |      CASE WHEN len(toks) = 0 THEN 0.0
        |           ELSE len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
        |             / len(toks)::DOUBLE END AS stop_ratio
        |    FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks
        |          FROM documents) x) y
        |),
        |quality AS (
        |  SELECT d.doc_id, d.lang, d.text
        |  FROM documents d JOIN scored q ON q.doc_id = d.doc_id
        |  WHERE q.quality >= 0.3
        |),
        |exact AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |      min(doc_id) OVER (PARTITION BY
        |        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS keep_id
        |    FROM quality) t
        |  WHERE doc_id = keep_id
        |),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM exact
        |),
        |shingles AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks
        |),
        |doc_sh AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM shingles
        |),
        |rare AS (
        |  SELECT shingle FROM doc_sh GROUP BY shingle
        |  HAVING count(*) BETWEEN 2 AND 20
        |),
        |blocked AS (
        |  SELECT d.doc_id, d.shingle FROM doc_sh d JOIN rare r USING (shingle)
        |),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM blocked l JOIN blocked r USING (shingle)
        |  WHERE l.doc_id < r.doc_id
        |),
        |ws AS (
        |  SELECT doc_id, list_distinct(ts) AS words, len(list_distinct(ts)) AS n FROM toks
        |),
        |pairs AS (
        |  SELECT c.left_id, c.right_id
        |  FROM cand c
        |  JOIN ws a ON a.doc_id = c.left_id
        |  JOIN ws b ON b.doc_id = c.right_id
        |  WHERE round(len(list_intersect(a.words, b.words))::DOUBLE
        |        / (a.n + b.n - len(list_intersect(a.words, b.words))), 4) >= 0.8
        |),
        |edges AS MATERIALIZED (
        |  SELECT left_id AS u, right_id AS v FROM pairs
        |  UNION
        |  SELECT right_id, left_id FROM pairs
        |),
        |${ccRounds("exact")},
        |cc AS (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
        |),
        |canonical AS (
        |  SELECT e.doc_id, e.lang, e.text
        |  FROM exact e JOIN cc ON cc.doc_id = e.doc_id
        |  WHERE cc.doc_id = cc.cluster_id
        |),
        |ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM canonical
        |)
        |SELECT doc_id, lang, cast(rn AS INT) AS rn
        |FROM ranked WHERE rn <= 50
        |ORDER BY lang, rn""") { (s, d) =>
      graft.apps.CurationPipeline.curate(Tables.documents(s, d),
        minQuality = 0.3, jaccardThreshold = 0.8, samplePerLang = 50)
    },

    // benchmark DECONTAMINATION: flag documents sharing at least one
    // 8-gram with an "eval set" (deterministically carved from the
    // corpus: every 97th doc). The eval n-gram set is tiny at any
    // corpus scale, so it broadcasts — the fact side never shuffles
    // for the membership test.
    sql("t24_decontamination")(
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
        |),
        |bench_ng AS (
        |  SELECT DISTINCT ng FROM (
        |    SELECT unnest(
        |      CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |           ELSE list_distinct(list_transform(range(1, len(ts) - 6),
        |                  i -> array_to_string(ts[i:i+7], ' ')))
        |      END) AS ng
        |    FROM (SELECT string_split_regex(trim(text), '\s+') AS ts FROM bench) b)
        |),
        |doc_ng AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 6),
        |                i -> array_to_string(ts[i:i+7], ' ')))
        |    END) AS ng
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |        FROM documents) t
        |),
        |flagged AS (
        |  SELECT DISTINCT doc_id FROM doc_ng JOIN bench_ng USING (ng)
        |)
        |SELECT d.doc_id, (f.doc_id IS NOT NULL) AS contaminated
        |FROM documents d LEFT JOIN flagged f USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val benchNg = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(TextFunctions.shingles(col("text"), 8)).as("ng"))
        .distinct()
      val flagged = docs
        .select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 8)).as("ng"))
        .join(broadcast(benchNg), Seq("ng"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("__c", lit(true))
      docs.select(col("doc_id")).join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__c"), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    },

    // FULL SQL oracle over the committed hyperplane-sign artifact
    // (golden/models/t12_hyperplanes.parquet, a pure function of
    // (table, bit, dim) — graft.GoldenGen.modelFrame): DuckDB recomputes
    // every vector's 6-bit signature per table (bit b set iff the
    // Rademacher projection is STRICTLY positive, matching
    // expr.LshBuckets), joins candidates on the query's exact
    // (tbl, bucket) pairs, and replays cosine top-k — so bucketing,
    // candidate selection, scoring, and ranking are all independently
    // verified; nothing engine-generated remains but the ±1 sign matrix.
    sql("t12_ann_lsh_topk")(
      s"""WITH planes AS (${graft.GoldenGen.hyperplaneArtifactSql}),
        |b AS (
        |  SELECT e.vec_id, p.tbl,
        |    sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.signs) > 0
        |             THEN (1::BIGINT << p.bit) ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings e CROSS JOIN planes p
        |  GROUP BY e.vec_id, p.tbl),
        |qb AS (SELECT tbl, bucket FROM b WHERE vec_id = 0),
        |cand AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
        |  WHERE b.vec_id <> 0),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.qv)
        |        / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
        |FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, q
        |ORDER BY cosine_sim DESC, e.vec_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      import graft.GoldenGen.ModelParams._
      Similarity.annTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        dims = Dims, queryId = 0L, k = 20, bits = LshBits, tables = LshTables)
    },

    // AUTO-SIZED LSH (round 13): the query runs the production entry
    // point — Similarity.nearDupPairsBudgeted sizes (bits, tables) from the
    // corpus count via lshPlan (occupancy-driven bits keep candidates
    // LINEAR in n; recall-driven tables hold the 0.9 bound at that
    // width), the exact path a 100 TB corpus must take. The committed
    // per-SF bucket artifact is generated at the SAME plan
    // (GoldenGen.nearDupPlan — one derivation), so the oracle
    // reconstructs the planted corpus in SQL (the float nudge is
    // bit-exact: FLOAT + FLOAT), reads the artifact, and replays
    // candidate selection + the cosine verify at the sized width — the
    // SQL itself is width-independent. Fixed-bits nearDupPairs remains
    // the spec'd deterministic primitive (SimilaritySpec planted-recall
    // cases unchanged).
    sql("t13_embedding_neardup")(
      s"""WITH buckets AS (${graft.GoldenGen.artifactSql("t13_buckets")}),
        |emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    ([ (embedding[1]::FLOAT + 0.05::FLOAT) ] || embedding[2:])::DOUBLE[] AS v
        |  FROM embeddings),
        |cand AS (
        |  SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
        |  FROM buckets l JOIN buckets r ON l.tbl = r.tbl AND l.bucket = r.bucket
        |  WHERE l.vec_id < r.vec_id)
        |SELECT c.left_id, c.right_id,
        |  round(list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v))
        |           * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine_sim
        |FROM cand c JOIN emb a ON a.vec_id = c.left_id
        |            JOIN emb b ON b.vec_id = c.right_id
        |WHERE round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))), 4)
        |      >= ${graft.GoldenGen.ModelParams.NearDupThreshold}
        |ORDER BY left_id, right_id""".stripMargin) { (s, d) =>
      import graft.GoldenGen.ModelParams._
      Similarity.nearDupPairsBudgeted(plantedEmbeddings(s, d), "vec_id",
          "embedding", dims = Dims, threshold = NearDupThreshold,
          targetRecall = NearDupTargetRecall,
          targetBucketSize = NearDupBucketSize)
        .drop("capped") // exactness marker, not answer (capless here)
        .orderBy(col("left_id"), col("right_id"))
    },

    // IVF ANN — the k-means-centroid scale path next to t12's LSH one.
    // Training is deterministic by construction (lowest-id init, fixed
    // iterations, rounded means) and its result is COMMITTED as the
    // per-SF centroid artifact (golden/<sf>/t25_centroids.parquet);
    // everything downstream — nearest-centroid assignment (argmax
    // cosine, FIRST max on ties, zero denominator → 0, matching
    // expr.CentroidKernel), the query's nprobe=2 probe ranking, cosine
    // scoring, and top-k — is replayed from it in FULL DuckDB SQL, so
    // training drift or scoring bugs both surface as hash mismatches.
    sql("t25_ivf_topk")(
      s"""WITH cents AS (${graft.GoldenGen.artifactSql("t25_centroids")}),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |csim AS (
        |  SELECT c.cluster,
        |    CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
        |              * sqrt(list_dot_product(c.centroid, c.centroid)) = 0 THEN 0.0
        |         ELSE list_dot_product(q.qv, c.centroid)
        |              / (sqrt(list_dot_product(q.qv, q.qv))
        |                 * sqrt(list_dot_product(c.centroid, c.centroid))) END AS sim
        |  FROM cents c, q),
        |probes AS (
        |  SELECT cluster FROM (
        |    SELECT cluster, row_number() OVER (ORDER BY sim DESC, cluster) AS rn
        |    FROM csim) t
        |  WHERE rn <= 2),
        |assign AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                  * sqrt(list_dot_product(c.centroid, c.centroid)) = 0 THEN 0.0
        |             ELSE list_dot_product(e.embedding::DOUBLE[], c.centroid)
        |                  / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                     * sqrt(list_dot_product(c.centroid, c.centroid))) END DESC,
        |        c.cluster) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.qv)
        |        / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
        |FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
        |WHERE a.cluster IN (SELECT cluster FROM probes) AND e.vec_id <> 0
        |ORDER BY cosine_sim DESC, e.vec_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      import graft.GoldenGen.ModelParams._
      graft.operators.IvfIndex.scanTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = Dims, queryId = 0L, k = 20,
        kClusters = IvfClusters, iters = IvfIters, nprobe = IvfProbe)
    },

    // product-quantization ANN (operators/PqIndex): corpus stored as m=8
    // codeword ids, query scored with 8 table lookups per row
    // (graft_pq_adc in the scan stage), exact re-rank of k·refine
    // candidates. Deterministic training → committed per-SF codebook
    // artifact (golden/<sf>/t40_codebooks.parquet); the oracle replays
    // ENCODING (per-subspace argmin L2, FIRST min on ties, matching
    // expr.PqKernel), the query's ADC table, the rounded
    // approx-distance k·refine=80 candidate cut, and the exact-L2
    // re-rank — all in FULL DuckDB SQL.
    sql("t40_pq_topk")(
      s"""WITH cbs AS (${graft.GoldenGen.artifactSql("t40_codebooks")}),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |enc AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT e.vec_id, cb.j, cb.code,
        |      row_number() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
        |        list_sum(list_transform(range(8), d ->
        |          (e.embedding[cb.j*8 + d + 1]::DOUBLE - cb.cw[d + 1])^2)),
        |        cb.code) AS rn
        |    FROM embeddings e CROSS JOIN cbs cb) t
        |  WHERE rn = 1),
        |adc AS (
        |  SELECT cb.j, cb.code,
        |    list_sum(list_transform(range(8), d ->
        |      (q.qv[cb.j*8 + d + 1] - cb.cw[d + 1])^2)) AS dist
        |  FROM cbs cb, q),
        |approx AS (
        |  SELECT en.vec_id, round(sum(a.dist), 4) AS approx_l2sq
        |  FROM enc en JOIN adc a ON en.j = a.j AND en.code = a.code
        |  GROUP BY en.vec_id),
        |cand AS (
        |  SELECT vec_id, approx_l2sq FROM approx WHERE vec_id <> 0
        |  ORDER BY approx_l2sq, vec_id LIMIT 80)
        |SELECT c.vec_id, c.approx_l2sq,
        |  round(list_sum(list_transform(range(64), d ->
        |    (e.embedding[d + 1]::DOUBLE - q.qv[d + 1])^2)), 4) AS l2_sq
        |FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
        |ORDER BY l2_sq, c.vec_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      import graft.GoldenGen.ModelParams._
      graft.operators.PqIndex.scanTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = Dims, queryId = 0L, k = 20,
        m = PqM, kCodes = PqCodes, iters = PqIters, refine = PqRefine)
    },

    // substring-containment dedup (exact-inclusion stage): planted
    // wrapper documents ('pre ' || text || ' post', id + 2,000,000)
    // guarantee positives; pure set arithmetic + contains() → FULL
    // DuckDB oracle, same rare-shingle blocking as t09
    sql("t26_containment_dedup")(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'pre ' || text || ' post' FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM corpus
        |),
        |shingles AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks
        |),
        |doc_sh AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM shingles
        |),
        |rare AS (
        |  SELECT shingle FROM doc_sh GROUP BY shingle
        |  HAVING count(*) BETWEEN 2 AND 20
        |),
        |blocked AS (
        |  SELECT d.doc_id, d.shingle FROM doc_sh d JOIN rare r USING (shingle)
        |),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM blocked l JOIN blocked r USING (shingle)
        |  WHERE l.doc_id < r.doc_id
        |),
        |pairs AS (
        |  SELECT c.left_id AS contained_id, c.right_id AS container_id
        |  FROM cand c
        |  JOIN corpus a ON a.doc_id = c.left_id
        |  JOIN corpus b ON b.doc_id = c.right_id
        |  WHERE length(a.text) <= length(b.text) AND contains(b.text, a.text)
        |  UNION ALL
        |  SELECT c.right_id, c.left_id
        |  FROM cand c
        |  JOIN corpus a ON a.doc_id = c.left_id
        |  JOIN corpus b ON b.doc_id = c.right_id
        |  WHERE length(b.text) <= length(a.text) AND contains(a.text, b.text)
        |)
        |SELECT contained_id, container_id FROM pairs
        |ORDER BY contained_id, container_id""") { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = shared(docs.unionAll(docs.select(
        (col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("pre "), col("text"), lit(" post")).as("text"))))
      Dedup.containmentPairs(corpus, "text", "doc_id")
        .orderBy(col("contained_id"), col("container_id"))
    },

    // bigram LM surprisal (CCNet-style LM quality filter): add-one
    // smoothed corpus bigram model, mean -ln p per document — pure
    // count arithmetic + ln, fully DuckDB-oracled
    sql("t27_lm_surprisal")(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, unnest(range(1, len(ts))) AS t(i)
        |  WHERE len(ts) >= 2
        |),
        |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |v AS (SELECT count(*) AS v FROM uni),
        |scored AS (
        |  SELECT bg.doc_id,
        |    cast(count(*) AS BIGINT) AS n_bigrams,
        |    round(avg(-ln((bi.c12 + 1.0) / (uni.c1 + v.v))), 4) AS surprisal
        |  FROM bg
        |  JOIN bi USING (w1, w2)
        |  JOIN uni USING (w1)
        |  CROSS JOIN v
        |  GROUP BY bg.doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  coalesce(s.surprisal, 0.0) AS surprisal
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      graft.operators.LmScore.surprisal(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // SemDeDup (embedding-space semantic dedup): k-means clusters +
    // within-cluster cosine prune against lower-id vectors. Training is
    // the deterministic IVF k-means, so golden-oracle-able; the planted
    // +0.05 near-dup copies guarantee every detector run has real
    // positives to prune (cos ≈ 0.999 ≥ 0.9).
    // SemDeDup — k-means training exported as the per-SF centroid
    // artifact (trained on the PLANTED corpus); the oracle replays
    // assignment (argmax cosine, first-max ties — the t25 idiom),
    // the within-cluster earlier-neighbor max-cosine, and the prune
    // verdict in FULL DuckDB SQL.
    sql("t28_semdedup")(
      s"""WITH cents AS (${graft.GoldenGen.artifactSql("t28_centroids")}),
        |emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    ([ (embedding[1]::FLOAT + 0.05::FLOAT) ] || embedding[2:])::DOUBLE[] AS v
        |  FROM embeddings),
        |assign AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        CASE WHEN sqrt(list_dot_product(e.v, e.v))
        |                  * sqrt(list_dot_product(c.centroid, c.centroid)) = 0 THEN 0.0
        |             ELSE list_dot_product(e.v, c.centroid)
        |                  / (sqrt(list_dot_product(e.v, e.v))
        |                     * sqrt(list_dot_product(c.centroid, c.centroid))) END DESC,
        |        c.cluster) AS rn
        |    FROM emb e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |prev AS (
        |  SELECT a2.vec_id AS id,
        |    round(list_dot_product(ea.v, eb.v)
        |          / (sqrt(list_dot_product(ea.v, ea.v))
        |             * sqrt(list_dot_product(eb.v, eb.v))), 4) AS sim
        |  FROM assign a2
        |  JOIN assign b2 ON a2.cluster = b2.cluster AND b2.vec_id < a2.vec_id
        |  JOIN emb ea ON ea.vec_id = a2.vec_id
        |  JOIN emb eb ON eb.vec_id = b2.vec_id),
        |agg AS (SELECT id, max(sim) AS m FROM prev GROUP BY id)
        |SELECT a3.vec_id, a3.cluster,
        |  coalesce(g.m, -2.0) AS max_sim_prev,
        |  (coalesce(g.m, -2.0) >= ${graft.GoldenGen.ModelParams.SemThreshold}) AS pruned
        |FROM assign a3 LEFT JOIN agg g ON g.id = a3.vec_id
        |ORDER BY a3.vec_id""".stripMargin) { (s, d) =>
      // PRODUCTION path (round 14): auto-scaled cluster count — the
      // same GoldenGen.semDedupK derivation that sized the committed
      // centroid artifact (resolves to the 16-cluster floor at every
      // driver SF, so the artifact and oracle replay are unchanged;
      // at the 100× probe corpus k grows to 98 and the within-cluster
      // quadratic term stays bounded by the target cluster size).
      SemDedup.pruneAuto(plantedEmbeddings(s, d), "vec_id", "embedding",
          dims = graft.GoldenGen.ModelParams.Dims,
          threshold = graft.GoldenGen.ModelParams.SemThreshold,
          targetClusterSize = graft.GoldenGen.ModelParams.SemTargetClusterSize,
          iters = graft.GoldenGen.ModelParams.IvfIters,
          minK = graft.GoldenGen.ModelParams.IvfClusters)
        .orderBy(col("vec_id"))
    },

    // sequence packing (concatenate-then-chunk): per (lang, doc_id%4)
    // stream, cumulative token offsets cut into 128-token context
    // windows — pure integer window arithmetic, fully SQL-oracled
    sql("t29_sequence_pack")(
      """WITH t AS (
        |  SELECT doc_id, lang, cast(doc_id % 4 AS INT) AS shard,
        |    cast(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |),
        |s AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    cast(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS stream_end
        |  FROM t WHERE n_tokens >= 1
        |)
        |SELECT doc_id, lang, shard, n_tokens,
        |  (stream_end - n_tokens) // 128 AS seq_first,
        |  (stream_end - 1) // 128 AS seq_last,
        |  (stream_end - n_tokens) % 128 AS offset_in_seq
        |FROM s ORDER BY doc_id""") { (s, d) =>
      Packing.contextPack(Tables.documents(s, d), "doc_id", "text",
          strataCol = "lang", ctxLen = 128, shards = 4)
        .orderBy(col("doc_id"))
    },

    // temperature-scaled mixture sampling (α = 0.5): per-source quotas
    // ∝ sqrt(n_s), rows chosen by content-hash order — the training-
    // mixture rebalancing step, fully SQL-oracled (sqrt is IEEE-exact
    // in both engines; weights and quotas rounded per the QueryDef
    // float conventions)
    sql("t30_mixture_sample")(
      """WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, round(sqrt(n), 4) AS w FROM n),
        |q AS (SELECT source,
        |        cast(round(200 * w / (SELECT sum(w) FROM w)) AS BIGINT) AS quota
        |      FROM w),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.source, cast(r.rn AS INT) AS rn, q.quota
        |FROM r JOIN q USING (source)
        |WHERE rn <= quota
        |ORDER BY source, rn""") { (s, d) =>
      Mixture.temperatureSample(Tables.documents(s, d), "source", "text",
          "doc_id", total = 200, alpha = 0.5)
        .orderBy(col("source"), col("rn"))
    },

    // cross-document boilerplate share: fraction of a doc's DISTINCT
    // trigrams that appear in at least one other document — the
    // corpus-level complement of t17's intra-doc repetition (C4/Gopher
    // boilerplate signals). Same skinny (ngram, doc_id) stream as the
    // shingle blocking; the df join is the t20 TF-IDF shape.
    sql("t31_boilerplate_share")(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
        |),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks
        |),
        |doc_ng AS (
        |  SELECT doc_id, unnest(sh) AS ng FROM sh
        |),
        |dfreq AS (
        |  SELECT ng, count(*) AS df FROM doc_ng GROUP BY ng
        |),
        |agg AS (
        |  SELECT doc_id, cast(count(*) AS BIGINT) AS n_ngrams,
        |    cast(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |  FROM doc_ng JOIN dfreq USING (ng) GROUP BY doc_id
        |)
        |SELECT doc_id, n_ngrams, n_shared,
        |  round(n_shared::DOUBLE / n_ngrams, 4) AS boilerplate_share
        |FROM agg ORDER BY doc_id""") { (s, d) =>
      // SKEW-PROOF complement form (100× probe: the direct
      // docNg ⋈ dfreq join serialized on hot n-grams — a dense corpus
      // puts most occurrences under a few ng keys, and a key-skewed
      // join of the corpus-sized side cannot be split by count).
      // n_shared = n_ngrams − (occurrences of df = 1 n-grams), and a
      // df = 1 n-gram has exactly ONE occurrence corpus-wide, so its
      // (ng → df) aggregate row already names its only doc (min = the
      // doc) — the whole query is then two AGGREGATIONS (map-side
      // combine absorbs hot keys; nothing amplifies) and one
      // doc-keyed join of two per-doc tables. Value-identical to the
      // oracle's join form.
      val docNg = Tables.documents(s, d).select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("ng"))
      val perDoc = docNg.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"))
      val uniquePerDoc = docNg.groupBy(col("ng"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("__doc"))
        .where(col("df") === 1)
        .groupBy(col("__doc")).agg(count(lit(1)).as("n_unique"))
      perDoc.join(uniquePerDoc, perDoc("doc_id") === uniquePerDoc("__doc"),
          "left")
        .select(col("doc_id"), col("n_ngrams"),
          (col("n_ngrams") - coalesce(col("n_unique"), lit(0L))).as("n_shared"))
        .select(col("doc_id"), col("n_ngrams"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_ngrams"), 4)
            .as("boilerplate_share"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signals (round 5): fraction of 5-gram
    // OCCURRENCES belonging to a gram repeated within the doc (the
    // "fraction of characters in duplicate n-grams" family) plus the
    // single most frequent token's share of all tokens. Complements
    // t17 (max-bigram share) and t31 (cross-doc boilerplate): these are
    // the intra-doc duplicate-mass signals Gopher rules threshold on.
    sql("t32_gopher_repetition")(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
        |),
        |g5 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts) - 3),
        |      i -> array_to_string(ts[i:i+4], ' '))) AS g
        |  FROM toks WHERE len(ts) >= 5
        |),
        |g5c AS (
        |  SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g
        |),
        |dup5 AS (
        |  SELECT doc_id,
        |    round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 4)
        |      AS dup5_frac
        |  FROM g5c GROUP BY doc_id
        |),
        |tokc AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks) GROUP BY doc_id, t
        |),
        |topw AS (
        |  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_word_frac
        |  FROM tokc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(dup5.dup5_frac, 0.0) AS dup5_frac,
        |  coalesce(topw.top_word_frac, 0.0) AS top_word_frac
        |FROM documents d
        |LEFT JOIN dup5 USING (doc_id)
        |LEFT JOIN topw USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      // both signals are PER-DOCUMENT functions of the token stream, so
      // they live at the scan: graft_dup_mass / graft_rep_ratio(·, 1)
      // are one JIT'd call per document over the pinned tokenization
      // contract, replacing two explodes (one row per 5-gram occurrence
      // — ~5× the corpus bytes in gram-string shuffle keys), four
      // aggregations and two joins with a shuffle-free projection.
      // round(·, 4) stays in the query so the value path matches the
      // oracle's round(sum/sum, 4) bit for bit; null text → null kernel
      // → coalesce 0.0, the oracle's left-join path.
      Tables.documents(s, d).select(col("doc_id"),
          coalesce(round(call_function("graft_dup_mass",
            col("text"), lit(5)), 4), lit(0.0)).as("dup5_frac"),
          coalesce(round(call_function("graft_rep_ratio",
            col("text"), lit(1)), 4), lit(0.0)).as("top_word_frac"))
        .orderBy(col("doc_id"))
    },

    // per-source (per-domain) cap: keep at most 50 docs per source,
    // chosen by content-hash order (md5 of the text, doc_id tiebreak) so
    // the selection is deterministic and uniform, not "first N by id" —
    // the standard domain-balancing step before mixing (C4/RefinedWeb
    // per-domain caps). One window per source partition; at scale the
    // partition key is the source, so no global sort is involved.
    sql("t33_source_cap")(
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    cast(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(text), doc_id) AS INT) AS rk
        |  FROM documents
        |)
        |SELECT doc_id, source, rk FROM ranked
        |WHERE rk <= 50 ORDER BY source, rk""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("text")).asc_nulls_last, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 50)
        .orderBy(col("source"), col("rk"))
    },

    // deterministic train/val/test split (round 5): bucket = first 8 hex
    // chars of md5("g1-" || doc_id) as an integer, mod 100 → 80/10/10.
    // Hash-based (not modulo-of-id) so the split is uncorrelated with
    // any id-ordered attribute; salt "g1-" versions the split. Pure
    // per-row projection — no shuffle at all until the output sort.
    sql("t34_hash_split")(
      """SELECT doc_id,
        |  ('0x' || substr(md5('g1-' || cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 100 AS bucket,
        |  CASE
        |    WHEN ('0x' || substr(md5('g1-' || cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 < 80 THEN 'train'
        |    WHEN ('0x' || substr(md5('g1-' || cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      val bucket = conv(substring(
        md5(concat(lit("g1-"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long") % 100
      Tables.documents(s, d)
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // Bloom-prefiltered decontamination (round 5): IDENTICAL result to
    // t24 — same oracle SQL — through the 100 TB plan: a constant-size
    // Bloom sketch of the benchmark's 8-gram hashes probes the corpus
    // n-gram stream inside codegen (no broadcast dictionary, no shuffle),
    // and only sketch survivors reach the exact-verify semi-join. The
    // sketch's false positives are removed by the verify join, so the
    // exact SQL is a sound oracle for the approximate-prefilter plan.
    sql("t36_bloom_decontamination")(
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
        |),
        |bench_ng AS (
        |  SELECT DISTINCT ng FROM (
        |    SELECT unnest(
        |      CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |           ELSE list_distinct(list_transform(range(1, len(ts) - 6),
        |                  i -> array_to_string(ts[i:i+7], ' ')))
        |      END) AS ng
        |    FROM (SELECT string_split_regex(trim(text), '\s+') AS ts FROM bench) b)
        |),
        |doc_ng AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 6),
        |                i -> array_to_string(ts[i:i+7], ' ')))
        |    END) AS ng
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |        FROM documents) t
        |),
        |flagged AS (
        |  SELECT DISTINCT doc_id FROM doc_ng JOIN bench_ng USING (ng)
        |)
        |SELECT d.doc_id, (f.doc_id IS NOT NULL) AS contaminated
        |FROM documents d LEFT JOIN flagged f USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      // sketch sized for the %97 benchmark slice (~1/97 of corpus
      // n-grams); an overfull sketch only raises the prefilter's FPP —
      // the exact-verify join keeps the result identical
      Dedup.bloomDecontaminate(docs, docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", expectedNgrams = 1L << 18)
        .orderBy(col("doc_id"))
    },

    // hashing-trick linear classifier score (round 5): fastText-style
    // quality scoring without a model artifact — each token hashes into
    // one of 1024 buckets (first 4 hex chars of md5), the bucket's weight
    // is a deterministic pseudo-random value in [-1, 1], and the doc
    // score is the mean token weight. The shape is exactly a production
    // classifier's (token → hashed feature → weight lookup → mean); the
    // weights would be a broadcast model table in real use. The mean is
    // an exact BIGINT sum of integer weights divided ONCE by 997.0·n —
    // prime denominator, so scores are generic doubles that never sit on
    // a round-half-at-4-decimals boundary (with /1000.0 the exact ties
    // exposed Spark's BigDecimal HALF_UP vs DuckDB's double-multiply
    // rounding). `+ 0.0` guards the signed-zero case (QueryDef
    // convention).
    sql("t35_hash_classifier")(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents
        |),
        |w AS (
        |  SELECT doc_id,
        |    ((('0x' || substr(md5(t), 1, 4))::BIGINT % 1024)
        |        * 2654435761 % 2001) - 1000 AS w
        |  FROM toks
        |),
        |agg AS (
        |  SELECT doc_id,
        |    round(cast(sum(w) AS BIGINT) / (997.0 * count(*)), 4) + 0.0 AS score,
        |    cast(count(*) AS BIGINT) AS n_tokens
        |  FROM w GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(a.score, 0.0) AS score,
        |  coalesce(a.n_tokens, 0) AS n_tokens,
        |  CASE WHEN coalesce(a.score, 0.0) > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val bucket = conv(substring(md5(col("t")), 1, 4), 16, 10)
        .cast("long") % 1024
      val weight = (bucket * lit(2654435761L)) % 2001L - 1000L
      val agg = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("t"))
        .select(col("doc_id"), weight.as("w"))
        .groupBy(col("doc_id"))
        .agg((round(sum(col("w")) / (lit(997.0) * count(lit(1))), 4) + 0.0)
          .as("score"), count(lit(1)).as("n_tokens"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("score"), lit(0.0)).as("score"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          when(coalesce(col("score"), lit(0.0)) > 0, "keep")
            .otherwise("drop").as("label"))
        .orderBy(col("doc_id"))
    },

    // tokenizer fertility: BPE-ish subword pieces per whitespace word —
    // the cost signal tokenizer teams budget by (fertility ~1 = cheap
    // prose, high = code/digits/punctuation-heavy). DuckDB mirror of the
    // subword regex: letter runs | digit runs | each non-alnum non-space
    // char (RE2 has no lookarounds, so the oracle counts pieces rather
    // than split points — same value by construction).
    sql("t41_subword_fertility")(
      """SELECT doc_id, n_tokens, n_subwords,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE round(n_subwords / n_tokens::DOUBLE, 4) END AS fertility
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE cast(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    END AS n_tokens,
        |    cast(len(regexp_extract_all(text,
        |      '\p{L}+|\p{N}+|[^\p{L}\p{N} ]')) AS BIGINT) AS n_subwords
        |  FROM documents) x
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"),
          when(col("n_tokens") === 0, 0.0)
            .otherwise(round(col("n_subwords") / col("n_tokens"), 4))
            .as("fertility"))
        .orderBy(col("doc_id"))
    },

    // BM25 keyword retrieval (operators/Ranking): top-20 documents for a
    // 3-term topic probe. Rank is over the ROUNDED score (4 dp, doc_id
    // tiebreak) so floating-sum order can't reorder engines; the Spark
    // side takes top-k via TakeOrderedAndProject, not a global window.
    sql("t37_bm25_search")(
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
        |),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM docs
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'join', 'window') GROUP BY doc_id, t
        |),
        |dfq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score,
        |    cast(count(*) AS BIGINT) AS n_matched
        |  FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN corpus
        |  GROUP BY tf.doc_id
        |)
        |SELECT doc_id, score, n_matched,
        |  cast(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        |FROM scored
        |QUALIFY rank <= 20
        |ORDER BY rank""") { (s, d) =>
      graft.operators.Ranking.bm25(Tables.documents(s, d),
          idCol = "doc_id", textCol = "text",
          queryTerms = Seq("spark", "join", "window"), topK = 20)
        .orderBy(col("rank"))
    },

    // DSIR importance weights (operators/Importance): hashed-unigram
    // log-likelihood ratio of a target slice (sources src0/src1) vs the
    // raw corpus, length-normalized — the Xie et al. 2023 selection
    // signal. Bucketing is the cross-engine md5 hash trick (t34/t35).
    sql("t38_dsir_weights")(
      """WITH base AS (
        |  SELECT doc_id, text, source IN ('src0', 'src1') AS is_target
        |  FROM documents WHERE length(trim(text)) > 0
        |),
        |tok AS (
        |  SELECT doc_id, is_target,
        |    (('0x' || substr(md5(t), 1, 4))::BIGINT % 256) AS bucket
        |  FROM (SELECT doc_id, is_target,
        |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |        FROM base)
        |),
        |p_r AS (
        |  SELECT bucket, (count(*) + 1.0)
        |      / ((SELECT count(*) FROM tok) + 256.0) AS p_r
        |  FROM tok GROUP BY bucket
        |),
        |p_t AS (
        |  SELECT bucket, (count(*) + 1.0)
        |      / ((SELECT count(*) FROM tok WHERE is_target) + 256.0) AS p_t
        |  FROM tok WHERE is_target GROUP BY bucket
        |),
        |floor_t AS (
        |  SELECT 1.0 / (count(*) + 256.0) AS floor_t FROM tok WHERE is_target
        |),
        |lr AS (
        |  SELECT p_r.bucket,
        |    ln(coalesce(p_t.p_t, floor_t.floor_t) / p_r.p_r) AS lr
        |  FROM p_r LEFT JOIN p_t USING (bucket) CROSS JOIN floor_t
        |),
        |per_doc AS (
        |  SELECT doc_id, round(sum(c * lr) / sum(c), 4) + 0.0 AS weight,
        |    cast(sum(c) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, bucket, count(*) AS c FROM tok
        |        GROUP BY doc_id, bucket) dc
        |  JOIN lr USING (bucket) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(p.weight, 0.0) AS weight,
        |  coalesce(p.n_tokens, 0) AS n_tokens
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      graft.operators.Importance.dsirWeights(Tables.documents(s, d),
          idCol = "doc_id", textCol = "text",
          targetPred = col("source").isin("src0", "src1"))
        .orderBy(col("doc_id"))
    },

    // Word-distribution Shannon entropy per document — a lexical-
    // diversity quality signal (low entropy = repetitive/template text;
    // composes with t17's repetition ratio). Pure composition of the
    // engine's tf machinery: one exploded pass, doc-keyed aggregation.
    sql("t39_word_entropy")(
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE length(trim(text)) > 0) x
        |  GROUP BY doc_id, t
        |),
        |ent AS (
        |  SELECT doc_id,
        |    round(-sum((c / n::DOUBLE) * log2(c / n::DOUBLE)), 4) + 0.0
        |      AS entropy,
        |    cast(count(*) AS BIGINT) AS n_types,
        |    cast(n AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, t, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |        FROM tf) y
        |  GROUP BY doc_id, n
        |)
        |SELECT d.doc_id, coalesce(e.entropy, 0.0) AS entropy,
        |  coalesce(e.n_types, 0) AS n_types, coalesce(e.n_tokens, 0) AS n_tokens
        |FROM documents d LEFT JOIN ent e USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      // the whole profile is a PER-DOCUMENT function of the lowercased
      // token distribution: graft_token_profile computes entropy /
      // n_types / n_tokens in one scan-stage call per document,
      // replacing an explode (one row per token occurrence in
      // token-text shuffle keys), two aggregations, a window and a join
      // with a shuffle-free projection. The oracle's round(·, 4) + 0.0
      // (−0.0 normalizer) stays in the query; empty-after-trim text →
      // (0.0, 0, 0) in the kernel and null text → null struct →
      // coalesce, both exactly the relational filter + left-join path.
      Tables.documents(s, d)
        .withColumn("__p", call_function("graft_token_profile", col("text")))
        .select(col("doc_id"),
          coalesce(round(col("__p.entropy"), 4) + 0.0, lit(0.0)).as("entropy"),
          coalesce(col("__p.n_types"), lit(0L)).as("n_types"),
          coalesce(col("__p.n_tokens"), lit(0L)).as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // Duplicate-SPAN profile (operators/SpanDedup): fraction of each
    // document's 10-token sliding windows that occur ≥2× corpus-wide —
    // the Lee et al. 2022 exact-substring dedup signal that document-
    // level dedup (t06-t09) can't see. The engine shuffles windows as
    // 8-byte xxhash64 keys; the oracle's md5 keys are equality-only, so
    // the key representations agree on every count.
    sql("t42_duplicate_spans")(
      """WITH wins AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 9),
        |      i -> md5(array_to_string(list_slice(ws, i, i + 9), ' ')))) AS k
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE length(trim(text)) > 0) x
        |),
        |wc AS (SELECT doc_id, k, count(*) AS c FROM wins GROUP BY doc_id, k),
        |tot AS (SELECT k, sum(c) AS tot FROM wc GROUP BY k),
        |per AS (
        |  SELECT doc_id, cast(sum(c) AS BIGINT) AS n_windows,
        |    cast(sum(CASE WHEN tot >= 2 THEN c ELSE 0 END) AS BIGINT)
        |      AS n_dup_windows
        |  FROM wc JOIN tot USING (k) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_windows, 0) AS n_windows,
        |  coalesce(n_dup_windows, 0) AS n_dup_windows,
        |  CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0
        |       ELSE round(n_dup_windows / n_windows::DOUBLE, 4)
        |  END AS dup_fraction
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      graft.operators.SpanDedup.duplicateSpans(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },

    // Heuristic quality-gate battery (operators/QualityGates): the C4 /
    // Gopher rule filters as independent audited gates. Booleans are
    // cast to INT for the cross-engine hash (true/True formatting).
    sql("t43_quality_gates")(
      """WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE cast(len(toks) AS BIGINT) END AS n_words,
        |    round(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
        |      / len(toks)::DOUBLE, 4) AS mean_wlen,
        |    round(len(list_filter(toks, t -> t IN
        |        ('the','a','an','and','or','of','to','in','is','it')))
        |      / len(toks)::DOUBLE, 4) AS stop_frac,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE round((length(text)
        |             - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        |           / length(text)::DOUBLE, 4) END AS symbol_frac
        |  FROM base),
        |tf AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM base
        |        WHERE length(trim(text)) > 0) y
        |  GROUP BY doc_id, t),
        |top AS (
        |  SELECT doc_id, round(max(c) / sum(c)::DOUBLE, 4) AS top_frac
        |  FROM tf GROUP BY doc_id)
        |SELECT f.doc_id, n_words, mean_wlen, stop_frac, symbol_frac,
        |  coalesce(top_frac, 0.0) AS top_frac,
        |  cast(n_words BETWEEN 5 AND 5000 AS INT) AS pass_nwords,
        |  cast(mean_wlen >= 1.5 AND mean_wlen <= 10.0 AS INT) AS pass_wlen,
        |  cast(stop_frac >= 0.01 AS INT) AS pass_stop,
        |  cast(coalesce(top_frac, 0.0) <= 0.30 AS INT) AS pass_top,
        |  cast(symbol_frac <= 0.25 AS INT) AS pass_symbol,
        |  cast(n_words BETWEEN 5 AND 5000
        |    AND mean_wlen >= 1.5 AND mean_wlen <= 10.0
        |    AND stop_frac >= 0.01
        |    AND coalesce(top_frac, 0.0) <= 0.30
        |    AND symbol_frac <= 0.25 AS INT) AS keep
        |FROM feat f LEFT JOIN top USING (doc_id)
        |ORDER BY f.doc_id""") { (s, d) =>
      val g = graft.operators.QualityGates(Tables.documents(s, d))
      g.select(
          col("doc_id"), col("n_words"), col("mean_wlen"), col("stop_frac"),
          col("symbol_frac"), col("top_frac"),
          col("pass_nwords").cast("int").as("pass_nwords"),
          col("pass_wlen").cast("int").as("pass_wlen"),
          col("pass_stop").cast("int").as("pass_stop"),
          col("pass_top").cast("int").as("pass_top"),
          col("pass_symbol").cast("int").as("pass_symbol"),
          col("keep").cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },

    // CCNet perplexity buckets (operators/LmScore.perplexityBuckets):
    // per-language head/middle/tail terciles of bigram surprisal — the
    // Wenzek et al. 2020 stratification. Tercile assignment is by exact
    // percent_rank (doc_id tiebreak), not interpolated quantiles, so the
    // boundary documents bucket identically in both engines.
    sql("t45_ccnet_buckets")(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, unnest(range(1, len(ts))) AS t(i)
        |  WHERE len(ts) >= 2
        |),
        |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |v AS (SELECT count(*) AS v FROM uni),
        |scored AS (
        |  SELECT bg.doc_id,
        |    cast(count(*) AS BIGINT) AS n_bigrams,
        |    round(avg(-ln((bi.c12 + 1.0) / (uni.c1 + v.v))), 4) AS surprisal
        |  FROM bg
        |  JOIN bi USING (w1, w2)
        |  JOIN uni USING (w1)
        |  CROSS JOIN v
        |  GROUP BY bg.doc_id
        |),
        |ranked AS (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(s.n_bigrams, 0) AS n_bigrams,
        |    coalesce(s.surprisal, 0.0) AS surprisal,
        |    percent_rank() OVER (PARTITION BY d.lang
        |      ORDER BY coalesce(s.surprisal, 0.0), d.doc_id) AS pr
        |  FROM documents d LEFT JOIN scored s USING (doc_id)
        |)
        |SELECT doc_id, lang, n_bigrams, surprisal, round(pr, 4) AS pr,
        |  CASE WHEN pr < 1.0 / 3.0 THEN 'head'
        |       WHEN pr < 2.0 / 3.0 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked
        |ORDER BY doc_id""") { (s, d) =>
      graft.operators.LmScore.perplexityBuckets(
          shared(Tables.documents(s, d).select(
            col("doc_id"), col("text"), col("lang"))),
          "text", "doc_id", "lang")
        .orderBy(col("doc_id"))
    },

    // Duplicate-span REMOVAL (operators/SpanDedup.removeDuplicateSpans):
    // the Lee et al. scrub itself — every token covered by a corpus-
    // duplicated 10-token window is deleted and the document rewritten.
    sql("t46_span_scrub")(
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, i,
        |    md5(array_to_string(list_slice(ws, i, i + 9), ' ')) AS k
        |  FROM words,
        |    LATERAL (SELECT unnest(generate_series(1, len(ws) - 9)) AS i) li),
        |tot AS (SELECT k, count(*) AS tot FROM wins GROUP BY k),
        |dupstart AS (
        |  SELECT doc_id, i FROM wins JOIN tot USING (k) WHERE tot >= 2),
        |removed AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(i, i + 9)) AS p
        |  FROM dupstart),
        |toks AS (
        |  SELECT doc_id, unnest(ws) AS tok,
        |    unnest(generate_series(1, len(ws))) AS p
        |  FROM words),
        |kept AS (
        |  SELECT t.doc_id,
        |    array_to_string(list(t.tok ORDER BY t.p), ' ') AS cleaned_text
        |  FROM toks t
        |  ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.p = r.p
        |  GROUP BY t.doc_id),
        |nrem AS (
        |  SELECT doc_id, cast(count(*) AS BIGINT) AS n_removed
        |  FROM removed GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(cast(len(w.ws) AS BIGINT), 0) AS n_tokens,
        |  coalesce(n.n_removed, 0) AS n_removed,
        |  coalesce(k.cleaned_text, '') AS cleaned_text
        |FROM documents d
        |LEFT JOIN words w USING (doc_id)
        |LEFT JOIN nrem n USING (doc_id)
        |LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      graft.operators.SpanDedup.removeDuplicateSpans(
          shared(Tables.documents(s, d).select(col("doc_id"), col("text"))))
        .orderBy(col("doc_id"))
    },

    // Vocabulary report (operators/CorpusStats): per-source token/type/
    // hapax counts and type-token ratio — the corpus-QA aggregate behind
    // the per-doc diversity signals. Exact distincts (oracle-able);
    // approx_count_distinct is the documented 100 TB swap.
    sql("t47_vocabulary_report")(
      """WITH tf AS (
        |  SELECT source AS stratum, t, count(*) AS c FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE length(trim(text)) > 0) x
        |  GROUP BY source, t
        |)
        |SELECT stratum,
        |  cast(sum(c) AS BIGINT) AS n_tokens,
        |  cast(count(*) AS BIGINT) AS n_types,
        |  cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round(count(*) / sum(c)::DOUBLE, 4) AS type_token_ratio
        |FROM tf GROUP BY stratum
        |ORDER BY stratum""") { (s, d) =>
      graft.operators.CorpusStats.vocabularyReport(Tables.documents(s, d))
        .orderBy(col("stratum"))
    },

    // Semi-structured JSON analytics: extract a typed field from the
    // events' JSON props column in the scan stage (get_json_object —
    // codegen'd path evaluation, no UDF) and aggregate per event type.
    // The scan-stage extraction is the 100 TB shape: project-then-
    // aggregate, never materialize parsed structs corpus-wide.
    sql("t50_json_props_stats")(
      """SELECT event_type,
        |  cast(count(*) AS BIGINT) AS n,
        |  cast(sum(k) AS BIGINT) AS k_sum,
        |  round(avg(k), 4) AS k_avg,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM (
        |  SELECT event_type,
        |    try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events) x
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"),
          round(avg(col("k")), 4).as("k_avg"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        .orderBy(col("event_type"))
    },

    // Corpus snapshot diff (operators/SnapshotDiff): classify every doc
    // as added/removed/changed/unchanged between two synthesized
    // snapshots (old = ids % 10 != 0; new = ids % 13 != 0, with % 7
    // docs edited) — the dataset-versioning audit that bounds
    // incremental reprocessing. Fingerprints join, text never does.
    sql("t51_snapshot_diff")(
      """WITH old AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 10 <> 0),
        |new AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(
        |      CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END),
        |      '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 13 <> 0)
        |SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
        |  CASE WHEN old.fp IS NULL THEN 'added'
        |       WHEN new.fp IS NULL THEN 'removed'
        |       WHEN old.fp <> new.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        |ORDER BY doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap)
        .orderBy(col("doc_id"))
    },

    // Hybrid retrieval: BM25 keyword candidates (t37 machinery, top-50)
    // re-ranked by embedding cosine against the query document — the
    // canonical two-stage lexical→semantic pipeline. The re-rank window
    // is bounded by the candidate count (50), never the corpus; the
    // query vector rides as a 1-row broadcast.
    sql("t49_hybrid_retrieval")(
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
        |),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM docs
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'join', 'window') GROUP BY doc_id, t
        |),
        |dfq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25_score
        |  FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN corpus
        |  GROUP BY tf.doc_id
        |),
        |cands AS (
        |  SELECT doc_id, bm25_score,
        |    cast(row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS INT)
        |      AS bm25_rank
        |  FROM scored QUALIFY bm25_rank <= 50
        |),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |rescored AS (
        |  SELECT c.doc_id, c.bm25_score, c.bm25_rank,
        |    round(list_dot_product(e.embedding::DOUBLE[], qv)
        |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(qv, qv))), 4) AS cosine_sim
        |  FROM cands c
        |  JOIN embeddings e ON e.vec_id = c.doc_id
        |  CROSS JOIN q
        |)
        |SELECT doc_id, bm25_score, bm25_rank, cosine_sim,
        |  cast(row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS INT)
        |    AS rerank
        |FROM rescored
        |QUALIFY rerank <= 10
        |ORDER BY rerank""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cands = graft.operators.Ranking.bm25(
          shared(Tables.documents(s, d).select(col("doc_id"), col("text"))),
          idCol = "doc_id", textCol = "text",
          queryTerms = Seq("spark", "join", "window"), topK = 50)
        .select(col("doc_id"), col("score").as("bm25_score"),
          col("rank").as("bm25_rank"))
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val rescored = cands
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("bm25_score"), col("bm25_rank"),
          round(call_function("graft_cosine", col("embedding"), col("qv")), 4)
            .as("cosine_sim"))
      // bounded window: 50 candidate rows, not the corpus
      val w = Window.orderBy(col("cosine_sim").desc, col("doc_id"))
      rescored
        .withColumn("rerank", row_number().over(w).cast("int"))
        .filter(col("rerank") <= 10)
        .orderBy(col("rerank"))
    },

    // Z-order layout values (operators/Layout): Morton-interleave the
    // (user, value) bucket coordinates of every event and show that
    // z-range buckets bound BOTH dimensions — the min/max rectangles a
    // z-sorted parquet layout gives each row group, i.e. why z-order
    // prunes multi-dimensional scans. Pure bit arithmetic, replayed
    // verbatim in the oracle.
    sql("t48_zorder_layout") {
      val terms = (0 until 8).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH coords AS (
         |  SELECT user_id % 256 AS xb,
         |    least(greatest(cast(floor(value) AS BIGINT), 0), 255) AS yb
         |  FROM events
         |),
         |z AS (SELECT xb, yb, $terms AS zv FROM coords)
         |SELECT zv >> 10 AS zbucket,
         |  cast(count(*) AS BIGINT) AS n,
         |  min(xb) AS x_min, max(xb) AS x_max,
         |  min(yb) AS y_min, max(yb) AS y_max
         |FROM z GROUP BY zbucket
         |ORDER BY zbucket"""
    } { (s, d) =>
      val ev = Tables.events(s, d)
      val x = (col("user_id") % 256).cast("long")
      val y = least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(255L))
      ev.select(x.as("xb"), y.as("yb"),
          graft.operators.Layout.zValue(x, y, bits = 8).as("zv"))
        .withColumn("zbucket", shiftright(col("zv"), 10))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
          min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
        .orderBy(col("zbucket"))
    },

    // Token-budget selection (operators/Selection): greedy best-quality-
    // first fill of a 20k-token training budget via the two-phase
    // distributed prefix sum (no single-partition global window).
    sql("t44_token_budget")(
      """WITH s AS (
        |  SELECT doc_id,
        |    round((least(n_tokens / 50.0, 1.0)
        |         + (1.0 - least(symbol_ratio * 5.0, 1.0))
        |         + least(stop_ratio * 5.0, 1.0)) / 3.0, 4) AS quality,
        |    cast(n_tokens AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE cast(len(toks) AS BIGINT) END AS n_tokens,
        |      CASE WHEN length(text) = 0 THEN 0.0
        |           ELSE (length(text)
        |               - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        |             / length(text)::DOUBLE END AS symbol_ratio,
        |      CASE WHEN len(toks) = 0 THEN 0.0
        |           ELSE len(list_filter(toks, t -> t IN
        |               ('the','a','an','and','or','of','to','in','is','it')))
        |             / len(toks)::DOUBLE END AS stop_ratio
        |    FROM (SELECT doc_id, text,
        |            string_split_regex(trim(lower(text)), '\s+') AS toks
        |          FROM documents) x) y
        |),
        |c AS (
        |  SELECT doc_id, quality, n_tokens,
        |    cast(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id)
        |      AS BIGINT) AS cum_tokens
        |  FROM s)
        |SELECT doc_id, quality, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 20000
        |ORDER BY quality DESC, doc_id""") { (s, d) =>
      graft.operators.Selection.tokenBudget(Tables.documents(s, d))
        .orderBy(col("quality").desc, col("doc_id"))
    },

    // BPE subword fertility — the token-accurate upgrade over t41's
    // character-class regex estimate: tokens per word under a LEARNED
    // merge table (operators/BpeTrain, deterministic training; committed
    // per-SF artifact golden/<sf>/t52_merges.parquet). The engine counts
    // in the scan stage via the codegen'd graft_bpe_count expression
    // (zero shuffle — the merges ride as a plan literal); the oracle
    // replays SEGMENTATION from the artifact with a recursive CTE over
    // the corpus's DISTINCT words (fuse the lowest-rank pair's leftmost
    // occurrence until none applies — exactly expr.BpeKernel), then
    // joins counts back per document. Training drift and kernel bugs
    // both surface as hash mismatches.
    sql("t52_bpe_fertility")(
      s"""WITH RECURSIVE merges AS (${graft.GoldenGen.artifactSql("t52_merges")}),
        |mk AS (SELECT list(lhs || ' ' || rhs ORDER BY rank) AS keys FROM merges),
        |words AS (
        |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |bpe AS (
        |  SELECT w, list_transform(range(length(w)), i -> w[i+1]) AS syms
        |  FROM words WHERE w <> ''
        |  UNION ALL
        |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
        |  FROM (
        |    SELECT w, syms,
        |      list_position(ranks, list_min(list_filter(ranks, r -> r IS NOT NULL))) AS bi
        |    FROM (
        |      SELECT w, syms,
        |        list_transform(range(len(syms)-1), i ->
        |          nullif(list_position(mk.keys, syms[i+1] || ' ' || syms[i+2]), 0)) AS ranks
        |      FROM bpe, mk) a) b
        |  WHERE bi IS NOT NULL AND bi > 0),
        |wcount AS (SELECT w, min(len(syms))::BIGINT AS n FROM bpe GROUP BY w),
        |dw AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |per_doc AS (
        |  SELECT dw.doc_id, sum(wc.n)::BIGINT AS n_bpe
        |  FROM dw JOIN wcount wc ON dw.w = wc.w GROUP BY dw.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN length(trim(coalesce(d.text, ''))) = 0 THEN 0
        |       ELSE cast(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
        |  END AS n_tokens,
        |  coalesce(p.n_bpe, 0)::BIGINT AS n_bpe,
        |  CASE WHEN (CASE WHEN length(trim(coalesce(d.text, ''))) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(d.text), '\\s+')) END) = 0 THEN 0.0
        |       ELSE round(coalesce(p.n_bpe, 0)
        |              / (CASE WHEN length(trim(coalesce(d.text, ''))) = 0 THEN 0
        |                 ELSE len(string_split_regex(trim(d.text), '\\s+')) END)::DOUBLE, 4)
        |  END AS bpe_fertility
        |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = graft.operators.BpeTrain.train(docs, "text",
        numMerges = graft.GoldenGen.ModelParams.BpeMerges,
        maxVocab = graft.GoldenGen.ModelParams.BpeVocab)
      // NULL text counts as 0 tokens on BOTH sides (the oracle's
      // coalesce(n_bpe, 0)); without this the null-safe expression
      // would emit NULL and silently diverge on a corpus with null rows
      val text = coalesce(col("text"), lit(""))
      // widened (r19): the per-doc BPE re-encode is scan-stage
      // expression work over a single-split file; training input is
      // left untouched (its merges must replay the committed artifact)
      Tables.widened(docs).select(col("doc_id"),
          TextFunctions.tokenCount(text).as("n_tokens"),
          call_function("graft_bpe_count", text, typedLit(merges))
            .as("n_bpe"))
        .select(col("doc_id"), col("n_tokens"), col("n_bpe"),
          when(col("n_tokens") === 0, 0.0)
            .otherwise(round(col("n_bpe") / col("n_tokens"), 4))
            .as("bpe_fertility"))
        .orderBy(col("doc_id"))
    },

    // URL canonicalization + URL-exact dedup (operators/UrlDedup) — the
    // crawl-curation pre-pass before content dedup. URL fixture derived
    // from doc_id by modulus fault-injection (the u11 convention) so
    // every rule fires: scheme/host case (%2/%3), default :443 (%5),
    // fragment (%7), utm strip (%11) vs kept params (%13), trailing
    // slash (%17); host/path keys repeat mod 50/20, so canonical
    // collisions form real multi-document groups. FULL SQL oracle
    // mirrors fixture + every canonicalization rule + keep-min.
    sql("t53_url_dedup")(
      raw"""WITH urls AS (
        |  SELECT doc_id, ($UrlFixtureSql) AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN NOT regexp_matches(url, '^(?i)https?://[^/:?#]+(:[0-9]+)?(/[^?#]*)?(\?[^#]*)?(#.*)?$$') THEN url
        |    ELSE
        |      lower(regexp_extract(url, '^(?i)(https?)://([^/:?#]+)', 1)) || '://' ||
        |      lower(regexp_extract(url, '^(?i)(https?)://([^/:?#]+)', 2)) ||
        |      CASE WHEN regexp_extract(url, '^(?i)https?://[^/:?#]+:(\d+)', 1) <> ''
        |                AND NOT (lower(regexp_extract(url, '^(?i)(https?)://([^/:?#]+)', 1)) = 'http'
        |                         AND regexp_replace(regexp_extract(url, '^(?i)https?://[^/:?#]+:(\d+)', 1), '^0+', '') = '80')
        |                AND NOT (lower(regexp_extract(url, '^(?i)(https?)://([^/:?#]+)', 1)) = 'https'
        |                         AND regexp_replace(regexp_extract(url, '^(?i)https?://[^/:?#]+:(\d+)', 1), '^0+', '') = '443')
        |           THEN ':' || regexp_extract(url, '^(?i)https?://[^/:?#]+:(\d+)', 1) ELSE '' END ||
        |      CASE WHEN regexp_replace(regexp_extract(url, '^(?i)https?://[^/?#]+([^?#]*)', 1), '/+$$', '') = ''
        |           THEN '/'
        |           ELSE regexp_replace(regexp_extract(url, '^(?i)https?://[^/?#]+([^?#]*)', 1), '/+$$', '') END ||
        |      CASE WHEN coalesce(array_to_string(list_filter(
        |                   string_split(regexp_extract(url, '^[^?#]*\?([^#]*)', 1), '&'),
        |                   p -> len(p) > 0 AND NOT starts_with(p, 'utm_')), '&'), '') = ''
        |           THEN ''
        |           ELSE '?' || array_to_string(list_filter(
        |                   string_split(regexp_extract(url, '^[^?#]*\?([^#]*)', 1), '&'),
        |                   p -> len(p) > 0 AND NOT starts_with(p, 'utm_')), '&') END
        |    END AS canon_url
        |  FROM urls)
        |SELECT doc_id, canon_url,
        |  min(doc_id) OVER (PARTITION BY canon_url) AS keep_id
        |FROM canon
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.UrlDedup.resolve(
          Tables.documents(s, d).select(col("doc_id"),
            urlFixture.as("url")),
          "doc_id", "url")
        .orderBy(col("doc_id"))
    },

    // PII detection + redaction (operators/PiiRedact) — the privacy
    // pass before any corpus release. Planted PII by modulus (emails
    // %7, IPv4 %11, phones %13, ids repeating mod 50/200/250/9000 so
    // values vary); category counts are measured on the ORIGINAL text,
    // then redaction applies email → IP → phone sequentially. The
    // patterns avoid lookaround/backrefs so Java regex (engine) and
    // RE2 (oracle) agree by construction; FULL SQL oracle.
    sql("t54_pii_redaction")(
      raw"""WITH fixture AS (
        |  SELECT doc_id,
        |    coalesce(text, '') ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' mail user' || (doc_id % 50)::VARCHAR || '@example.org'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN ' from 10.' || (doc_id % 200)::VARCHAR || '.0.' || (doc_id % 250)::VARCHAR
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |         THEN ' call +49 555-' || (1000 + doc_id % 9000)::VARCHAR
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN ' card 4111111111111111'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 19 = 0 THEN ' acct 4111111111111112'
        |         ELSE '' END AS text
        |  FROM documents),
        |cards AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_extract_all(text, '\b\d{13,19}\b'), s ->
        |      list_sum(list_transform(range(length(s)), i ->
        |        CASE WHEN (length(s) - i - 1) % 2 = 1
        |             THEN CASE WHEN (ascii(s[i+1]) - 48) * 2 > 9
        |                       THEN (ascii(s[i+1]) - 48) * 2 - 9
        |                       ELSE (ascii(s[i+1]) - 48) * 2 END
        |             ELSE ascii(s[i+1]) - 48 END)) % 10 = 0) AS luhn_ok
        |  FROM fixture)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(luhn_ok)::BIGINT AS n_cards,
        |  len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(text, '\+\d{1,3}[- ]\d{3}[- ]\d{4}'))::BIGINT AS n_phones,
        |  regexp_replace(
        |    regexp_replace(
        |      list_reduce(list_prepend(
        |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        luhn_ok), (acc, c2) -> regexp_replace(acc, '\b' || c2 || '\b', '<CARD>', 'g')),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS redacted_text
        |FROM cards
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      // coalesce BEFORE concat on both sides: Spark's concat nulls out
      // on any NULL input while the oracle's coalesce(text,'') appends
      // the planted suffixes to '' — without this a NULL-text corpus
      // row would silently diverge
      val fixture = concat(coalesce(col("text"), lit("")),
        when(id % 7 === 0,
          concat(lit(" mail user"), id % 50, lit("@example.org"))).otherwise(""),
        when(id % 11 === 0,
          concat(lit(" from 10."), id % 200, lit(".0."), id % 250)).otherwise(""),
        when(id % 13 === 0,
          concat(lit(" call +49 555-"), lit(1000) + id % 9000)).otherwise(""),
        // classic public test numbers: Luhn-valid, and its +1 neighbor
        // (checksum fails) — pins that shape alone is not redacted
        when(id % 17 === 0, " card 4111111111111111").otherwise(""),
        when(id % 19 === 0, " acct 4111111111111112").otherwise(""))
      graft.operators.PiiRedact.redact(
          Tables.documents(s, d).select(id, fixture.as("text")))
        .orderBy(col("doc_id"))
    },

    // Domain-blocklist admission (operators/UrlDedup.domainFilter) —
    // the other half of the crawl pre-pass: drop pages on blocked
    // hosts. Same single-sourced URL fixture as t53; the blocklist is
    // broadcast (vocabulary-sized at any scale) and the corpus side
    // never shuffles. Unparseable hosts ('') are kept — a filter must
    // not silently eat malformed records. FULL SQL oracle.
    sql("t55_domain_filter")(
      raw"""WITH urls AS (
        |  SELECT doc_id, ($UrlFixtureSql) AS url
        |  FROM documents)
        |SELECT doc_id, url FROM urls
        |WHERE lower(regexp_extract(url, '^(?i)(https?)://([^/:?#]+)', 2))
        |      NOT IN ('example-3.com', 'example-17.com', 'example-29.com')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val blocked = Seq("example-3.com", "example-17.com", "example-29.com")
        .toDF("host")
      graft.operators.UrlDedup.domainFilter(
          Tables.documents(s, d).select(col("doc_id"),
            urlFixture.as("url")),
          "url", blocked)
        .orderBy(col("doc_id"))
    },

    // HTML → main-content extraction (operators/HtmlExtract) — the
    // crawl stage BEFORE every other corpus operator: block
    // segmentation on closing block tags, tag-strip → entity-decode →
    // whitespace-collapse per block, then the text/link-density
    // classification (content ⟺ ≥ MinChars visible chars AND ≤
    // MaxLinkDensity of them inside anchors). Synthetic HTML fixture
    // by modulus fault-injection (single-sourced Column/SQL pair, the
    // t53 convention); FULL SQL oracle mirrors segmentation, the
    // entity table (&amp; last), both thresholds, and the share math.
    sql("t56_html_extract")(
      raw"""WITH fixture AS (
        |  SELECT doc_id, ($HtmlFixtureSql) AS html
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(
        |        string_split_regex(html, '(?i)</(?:p|div|nav|footer|header|li|h[1-6]|ul|ol|table|section|article|aside)>'),
        |        b -> struct_pack(
        |          text := trim(regexp_replace(
        |            replace(replace(replace(replace(replace(replace(
        |              regexp_replace(b, '<[^>]*>', ' ', 'g'),
        |              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |            '\s+', ' ', 'g')),
        |          link_chars := coalesce(list_sum(list_transform(
        |            regexp_extract_all(b, '(?i)<a[^>]*>([^<]*)</a>', 1),
        |            a -> length(trim(regexp_replace(
        |              replace(replace(replace(replace(replace(replace(a,
        |                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |              '\s+', ' ', 'g'))))), 0))),
        |      s -> length(s.text) > 0) AS blocks
        |  FROM fixture),
        |fl AS (
        |  SELECT doc_id, blocks,
        |    list_filter(blocks, s -> length(s.text) >= ${graft.operators.HtmlExtract.MinChars}
        |      AND s.link_chars / (length(s.text) * 1.0) <= ${graft.operators.HtmlExtract.MaxLinkDensity}) AS content
        |  FROM bl)
        |SELECT doc_id,
        |  len(blocks)::BIGINT AS n_blocks,
        |  len(content)::BIGINT AS n_content,
        |  CASE WHEN coalesce(list_sum(list_transform(blocks, s -> length(s.text))), 0) = 0 THEN 0.0
        |       ELSE round(1.0 - coalesce(list_sum(list_transform(content, s -> length(s.text))), 0)
        |              / coalesce(list_sum(list_transform(blocks, s -> length(s.text))), 0)::DOUBLE, 4) END AS boilerplate_share,
        |  coalesce(array_to_string(list_transform(content, s -> s.text), chr(10)), '') AS extracted_text
        |FROM fl
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.HtmlExtract.extract(
          Tables.documents(s, d).select(col("doc_id"),
            htmlFixture.as("html")),
          "doc_id", "html")
        .orderBy(col("doc_id"))
    },

    // TRAINED hashed-feature classifier (operators/Classifier): t35
    // scores with fixed pseudo-random weights; this trains real ones —
    // full-batch logistic regression against the DSIR target slice
    // (source ∈ {src0, src1}, the t38 convention), md5-bucket unigram
    // features. The committed per-SF weight artifact is training output
    // ONLY (GoldenSpec pins artifact == live retraining); margin
    // scoring and the keep/drop threshold are replayed in FULL DuckDB
    // SQL from it. Labels threshold the ROUNDED margin so both engines
    // decide on the same value.
    sql("t57_trained_classifier") {
      val d = graft.GoldenGen.ModelParams.LrDims
      s"""WITH w AS (
        |  SELECT bucket, CAST(round(w * 1000000) AS BIGINT) AS wi
        |  FROM (${graft.GoldenGen.artifactSql("t57_weights")})),
        |tok AS (
        |  SELECT doc_id, (('0x' || substr(md5(t), 1, 4))::BIGINT % $d) AS bucket
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+')) AS t
        |        FROM documents WHERE length(trim(coalesce(text, ''))) > 0) x),
        |dot AS (
        |  SELECT tok.doc_id, sum(w.wi) AS s, count(*) AS n
        |  FROM tok JOIN w ON w.bucket = tok.bucket GROUP BY tok.doc_id),
        |bias AS (SELECT wi FROM w WHERE bucket = $d),
        |m AS (
        |  -- margin = T/(10^6 n) with T = Σwi + bias·n EXACT in BIGINT;
        |  -- its 4-dp half-away rounding is the pure integer
        |  -- sign(T)·((|T| + 50n) // 100n) — bit-identical to the engine
        |  SELECT d.doc_id,
        |    coalesce(dot.s + bias.wi * dot.n, bias.wi) AS t,
        |    coalesce(dot.n, 1) * 100 AS den
        |  FROM documents d LEFT JOIN dot ON dot.doc_id = d.doc_id
        |  CROSS JOIN bias),
        |m4 AS (
        |  SELECT doc_id, sign(t) * ((abs(t) + den // 2) // den) AS m4 FROM m)
        |SELECT doc_id,
        |  m4 / 10000.0 AS margin,
        |  CASE WHEN m4 > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM m4
        |ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      import graft.GoldenGen.ModelParams._
      val docs = Tables.documents(s, d)
      val w = graft.operators.Classifier.train(docs, "text",
        col("source").isin("src0", "src1"),
        dims = LrDims, iters = LrIters, lr = LrRate, roundDp = LrRoundDp)
      graft.operators.Classifier.score(docs, "doc_id", "text", w,
          dims = LrDims)
        .orderBy(col("doc_id"))
    },

    // MINI-BATCH trained classifier (Classifier.trainMiniBatch): the
    // t57 pipeline with each iteration reading a deterministic
    // md5(iter‖doc_id) hash-slice (1/LrSample of the corpus) instead of
    // a full pass — the 100 TB training path, where 15 full-batch
    // corpus scans are a non-starter. Same rounded-update determinism
    // contract, so the weights are a committed artifact exactly like
    // t57's (GoldenSpec pins artifact == live retraining; a spec pins
    // sample = 1 == classic full-batch bit-for-bit), and margin scoring
    // + keep/drop replay in FULL DuckDB SQL from it.
    sql("t104_minibatch_classifier") {
      val d = graft.GoldenGen.ModelParams.LrDims
      s"""WITH w AS (
        |  SELECT bucket, CAST(round(w * 1000000) AS BIGINT) AS wi
        |  FROM (${graft.GoldenGen.artifactSql("t104_weights")})),
        |tok AS (
        |  SELECT doc_id, (('0x' || substr(md5(t), 1, 4))::BIGINT % $d) AS bucket
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+')) AS t
        |        FROM documents WHERE length(trim(coalesce(text, ''))) > 0) x),
        |dot AS (
        |  SELECT tok.doc_id, sum(w.wi) AS s, count(*) AS n
        |  FROM tok JOIN w ON w.bucket = tok.bucket GROUP BY tok.doc_id),
        |bias AS (SELECT wi FROM w WHERE bucket = $d),
        |m AS (
        |  SELECT d.doc_id,
        |    coalesce(dot.s + bias.wi * dot.n, bias.wi) AS t,
        |    coalesce(dot.n, 1) * 100 AS den
        |  FROM documents d LEFT JOIN dot ON dot.doc_id = d.doc_id
        |  CROSS JOIN bias),
        |m4 AS (
        |  SELECT doc_id, sign(t) * ((abs(t) + den // 2) // den) AS m4 FROM m)
        |SELECT doc_id,
        |  m4 / 10000.0 AS margin,
        |  CASE WHEN m4 > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM m4
        |ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      import graft.GoldenGen.ModelParams._
      val docs = Tables.documents(s, d)
      val w = graft.operators.Classifier.trainMiniBatch(docs, "text",
        col("source").isin("src0", "src1"), col("doc_id"),
        dims = LrDims, iters = LrIters, lr = LrRate, roundDp = LrRoundDp,
        sample = LrSample)
      graft.operators.Classifier.score(docs, "doc_id", "text", w,
          dims = LrDims)
        .orderBy(col("doc_id"))
    },

    // paragraph-level near-dup scrub (operators/ParaDedup) — the
    // sub-document dedup pass for template-heavy corpora (shared
    // disclaimers/footers that never push a DOCUMENT pair over the
    // near-dup threshold). The oracle replays band collision as slice
    // equality from the committed per-paragraph signature artifact
    // (the t07 convention), re-derives anchors, the k/32 agreement
    // cut, and the per-document rejoin from the fixture text itself.
    sql("t58_para_dedup") {
      val nh = graft.GoldenGen.ModelParams.MinHashes
      val bands = graft.GoldenGen.ModelParams.MinHashBands
      val rows = nh / bands
      val thr = graft.GoldenGen.ModelParams.ParaNearDupThreshold
      s"""WITH sigs0 AS (${graft.GoldenGen.artifactSql("t58_sigs")}),
        |sigs AS (
        |  SELECT doc_id, para_idx, doc_id * 1000000 + para_idx AS okey, sig
        |  FROM sigs0),
        |banded AS (
        |  SELECT okey,
        |    array_to_string(list_slice(sig, b.band * $rows + 1, b.band * $rows + $rows), ',') AS slice,
        |    b.band AS band
        |  FROM sigs, (SELECT unnest(range($bands)) AS band) b),
        |bmin AS (
        |  SELECT band, slice, min(okey) AS anchor FROM banded GROUP BY band, slice),
        |cand AS (
        |  SELECT DISTINCT ba.okey, bm.anchor
        |  FROM banded ba JOIN bmin bm USING (band, slice)
        |  WHERE bm.anchor < ba.okey),
        |dropped AS (
        |  SELECT DISTINCT c.okey
        |  FROM cand c
        |  JOIN sigs a ON a.okey = c.okey
        |  JOIN sigs b ON b.okey = c.anchor
        |  WHERE len(list_filter(range($nh), i -> a.sig[i+1] = b.sig[i+1])) / $nh.0 >= $thr),
        |fixture AS (
        |  SELECT doc_id, ($ParaFixtureSql) AS ptext FROM documents),
        |plist AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(ptext, '\\n\\s*\\n'), p -> trim(p)),
        |      p -> length(p) > 0) AS ps
        |  FROM fixture),
        |paras AS (
        |  SELECT doc_id, s.idx AS para_idx, s.para AS para
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(ps)),
        |            i -> struct_pack(idx := i, para := ps[i+1]))) AS s
        |        FROM plist)),
        |pd AS (
        |  SELECT p.doc_id, p.para_idx, p.para, (d.okey IS NOT NULL) AS dropped
        |  FROM paras p
        |  LEFT JOIN dropped d ON d.okey = p.doc_id * 1000000 + p.para_idx),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_paras,
        |    sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS n_kept,
        |    coalesce(array_to_string(list(para ORDER BY para_idx)
        |      FILTER (WHERE NOT dropped), chr(10) || chr(10)), '') AS clean_text
        |  FROM pd GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_paras, 0)::BIGINT AS n_paras,
        |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    } { (s, d) =>
      import graft.GoldenGen.ModelParams._
      graft.operators.ParaDedup.scrub(paraCorpus(s, d), "doc_id", "text",
          numHashes = MinHashes, bands = MinHashBands,
          threshold = ParaNearDupThreshold)
        .orderBy(col("doc_id"))
    },

    // text normalization / encoding repair (operators/TextNormalize):
    // cp1252 mojibake → original chars (replace chain + counts built
    // from the SAME Repairs table on both sides), CRLF/CR/TAB + C0
    // control normalization, zero-width/BOM strip + NBSP → space,
    // Unicode NFC (native graft_nfc ⟷ DuckDB nfc_normalize, both
    // UAX #15), space collapse with newlines kept. Modulus
    // fault-injected fixture fires every stage.
    sql("t59_text_normalize")(
      raw"""WITH fixture AS (
        |  SELECT doc_id, ($NormFixtureSql) AS t FROM documents),
        |rep AS (
        |  SELECT doc_id, t,
        |    ${normRepairSql("t")} AS r,
        |    ${normRepairCountSql("t")}::BIGINT AS n_repairs
        |  FROM fixture),
        |clean AS (
        |  SELECT doc_id, t, n_repairs,
        |    trim(regexp_replace(regexp_replace(
        |      nfc_normalize(
        |        replace(regexp_replace(
        |          regexp_replace(
        |            replace(replace(replace(r,
        |              chr(13) || chr(10), chr(10)), chr(13), chr(10)), chr(9), ' '),
        |            '${graft.operators.TextNormalize.ControlClass}', '', 'g'),
        |          '${graft.operators.TextNormalize.InvisibleClass}', '', 'g'),
        |        chr(160), ' ')),
        |      ' {2,}', ' ', 'g'), ' *' || chr(10) || ' *', chr(10), 'g')) AS c
        |  FROM rep)
        |SELECT doc_id, n_repairs, (c <> t) AS changed, c AS clean_text
        |FROM clean
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.TextNormalize.normalize(
          Tables.widened(Tables.documents(s, d)
            .select(col("doc_id"), normFixture.as("text"))),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // context-window chunking (operators/Chunker): fixed 64-token
    // windows advancing by 48 (16-token overlap) — documents into
    // training-sample-sized pieces, the complement of t29's packing.
    // Window count ⌈(n-64)/48⌉+1 (1 for short docs, 0 for blank), last
    // window short-but-novel; start_tok maps windows back into docs.
    sql("t60_context_chunks")(
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(coalesce(text, ''))) = 0
        |         THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS ts
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         WHEN len(ts) <= 64 THEN 1
        |         ELSE ((len(ts) - 64 + 47) // 48) + 1 END AS k
        |  FROM tok),
        |w AS (
        |  SELECT doc_id, ts, unnest(range(k))::INT AS i FROM k)
        |SELECT doc_id,
        |  i AS chunk_idx,
        |  (i * 48)::BIGINT AS start_tok,
        |  len(list_slice(ts, i * 48 + 1, i * 48 + 64))::BIGINT AS n_tokens,
        |  array_to_string(list_slice(ts, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text
        |FROM w
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      graft.operators.Chunker.chunk(Tables.documents(s, d),
          "doc_id", "text", size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // anchor-text corpus (operators/HtmlExtract.links): (href, anchor
    // text) pairs from every double-quoted <a> tag over the t56 HTML
    // fixture, aggregated per pair — the link-graph / anchor-retrieval
    // dataset build. One shuffle (the aggregation); anchor text is
    // normalized exactly like t56 block text.
    sql("t61_anchor_texts") {
      val decode = (x: String) =>
        s"replace(replace(replace(replace(replace(replace($x, " +
          "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
          "'&#39;', ''''), '&amp;', '&')"
      val norm = (x: String) =>
        s"trim(regexp_replace(${decode(s"regexp_replace($x, '<[^>]*>', ' ', 'g')")}, '\\s+', ' ', 'g'))"
      s"""WITH fixture AS (
        |  SELECT doc_id, ($HtmlFixtureSql) AS html FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*"([^"]*)"[^>]*>([^<]*)</a>', 1) AS hs,
        |    regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*"([^"]*)"[^>]*>([^<]*)</a>', 2) AS ts
        |  FROM fixture),
        |e AS (
        |  SELECT doc_id, unnest(range(len(hs)))::INT AS i, hs, ts FROM l),
        |p AS (
        |  SELECT doc_id, hs[i + 1] AS href, ${norm("ts[i + 1]")} AS anchor_text
        |  FROM e)
        |SELECT href, anchor_text,
        |  count(*)::BIGINT AS n_links,
        |  count(DISTINCT doc_id)::BIGINT AS n_docs
        |FROM p GROUP BY href, anchor_text
        |ORDER BY href, anchor_text""".stripMargin
    } { (s, d) =>
      graft.operators.HtmlExtract.links(
          Tables.documents(s, d).select(col("doc_id"),
            htmlFixture.as("html")),
          "doc_id", "html")
        .groupBy(col("href"), col("anchor_text"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("href"), col("anchor_text"))
    },

    // PageRank (operators/PageRank) over a modulus-planted link graph
    // (≤1000 nodes at any SF; the operator itself is size-agnostic).
    // The INTEGER recurrence makes the 8-iteration replay expressible
    // as 8 chained DuckDB CTEs generated from the same constants —
    // bit-identical with zero rounding hazards (the t57 lesson applied
    // from the start). Dangling mass dropped; see the operator doc.
    sql("t62_pagerank") {
      val iters = 8
      val cand =
        """cand AS (
          |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
          |  UNION ALL
          |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
          |  UNION ALL
          |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
          |  WHERE doc_id % 3 = 0)""".stripMargin
      val rounds = (1 to iters).map { k =>
        s"""r$k AS (
           |  SELECT v.node, (t.t + (85 * coalesce(s.s, 0)) // 100)::BIGINT AS r
           |  FROM nodes v
           |  LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.r // d.deg)::BIGINT AS s
           |    FROM edges e
           |    JOIN r${k - 1} r ON r.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = v.node
           |  CROSS JOIN tele t)""".stripMargin
      }.mkString(",\n")
      s"""WITH $cand,
        |edges AS (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |n AS (SELECT count(*)::BIGINT AS c FROM nodes),
        |r0 AS (SELECT node, (1000000000000 // n.c)::BIGINT AS r
        |       FROM nodes CROSS JOIN n),
        |tele AS (SELECT ((15 * (1000000000000 // c)) // 100)::BIGINT AS t FROM n),
        |$rounds
        |SELECT node, r AS rank FROM r$iters
        |ORDER BY node""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
      graft.operators.PageRank.ranks(edges, iters = 8)
        .orderBy(col("node"))
    },

    // corpus-wide repeated-line scrub (operators/LineScrub): boiler-
    // plate lines modulus-planted on top of the real text — cookie
    // banner on every doc, newsletter on 1/7, copyright on 1/2 (all
    // past the df>50 cut at every SF), a rare notice on 1/97 that
    // stays UNDER the cut at sf0.001 (df≈11) and crosses it at sf0.01
    // (df≈103): the threshold boundary is exercised by scale itself.
    sql("t63_line_scrub")(
      """WITH fixture AS (
        |  SELECT doc_id,
        |    'Cookie notice: this site uses cookies' || chr(10) ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'Subscribe to our newsletter' || chr(10) ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'Copyright 2024 Example Corp' || chr(10) ELSE '' END ||
        |    CASE WHEN doc_id % 97 = 0 THEN 'Rare regional notice line' || chr(10) ELSE '' END ||
        |    coalesce(text, '') AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS line_idx,
        |    unnest(list_transform(string_split(text, chr(10)), x -> trim(x))) AS line
        |  FROM fixture),
        |hot AS (
        |  SELECT line FROM lines WHERE length(line) > 0
        |  GROUP BY line HAVING count(DISTINCT doc_id) > 50),
        |marked AS (
        |  SELECT l.doc_id, l.line_idx, l.line, h.line IS NOT NULL AS hot
        |  FROM lines l LEFT JOIN hot h ON h.line = l.line)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT hot THEN line END, chr(10) ORDER BY line_idx), '') AS text,
        |  (count(*) FILTER (WHERE length(line) > 0))::BIGINT AS n_lines,
        |  (count(*) FILTER (WHERE length(line) > 0 AND NOT hot))::BIGINT AS n_kept
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val id = col("doc_id")
      val fixture = concat(
        lit("Cookie notice: this site uses cookies\n"),
        when(id % 7 === 0, "Subscribe to our newsletter\n").otherwise(""),
        when(id % 2 === 0, "Copyright 2024 Example Corp\n").otherwise(""),
        when(id % 97 === 0, "Rare regional notice line\n").otherwise(""),
        coalesce(col("text"), lit("")))
      graft.operators.LineScrub.scrub(
          Tables.documents(s, d).select(id, fixture.as("text")),
          "doc_id", "text", maxDocFreq = 50)
        .orderBy(col("doc_id"))
    },

    // HLL register sketch (operators/HllSketch): per-source distinct-
    // token registers. bucket/rank derive from the md5 HEX STRING with
    // pure string/integer ops (leading-'0' count + first-nonzero-
    // nibble lookup — no log2, no floats), so the replay is
    // bit-identical; the oracle recomputes them with strpos/ltrim
    // instead of Spark's conv/when ladder — independent formulations
    // of the same bit-level contract.
    sql("t64_hll_registers")(
      raw"""WITH toks AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT source, md5(tok) AS h FROM toks WHERE length(tok) > 0),
        |f AS (
        |  SELECT source,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
        |    ltrim(substr(h, 3, 15), '0') AS st
        |  FROM h),
        |r AS (
        |  SELECT source, bucket,
        |    CASE WHEN length(st) = 0 THEN 61
        |         ELSE (15 - length(st)) * 4 +
        |           CASE WHEN substr(st, 1, 1) = '1' THEN 3
        |                WHEN substr(st, 1, 1) IN ('2', '3') THEN 2
        |                WHEN substr(st, 1, 1) IN ('4', '5', '6', '7') THEN 1
        |                ELSE 0 END + 1 END AS rank
        |  FROM f)
        |SELECT source, bucket::INTEGER AS bucket, max(rank)::INTEGER AS r
        |FROM r GROUP BY source, bucket
        |ORDER BY source, bucket""".stripMargin
    ) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
            .as("tok"))
        .where(length(col("tok")) > 0)
      graft.operators.HllSketch.registers(toks, Seq("source"), col("tok"))
        .orderBy(col("source"), col("bucket"))
    },

    // Count–min sketch heavy hitters (operators/CmsSketch): corpus
    // token frequencies through the Depth=4 × Width=4096 counter
    // table, candidates = distinct tokens, keep est ≥ 0.5 % of the
    // stream. Counters are integer sums and the estimate is an integer
    // min, so the replay is bit-identical; total N = Σ row-0 counters
    // (each token instance lands in exactly one row-0 cell). The
    // oracle recomputes cells with the '0x'-cast hex parse (the t57
    // channel) vs the engine's conv() — independent formulations.
    sql("t65_cms_heavy_hitters")(
      raw"""WITH t AS (
        |  SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS tok
        |    FROM documents) x
        |  WHERE length(tok) > 0),
        |cells AS (
        |  SELECT r.j, ('0x' || substr(md5(r.j::VARCHAR || ':' || tok), 1, 3))::BIGINT AS idx,
        |    count(*) AS c
        |  FROM t CROSS JOIN range(4) r(j)
        |  GROUP BY 1, 2),
        |total AS (SELECT sum(c)::BIGINT AS n FROM cells WHERE j = 0),
        |vocab AS (SELECT DISTINCT tok FROM t),
        |est AS (
        |  SELECT v.tok, min(c.c)::BIGINT AS est
        |  FROM vocab v CROSS JOIN range(4) r(j)
        |  JOIN cells c ON c.j = r.j
        |    AND c.idx = ('0x' || substr(md5(r.j::VARCHAR || ':' || v.tok), 1, 3))::BIGINT
        |  GROUP BY v.tok)
        |SELECT tok AS v, est FROM est, total
        |WHERE est >= ceil(n * 0.005)
        |ORDER BY est DESC, v""".stripMargin
    ) { (s, d) =>
      val toks = Tables.widened(Tables.documents(s, d))
        .select(explode(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
          .as("tok"))
        .where(length(col("tok")) > 0)
      graft.operators.CmsSketch.heavyHitters(toks, col("tok"), minShare = 0.005)
    },

    // Log-linear quantile sketch (operators/QuantileSketch): per-source
    // document-length percentiles through the mergeable bucket table.
    // Bucket = 16·floor(log2 v) + top-4 mantissa bits, derived by PURE
    // INTEGER bit arithmetic (bin()-string length + shifts — no float
    // log anywhere), and the readout rank/lower-bound math is integer
    // too, so unlike the HLL float estimator the whole readout is
    // oracle-gated bit-identically. The oracle re-derives buckets with
    // DuckDB's native >>/<<//% operators vs the engine's
    // shiftright/shiftleft/div — independent spellings of the same
    // exact integers.
    sql("t66_quantile_sketch")(
      raw"""WITH d AS (
        |  SELECT source,
        |    (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |          ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+'))
        |     END)::BIGINT AS v
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    CASE WHEN v = 0 THEN -1
        |         ELSE (length(bin(v)) - 1) * 16 +
        |           CASE WHEN length(bin(v)) - 1 >= 4
        |                THEN ((v >> (length(bin(v)) - 5)) - 16)::INTEGER
        |                ELSE ((v - (1::BIGINT << (length(bin(v)) - 1)))
        |                      << (5 - length(bin(v))))::INTEGER END
        |    END AS bucket
        |  FROM d),
        |c AS (SELECT source, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT source, bucket,
        |    sum(c) OVER (PARTITION BY source ORDER BY bucket)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
        |  FROM c),
        |q AS (SELECT w.*, q_pct
        |      FROM w CROSS JOIN (VALUES (50), (90), (99)) qq(q_pct)),
        |sel AS (
        |  SELECT source, q_pct, n, min(bucket) AS bucket
        |  FROM q WHERE cum >= (q_pct * n + 99) // 100
        |  GROUP BY 1, 2, 3)
        |SELECT source, q_pct,
        |  CASE WHEN bucket = -1 THEN 0::BIGINT
        |       WHEN bucket // 16 >= 4
        |         THEN (16 + bucket % 16)::BIGINT << (bucket // 16 - 4)
        |       ELSE (16 + bucket % 16)::BIGINT >> (4 - bucket // 16)
        |  END AS est, n
        |FROM sel
        |ORDER BY source, q_pct""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"),
          TextFunctions.tokenCount(coalesce(col("text"), lit(""))).as("v"))
      val sk = graft.operators.QuantileSketch.sketch(docs, Seq("source"), col("v"))
      graft.operators.QuantileSketch.quantiles(sk, Seq("source"), Seq(50, 90, 99))
        .orderBy(col("source"), col("q_pct"))
    },

    // E2E crawl pre-pass (apps/CurationPipeline.crawlPrePass): the t56
    // HTML extraction, t59 normalization, and t63 repeated-line scrub
    // COMPOSED over the HTML fixture — raw pages in, clean paragraph-
    // structured text out. The oracle replays all three stages in one
    // SQL (same extraction rules, same clean chain, same df>50 cut on
    // the post-extraction block lines); the plan contract (scan-stage
    // until the scrub's line repartition) is asserted in
    // CurationPipelineSpec. Templates the density heuristics keep
    // (the %11 entity paragraph, %13 remark — content by text/link
    // density) are exactly what the frequency cut then removes once
    // their doc-frequency crosses 50, which scale itself decides.
    sql("t67_crawl_pipeline")(
      raw"""WITH fixture AS (
        |  SELECT doc_id, ($HtmlFixtureSql) AS html
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(
        |        string_split_regex(html, '(?i)</(?:p|div|nav|footer|header|li|h[1-6]|ul|ol|table|section|article|aside)>'),
        |        b -> struct_pack(
        |          text := trim(regexp_replace(
        |            replace(replace(replace(replace(replace(replace(
        |              regexp_replace(b, '<[^>]*>', ' ', 'g'),
        |              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |            '\s+', ' ', 'g')),
        |          link_chars := coalesce(list_sum(list_transform(
        |            regexp_extract_all(b, '(?i)<a[^>]*>([^<]*)</a>', 1),
        |            a -> length(trim(regexp_replace(
        |              replace(replace(replace(replace(replace(replace(a,
        |                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |              '\s+', ' ', 'g'))))), 0))),
        |      s -> length(s.text) > 0) AS blocks
        |  FROM fixture),
        |ex AS (
        |  SELECT doc_id,
        |    coalesce(array_to_string(list_transform(
        |      list_filter(blocks, s -> length(s.text) >= ${graft.operators.HtmlExtract.MinChars}
        |        AND s.link_chars / (length(s.text) * 1.0) <= ${graft.operators.HtmlExtract.MaxLinkDensity}),
        |      s -> s.text), chr(10)), '') AS et
        |  FROM bl),
        |norm AS (
        |  SELECT doc_id,
        |    replace(
        |      trim(regexp_replace(regexp_replace(
        |        nfc_normalize(
        |          replace(regexp_replace(
        |            regexp_replace(
        |              replace(replace(replace(${normRepairSql("et")},
        |                chr(13) || chr(10), chr(10)), chr(13), chr(10)), chr(9), ' '),
        |              '${graft.operators.TextNormalize.ControlClass}', '', 'g'),
        |            '${graft.operators.TextNormalize.InvisibleClass}', '', 'g'),
        |          chr(160), ' ')),
        |        ' {2,}', ' ', 'g'), ' *' || chr(10) || ' *', chr(10), 'g')),
        |      chr(10), chr(10) || chr(10)) AS text
        |  FROM ex),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS line_idx,
        |    unnest(list_transform(string_split(text, chr(10)), x -> trim(x))) AS line
        |  FROM norm),
        |hot AS (
        |  SELECT line FROM lines WHERE length(line) > 0
        |  GROUP BY line HAVING count(DISTINCT doc_id) > 50),
        |marked AS (
        |  SELECT l.doc_id, l.line_idx, l.line, h.line IS NOT NULL AS hot
        |  FROM lines l LEFT JOIN hot h ON h.line = l.line)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT hot THEN line END, chr(10) ORDER BY line_idx), '') AS text,
        |  (count(*) FILTER (WHERE length(line) > 0))::BIGINT AS n_lines,
        |  (count(*) FILTER (WHERE length(line) > 0 AND NOT hot))::BIGINT AS n_kept
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      graft.apps.CurationPipeline.crawlPrePass(
          Tables.documents(s, d).select(col("doc_id"),
            htmlFixture.as("html")),
          "doc_id", "html", lineMaxDocFreq = 50)
        .orderBy(col("doc_id"))
    },

    // SALSA hub/authority scores (operators/Salsa) over the same
    // planted link graph as t62 — the degree-normalized HITS sibling
    // (local normalization keeps the fixpoint integer-exact where
    // HITS' global L2 rescale could not be). Replay = 6 chained CTE
    // pairs generated from the same constants, bit-identical (DuckDB
    // // vs Spark floor-div on non-negative BIGINTs).
    sql("t68_salsa") {
      val iters = 6
      val cand =
        """cand AS (
          |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
          |  UNION ALL
          |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
          |  UNION ALL
          |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
          |  WHERE doc_id % 3 = 0)""".stripMargin
      val rounds = (1 to iters).map { k =>
        s"""a$k AS (
           |  SELECT v.node, coalesce(s.s, 0)::BIGINT AS a
           |  FROM nodes v
           |  LEFT JOIN (
           |    SELECT e.dst AS node, sum(h.h // d.outdeg)::BIGINT AS s
           |    FROM edges e
           |    JOIN h${k - 1} h ON h.node = e.src
           |    JOIN odeg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = v.node),
           |h$k AS (
           |  SELECT v.node, coalesce(s.s, 0)::BIGINT AS h
           |  FROM nodes v
           |  LEFT JOIN (
           |    SELECT e.src AS node, sum(a.a // i.indeg)::BIGINT AS s
           |    FROM edges e
           |    JOIN a$k a ON a.node = e.dst
           |    JOIN ideg i ON i.dst = e.dst
           |    GROUP BY e.src) s ON s.node = v.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $cand,
        |edges AS (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
        |odeg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
        |ideg AS (SELECT dst, count(*)::BIGINT AS indeg FROM edges GROUP BY dst),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |n AS (SELECT count(*)::BIGINT AS c FROM nodes),
        |h0 AS (SELECT node, (1000000000000 // n.c)::BIGINT AS h
        |       FROM nodes CROSS JOIN n),
        |$rounds
        |SELECT h.node, h.h AS hub, a.a AS auth
        |FROM h$iters h JOIN a$iters a ON a.node = h.node
        |ORDER BY h.node""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
      graft.operators.Salsa.scores(edges, iters = 6)
        .orderBy(col("node"))
    },

    // Sketch ROLLUP, quantile family (operators/QuantileSketch.rollup):
    // the distributed pattern the mergeable layout exists for — sketch
    // per source shard, roll up to a global sketch by bucket-wise sum
    // WITHOUT touching raw data again, read out corpus-wide
    // percentiles. The oracle computes the same percentiles DIRECTLY
    // from every document globally, so the whole per-shard + merge
    // path is proven equal to the one-pass computation at corpus
    // scale (the spec's merge property, elevated to the oracle gate).
    sql("t69_quantile_rollup")(
      raw"""WITH d AS (
        |  SELECT (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |          ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+'))
        |     END)::BIGINT AS v
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN v = 0 THEN -1
        |         ELSE (length(bin(v)) - 1) * 16 +
        |           CASE WHEN length(bin(v)) - 1 >= 4
        |                THEN ((v >> (length(bin(v)) - 5)) - 16)::INTEGER
        |                ELSE ((v - (1::BIGINT << (length(bin(v)) - 1)))
        |                      << (5 - length(bin(v))))::INTEGER END
        |    END AS bucket
        |  FROM d),
        |c AS (SELECT bucket, count(*)::BIGINT AS c FROM b GROUP BY 1),
        |w AS (
        |  SELECT bucket,
        |    sum(c) OVER (ORDER BY bucket)::BIGINT AS cum,
        |    sum(c) OVER ()::BIGINT AS n
        |  FROM c),
        |q AS (SELECT w.*, q_pct
        |      FROM w CROSS JOIN (VALUES (25), (50), (75), (90), (99)) qq(q_pct)),
        |sel AS (
        |  SELECT q_pct, n, min(bucket) AS bucket
        |  FROM q WHERE cum >= (q_pct * n + 99) // 100
        |  GROUP BY 1, 2)
        |SELECT q_pct,
        |  CASE WHEN bucket = -1 THEN 0::BIGINT
        |       WHEN bucket // 16 >= 4
        |         THEN (16 + bucket % 16)::BIGINT << (bucket // 16 - 4)
        |       ELSE (16 + bucket % 16)::BIGINT >> (4 - bucket // 16)
        |  END AS est, n
        |FROM sel
        |ORDER BY q_pct""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"),
          TextFunctions.tokenCount(coalesce(col("text"), lit(""))).as("v"))
      val perSource =
        graft.operators.QuantileSketch.sketch(docs, Seq("source"), col("v"))
      val global = graft.operators.QuantileSketch.rollup(perSource)
      graft.operators.QuantileSketch
        .quantiles(global, Seq.empty, Seq(25, 50, 75, 90, 99))
        .orderBy(col("q_pct"))
    },

    // Sketch ROLLUP, HLL family (operators/HllSketch.rollup): global
    // distinct-token registers obtained by register-wise MAX over the
    // per-source sketches — the oracle derives the global registers
    // directly from every token, proving merge(sketch(shards)) ==
    // sketch(union) at corpus scale.
    sql("t70_hll_rollup")(
      raw"""WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT md5(tok) AS h FROM toks WHERE length(tok) > 0),
        |f AS (
        |  SELECT
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
        |    ltrim(substr(h, 3, 15), '0') AS st
        |  FROM h),
        |r AS (
        |  SELECT bucket,
        |    CASE WHEN length(st) = 0 THEN 61
        |         ELSE (15 - length(st)) * 4 +
        |           CASE WHEN substr(st, 1, 1) = '1' THEN 3
        |                WHEN substr(st, 1, 1) IN ('2', '3') THEN 2
        |                WHEN substr(st, 1, 1) IN ('4', '5', '6', '7') THEN 1
        |                ELSE 0 END + 1 END AS rank
        |  FROM f)
        |SELECT bucket::INTEGER AS bucket, max(rank)::INTEGER AS r
        |FROM r GROUP BY bucket
        |ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
            .as("tok"))
        .where(length(col("tok")) > 0)
      val perSource =
        graft.operators.HllSketch.registers(toks, Seq("source"), col("tok"))
      graft.operators.HllSketch.rollup(perSource)
        .orderBy(col("bucket"))
    },

    // ANN index-quality audit (operators/AnnEval): recall@20 of the
    // IVF probe path vs exact brute-force cosine, per query point
    // (vec_id % 97 — a sample-sized broadcast set). The oracle replays
    // assignment + probing from the committed t25 centroid artifact,
    // both rank-within-query top-k sets at the rounded-sim/id-tiebreak
    // convention, and the hit count — a pruning regression (bad
    // centroids, too-narrow nprobe) surfaces as a recall drop here
    // while t25 alone could stay green on its single query.
    sql("t71_ivf_recall") {
      val cos = (a: String, b: String) =>
        s"""CASE WHEN sqrt(list_dot_product($a, $a))
           |          * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0
           |     ELSE list_dot_product($a, $b)
           |          / (sqrt(list_dot_product($a, $a))
           |             * sqrt(list_dot_product($b, $b))) END""".stripMargin
      s"""WITH cents AS (${graft.GoldenGen.artifactSql("t25_centroids")}),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id % 97 = 0),
        |assign AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        ${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC,
        |        c.cluster) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cluster FROM (
        |    SELECT q.qid, c.cluster,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        ${cos("q.qv", "c.centroid")} DESC, c.cluster) AS rn
        |    FROM q CROSS JOIN cents c) t
        |  WHERE rn <= 2),
        |scored AS (
        |  SELECT q.qid, e.vec_id, a.cluster,
        |    round(${cos("e.embedding::DOUBLE[]", "q.qv")}, 4) AS s
        |  FROM embeddings e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  CROSS JOIN q
        |  WHERE e.vec_id <> q.qid),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
        |    FROM scored) t
        |  WHERE rn <= 20),
        |ivf AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT sc.qid, sc.vec_id,
        |      row_number() OVER (PARTITION BY sc.qid ORDER BY sc.s DESC, sc.vec_id) AS rn
        |    FROM scored sc JOIN probes p ON p.qid = sc.qid AND p.cluster = sc.cluster) t
        |  WHERE rn <= 20)
        |SELECT x.qid, count(i.vec_id)::BIGINT AS n_hit,
        |  round(count(i.vec_id) / 20.0, 4) AS recall
        |FROM exact x
        |LEFT JOIN ivf i ON i.qid = x.qid AND i.vec_id = x.vec_id
        |GROUP BY x.qid
        |ORDER BY x.qid""".stripMargin
    } { (s, d) =>
      import graft.GoldenGen.ModelParams._
      graft.operators.AnnEval.ivfRecall(Tables.embeddings(s, d),
          "vec_id", "embedding", dims = Dims,
          queryPred = col("vec_id") % 97 === 0, k = 20,
          kClusters = IvfClusters, iters = IvfIters, nprobe = IvfProbe)
        .orderBy(col("qid"))
    },

    // The SAMPLED form of the t71 audit — the production posture at
    // scale. t71's %97 predicate keeps a fixed FRACTION of the corpus
    // as queries, so its scored pairs grow ∝ n² (contract-quadratic:
    // fine for exhaustive small-SF audits, not runnable at 100 TB).
    // Here the panel is the 64 vectors with the smallest
    // md5(vec_id::VARCHAR) (id tie-break — the t34/t103 hash-slice
    // convention): |Q| is FIXED as the corpus grows, making the audit
    // linear in n. Same centroid artifact, same rounded-sim/id-tiebreak
    // ranking, same recall readout as t71.
    sql("t107_ivf_recall_sampled") {
      val cos = (a: String, b: String) =>
        s"""CASE WHEN sqrt(list_dot_product($a, $a))
           |          * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0
           |     ELSE list_dot_product($a, $b)
           |          / (sqrt(list_dot_product($a, $a))
           |             * sqrt(list_dot_product($b, $b))) END""".stripMargin
      s"""WITH cents AS (${graft.GoldenGen.artifactSql("t25_centroids")}),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |      FROM embeddings
        |      ORDER BY md5(vec_id::VARCHAR), vec_id
        |      LIMIT ${graft.GoldenGen.ModelParams.RecallQueries}),
        |assign AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        ${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC,
        |        c.cluster) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cluster FROM (
        |    SELECT q.qid, c.cluster,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        ${cos("q.qv", "c.centroid")} DESC, c.cluster) AS rn
        |    FROM q CROSS JOIN cents c) t
        |  WHERE rn <= 2),
        |scored AS (
        |  SELECT q.qid, e.vec_id, a.cluster,
        |    round(${cos("e.embedding::DOUBLE[]", "q.qv")}, 4) AS s
        |  FROM embeddings e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  CROSS JOIN q
        |  WHERE e.vec_id <> q.qid),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
        |    FROM scored) t
        |  WHERE rn <= 20),
        |ivf AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT sc.qid, sc.vec_id,
        |      row_number() OVER (PARTITION BY sc.qid ORDER BY sc.s DESC, sc.vec_id) AS rn
        |    FROM scored sc JOIN probes p ON p.qid = sc.qid AND p.cluster = sc.cluster) t
        |  WHERE rn <= 20)
        |SELECT x.qid, count(i.vec_id)::BIGINT AS n_hit,
        |  round(count(i.vec_id) / 20.0, 4) AS recall
        |FROM exact x
        |LEFT JOIN ivf i ON i.qid = x.qid AND i.vec_id = x.vec_id
        |GROUP BY x.qid
        |ORDER BY x.qid""".stripMargin
    } { (s, d) =>
      import graft.GoldenGen.ModelParams._
      graft.operators.AnnEval.ivfRecallSampled(Tables.embeddings(s, d),
          "vec_id", "embedding", dims = Dims, numQueries = RecallQueries,
          k = 20, kClusters = IvfClusters, iters = IvfIters,
          nprobe = IvfProbe)
        .orderBy(col("qid"))
    },

    // Embedding-space decontamination (operators/EmbedDecontaminate):
    // the semantic complement of t24/t36's n-gram overlap — benchmark =
    // the original %83 slice of the planted embedding corpus, so each
    // benchmark row's planted near-copy (+1,000,000, first component
    // nudged) is a GUARANTEED contaminated positive at the 0.95
    // near-dup threshold while unrelated vectors stay below it. FULL
    // SQL oracle replays the planting, the broadcast-side max, and the
    // threshold on rounded sims.
    sql("t72_embedding_decontamination") {
      val thr = graft.GoldenGen.ModelParams.NearDupThreshold
      s"""WITH emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    ([ (embedding[1]::FLOAT + 0.05::FLOAT) ] || embedding[2:])::DOUBLE[] AS v
        |  FROM embeddings),
        |bench AS (
        |  SELECT v FROM emb WHERE vec_id % 83 = 0 AND vec_id < 1000000),
        |corp AS (
        |  SELECT vec_id, v FROM emb
        |  WHERE NOT (vec_id % 83 = 0 AND vec_id < 1000000)),
        |s AS (
        |  SELECT c.vec_id,
        |    max(round(
        |      CASE WHEN sqrt(list_dot_product(c.v, c.v))
        |                * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
        |           ELSE list_dot_product(c.v, b.v)
        |                / (sqrt(list_dot_product(c.v, c.v))
        |                   * sqrt(list_dot_product(b.v, b.v))) END, 4)) AS m
        |  FROM corp c CROSS JOIN bench b
        |  GROUP BY c.vec_id)
        |SELECT vec_id, m AS max_benchmark_sim, (m >= $thr) AS contaminated
        |FROM s ORDER BY vec_id""".stripMargin
    } { (s, d) =>
      val emb = plantedEmbeddings(s, d)
      val isBench = col("vec_id") % 83 === 0 && col("vec_id") < 1000000L
      graft.operators.EmbedDecontaminate.flag(
          emb.filter(!isBench), emb.filter(isBench),
          "vec_id", "embedding",
          threshold = graft.GoldenGen.ModelParams.NearDupThreshold)
        .orderBy(col("vec_id"))
    },

    // Systematic PPS sampling (operators/PpsSample): ~100 documents
    // drawn proportional to the t02 quality score (scaled to integer
    // 1e4 weights) — integer-exact threshold crossings over the
    // distributed prefix sum, so the DuckDB replay (one global window,
    // fine at oracle scale) is bit-identical to the engine's
    // chunked two-level formulation.
    sql("t73_pps_sample")(
      raw"""WITH q AS (
        |  SELECT doc_id,
        |    round((least(n_tokens / 50.0, 1.0)
        |         + (1.0 - least(symbol_ratio * 5.0, 1.0))
        |         + least(stop_ratio * 5.0, 1.0)) / 3.0, 4) AS quality
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE cast(len(toks) AS BIGINT) END AS n_tokens,
        |      CASE WHEN length(text) = 0 THEN 0.0
        |           ELSE (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        |             / length(text)::DOUBLE END AS symbol_ratio,
        |      CASE WHEN len(toks) = 0 THEN 0.0
        |           ELSE len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
        |             / len(toks)::DOUBLE END AS stop_ratio
        |    FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks
        |          FROM documents) x) y),
        |w AS (SELECT doc_id, round(quality * 10000)::BIGINT AS w FROM q),
        |c AS (
        |  SELECT doc_id, w,
        |    sum(w) OVER (ORDER BY doc_id)::BIGINT AS cum_w,
        |    greatest(sum(w) OVER () // 100, 1)::BIGINT AS step
        |  FROM w)
        |SELECT doc_id AS id, w, cum_w,
        |  (cum_w // step - (cum_w - w) // step)::BIGINT AS n_picks,
        |  (cum_w // step > (cum_w - w) // step) AS selected
        |FROM c ORDER BY id""".stripMargin
    ) { (s, d) =>
      graft.operators.PpsSample.systematic(
          Tables.documents(s, d),
          "doc_id",
          round(TextFunctions.qualityScore(col("text")) * 10000),
          n = 100)
        .orderBy(col("id"))
    },

    // Per-node triangle counts (operators/Triangles) over the t62/t68
    // link graph — the local-clustering (link-farm/clique) signal next
    // to the global rank scores. Canonical a<b orientation finds each
    // triangle {x<y<z} exactly once via two integer equality joins;
    // the replay is the identical three-way join in DuckDB.
    sql("t74_triangles")(
      """WITH cand AS (
        |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
        |  WHERE doc_id % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM cand WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        |pern AS (
        |  SELECT node, count(*)::BIGINT AS t FROM (
        |    SELECT unnest([x, y, z]) AS node FROM tri) u
        |  GROUP BY node),
        |nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und)
        |SELECT n.node, coalesce(p.t, 0)::BIGINT AS n_triangles
        |FROM nodes n LEFT JOIN pern p ON p.node = n.node
        |ORDER BY n.node""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
      graft.operators.Triangles.perNode(edges)
        .orderBy(col("node"))
    },

    // Per-SOURCE CMS heavy hitters (operators/CmsSketch.heavyHittersBy):
    // t65's global pass keyed by source — "top terms per domain,
    // approximately" with the same per-group no-false-negative
    // guarantee, each group thresholded against its OWN stream total
    // (Σ of its j=0 counters). The oracle is t65's replay with the
    // source key carried through every stage.
    sql("t75_cms_heavy_by_source")(
      raw"""WITH t AS (
        |  SELECT source, tok FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS tok
        |    FROM documents) x
        |  WHERE length(tok) > 0),
        |cells AS (
        |  SELECT source, r.j,
        |    ('0x' || substr(md5(r.j::VARCHAR || ':' || tok), 1, 3))::BIGINT AS idx,
        |    count(*) AS c
        |  FROM t CROSS JOIN range(4) r(j)
        |  GROUP BY 1, 2, 3),
        |total AS (
        |  SELECT source, sum(c)::BIGINT AS n FROM cells WHERE j = 0 GROUP BY source),
        |vocab AS (SELECT DISTINCT source, tok FROM t),
        |est AS (
        |  SELECT v.source, v.tok, min(coalesce(c.c, 0))::BIGINT AS est
        |  FROM vocab v CROSS JOIN range(4) r(j)
        |  LEFT JOIN cells c ON c.source = v.source AND c.j = r.j
        |    AND c.idx = ('0x' || substr(md5(r.j::VARCHAR || ':' || v.tok), 1, 3))::BIGINT
        |  GROUP BY v.source, v.tok)
        |SELECT e.source, tok AS v, est
        |FROM est e JOIN total USING (source)
        |WHERE est >= ceil(n * 0.01)
        |ORDER BY e.source, est DESC, v""".stripMargin
    ) { (s, d) =>
      val toks = Tables.widened(Tables.documents(s, d))
        .select(col("source"),
          explode(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
            .as("tok"))
        .where(length(col("tok")) > 0)
      graft.operators.CmsSketch.heavyHittersBy(toks, Seq("source"),
        col("tok"), minShare = 0.01)
    },

    // Word-list toxicity/NSFW gate (TextFunctions.blocklistShare) —
    // the deterministic blocklist tagger of the public curation
    // stacks, planted by modulus fault-injection (%13 one hit, %17
    // two more) so flagged and clean documents both exist at any SF.
    sql("t76_blocklist_gate")(
      raw"""WITH fixture AS (
        |  SELECT doc_id,
        |    coalesce(text, '') ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' zzztoxic' ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN ' zzztoxic zzzslur' ELSE '' END AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, t,
        |    CASE WHEN length(trim(t)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(lower(t)), '\s+')) END AS n,
        |    CASE WHEN length(trim(t)) = 0 THEN 0
        |         ELSE len(list_filter(string_split_regex(trim(lower(t)), '\s+'),
        |                x -> x IN ('zzztoxic', 'zzzslur'))) END AS hits
        |  FROM fixture)
        |SELECT doc_id,
        |  n::BIGINT AS n_tokens, hits::BIGINT AS n_blocked,
        |  CASE WHEN n = 0 THEN 0.0 ELSE round(hits / n::DOUBLE, 4) END AS blocked_share,
        |  (CASE WHEN n = 0 THEN 0.0 ELSE round(hits / n::DOUBLE, 4) END) >= 0.05 AS flagged
        |FROM tok ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val id = col("doc_id")
      val fixture = concat(coalesce(col("text"), lit("")),
        when(id % 13 === 0, " zzztoxic").otherwise(""),
        when(id % 17 === 0, " zzztoxic zzzslur").otherwise(""))
      val words = Seq("zzztoxic", "zzzslur")
      Tables.documents(s, d)
        .select(id, fixture.as("t"))
        .select(id,
          TextFunctions.tokenCount(col("t")).as("n_tokens"),
          TextFunctions.blocklistHits(col("t"), words).as("n_blocked"),
          round(TextFunctions.blocklistShare(col("t"), words), 4)
            .as("blocked_share"))
        .withColumn("flagged", col("blocked_share") >= 0.05)
        .orderBy(id)
    },

    // Flesch reading ease (TextFunctions.fleschScore) — the classic
    // readability quality signal: sentences = non-blank [.!?]+
    // segments floored at 1, syllables = vowel-group runs. The score
    // is the exact rational T/D with its 4-dp rounding done in PURE
    // INTEGERS (HUGEINT here, decimal(38) in the engine) — the double
    // formula sat exactly on …5e-5 boundaries for a handful of sf0.1
    // rows and the engines rounded apart (the t57 margin lesson).
    sql("t77_readability")(
      raw"""WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(t)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(t), '\s+')) END AS w,
        |    CASE WHEN length(trim(t)) = 0 THEN 0
        |         ELSE greatest(len(list_filter(string_split_regex(t, '[.!?]+'),
        |                s -> length(trim(s)) > 0)), 1) END AS s,
        |    len(regexp_extract_all(lower(t), '[aeiouy]+')) AS sy
        |  FROM d),
        |f AS (
        |  SELECT doc_id, w, s, sy,
        |    (206835::HUGEINT * s * w - 1015::HUGEINT * w * w
        |      - 84600::HUGEINT * sy * s) AS tt,
        |    (1000::HUGEINT * s * w) AS dd
        |  FROM m)
        |SELECT doc_id,
        |  w::BIGINT AS n_words, s::BIGINT AS n_sentences, sy::BIGINT AS n_syllables,
        |  CASE WHEN w = 0 THEN 0.0
        |       ELSE (CASE WHEN tt < 0 THEN -1 ELSE 1 END
        |             * ((abs(tt) * 10000 + 500::HUGEINT * s * w) // dd))::DOUBLE
        |            / 10000.0
        |  END AS flesch
        |FROM f ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val t = coalesce(col("text"), lit(""))
      Tables.widened(Tables.documents(s, d))
        .select(col("doc_id"),
          TextFunctions.tokenCount(t).as("n_words"),
          TextFunctions.sentenceCount(t).as("n_sentences"),
          TextFunctions.syllableCount(t).as("n_syllables"),
          TextFunctions.fleschScore(t).as("flesch"))
        .orderBy(col("doc_id"))
    },

    // LSH recall audit — the t71 index-quality idea applied to the
    // DEDUP detectors: per true-SHINGLE-Jaccard decile, what fraction
    // of the exact pairs does banded MinHash surface as candidates?
    // Truth is exact Jaccard over the SAME set family the signatures
    // sketch (distinct 3-shingles — word-set Jaccard would measure a
    // different similarity: a permuted document scores 1.0 there and
    // ~0 here, and MinHash would rightly miss it). The S-curve is the
    // banding theory's promise (collision threshold (1/b)^(1/r) ≈ 0.59
    // at b=8, r=4) measured on the actual corpus, so a banding
    // regression (wrong slice width, broken hash) shows up as a recall
    // drop instead of staying invisible behind t07's own green oracle.
    // Truth replays the rare-shingle blocking + shingle-set verify;
    // candidates replay slice-equality banding from the committed t07
    // signature artifact.
    sql("t78_lsh_recall_eval") {
      val nh = graft.GoldenGen.ModelParams.MinHashes
      val bands = graft.GoldenGen.ModelParams.MinHashBands
      val rows = nh / bands
      s"""WITH sigs AS (${graft.GoldenGen.artifactSql("t07_sigs")}),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM corpus
        |),
        |shingles AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |    END AS sh
        |  FROM toks
        |),
        |doc_sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
        |rare AS (
        |  SELECT shingle FROM doc_sh GROUP BY shingle
        |  HAVING count(*) BETWEEN 2 AND 20),
        |blocked AS (
        |  SELECT d.doc_id, d.shingle FROM doc_sh d JOIN rare r USING (shingle)),
        |candT AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM blocked l JOIN blocked r USING (shingle)
        |  WHERE l.doc_id < r.doc_id),
        |ss AS (SELECT doc_id, sh, len(sh) AS n FROM shingles),
        |truth AS (
        |  SELECT c.left_id, c.right_id,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |          / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 4) AS j
        |  FROM candT c
        |  JOIN ss a ON a.doc_id = c.left_id
        |  JOIN ss b ON b.doc_id = c.right_id
        |  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |          / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 4) >= 0.6),
        |banded AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(sig, b.band * $rows + 1, b.band * $rows + $rows), ',') AS slice,
        |    b.band AS band
        |  FROM sigs, (SELECT unnest(range($bands)) AS band) b),
        |candM AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |  FROM banded l JOIN banded r ON l.band = r.band AND l.slice = r.slice
        |  WHERE l.doc_id < r.doc_id),
        |marked AS (
        |  SELECT t.j, (m.left_id IS NOT NULL) AS found
        |  FROM truth t
        |  LEFT JOIN candM m ON m.left_id = t.left_id AND m.right_id = t.right_id)
        |SELECT floor(j * 10)::INTEGER AS j_bucket,
        |  count(*)::BIGINT AS n_true,
        |  (count(*) FILTER (WHERE found))::BIGINT AS n_found,
        |  round((count(*) FILTER (WHERE found)) / count(*)::DOUBLE, 4) AS recall
        |FROM marked GROUP BY 1 ORDER BY j_bucket""".stripMargin
    } { (s, d) =>
      import graft.GoldenGen.ModelParams._
      val corpus = plantedCorpus(s, d)
      // NOT shared (r19, measured): materializing one (doc_id, shingle
      // array) checkpoint for both arms was A/B'd at 6.5 s → 8.7–10.1 s
      // isolated — the shingle STRINGS are ~3× the corpus bytes, and
      // storing+rereading them twice costs more than the two scan-stage
      // tokenizations it saves. Each arm reduces shingles to 8-byte
      // forms (xxhash64 / minhash sig) in the scan stage instead.
      val truth = Dedup.shingleJaccardPairs(corpus, "text", "doc_id",
        threshold = 0.6)
      val cand = Dedup.minHashPairs(corpus, "text", "doc_id",
          numHashes = MinHashes, bands = MinHashBands)
        .select(col("left_id").as("__ml"), col("right_id").as("__mr"))
      truth.join(cand,
          col("left_id") === col("__ml") && col("right_id") === col("__mr"),
          "left")
        .select(floor(col("jaccard") * 10).cast("int").as("j_bucket"),
          col("__ml").isNotNull.as("found"))
        .groupBy(col("j_bucket"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("found"), 1L).otherwise(0L)).as("n_found"))
        .select(col("j_bucket"), col("n_true"), col("n_found"),
          round(col("n_found") / col("n_true"), 4).as("recall"))
        .orderBy(col("j_bucket"))
    },

    // IVF-PQ composed ANN (operators/IvfPq): the IVFADC layout —
    // coarse centroids prune to nprobe=2 of 16 cells, PQ ADC scores
    // ONLY the probed rows (m=8 table lookups each), exact L2 re-ranks
    // the k·refine=80 best. Oracled from the SAME committed artifacts
    // as t25 + t40 (no new goldens): the oracle replays probe ranking,
    // assignment (first-min ties), encoding, the ADC table, the
    // rounded candidate cut, and the exact re-rank in FULL DuckDB SQL.
    sql("t79_ivfpq_topk")(
      s"""WITH cents AS (${graft.GoldenGen.artifactSql("t25_centroids")}),
        |cbs AS (${graft.GoldenGen.artifactSql("t40_codebooks")}),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |csim AS (
        |  SELECT c.cluster,
        |    CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
        |              * sqrt(list_dot_product(c.centroid, c.centroid)) = 0 THEN 0.0
        |         ELSE list_dot_product(q.qv, c.centroid)
        |              / (sqrt(list_dot_product(q.qv, q.qv))
        |                 * sqrt(list_dot_product(c.centroid, c.centroid))) END AS sim
        |  FROM cents c, q),
        |probes AS (
        |  SELECT cluster FROM (
        |    SELECT cluster, row_number() OVER (ORDER BY sim DESC, cluster) AS rn
        |    FROM csim) t
        |  WHERE rn <= 2),
        |assign AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                  * sqrt(list_dot_product(c.centroid, c.centroid)) = 0 THEN 0.0
        |             ELSE list_dot_product(e.embedding::DOUBLE[], c.centroid)
        |                  / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                     * sqrt(list_dot_product(c.centroid, c.centroid))) END DESC,
        |        c.cluster) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |probed AS (
        |  SELECT e.vec_id, e.embedding FROM embeddings e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  WHERE a.cluster IN (SELECT cluster FROM probes) AND e.vec_id <> 0),
        |enc AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT e.vec_id, cb.j, cb.code,
        |      row_number() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
        |        list_sum(list_transform(range(8), d ->
        |          (e.embedding[cb.j*8 + d + 1]::DOUBLE - cb.cw[d + 1])^2)),
        |        cb.code) AS rn
        |    FROM probed e CROSS JOIN cbs cb) t
        |  WHERE rn = 1),
        |adc AS (
        |  SELECT cb.j, cb.code,
        |    list_sum(list_transform(range(8), d ->
        |      (q.qv[cb.j*8 + d + 1] - cb.cw[d + 1])^2)) AS dist
        |  FROM cbs cb, q),
        |approx AS (
        |  SELECT en.vec_id, round(sum(a.dist), 4) AS approx_l2sq
        |  FROM enc en JOIN adc a ON en.j = a.j AND en.code = a.code
        |  GROUP BY en.vec_id),
        |cand AS (
        |  SELECT vec_id, approx_l2sq FROM approx
        |  ORDER BY approx_l2sq, vec_id LIMIT 80)
        |SELECT c.vec_id, c.approx_l2sq,
        |  round(list_sum(list_transform(range(64), d ->
        |    (e.embedding[d + 1]::DOUBLE - q.qv[d + 1])^2)), 4) AS l2_sq
        |FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
        |ORDER BY l2_sq, c.vec_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      import graft.GoldenGen.ModelParams._
      graft.operators.IvfPq.scanTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = Dims, queryId = 0L, k = 20,
        kClusters = IvfClusters, ivfIters = IvfIters, nprobe = IvfProbe,
        m = PqM, kCodes = PqCodes, pqIters = PqIters, refine = PqRefine)
    },

    // Winnowing fingerprints (operators/Winnowing — Schleimer et al.
    // SIGMOD 2003, the MOSS algorithm): k=4-gram md5 hashes, w=5
    // window minima, fingerprint VALUE set per doc + corpus df. The
    // value-set formulation (distinct window minima) sidesteps tied-
    // position bookkeeping, so window-min + distinct expresses exact
    // winnowing in both engines. FULL SQL oracle: md5 hex compares
    // lexicographically identically in Java and DuckDB.
    sql("t80_winnowing")(
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, len(ts) - 3 AS g, i - 1 AS pos,
        |    md5(array_to_string(ts[i:i+3], ' ')) AS h
        |  FROM toks, unnest(range(1, len(ts) - 2)) AS t(i)
        |  WHERE len(ts) >= 4),
        |sel AS (
        |  SELECT doc_id, g, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
        |  FROM gr),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM sel
        |  WHERE pos <= greatest(0, g - 5)),
        |fdf AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp),
        |per AS (
        |  SELECT f.doc_id, count(*) AS n_fps,
        |    sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS shared_fps
        |  FROM fps f JOIN fdf d USING (fp) GROUP BY f.doc_id)
        |SELECT t.doc_id,
        |  cast(CASE WHEN len(t.ts) >= 4 THEN len(t.ts) - 3 ELSE 0 END AS BIGINT) AS n_grams,
        |  cast(coalesce(p.n_fps, 0) AS BIGINT) AS n_fps,
        |  cast(coalesce(p.shared_fps, 0) AS BIGINT) AS shared_fps
        |FROM toks t LEFT JOIN per p USING (doc_id)
        |ORDER BY t.doc_id""") { (s, d) =>
      graft.operators.Winnowing.profile(
          Tables.documents(s, d), "doc_id", "text", k = 4, w = 5)
        .orderBy(col("doc_id"))
    },

    // Crawl-frontier politeness scheduling (operators/Frontier): one
    // fetch per host per slot, higher priority first — the
    // Mercator-style per-host queue flattened into a rank column, with
    // a per-host budget cap. Same single-sourced URL fixture as
    // t53/t55; planted priority = (doc_id·37) % 100. ONE exchange (the
    // host window partition, the t33 shape). FULL SQL oracle.
    sql("t81_frontier_schedule")(
      raw"""WITH urls AS (
        |  SELECT doc_id, ($UrlFixtureSql) AS url FROM documents),
        |pr AS (
        |  SELECT doc_id, url, (doc_id * 37) % 100 AS priority,
        |    lower(regexp_extract(url, '^(?i)(https?)://([^/:?#]+)', 2)) AS host
        |  FROM urls),
        |sched AS (
        |  SELECT doc_id, host, priority,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY priority DESC, url, doc_id) AS slot
        |  FROM pr)
        |SELECT doc_id, host, cast(priority AS BIGINT) AS priority,
        |  cast(slot AS BIGINT) AS slot
        |FROM sched WHERE slot <= 10
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Frontier.schedule(
          Tables.documents(s, d).select(col("doc_id"),
            urlFixture.as("url"), ((col("doc_id") * 37) % 100).as("priority")),
          "url", "priority", tieCols = Seq("url", "doc_id"),
          maxPerHost = Some(10))
        .select(col("doc_id"), col("host"), col("priority"), col("slot"))
        .orderBy(col("doc_id"))
    },

    // Local clustering coefficient (operators/Triangles.clustering —
    // Watts & Strogatz 1998) over the same planted link graph as t74:
    // c(v) = 2·t/(deg·(deg−1)) as the INTEGER fixed point coeff_e4 via
    // the half-away identity (20000·t + q/2) div q — pure BIGINT
    // arithmetic, bit-identical across engines by construction (the
    // t77 exact-rounding lesson applied from the start). FULL SQL
    // oracle extends t74's replay with the degree aggregation.
    sql("t82_clustering_coeff")(
      """WITH cand AS (
        |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
        |  WHERE doc_id % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM cand WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        |pern AS (
        |  SELECT node, count(*)::BIGINT AS t FROM (
        |    SELECT unnest([x, y, z]) AS node FROM tri) u
        |  GROUP BY node),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS degree FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) n
        |  GROUP BY node)
        |SELECT d.node, d.degree, coalesce(p.t, 0)::BIGINT AS n_triangles,
        |  CASE WHEN d.degree >= 2 THEN
        |    (20000 * coalesce(p.t, 0) + ((d.degree * (d.degree - 1)) // 2))
        |      // (d.degree * (d.degree - 1))
        |  ELSE 0 END::BIGINT AS coeff_e4
        |FROM deg d LEFT JOIN pern p ON p.node = d.node
        |ORDER BY d.node""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
      graft.operators.Triangles.clustering(edges)
        .orderBy(col("node"))
    },

    // k-core decomposition (operators/KCore — Seidman 1983, synchronous
    // peeling): BOUNDED-ROUND semantics — both sides compute exactly 8
    // peel rounds, so the gate can never desync on a data-dependent
    // round count; peeling is monotone, so rounds past the fixpoint are
    // identity (KCoreSpec pins convergence ≤ 8 on the planted graph).
    // Fixture = the t74 sparse background (affine-mod edges are
    // FUNCTIONAL in doc_id's residue, so background degree is bounded
    // by the generator count at any SF — probed, it peels away
    // entirely) + a planted 25-node dense core from two INDEPENDENT
    // residues (doc_id % 25 vs (doc_id div 25) % 25), which survives at
    // every SF. Oracle = 8 generated chained CTE rounds (t62
    // convention). Pure integer arithmetic throughout.
    sql("t83_kcore") {
      val k = 8
      val rounds = 8
      // MATERIALIZED: round r references e(r-1) three times (degree,
      // u-filter, v-filter) — inlined, the replay is 3^rounds scans
      // (the same blowup KCore.peel's per-round checkpoint cuts)
      val rs = (1 to rounds).map { r =>
        s"""s$r AS MATERIALIZED (
           |  SELECT u FROM (
           |    SELECT u, count(*) AS deg FROM e${r - 1} GROUP BY u) d
           |  WHERE deg >= $k),
           |e$r AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${r - 1} e
           |  JOIN s$r a ON a.u = e.u
           |  JOIN s$r b ON b.u = e.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH cand AS (
        |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id % 25, (doc_id // 25) % 25 FROM documents),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM cand WHERE src <> dst),
        |e0 AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM und
        |  UNION ALL SELECT b AS u, a AS v FROM und),
        |$rs
        |SELECT u AS node, count(*)::BIGINT AS degree
        |FROM e$rounds GROUP BY u
        |ORDER BY node""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.where(id % 2 === 0).select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.select((id % 25).as("src"),
            (expr("doc_id div 25") % 25).as("dst")))
      graft.operators.KCore.peel(edges, k = 8, rounds = 8)
        .orderBy(col("node"))
    },

    // HyperBall neighborhood function (operators/HyperBall — Boldi,
    // Rosa & Vigna 2011): per-node HLL counters iterated over the t62
    // link graph, B_r(v) = B_{r-1}(v) ∪max neighbors' B_{r-1}. The
    // oracle-gated surface is pure register algebra (nb, rsum) under
    // the established md5 bucket/rank bit contract (t64); rounds are
    // fixed on both sides so the gate cannot desync (t83 convention).
    // Oracle = chained MATERIALIZED CTE rounds, each b_r referenced
    // twice (self-merge + neighbor join) — the same double-reference
    // that makes the engine's per-round checkpoint load-bearing.
    sql("t84_hyperball") {
      val rounds = 4
      val b0 =
        """b0 AS MATERIALIZED (
          |  SELECT node,
          |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
          |     (strpos('0123456789abcdef', substr(h, 2, 1)) - 1))::INTEGER AS bucket,
          |    (CASE WHEN length(ltrim(substr(h, 3, 15), '0')) = 0 THEN 61
          |          ELSE (15 - length(ltrim(substr(h, 3, 15), '0'))) * 4 +
          |            CASE WHEN substr(ltrim(substr(h, 3, 15), '0'), 1, 1) = '1' THEN 3
          |                 WHEN substr(ltrim(substr(h, 3, 15), '0'), 1, 1) IN ('2', '3') THEN 2
          |                 WHEN substr(ltrim(substr(h, 3, 15), '0'), 1, 1) IN ('4', '5', '6', '7') THEN 1
          |                 ELSE 0 END + 1 END)::INTEGER AS r
          |  FROM (SELECT node, md5(node::VARCHAR) AS h FROM nodes) x)""".stripMargin
      val rs = (1 to rounds).map { k =>
        s"""b$k AS MATERIALIZED (
           |  SELECT node, bucket, max(r) AS r FROM (
           |    SELECT node, bucket, r FROM b${k - 1}
           |    UNION ALL
           |    SELECT e.src AS node, b.bucket, b.r
           |    FROM edges e JOIN b${k - 1} b ON b.node = e.dst) u
           |  GROUP BY node, bucket)""".stripMargin
      }.mkString(",\n")
      val summaries = (0 to rounds).map { k =>
        s"""SELECT node, $k AS radius, count(*)::BIGINT AS nb,
           |  sum(r)::BIGINT AS rsum FROM b$k GROUP BY node""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH cand AS (
        |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
        |  WHERE doc_id % 3 = 0),
        |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |$b0,
        |$rs
        |SELECT node, radius, nb, rsum FROM (
        |  $summaries)
        |ORDER BY node, radius""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
      graft.operators.HyperBall.neighborhoods(edges, rounds = 4)
        .orderBy(col("node"), col("radius"))
    },

    // Label-propagation communities (operators/LabelProp — Raghavan et
    // al. 2007, deterministic min-label tie-break): two planted dense
    // blocks (independent-residue construction, the t83 core pattern)
    // + rare bridge edges that must NOT merge them. BOUNDED-ROUND
    // semantics (t83 convention): both sides run exactly 4 synchronous
    // updates — even an oscillation would be bit-identical. Oracle =
    // chained count/argmax CTE rounds; argmax = min(label) among the
    // max-count labels, replayed as a max-join (no window on either
    // side).
    sql("t85_label_prop") {
      val rounds = 4
      val rs = (1 to rounds).map { k =>
        s"""c$k AS (
           |  SELECT e.u, l.label, count(*) AS c
           |  FROM adj e JOIN l${k - 1} l ON l.node = e.v
           |  GROUP BY e.u, l.label),
           |m$k AS (SELECT u, max(c) AS mc FROM c$k GROUP BY u),
           |l$k AS MATERIALIZED (
           |  SELECT c.u AS node, min(c.label) AS label
           |  FROM c$k c JOIN m$k m ON m.u = c.u AND c.c = m.mc
           |  GROUP BY c.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH cand AS (
        |  SELECT doc_id % 25 AS src, (doc_id // 25) % 25 AS dst FROM documents
        |  UNION ALL
        |  SELECT 100 + (doc_id * 3 + 1) % 25, 100 + ((doc_id // 25) + 7) % 25 FROM documents
        |  UNION ALL
        |  SELECT doc_id % 25, 100 + doc_id % 25 FROM documents WHERE doc_id % 97 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM cand WHERE src <> dst),
        |adj AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM und
        |  UNION ALL SELECT b AS u, a AS v FROM und),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),
        |$rs
        |SELECT node, label FROM l$rounds
        |ORDER BY node""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 25).as("src"), (expr("doc_id div 25") % 25).as("dst"))
          .union(docs.select((lit(100) + (id * 3 + 1) % 25).as("src"),
            (lit(100) + (expr("doc_id div 25") + 7) % 25).as("dst")))
          .union(docs.where(id % 97 === 0)
            .select((id % 25).as("src"), (lit(100) + id % 25).as("dst")))
      graft.operators.LabelProp.communities(edges, rounds = 4)
        .orderBy(col("node"))
    },

    // Robots-exclusion gate (operators/RobotsGate — RFC 9309 longest-
    // match): the t53 URL fixture against a per-host rule fixture that
    // exercises every semantic branch — shadowing Disallow '/p' beaten
    // by a longer Allow '/p/1', an equal-length Allow/Disallow tie on
    // '/p/3' (Allow wins), a whole-host Disallow '/', and rule-free
    // hosts (default allowed). One host equi-join + one max(struct)
    // argmax on the engine; the oracle replays via max-length join then
    // allow-max (equal-length distinct prefixes cannot both match, so
    // the two formulations agree by construction).
    sql("t86_robots_gate")(
      raw"""WITH urls AS (
        |  SELECT doc_id, ($UrlFixtureSql) AS url FROM documents),
        |parsed AS (
        |  SELECT doc_id,
        |    CASE WHEN regexp_extract(url, '^(?i)https?://([^/:?#]+)', 1) = '' THEN NULL
        |         ELSE lower(regexp_extract(url, '^(?i)https?://([^/:?#]+)', 1)) END AS host,
        |    CASE WHEN regexp_extract(url, '^(?i)https?://([^/:?#]+)', 1) = '' THEN NULL
        |         WHEN regexp_extract(url, '^(?i)https?://[^/?#]+([^?#]*)', 1) = '' THEN '/'
        |         ELSE regexp_extract(url, '^(?i)https?://[^/?#]+([^?#]*)', 1) END AS path
        |  FROM urls),
        |rules AS (
        |  SELECT 'example-' || r::VARCHAR || '.com' AS host, false AS allow, '/p' AS prefix
        |  FROM range(50) t(r) WHERE r % 2 = 0
        |  UNION ALL SELECT 'example-' || r::VARCHAR || '.com', true, '/p/1'
        |  FROM range(50) t(r) WHERE r % 2 = 0
        |  UNION ALL SELECT 'example-' || r::VARCHAR || '.com', false, '/p/3'
        |  FROM range(50) t(r) WHERE r % 5 = 0
        |  UNION ALL SELECT 'example-' || r::VARCHAR || '.com', true, '/p/3'
        |  FROM range(50) t(r) WHERE r % 10 = 0
        |  UNION ALL SELECT 'example-' || r::VARCHAR || '.com', false, '/'
        |  FROM range(50) t(r) WHERE r % 7 = 0),
        |matches AS (
        |  SELECT p.doc_id, r.allow, r.prefix
        |  FROM parsed p JOIN rules r ON r.host = p.host
        |  WHERE starts_with(p.path, r.prefix)),
        |ml AS (SELECT doc_id, max(len(prefix)) AS l FROM matches GROUP BY doc_id),
        |won AS (
        |  SELECT m.doc_id, max(m.allow) AS rule_allow, max(m.prefix) AS rule_prefix
        |  FROM matches m JOIN ml ON ml.doc_id = m.doc_id AND len(m.prefix) = ml.l
        |  GROUP BY m.doc_id)
        |SELECT p.doc_id, p.host, p.path,
        |  coalesce(w.rule_allow, true) AS allowed, w.rule_prefix
        |FROM parsed p LEFT JOIN won w ON w.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin
    ) { (s, d) =>
      val r = s.range(50).toDF("id")
      val host = concat(lit("example-"), col("id"), lit(".com"))
      def rule(mod: Int, allow: Boolean, prefix: String) =
        r.where(col("id") % mod === 0).select(host.as("host"),
          lit(allow).as("allow"), lit(prefix).as("prefix"))
      val rules = rule(2, allow = false, "/p")
        .union(rule(2, allow = true, "/p/1"))
        .union(rule(5, allow = false, "/p/3"))
        .union(rule(10, allow = true, "/p/3"))
        .union(rule(7, allow = false, "/"))
      graft.operators.RobotsGate.gate(
          Tables.documents(s, d).select(col("doc_id"), urlFixture.as("url")),
          "doc_id", "url", rules)
        .orderBy(col("doc_id"))
    },

    // Incremental near-dup vs a persisted signature index
    // (operators/IncrementalDedup): the planted corpus split into
    // "history" (doc_id < 1e6, index = signatures only) and the
    // arriving "increment" (the planted near-copies). Confidence is
    // the signature ESTIMATE — the index has no text to verify
    // against, which is exactly the production trade-off. Oracle
    // replays banding + estimate from the SAME committed t07_sigs
    // artifact (no new goldens, t07 convention).
    sql("t87_incremental_dedup") {
      val nh = graft.GoldenGen.ModelParams.MinHashes
      val bands = graft.GoldenGen.ModelParams.MinHashBands
      val rows = nh / bands
      s"""WITH sigs AS (${graft.GoldenGen.artifactSql("t07_sigs")}),
        |banded AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(sig, b.band * $rows + 1, b.band * $rows + $rows), ',') AS slice,
        |    b.band AS band
        |  FROM sigs, (SELECT unnest(range($bands)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS old_id
        |  FROM banded l JOIN banded r ON l.band = r.band AND l.slice = r.slice
        |  WHERE l.doc_id >= 1000000 AND r.doc_id < 1000000)
        |SELECT c.new_id, c.old_id,
        |  round(len(list_filter(range($nh), i -> a.sig[i+1] = b.sig[i+1])) / $nh.0, 4) AS est_jaccard
        |FROM cand c
        |JOIN sigs a ON a.doc_id = c.new_id
        |JOIN sigs b ON b.doc_id = c.old_id
        |WHERE round(len(list_filter(range($nh), i -> a.sig[i+1] = b.sig[i+1])) / $nh.0, 4) >= 0.5
        |ORDER BY new_id, old_id""".stripMargin
    } { (s, d) =>
      val corpus = plantedCorpus(s, d)
      val history = corpus.where(col("doc_id") < 1000000L)
      val increment = corpus.where(col("doc_id") >= 1000000L)
      graft.operators.IncrementalDedup.newVersusIndex(
          increment, "text", "doc_id",
          graft.operators.IncrementalDedup.signatureIndex(history, "text", "doc_id",
            numHashes = graft.GoldenGen.ModelParams.MinHashes),
          numHashes = graft.GoldenGen.ModelParams.MinHashes,
          bands = graft.GoldenGen.ModelParams.MinHashBands,
          minEst = 0.5)
        .orderBy(col("new_id"), col("old_id"))
    },

    // Unicode script-mix profile (functions/TextFunctions.scriptCount):
    // per-document character counts by script + dominant script +
    // mixed-script flag (≥10% of letters outside the dominant script —
    // the spoofing/OCR-noise gate multilingual curation runs before
    // language-ID). Scan-stage regex stripping only, no explode. The
    // modulus fixture plants Cyrillic/Greek/Han substrings (all BMP, so
    // Spark's UTF-16-unit length == DuckDB's code-point length for
    // every KEPT character); Java \p{IsX} and RE2 \p{X} are
    // independent spellings of the same script property. Dominance
    // ties break by the fixed latin>cyrillic>greek>han CASE priority
    // on both sides.
    sql("t88_script_mix")(
      raw"""WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 0 THEN 'Пример текста на русском языке'
        |         ELSE coalesce(text, '') END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' Советский союз' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ελληνικά κείμενο' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' 中文文本 2024' ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    length(regexp_replace(t, '[^\p{Latin}]', '', 'g'))::BIGINT AS n_latin,
        |    length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g'))::BIGINT AS n_cyrillic,
        |    length(regexp_replace(t, '[^\p{Greek}]', '', 'g'))::BIGINT AS n_greek,
        |    length(regexp_replace(t, '[^\p{Han}]', '', 'g'))::BIGINT AS n_han,
        |    length(regexp_replace(t, '[^0-9]', '', 'g'))::BIGINT AS n_digit
        |  FROM f),
        |x AS (
        |  SELECT *, n_latin + n_cyrillic + n_greek + n_han AS letters,
        |    greatest(n_latin, n_cyrillic, n_greek, n_han) AS biggest
        |  FROM c)
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_digit,
        |  CASE WHEN letters = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_greek AND n_latin >= n_han THEN 'latin'
        |       WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_han THEN 'cyrillic'
        |       WHEN n_greek >= n_han THEN 'greek'
        |       ELSE 'han' END AS dominant,
        |  (letters > 0 AND (letters - biggest) * 10 >= letters) AS mixed
        |FROM x ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.TextFunctions
      val id = col("doc_id")
      val fix = concat(
        when(id % 31 === 0, lit("Пример текста на русском языке"))
          .otherwise(coalesce(col("text"), lit(""))),
        when(id % 7 === 0, " Советский союз").otherwise(""),
        when(id % 11 === 0, " ελληνικά κείμενο").otherwise(""),
        when(id % 13 === 0, " 中文文本 2024").otherwise(""))
      val c = Tables.widened(Tables.documents(s, d)).select(id, fix.as("t"))
        .select(id,
          TextFunctions.scriptCount(col("t"), "Latin").as("n_latin"),
          TextFunctions.scriptCount(col("t"), "Cyrillic").as("n_cyrillic"),
          TextFunctions.scriptCount(col("t"), "Greek").as("n_greek"),
          TextFunctions.scriptCount(col("t"), "Han").as("n_han"),
          TextFunctions.digitCount(col("t")).as("n_digit"))
        .withColumn("letters",
          col("n_latin") + col("n_cyrillic") + col("n_greek") + col("n_han"))
        .withColumn("biggest",
          greatest(col("n_latin"), col("n_cyrillic"), col("n_greek"), col("n_han")))
      c.select(id, col("n_latin"), col("n_cyrillic"), col("n_greek"),
          col("n_han"), col("n_digit"),
          when(col("letters") === 0, "none")
            .when(col("n_latin") >= col("n_cyrillic") &&
              col("n_latin") >= col("n_greek") &&
              col("n_latin") >= col("n_han"), "latin")
            .when(col("n_cyrillic") >= col("n_greek") &&
              col("n_cyrillic") >= col("n_han"), "cyrillic")
            .when(col("n_greek") >= col("n_han"), "greek")
            .otherwise("han").as("dominant"),
          (col("letters") > 0 &&
            (col("letters") - col("biggest")) * 10 >= col("letters")).as("mixed"))
        .orderBy(id)
    },

    // Vocabulary growth curve (Heaps' law, empirically): new distinct
    // SHINGLE types (word 3-grams, the t09 unit — the synthetic word
    // vocabulary saturates within the first docs, 3-gram types do not)
    // introduced per 50-doc corpus-order bucket, plus the cumulative
    // type count — the diminishing-returns signal corpus acquisition
    // decisions key on. Type first-sight = min(doc_id) per shingle
    // (one shuffle), bucketing integer division; the cumsum window runs
    // over ≤ corpus/50 BUCKET rows — a global window over the bounded
    // aggregate, never the data.
    sql("t89_vocab_growth")(
      raw"""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |      ELSE list_transform(range(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) END) AS s
        |  FROM toks),
        |firstseen AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
        |b AS (
        |  SELECT first_doc // 50 AS bucket, count(*) AS new_types
        |  FROM firstseen GROUP BY 1)
        |SELECT bucket::BIGINT AS bucket, new_types::BIGINT AS new_types,
        |  (sum(new_types) OVER (ORDER BY bucket
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_types
        |FROM b ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shingles(coalesce(col("text"), lit("")), 3)).as("s"))
      val cum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy(expr("first_doc div 50").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
        .select(col("bucket"), col("new_types"),
          sum(col("new_types")).over(cum).cast("long").as("cum_types"))
        .orderBy(col("bucket"))
    },

    // Code-vs-prose structure profile (TextFunctions.codeLines): line
    // counts, code-line share, fence flag — all pure array arithmetic
    // over the split text in the scan stage (no explode, no shuffle;
    // the whole query is Scan → Project → Sort). Fixture plants
    // indented/braced/fenced lines by modulus.
    sql("t90_code_share")(
      """WITH f AS (
        |  SELECT doc_id, coalesce(text, '') ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '    indented_code(x);' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'int main() {' || chr(10) || '}' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN chr(10) || '```' || chr(10) || 'fenced code' || chr(10) || '```' ELSE '' END
        |    AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(t, chr(10)),
        |      l -> length(trim(l)) > 0))::BIGINT AS nonblank,
        |    len(list_filter(string_split(t, chr(10)),
        |      l -> length(trim(l)) > 0 AND (
        |        starts_with(l, '    ') OR starts_with(l, chr(9)) OR
        |        substr(trim(l), -1, 1) IN ('{', '}', ';') OR
        |        starts_with(trim(l), '```'))))::BIGINT AS code_lines,
        |    len(list_filter(string_split(t, chr(10)),
        |      l -> starts_with(trim(l), '```'))) > 0 AS has_fence
        |  FROM f)
        |SELECT doc_id, nonblank, code_lines,
        |  CASE WHEN nonblank = 0 THEN 0.0
        |       ELSE round(code_lines / nonblank::DOUBLE, 4) END AS code_share,
        |  has_fence
        |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.TextFunctions
      val id = col("doc_id")
      val fix = concat(coalesce(col("text"), lit("")),
        when(id % 5 === 0, "\n    indented_code(x);").otherwise(""),
        when(id % 7 === 0, "\nint main() {\n}").otherwise(""),
        when(id % 11 === 0, "\n```\nfenced code\n```").otherwise(""))
      Tables.documents(s, d).select(id, fix.as("t"))
        .select(id,
          TextFunctions.nonblankLines(col("t")).as("nonblank"),
          TextFunctions.codeLines(col("t")).as("code_lines"),
          TextFunctions.hasCodeFence(col("t")).as("has_fence"))
        .select(id, col("nonblank"), col("code_lines"),
          when(col("nonblank") === 0, 0.0)
            .otherwise(round(col("code_lines") / col("nonblank").cast("double"), 4))
            .as("code_share"),
          col("has_fence"))
        .orderBy(id)
    },

    // Personalized PageRank / TrustRank (operators/PageRank.personalized
    // — Gyöngyi et al. 2004) over the t62 link graph: teleport mass
    // goes ONLY to the trusted seed set (every 10th node), so authority
    // diffuses outward from the seeds and disconnected spam starves to
    // rank 0. Same integer recurrence as t62 (bit-identical replay by
    // construction); oracle = chained CTE rounds with the seed-gated
    // teleport term.
    sql("t91_trustrank") {
      val iters = 8
      val cand =
        """cand AS (
          |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
          |  UNION ALL
          |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
          |  UNION ALL
          |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
          |  WHERE doc_id % 3 = 0)""".stripMargin
      val rounds = (1 to iters).map { k =>
        s"""r$k AS (
           |  SELECT v.node,
           |    ((CASE WHEN sd.node IS NULL THEN 0
           |           ELSE (15 * (1000000000000 // ns.c)) // 100 END)
           |     + (85 * coalesce(s.s, 0)) // 100)::BIGINT AS r
           |  FROM nodes v
           |  LEFT JOIN seeds sd ON sd.node = v.node
           |  LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.r // d.deg)::BIGINT AS s
           |    FROM edges e
           |    JOIN r${k - 1} r ON r.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = v.node
           |  CROSS JOIN ns)""".stripMargin
      }.mkString(",\n")
      s"""WITH $cand,
        |edges AS (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |seeds AS (SELECT node FROM nodes WHERE node % 10 = 0),
        |ns AS (SELECT count(*)::BIGINT AS c FROM seeds),
        |r0 AS (SELECT v.node,
        |         (CASE WHEN s.node IS NULL THEN 0
        |               ELSE 1000000000000 // ns.c END)::BIGINT AS r
        |       FROM nodes v LEFT JOIN seeds s ON s.node = v.node CROSS JOIN ns),
        |$rounds
        |SELECT node, r AS rank FROM r$iters
        |ORDER BY node""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
      graft.operators.PageRank.personalized(edges,
          s.range(0, 1000, 10).toDF("node"), iters = 8)
        .orderBy(col("node"))
    },

    // Cross-source contamination matrix: for every source pair, how
    // many exact-dup fingerprints they share — the "who syndicates
    // whom" diagnostic that decides which sources are redundant before
    // paying near-dup costs. Fixture plants syndicated templates
    // (%9 → one of 4 wire stories, %13 → a shared disclaimer) so
    // cross-source dups exist at every SF. One (source, fp) distinct +
    // one fp equi-self-join (a<b) — fingerprints are the join key, so
    // a shared wire story costs one aggregation row per source pair,
    // never a payload shuffle.
    sql("t92_source_overlap")(
      raw"""WITH f AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 9 = 0
        |           THEN 'Syndicated wire story number ' || (doc_id % 4)::VARCHAR
        |         WHEN doc_id % 13 = 0
        |           THEN 'Common boilerplate disclaimer text for all mirrors'
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents),
        |fp AS (
        |  SELECT DISTINCT source,
        |    md5(lower(regexp_replace(trim(t), '\s+', ' ', 'g'))) AS fp
        |  FROM f)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*)::BIGINT AS shared_fp
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      import graft.functions.TextFunctions
      val id = col("doc_id")
      val fix = when(id % 9 === 0,
          concat(lit("Syndicated wire story number "), id % 4))
        .when(id % 13 === 0,
          lit("Common boilerplate disclaimer text for all mirrors"))
        .otherwise(coalesce(col("text"), lit("")))
      val fp = Tables.documents(s, d)
        .select(col("source"), TextFunctions.fingerprint(fix).as("fp"))
        .distinct()
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Integer-exact scaled Gram matrix (operators/Gram) — the
    // PCA/covariance kernel over the embedding table. Fixed-point
    // quantization (floor(x·1e6 + 0.5), float→double widening is
    // exact) makes the reduction commutative-integer, so any
    // partitioning and DuckDB's scan order produce identical bits; the
    // engine folds each partition into one bounded 2,080-cell
    // accumulator (mapPartitions — the justified pattern; an explode
    // formulation multiplies corpus rows by dims²/2).
    sql("t93_embedding_gram")(
      """WITH v AS (
        |  SELECT list_transform(embedding,
        |    x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS q
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |cells AS (
        |  SELECT i.i AS i, j.j AS j, sum(q[i.i] * q[j.j])::BIGINT AS s
        |  FROM v, range(1, 65) i(i), range(1, 65) j(j)
        |  WHERE j.j >= i.i
        |  GROUP BY 1, 2)
        |SELECT (i - 1)::INTEGER AS i, (j - 1)::INTEGER AS j, s
        |FROM cells ORDER BY i, j""".stripMargin
    ) { (s, d) =>
      graft.operators.Gram.scaled(Tables.embeddings(s, d), "embedding", dims = 64)
        .orderBy(col("i"), col("j"))
    },

    // Source-priority keep policy over exact-dup groups (the news-wire
    // rule: among syndicated copies keep the most-trusted source's, tie
    // → min doc_id). Quality-argmax is VACUOUS for exact dups — copies
    // share the text, hence the score — so the policy dimension is
    // metadata; priority here = the source's numeric suffix. One
    // fingerprint exchange serves the argmin aggregate AND the
    // join-back (the t63/t53 exchange-reuse shape). Fixture = the t92
    // syndicated templates, so multi-source groups exist at every SF.
    sql("t94_keep_policy")(
      raw"""WITH f AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 9 = 0
        |           THEN 'Syndicated wire story number ' || (doc_id % 4)::VARCHAR
        |         WHEN doc_id % 13 = 0
        |           THEN 'Common boilerplate disclaimer text for all mirrors'
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, substr(source, 4)::INTEGER AS prio,
        |    md5(lower(regexp_replace(trim(t), '\s+', ' ', 'g'))) AS fp
        |  FROM f),
        |g AS (SELECT fp, min(prio) AS mp FROM d GROUP BY fp),
        |k AS (
        |  SELECT d.fp, min(d.doc_id) AS keep_id
        |  FROM d JOIN g ON g.fp = d.fp AND d.prio = g.mp
        |  GROUP BY d.fp)
        |SELECT d.doc_id, d.fp, k.keep_id, d.doc_id = k.keep_id AS kept
        |FROM d JOIN k ON k.fp = d.fp
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.TextFunctions
      val id = col("doc_id")
      val fix = when(id % 9 === 0,
          concat(lit("Syndicated wire story number "), id % 4))
        .when(id % 13 === 0,
          lit("Common boilerplate disclaimer text for all mirrors"))
        .otherwise(coalesce(col("text"), lit("")))
      val docs = Tables.documents(s, d)
        .select(id, expr("cast(substring(source, 4, 10) as int)").as("prio"),
          TextFunctions.fingerprint(fix).as("fp"))
        .repartition(col("fp"))
      val keep = docs.groupBy(col("fp"))
        .agg(min(struct(col("prio"), col("doc_id"))).as("m"))
        .select(col("fp"), col("m.doc_id").as("keep_id"))
      docs.join(keep, Seq("fp"))
        .select(col("doc_id"), col("fp"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("kept"))
        .orderBy(col("doc_id"))
    },

    // Hilbert-curve layout (expr/GraftHilbert + Layout.hilbertValue) —
    // the locality-better sibling of t48's Z-order: same bucketed
    // (user, value) coordinates, same bucket/bbox report, but indexed
    // by the Hilbert curve. Oracle replays the per-bit
    // rotate-and-accumulate recurrence as 8 chained CTE rounds — the
    // same double-reference structure that makes the engine side a
    // native O(bits) kernel instead of an exponentially-unrolled
    // Column tree.
    sql("t95_hilbert_layout") {
      val bits = 8
      val rounds = (1 to bits).map { k =>
        val sv = 1L << (bits - k)
        s"""h$k AS (
           |  SELECT xb, yb,
           |    d + ${sv * sv} * xor(3 * rx, ry) AS d,
           |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${sv - 1} - y ELSE y END)
           |         ELSE x END AS x,
           |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${sv - 1} - x ELSE x END)
           |         ELSE y END AS y
           |  FROM (
           |    SELECT xb, yb, x, y, d,
           |      CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END AS rx,
           |      CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END AS ry
           |    FROM h${k - 1}) t)""".stripMargin
      }.mkString(",\n")
      s"""WITH coords AS (
        |  SELECT user_id % 256 AS xb,
        |    least(greatest(cast(floor(value) AS BIGINT), 0), 255) AS yb
        |  FROM events),
        |h0 AS (SELECT xb, yb, xb AS x, yb AS y, 0::BIGINT AS d FROM coords),
        |$rounds
        |SELECT d >> 10 AS hbucket,
        |  cast(count(*) AS BIGINT) AS n,
        |  min(xb) AS x_min, max(xb) AS x_max,
        |  min(yb) AS y_min, max(yb) AS y_max
        |FROM h$bits GROUP BY hbucket
        |ORDER BY hbucket""".stripMargin
    } { (s, d) =>
      val ev = Tables.events(s, d)
      val x = (col("user_id") % 256).cast("long")
      val y = least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(255L))
      ev.select(x.as("xb"), y.as("yb"),
          graft.operators.Layout.hilbertValue(x, y, bits = 8).as("hv"))
        .withColumn("hbucket", shiftright(col("hv"), 10))
        .groupBy(col("hbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
          min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
        .orderBy(col("hbucket"))
    },

    // CDC merge (Delta/Hudi MERGE INTO semantics): apply a changelog of
    // sequenced upserts/deletes to a base snapshot — per key the
    // HIGHEST-seq operation wins, a winning delete removes the row.
    // The snapshot is seq-0 upserts, so the whole merge is ONE argmax
    // aggregation on the key (max(struct(seq, op, text)) — seqs are
    // unique per key, so lexicographic == max-seq) + a delete filter;
    // no join against the base at all. Changelog fixture: updates
    // (%7), deletes (%13, seq above the %7 update so D wins the
    // overlap), inserts (new ids for %11).
    sql("t96_cdc_merge")(
      """WITH base AS (
        |  SELECT doc_id, text, 0::BIGINT AS seq, 'U' AS op FROM documents),
        |changes AS (
        |  SELECT doc_id, 'rev2: ' || coalesce(text, '') AS text, 1::BIGINT, 'U'
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, NULL, 2::BIGINT, 'D' FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'inserted doc ' || doc_id::VARCHAR, 1::BIGINT, 'U'
        |  FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT * FROM base UNION ALL SELECT * FROM changes),
        |m AS (SELECT doc_id, max(seq) AS ms FROM al GROUP BY doc_id),
        |f AS (
        |  SELECT a.doc_id, a.text, a.seq, a.op
        |  FROM al a JOIN m ON m.doc_id = a.doc_id AND a.seq = m.ms)
        |SELECT doc_id, text, seq AS last_seq
        |FROM f WHERE op <> 'D'
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val id = col("doc_id")
      val base = docs.select(id, col("text"),
        lit(0L).as("seq"), lit("U").as("op"))
      val changes =
        docs.where(id % 7 === 0).select(id,
            concat(lit("rev2: "), coalesce(col("text"), lit(""))).as("text"),
            lit(1L).as("seq"), lit("U").as("op"))
          .unionAll(docs.where(id % 13 === 0).select(id,
            lit(null).cast("string").as("text"), lit(2L).as("seq"),
            lit("D").as("op")))
          .unionAll(docs.where(id % 11 === 0).select(
            (id + 1000000L).as("doc_id"),
            concat(lit("inserted doc "), id).as("text"),
            lit(1L).as("seq"), lit("U").as("op")))
      base.unionAll(changes)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("seq"), col("op"), col("text"))).as("m"))
        .where(col("m.op") =!= "D")
        .select(col("doc_id"), col("m.text").as("text"),
          col("m.seq").as("last_seq"))
        .orderBy(col("doc_id"))
    },

    // Quantile-sketch accuracy audit (the t71/t78 audit family applied
    // to t66): for each (source, percentile), the EXACT rank-r element
    // — selected by the same ceil-rank convention the sketch readout
    // uses — must land in the sketch's chosen bucket. That is a
    // THEOREM for monotone buckets (the r-th smallest element lies in
    // the first bucket whose cumulative count reaches r); the audit
    // turns it into an oracled invariant, so any drift in bucket
    // arithmetic, rank convention, or cumsum frame goes red HERE with
    // est and exact side by side. `ok` is exact integer algebra
    // (bucket(exact) == bucket(est)), never a float tolerance.
    sql("t97_quantile_audit") {
      val bucketSql = (v: String) =>
        s"""CASE WHEN $v = 0 THEN -1
           |  ELSE (length(bin($v)) - 1) * 16 +
           |    CASE WHEN length(bin($v)) - 1 >= 4
           |         THEN (($v >> (length(bin($v)) - 5)) - 16)::INTEGER
           |         ELSE (($v - (1::BIGINT << (length(bin($v)) - 1)))
           |               << (5 - length(bin($v))))::INTEGER END
           |END""".stripMargin
      raw"""WITH d AS (
        |  SELECT source,
        |    (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |          ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+'))
        |     END)::BIGINT AS v
        |  FROM documents),
        |b AS (SELECT source, v, ${bucketSql("v")} AS bucket FROM d),
        |c AS (SELECT source, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT source, bucket,
        |    sum(c) OVER (PARTITION BY source ORDER BY bucket)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
        |  FROM c),
        |q AS (SELECT w.*, q_pct
        |      FROM w CROSS JOIN (VALUES (50), (90), (99)) qq(q_pct)),
        |sel AS (
        |  SELECT source, q_pct, n, min(bucket) AS bucket
        |  FROM q WHERE cum >= (q_pct * n + 99) // 100
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn
        |  FROM d),
        |exact AS (
        |  SELECT s.source, s.q_pct, min(r.v) AS exact_v
        |  FROM sel s JOIN ranked r
        |    ON r.source = s.source AND r.rn = (s.q_pct * s.n + 99) // 100
        |  GROUP BY 1, 2)
        |SELECT s.source, s.q_pct,
        |  CASE WHEN s.bucket = -1 THEN 0::BIGINT
        |       WHEN s.bucket // 16 >= 4
        |         THEN (16 + s.bucket % 16)::BIGINT << (s.bucket // 16 - 4)
        |       ELSE (16 + s.bucket % 16)::BIGINT >> (4 - s.bucket // 16)
        |  END AS est,
        |  e.exact_v,
        |  (${bucketSql("e.exact_v")}) = s.bucket AS ok
        |FROM sel s JOIN exact e ON e.source = s.source AND e.q_pct = s.q_pct
        |ORDER BY s.source, s.q_pct""".stripMargin
    } { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("source"),
          TextFunctions.tokenCount(coalesce(col("text"), lit(""))).as("v"))
      val sk = graft.operators.QuantileSketch.sketch(docs, Seq("source"), col("v"))
      val qs = graft.operators.QuantileSketch
        .quantiles(sk, Seq("source"), Seq(50, 90, 99))
      val ranked = docs.withColumn("rn",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("v"))))
      val exact = qs.select(col("source"), col("q_pct"), col("n"))
        .join(ranked, Seq("source"))
        .where(col("rn") === expr("(q_pct * n + 99) div 100"))
        .groupBy(col("source"), col("q_pct"))
        .agg(min(col("v")).as("exact_v"))
      qs.join(exact, Seq("source", "q_pct"))
        .select(col("source"), col("q_pct"), col("est"), col("exact_v"),
          (graft.operators.QuantileSketch.bucketCol(col("exact_v")) ===
            graft.operators.QuantileSketch.bucketCol(col("est"))).as("ok"))
        .orderBy(col("source"), col("q_pct"))
    },

    // Link-graph health summary over the t62 graph: node/edge counts,
    // reciprocity (directed: share of edges whose reverse exists, as
    // an integer fixed point), and degree assortativity (Pearson over
    // the symmetrized edge endpoints' degrees — Newman 2002's r, the
    // simple-degree variant, stated as such). Every aggregation is an
    // exact integer sum; the single-row Pearson readout is row-local
    // float arithmetic on those integers (the q29 channel), so both
    // engines compute identical bits.
    sql("t98_graph_summary")(
      """WITH cand AS (
        |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
        |  WHERE doc_id % 3 = 0),
        |edges AS (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) x
        |  GROUP BY node),
        |sym AS (
        |  SELECT da.d AS x, db.d AS y
        |  FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b
        |  UNION ALL
        |  SELECT db.d, da.d
        |  FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b),
        |sums AS (
        |  SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
        |    sum(y * y)::BIGINT AS syy
        |  FROM sym),
        |rec AS (
        |  SELECT count(*)::BIGINT AS rc FROM edges e
        |  JOIN edges r ON r.src = e.dst AND r.dst = e.src)
        |SELECT
        |  (SELECT count(*) FROM nodes)::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM edges)::BIGINT AS n_edges,
        |  (10000 * rec.rc // (SELECT count(*) FROM edges))::BIGINT AS recip_e4,
        |  round((m * sxy - sx * sy) /
        |    sqrt((m * sxx - sx * sx)::DOUBLE * (m * syy - sy * sy)), 4) + 0.0
        |    AS assortativity
        |FROM sums, rec""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val edges =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
          .where(col("src") =!= col("dst")).distinct()
          .localCheckpoint(false)
      val und = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val joined = und
        .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      // sym = joined ∪ mirror(joined); every aggregate over sym is an
      // exact integer fold of per-joined-row terms (r19: the unionAll
      // planned the und⋈deg⋈deg subtree twice — Catalyst cannot
      // ReusedExchange across the mirrored projections):
      //   m = 2·count, sx = sy = Σ(da+db), sxy = 2·Σ(da·db),
      //   sxx = syy = Σ(da²+db²)
      // — bit-identical by commutativity of integer addition.
      val sums = joined.agg((count(lit(1)) * 2).as("m"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") + col("db")).as("sy"),
        (sum(col("da") * col("db")) * 2).as("sxy"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
        sum(col("da") * col("da") + col("db") * col("db")).as("syy"))
      // all scalars stay IN the plan as 1-row aggregates (broadcast
      // cross joins of bounded frames — no driver-count actions)
      val nn = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val ne = edges.agg(count(lit(1)).as("n_edges"))
      val rcDf = edges.as("e").join(edges.as("r"),
          col("r.src") === col("e.dst") && col("r.dst") === col("e.src"))
        .agg(count(lit(1)).as("rc"))
      sums.crossJoin(nn).crossJoin(ne).crossJoin(rcDf).select(
        col("n_nodes"),
        col("n_edges"),
        expr("10000 * rc div n_edges").as("recip_e4"),
        (round((col("m") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy"))), 4) + 0.0)
          .as("assortativity"))
    },

    // Join-key skew diagnostics — the observability pass a cluster job
    // runs BEFORE a big join to decide salting/AQE thresholds: per
    // candidate key column, its cardinality, heaviest key, top-1
    // share, and max/mean ratio as integer fixed points. One
    // aggregation per key column; everything derives from exact
    // integer counts ((10000·max·n_keys) div n_rows is max/mean·1e4
    // without a float in sight).
    sql("t99_skew_report")(
      """WITH u AS (
        |  SELECT user_id::VARCHAR AS k FROM events),
        |t AS (
        |  SELECT event_type AS k FROM events),
        |s AS (
        |  SELECT source AS k FROM documents),
        |all_cols AS (
        |  SELECT 'events.user_id' AS col_name, k FROM u
        |  UNION ALL SELECT 'events.event_type', k FROM t
        |  UNION ALL SELECT 'documents.source', k FROM s),
        |cnt AS (
        |  SELECT col_name, k, count(*)::BIGINT AS c
        |  FROM all_cols GROUP BY 1, 2),
        |agg AS (
        |  SELECT col_name, count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
        |    max(c)::BIGINT AS max_c, min(k) FILTER (WHERE hot) AS hottest
        |  FROM (SELECT *, c = max(c) OVER (PARTITION BY col_name) AS hot FROM cnt) x
        |  GROUP BY col_name)
        |SELECT col_name, n_keys, n_rows, max_c, hottest,
        |  (10000 * max_c // n_rows)::BIGINT AS top1_share_e4,
        |  (10000 * max_c * n_keys // n_rows)::BIGINT AS max_over_mean_e4
        |FROM agg ORDER BY col_name""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val all = ev.select(lit("events.user_id").as("col_name"),
          col("user_id").cast("string").as("k"))
        .unionAll(ev.select(lit("events.event_type").as("col_name"),
          col("event_type").as("k")))
        .unionAll(Tables.documents(s, d)
          .select(lit("documents.source").as("col_name"), col("source").as("k")))
      val cnt = all.groupBy(col("col_name"), col("k"))
        .agg(count(lit(1)).as("c"))
      val agg = cnt
        .withColumn("mx", max(col("c")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("col_name"))))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          max(col("c")).as("max_c"),
          min(when(col("c") === col("mx"), col("k"))).as("hottest"))
      agg.select(col("col_name"), col("n_keys"), col("n_rows"), col("max_c"),
          col("hottest"),
          expr("10000 * max_c div n_rows").as("top1_share_e4"),
          expr("10000 * max_c * n_keys div n_rows").as("max_over_mean_e4"))
        .orderBy(col("col_name"))
    },

    // Train-ready batches — the capstone composition of the training
    // handoff: length gate → context-window chunking (t60 machinery)
    // → sequence packing into 128-token contexts (t29 machinery, 4
    // shards) → deterministic hash split (t34 convention). Everything
    // stays the operators' own semantics; the oracle is the mechanical
    // composition of their established replay formulations. Chunk ids
    // are doc_id·1000 + idx (chunk counts are bounded far below 1000
    // by corpus doc length), so doc/chunk recover by integer division
    // and the pack ordering is the (doc, chunk) order.
    sql("t100_train_batches")(
      raw"""WITH gated AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+'))
        |         END) >= 10),
        |tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM gated),
        |k AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) <= 64 THEN 1
        |         ELSE ((len(ts) - 64 + 47) // 48) + 1 END AS k
        |  FROM tok),
        |w AS (SELECT doc_id, ts, unnest(range(k))::INT AS i FROM k),
        |chunks AS (
        |  SELECT doc_id * 1000 + i AS chunk_id, doc_id, i AS chunk_idx,
        |    len(list_slice(ts, i * 48 + 1, i * 48 + 64))::BIGINT AS n_tokens
        |  FROM w),
        |s AS (
        |  SELECT chunk_id, doc_id, chunk_idx, n_tokens,
        |    (chunk_id % 4)::INT AS shard,
        |    (sum(n_tokens) OVER (PARTITION BY chunk_id % 4 ORDER BY chunk_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS stream_end
        |  FROM chunks WHERE n_tokens >= 1)
        |SELECT chunk_id, doc_id, chunk_idx, shard, n_tokens,
        |  (stream_end - n_tokens) // 128 AS seq_first,
        |  (stream_end - 1) // 128 AS seq_last,
        |  (stream_end - n_tokens) % 128 AS offset_in_seq,
        |  CASE WHEN ('0x' || substr(md5('b1-' || chunk_id::VARCHAR), 1, 8))::BIGINT
        |         % 100 < 90 THEN 'train' ELSE 'val' END AS split
        |FROM s ORDER BY chunk_id""".stripMargin
    ) { (s, d) =>
      val gated = Tables.documents(s, d)
        .where(TextFunctions.tokenCount(col("text")) >= 10)
      val chunks = graft.operators.Chunker.chunk(gated, "doc_id", "text",
          size = 64, stride = 48)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
        .withColumn("strata", lit("all"))
      val packed = Packing.contextPack(chunks, "chunk_id", "chunk_text",
        strataCol = "strata", ctxLen = 128, shards = 4)
      val bucket = conv(substring(
        md5(concat(lit("b1-"), col("chunk_id").cast("string"))), 1, 8),
        16, 10).cast("long") % 100
      packed.select(col("chunk_id"),
          expr("chunk_id div 1000").as("doc_id"),
          (col("chunk_id") % 1000).cast("int").as("chunk_idx"),
          col("shard"), col("n_tokens"),
          col("seq_first"), col("seq_last"), col("offset_in_seq"),
          when(bucket < 90, "train").otherwise("val").as("split"))
        .orderBy(col("chunk_id"))
    },

    // Edit-distance fuzzy matching over the VALUE DOMAIN — the record-
    // linkage modality the hash/shingle dedup family cannot express
    // (a transposition changes every shingle). The scale shape is the
    // point: distinct the value domain FIRST (one shuffle; titles,
    // hosts, product names are tiny next to row counts), then
    // fuzzy-join only the bounded domain, blocked by length (the
    // classic Levenshtein block: |len(a)−len(b)| ≤ dist, so a
    // same-length block loses nothing at dist ≤ 2 for equal-length
    // typos and is documented as a recall trade otherwise). Both
    // engines ship unit-cost levenshtein, so the oracle is builtin-
    // vs-builtin. Fixture plants transposition typos ('Documnet').
    sql("t101_fuzzy_titles")(
      """WITH titles AS (
        |  SELECT DISTINCT
        |    CASE WHEN doc_id % 17 = 0
        |         THEN 'Documnet Title ' || (doc_id % 40)::VARCHAR
        |         ELSE 'Document Title ' || (doc_id % 40)::VARCHAR END AS title
        |  FROM documents),
        |b AS (SELECT title, length(title) AS l FROM titles)
        |SELECT a.title AS title_a, bb.title AS title_b,
        |  levenshtein(a.title, bb.title)::INTEGER AS dist
        |FROM b a JOIN b bb ON bb.l = a.l AND a.title < bb.title
        |WHERE levenshtein(a.title, bb.title) <= 2
        |ORDER BY title_a, title_b""".stripMargin
    ) { (s, d) =>
      val id = col("doc_id")
      val title = when(id % 17 === 0,
          concat(lit("Documnet Title "), id % 40))
        .otherwise(concat(lit("Document Title "), id % 40))
      val titles = Tables.documents(s, d).select(title.as("title")).distinct()
        .withColumn("l", length(col("title")))
      titles.as("a").join(titles.as("bb"),
          col("bb.l") === col("a.l") && col("a.title") < col("bb.title"))
        .where(levenshtein(col("a.title"), col("bb.title")) <= 2)
        .select(col("a.title").as("title_a"), col("bb.title").as("title_b"),
          levenshtein(col("a.title"), col("bb.title")).cast("int").as("dist"))
        .orderBy(col("title_a"), col("title_b"))
    },

    // Weighted PageRank (PageRank.weightedRanks) — rank mass split by
    // EDGE WEIGHT (here: link multiplicity across the three t62
    // generators, i.e. the anchor-count weighting t61 produces in a
    // real crawl). contribution(u→v) = (r·w) div W(u); the same
    // integer recurrence, bit-identical replay. Completes the rank
    // family: global (t62), personalized (t91), weighted (t102).
    sql("t102_weighted_pagerank") {
      val iters = 8
      val rounds = (1 to iters).map { k =>
        s"""r$k AS (
           |  SELECT v.node, (t.t + (85 * coalesce(s.s, 0)) // 100)::BIGINT AS r
           |  FROM nodes v
           |  LEFT JOIN (
           |    SELECT e.dst AS node, sum((r.r * e.w) // d.wsum)::BIGINT AS s
           |    FROM edges e
           |    JOIN r${k - 1} r ON r.node = e.src
           |    JOIN wsum d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = v.node
           |  CROSS JOIN tele t)""".stripMargin
      }.mkString(",\n")
      s"""WITH cand AS (
        |  SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 13 + 3) % 1000 FROM documents
        |  UNION ALL
        |  SELECT doc_id % 1000, (doc_id * 31 + 7) % 1000 FROM documents
        |  WHERE doc_id % 3 = 0),
        |edges AS (
        |  SELECT src, dst, count(*)::BIGINT AS w FROM cand
        |  WHERE src <> dst GROUP BY 1, 2),
        |wsum AS (SELECT src, sum(w)::BIGINT AS wsum FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |n AS (SELECT count(*)::BIGINT AS c FROM nodes),
        |r0 AS (SELECT node, (1000000000000 // n.c)::BIGINT AS r
        |       FROM nodes CROSS JOIN n),
        |tele AS (SELECT ((15 * (1000000000000 // c)) // 100)::BIGINT AS t FROM n),
        |$rounds
        |SELECT node, r AS rank FROM r$iters
        |ORDER BY node""".stripMargin
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id")
      val weighted =
        docs.select((id % 1000).as("src"), ((id * 7 + 1) % 1000).as("dst"))
          .union(docs.select((id % 1000).as("src"),
            ((id * 13 + 3) % 1000).as("dst")))
          .union(docs.where(id % 3 === 0).select((id % 1000).as("src"),
            ((id * 31 + 7) % 1000).as("dst")))
          .withColumn("w", lit(1L))
      graft.operators.PageRank.weightedRanks(weighted, iters = 8)
        .orderBy(col("node"))
    },

    // Per-epoch training order: each epoch is an independent
    // deterministic permutation of the corpus — position = rank of
    // md5(epoch || doc_id) — so a trainer streams epoch e in that
    // order without ever materializing or coordinating a permutation
    // (any worker recomputes any position). One window per epoch
    // partition; the md5 channel is the established oracle-parity
    // hash (t34/t35). Three epochs keep the oracle small; the shape
    // is epoch-count-independent.
    sql("t103_epoch_shuffle")(
      """WITH e AS (
        |  SELECT doc_id, unnest(range(3))::INT AS epoch FROM documents),
        |r AS (
        |  SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch
        |      ORDER BY md5(epoch::VARCHAR || '-' || doc_id::VARCHAR), doc_id)
        |      AS pos
        |  FROM e)
        |SELECT epoch, doc_id, pos::BIGINT AS pos
        |FROM r ORDER BY epoch, pos""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(0), lit(2))))
      val w = Window.partitionBy(col("epoch"))
        .orderBy(md5(concat(col("epoch").cast("string"), lit("-"),
          col("doc_id").cast("string"))), col("doc_id"))
      e.select(col("epoch"), col("doc_id"),
          row_number().over(w).cast("long").as("pos"))
        .orderBy(col("epoch"), col("pos"))
    },

    // clustered-LAYOUT read path under the driver gate: events is
    // physically z-order clustered on (value, user_id) once per
    // session (Layout.clusteredWrite → repartitionByRange + sorted
    // partitioned parquet), then a rectangle predicate reads ONLY the
    // intersecting curve directories (Layout.prunedRead). Pruning is
    // answer-transparent by construction — the raw predicate re-applies
    // after directory pruning — so the oracle is the PLAIN filter over
    // the source table: any pruning bug (dropped directory, wrong cell
    // enumeration, bucketizer drift) surfaces as a hash mismatch here
    // while the speedup itself is pinned by ClusteredLayoutSpec's
    // files-read assertions. Cents fixed-point keeps the sum exact.
    sql("t105_clustered_prune")(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE value BETWEEN 50 AND 150 AND user_id BETWEEN 0 AND 7
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    ) { (s, d) =>
      clusteredRectangle(s, d, useHilbert = false)
    },

    // the same gated read through the HILBERT layout (t95 oracles the
    // curve VALUES; this gates the hilbert prunedRead path end-to-end —
    // different curve, different directory enumeration, same answer)
    sql("t106_hilbert_prune")(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE value BETWEEN 50 AND 150 AND user_id BETWEEN 0 AND 7
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    ) { (s, d) =>
      clusteredRectangle(s, d, useHilbert = true)
    }
  )

  private def clusteredRectangle(s: org.apache.spark.sql.SparkSession,
                                 d: String, useHilbert: Boolean) = {
    val (dir, layout) = clusteredEventsCached(s, d, useHilbert)
    graft.operators.Layout.prunedRead(s, dir, layout,
        "value", "user_id", 50.0, 150.0, 0.0, 7.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy(col("event_type"))
  }

  /** One curve-clustered copy of the events table per (session, corpus,
    * curve) — the t105/t106 input, built lazily so Verify/Bench reuse a
    * single write across repeated invocations. Temp-dir placed (fresh
    * per JVM, removed when the JVM exits); content is deterministic
    * given the corpus. */
  private val layoutCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Boolean),
      (String, graft.operators.Layout.CurveLayout)]
  private def clusteredEventsCached(s: org.apache.spark.sql.SparkSession,
                                    d: String, useHilbert: Boolean)
      : (String, graft.operators.Layout.CurveLayout) =
    layoutCache.getOrElseUpdate((s, d, useHilbert), {
      val root = java.nio.file.Files.createTempDirectory("graft_t105")
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
      val dir = root.toString + "/events"
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("value"))
      val layout = graft.operators.Layout.clusteredWrite(
        ev, "value", "user_id", dir, useHilbert = useHilbert,
        bits = 8, partBits = 4)
      (dir, layout)
    })
}
