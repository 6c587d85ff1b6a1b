package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, ExecSubqueryExpression, FileSourceScanExec,
  SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec,
  ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Engine extension point (`spark.sql.extensions=graft.expr.GraftExtensions`):
  * registers the engine's native Catalyst expressions as SQL functions so
  * `spark.sql("SELECT ole_to_timestamp(col)")` plans the codegen'd
  * expression directly, and installs the AQE rule [[SingleTaskExchange]].
  * Wired into [[graft.core.Sessions.builder]];
  * Column-side access goes through `call_function` (see
  * [[graft.operators.Similarity]] / [[graft.operators.Dedup]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** A foldable integer argument (the static knobs of the LSH/MinHash
    * expressions: dims, bits, tables, numHashes). */
  private def intArg(e: Expression, fn: String, pos: Int): Int = {
    require(e.foldable, s"$fn: argument ${pos + 1} must be a literal integer")
    e.eval() match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a literal integer, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(_ => SingleTaskExchange)

    ext.injectFunction((
      FunctionIdentifier("ole_to_timestamp"),
      new ExpressionInfo(classOf[OleToTimestamp].getName, "ole_to_timestamp"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "ole_to_timestamp expects exactly one argument")
        // implicit numeric widening, since ExpectsInputTypes is sql-private
        OleToTimestamp(Cast(children.head, DoubleType))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_cosine expects (vec_a, vec_b)")
        CosineSimilarity(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "graft_lsh_buckets expects (vec, dims, bits, tables)")
        LshBuckets(children.head,
          intArg(children(1), "graft_lsh_buckets", 1),
          intArg(children(2), "graft_lsh_buckets", 2),
          intArg(children(3), "graft_lsh_buckets", 3))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_minhash_sig expects (shingles, numHashes)")
        MinHashSig(children.head, intArg(children(1), "graft_minhash_sig", 1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "graft_jaccard_sorted"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_jaccard_sorted expects (sorted_a, sorted_b)")
        JaccardSorted(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_match_frac"),
      new ExpressionInfo(classOf[SigMatchFraction].getName, "graft_match_frac"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_match_frac expects (sig_a, sig_b)")
        SigMatchFraction(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[GraftShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingles expects (text, n)")
        GraftShingles(children.head, intArg(children(1), "graft_shingles", 1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_rep_ratio"),
      new ExpressionInfo(classOf[GraftRepRatio].getName, "graft_rep_ratio"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_rep_ratio expects (text, n)")
        GraftRepRatio(children.head, intArg(children(1), "graft_rep_ratio", 1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_dup_mass"),
      new ExpressionInfo(classOf[GraftDupMass].getName, "graft_dup_mass"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dup_mass expects (text, n)")
        GraftDupMass(children.head, intArg(children(1), "graft_dup_mass", 1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_token_profile"),
      new ExpressionInfo(classOf[GraftTokenProfile].getName, "graft_token_profile"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_token_profile expects (text)")
        GraftTokenProfile(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_simhash expects (tokens)")
        SimHash64(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[GraftHilbert].getName, "graft_hilbert"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_hilbert expects (x, y, bits)")
        GraftHilbert(children(0), children(1),
          intArg(children(2), "graft_hilbert", 1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_clean_len"),
      new ExpressionInfo(classOf[GraftCleanLen].getName, "graft_clean_len"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_clean_len expects (str)")
        GraftCleanLen(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_stop_ratio"),
      new ExpressionInfo(classOf[GraftStopRatio].getName, "graft_stop_ratio"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_stop_ratio expects (str, stopwords)")
        GraftStopRatio(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_argmax_cosine"),
      new ExpressionInfo(classOf[CentroidArgmax].getName, "graft_argmax_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_argmax_cosine expects (vec, centroids, k)")
        CentroidArgmax(children.head, children(1),
          intArg(children(2), "graft_argmax_cosine", 2))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_topn_cosine"),
      new ExpressionInfo(classOf[CentroidTopN].getName, "graft_topn_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "graft_topn_cosine expects (vec, centroids, k, n)")
        CentroidTopN(children.head, children(1),
          intArg(children(2), "graft_topn_cosine", 2),
          intArg(children(3), "graft_topn_cosine", 3))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "graft_pq_encode expects (vec, codebook, m, k)")
        PqEncode(children.head, children(1),
          intArg(children(2), "graft_pq_encode", 2),
          intArg(children(3), "graft_pq_encode", 3))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_pq_adc expects (codes, table, k)")
        PqAdc(children.head, children(1),
          intArg(children(2), "graft_pq_adc", 2))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContainsLong].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_bloom_contains expects (hash, sketch)")
        BloomContainsLong(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_bpe_count"),
      new ExpressionInfo(classOf[BpeCount].getName, "graft_bpe_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_bpe_count expects (text, merges)")
        BpeCount(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_luhn"),
      new ExpressionInfo(classOf[GraftLuhn].getName, "graft_luhn"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_luhn expects one string argument")
        GraftLuhn(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[GraftNfc].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_nfc expects one string argument")
        GraftNfc(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_json_strict"),
      new ExpressionInfo(classOf[GraftJsonStrict].getName, "graft_json_strict"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_json_strict expects one string argument")
        GraftJsonStrict(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_md5_u128"),
      new ExpressionInfo(classOf[Md5U128].getName, "graft_md5_u128"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_md5_u128 expects one string argument")
        Md5U128(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_md5_buckets"),
      new ExpressionInfo(classOf[Md5Buckets].getName, "graft_md5_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_md5_buckets expects (tokens, dims)")
        Md5Buckets(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_lr_dot"),
      new ExpressionInfo(classOf[LrDotLong].getName, "graft_lr_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_lr_dot expects (buckets, weights)")
        LrDotLong(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_logit_grad"),
      new ExpressionInfo(classOf[LogisticGradAgg].getName, "graft_logit_grad"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "graft_logit_grad expects (y, n, buckets, weights)")
        LogisticGradAgg(children(0), children(1), children(2), children(3))
      }))
  }
}

/** AQE query-stage preparation rule: an exchange that only moves data
  * one task holds is replaced by `CoalesceExec(1)`, so its two sides run
  * in one task of one stage. It has two cases.
  *
  * A global sort whose input fits in one partition: `SortExec(global =
  * true)` directly over the `ShuffleExchangeExec(RangePartitioning,
  * ENSURE_REQUIREMENTS)` that `EnsureRequirements` plans for an
  * `orderBy`. The range exchange costs two Spark jobs
  * (`RangePartitioner`'s sampling job and the shuffle-map stage); the
  * coalesce costs none, and one sorted partition is a total order. It
  * fires only when the input's size estimate (`logicalLink.stats.
  * sizeInBytes`) is at or below the largest input AQE's coalescer reads
  * back as one partition: `coalescePartitions.minPartitionSize` under
  * `parallelismFirst` (the default), else `advisoryPartitionSizeInBytes`.
  * AQE re-plans after every materialized stage, so the estimate then
  * carries the runtime size of the stages below it, and an input that a
  * static estimate priced too high is caught on re-planning.
  *
  * A partial aggregate that runs as one task: the `ENSURE_REQUIREMENTS`
  * `ShuffleExchangeExec` between the map and the final half of Spark's
  * partial/final aggregate pair (a distinct-only aggregate, with no
  * aggregate functions, included). The partial aggregate runs as one
  * task when, through unary operators only and with no exchange or query
  * stage in between, it reads a scan with at most one planned input
  * partition: a DataSource V2 scan with one `inputPartitions` entry, or
  * a non-bucketed v1 file scan of at most one file no longer than its
  * split size. The exchange then feeds one consumer from one producer:
  * it costs a shuffle-map job, its shuffle files and an AQE re-plan, and
  * moves rows that stay in one task anyway. This case does not fire under
  * a range exchange that the sort case kept: the aggregate's stage is
  * what gives that sort, on re-planning, the runtime size it is
  * rewritten on, and without it the sort would pay its sampling job.
  *
  * Why it holds at 100 TB: neither case lowers parallelism. The sort
  * case fires only where AQE would have run the sort in one task anyway,
  * so a large sort keeps its range exchange; the estimate it trusts is
  * the one broadcast joins trust, at a 1 MB bound instead of
  * `autoBroadcastJoinThreshold`. The aggregate case never meets a large
  * input, because a scan larger than `maxPartitionBytes` is split into
  * several tasks; where it fires, the final merge reads only the rows
  * the same task's partial aggregate built, so it costs at most what
  * the partial did. User-requested origins (`repartition`,
  * `repartitionByRange`) and `TakeOrderedAndProject` do not match. Each
  * case changes the output partitioning of the operators above it,
  * which an operator further up may rely on (a join's co-partitioned
  * sides, or a `UnionExec` that passes a common child partitioning up),
  * so each case's rewrites are kept only when `ValidateRequirements`
  * still passes. Neither fires when AQE does not coalesce partitions,
  * and sessions without AQE never run the rule. */
object SingleTaskExchange extends Rule[SparkPlan] {

  /** Bytes that AQE's coalescer reads as one partition; None when it
    * does not coalesce. */
  private def onePartitionBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** The map half of a partial/final aggregate pair: it requires no
    * child distribution and holds only partial aggregate buffers. */
  private def isPartialAggregate(plan: SparkPlan): Boolean = plan match {
    case a: BaseAggregateExec =>
      a.requiredChildDistributionExpressions.isEmpty &&
        a.aggregateExpressions.forall(e => e.mode == Partial || e.mode == PartialMerge)
    case _ => false
  }

  /** `plan` runs as one task: through unary operators only, it reads one
    * scan with at most one planned input partition. */
  private def runsAsOneTask(plan: SparkPlan): Boolean = plan match {
    case _: Exchange | _: QueryStageExec => false
    case s: BatchScanExec => s.inputPartitions.size <= 1
    case s: FileSourceScanExec =>
      !s.bucketedScan && !s.partitionFilters.exists(ExecSubqueryExpression.hasSubquery) && {
        val files = s.selectedPartitions
        files.totalNumberOfFiles <= 1 &&
          files.totalFileSize <= FilePartition.maxSplitBytes(s.relation.sparkSession, files)
      }
    case u: UnaryExecNode => runsAsOneTask(u.child)
    case _ => false
  }

  /** `plan` with every exchange after a one-task partial aggregate
    * replaced, bottom-up, so a distinct aggregate's second exchange sees
    * its first one replaced. A range exchange is not entered. */
  private def coalescePartialAggregates(plan: SparkPlan): SparkPlan = plan match {
    case ShuffleExchangeExec(_: RangePartitioning, _, ENSURE_REQUIREMENTS, _) => plan
    case _ => plan.mapChildren(coalescePartialAggregates) match {
      case ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS, _)
          if isPartialAggregate(child) && runsAsOneTask(child) =>
        CoalesceExec(1, child)
      case other => other
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = onePartitionBytes.fold(plan) { limit =>
    val sorts = (p: SparkPlan) => p.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if child.logicalLink.exists(_.stats.sizeInBytes <= limit) =>
        s.copy(child = CoalesceExec(1, child))
    }
    Seq(sorts, coalescePartialAggregates _).foldLeft(plan) { (current, rewrite) =>
      val rewritten = rewrite(current)
      if (ValidateRequirements.validate(rewritten)) rewritten else current
    }
  }
}
