package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Engine extension point (`spark.sql.extensions=graft.expr.GraftExtensions`):
  * registers the engine's native Catalyst expressions as SQL functions so
  * `spark.sql("SELECT ole_to_timestamp(col)")` plans the codegen'd
  * expression directly, and installs the AQE rule [[SingleTaskSort]].
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
    ext.injectQueryStagePrepRule(_ => SingleTaskSort)

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

/** AQE query-stage preparation rule: a global sort whose input fits in
  * one partition sorts in one task instead of range-partitioning first.
  *
  * It matches `SortExec(global = true)` directly over the
  * `ShuffleExchangeExec(RangePartitioning, ENSURE_REQUIREMENTS)` that
  * `EnsureRequirements` plans for an `orderBy`, and replaces the
  * exchange with `CoalesceExec(1)`. The range exchange costs two Spark
  * jobs (`RangePartitioner`'s sampling job and the shuffle-map stage);
  * the coalesce costs none, and one sorted partition is a total order.
  *
  * It fires only when the input's size estimate
  * (`logicalLink.stats.sizeInBytes`) is at or below the largest input
  * AQE's coalescer reads back as one partition: `coalescePartitions.
  * minPartitionSize` under `parallelismFirst` (the default), else
  * `advisoryPartitionSizeInBytes`; never when coalescing is off. AQE
  * re-plans after every materialized stage, so the estimate then carries
  * the runtime size of the stages below it, and an input that a static
  * estimate priced too high is caught on re-planning.
  *
  * Why it holds at 100 TB: it never changes parallelism. It fires only
  * where AQE would have run the sort in one task anyway, so a large sort
  * keeps its range exchange. The estimate it trusts is the one broadcast
  * joins trust, at a 1 MB bound instead of `autoBroadcastJoinThreshold`.
  * `repartitionByRange` (a user-requested origin) and
  * `TakeOrderedAndProject` do not match. The single partition also
  * changes the sort's output partitioning, which an operator above may
  * rely on (a `UnionExec` passes a common child partitioning up), so the
  * rewrite is kept only when `ValidateRequirements` still passes.
  * Sessions without AQE never run the rule. */
object SingleTaskSort extends Rule[SparkPlan] {

  /** Bytes that AQE's coalescer reads as one partition; None when it
    * does not coalesce. */
  private def onePartitionBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  override def apply(plan: SparkPlan): SparkPlan = onePartitionBytes.fold(plan) { limit =>
    val rewritten = plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if child.logicalLink.exists(_.stats.sizeInBytes <= limit) =>
        s.copy(child = CoalesceExec(1, child))
    }
    if (ValidateRequirements.validate(rewritten)) rewritten else plan
  }
}
