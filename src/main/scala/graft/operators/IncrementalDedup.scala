package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection against a persisted signature
  * index — the production shape of corpus dedup at 100 TB: the
  * historical corpus was deduped ONCE and only its MinHash signatures
  * were kept (the index is ~`8·numHashes` bytes/doc; the text is long
  * gone or cold); each arriving increment is banded and joined against
  * the index, so daily cost scales with the increment and the index
  * row count — never with re-reading history.
  *
  * Because the index has no text, the emitted confidence is the
  * SIGNATURE estimate (matching-position fraction — the unbiased
  * MinHash Jaccard estimator), not an exact-token verify; the caller
  * tunes `minEst` the way [[Dedup.minHashPairs]] callers tune the
  * exact threshold. Candidates come from the same banding scheme, so
  * an index built by [[signatureIndex]] and a full self-dedup agree on
  * which pairs collide (spec-pinned).
  *
  * Scale shape: increment side = (id, sig, band, bucket) rows,
  * `bands` per doc; index side identical. ONE equi-join on
  * (band, bucket) — a small daily increment broadcasts under AQE, a
  * large one hash-joins with no skew beyond bucket collisions (bounded
  * by the banding threshold). distinct-before-threshold collapses
  * multi-band collisions to one row per pair. If an increment ever
  * approaches corpus size AND the corpus is signature-dense, this
  * bipartite join inherits the [[SaltedSelfJoin]] amplification hazard
  * (hot bucket on both sides); salt the index side's bucket with an
  * id-hash chunk and replicate the increment rows across chunks, with
  * the numbered-repartition discipline documented there. */
object IncrementalDedup {

  /** The persisted index of a curated corpus: (doc_id, sig). In
    * production this is written once and re-read each increment. */
  def signatureIndex(df: DataFrame, textCol: String, idCol: String,
                     numHashes: Int = 32): DataFrame =
    df.select(col(idCol).as("doc_id"),
      Dedup.minHashSignature(col(textCol), numHashes).as("sig"))

  private def banded(sigs: DataFrame, idOut: String, sigOut: String,
                     numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("doc_id").as(idOut), col("sig").as(sigOut),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bucket"))))
          .as("bb"))
      .select(col(idOut), col(sigOut),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** (new_id, old_id, est_jaccard): increment documents whose banded
    * signature collides with an index entry and whose estimated
    * Jaccard is ≥ `minEst`. `index` is a [[signatureIndex]] frame
    * (doc_id, sig) with the SAME numHashes — signatures, not text. */
  def newVersusIndex(increment: DataFrame, textCol: String, idCol: String,
                     index: DataFrame, numHashes: Int = 32, bands: Int = 8,
                     minEst: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val inc = banded(signatureIndex(increment, textCol, idCol, numHashes),
      "new_id", "new_sig", numHashes, bands)
    val idx = banded(index.select(col("doc_id"), col("sig")),
      "old_id", "old_sig", numHashes, bands)
    inc.join(idx, Seq("band", "bucket"))
      .select(col("new_id"), col("old_id"),
        round(call_function("graft_match_frac", col("new_sig"), col("old_sig")), 4)
          .as("est_jaccard"))
      .distinct()
      .where(col("est_jaccard") >= minEst)
  }
}
