package graft.streaming

import graft.functions.TextAnalysis.tokens
import graft.ops.MaintainedStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Streaming incremental AGGREGATE store — the delta-parts pattern
  * ([[graft.ops.ArtifactStore.buildOrServeParts]]'s grain) applied to
  * an unbounded key space: per-(source, token) corpus counts
  * maintained one micro-batch at a time. The q375 artifact's MAINTAIN
  * leg, and the materialized-view shape the reference reaches with
  * trigger-maintained tables (migrations/1590689602-
  * gateway_inventory.sql:64 — maintain once, serve many).
  *
  * The store mechanics (per-batch `bid=N` partition + `_fp` sidecar,
  * meta-last commit, sidecar-folded fingerprints, two-atomic-rename
  * compaction) are [[graft.ops.DeltaPartsStore]]'s; what is THIS op's:
  *
  *  - the batch PRE-AGGREGATES to its own (source, token, n) counts —
  *    the write is vocab-of-the-batch-sized, never row-sized;
  *  - the FOLDED view ([[counts]]) group-sums the pre-aggregated parts
  *    — input is #batches × batch-vocab rows, never the corpus.
  *    Because addition is associative-commutative, drain == batch
  *    holds EXACTLY (slicing invariance, spec-pinned) — the property
  *    the NSW graph store honestly cannot claim;
  *  - compaction MERGES rows (group-sum into a single partition).
  *    Unlike the winnow index's repack (bytes move, rows don't),
  *    merging CHANGES the stored rows, so the store fingerprint
  *    changes — deliberately: a downstream artifact built over these
  *    rows must re-address, because its input rows really did change.
  *    What is preserved — and spec-pinned — is the folded view.
  */
object StreamTokenCounts extends MaintainedStore {

  val schema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("token", StringType),
    StructField("n", LongType)))

  private def sumByKey(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"), col("token")).agg(sum(col("n")).as("n"))

  override protected def compactRewrite: DataFrame => DataFrame = sumByKey

  /** The folded view: corpus (source, token) counts — a group-sum over
    * the PRE-AGGREGATED parts (#batches × batch-vocab input rows). */
  def counts(spark: SparkSession, storeDir: String): DataFrame =
    sumByKey(parts(spark, storeDir))

  /** Apply one batch: pre-aggregate, commit the part + sidecar, move
    * the watermark. A replayed bid is a no-op. Exposed for the spec's
    * slicing experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                srcCol: String, textCol: String,
                                storeDir: String): Unit =
    commit(storeDir, bid)(batch
      .where(col(textCol).isNotNull) // poison-row rule: null text drops
      .select(coalesce(col(srcCol), lit("")).as("source"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n")))

  /** Wire a (source, text) document stream into the maintained count
    * store. */
  def run(stream: DataFrame, srcCol: String, textCol: String,
          storeDir: String, trigger: Trigger,
          compactAfterBatches: Int = 48): DataStreamWriter[Row] =
    runLoop(stream, storeDir, trigger, compactAfterBatches)(
      applyBatch(_, _, srcCol, textCol, storeDir))
}
