package graft.streaming

import graft.ops.{Decontaminate, DeltaPartsStore, PinnedStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming-maintained winnowing-fingerprint INDEX — the
  * decontamination family's corpus-side index ([[graft.ops
  * .Decontaminate.fingerprints]]: per-doc (doc_id, fp) rows, the MOSS
  * selection of Schleimer/Wilkerson/Aiken SIGMOD 2003) kept current
  * one micro-batch at a time instead of re-tokenizing the corpus per
  * query. At 100 TB the corpus-wide tokenize+winnow pass dominates
  * every decon question; documents arrive incrementally, and each
  * doc's fingerprints depend on NOTHING but that doc — so the index
  * is per-row decomposable and the maintained store is EXACT:
  *
  *  - slicing invariance holds by construction (per-doc rows, union
  *    fold): drain == batch bit-for-bit, spec-pinned — like the count
  *    store's additivity, unlike the NSW graph's honest
  *    insertion-order dependence;
  *  - compaction REPACKS (identity rewrite: bytes move, rows don't),
  *    so the store fingerprint — the address any downstream artifact
  *    serves by — is INVARIANT across compaction (spec-pinned; the
  *    dual of the count store's merge-changes-rows trade);
  *  - [[servedFps]] serves the maintained index through
  *    [[graft.ops.ArtifactStore.buildOrServeParts]], each committed
  *    `bid=N` partition its own part addressed by the write-time
  *    sidecar: steady-state growth costs O(new batch) per serve and a
  *    re-serve is a pure multi-path scan.
  *
  * Fingerprints written under one (k, w) are meaningless under
  * another, so the store pins `geometry.txt` like its siblings. Store
  * mechanics (partition + sidecar + meta-last commit, two-rename
  * compaction, crash recovery) and the pin are
  * [[graft.ops.DeltaPartsStore]]'s.
  */
object StreamWinnowIndex extends PinnedStore[Seq[Int]] {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fp", LongType)))

  /** Winnowing parameters — lockstep with [[graft.ops.Decontaminate]]'s
    * defaults (k-token grams, w-wide windows: any shared verbatim run
    * of >= w+k-1 = 8 tokens is detected). Module constants, so the pin
    * protects the store across code versions, not calls. */
  val K = 5
  val W = 4

  protected val pin = DeltaPartsStore.Pin.fields("geometry.txt", "k", "w")
  protected val artifactName = "winnow_maintained_fps"
  protected def artifactParams(storeDir: String) = s"k=$K,w=$W"

  /** The folded index: committed (doc_id, fp) rows — a plain union of
    * the per-batch parts, no aggregation (fingerprints are per-doc). */
  def fps(spark: SparkSession, storeDir: String): DataFrame =
    parts(spark, storeDir)

  /** The store's pinned (k, w), or None for a store no apply has
    * pinned yet — what an offline reader validates against. */
  def geometry(storeDir: String): Option[(Int, Int)] =
    pinned(storeDir).map { case Seq(k, w) => (k, w) }

  def requireGeometry(storeDir: String, k: Int, w: Int): Unit =
    requirePinned(storeDir, Seq(k, w))

  /** Apply one batch: winnow the batch's docs, commit the part +
    * sidecar, move the watermark. Null-text rows drop (poison-row
    * rule); a replayed bid is a no-op. Exposed for the spec's slicing
    * experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, textCol: String,
                                storeDir: String): Unit =
    commitPinned(storeDir, bid, Seq(K, W))(
      Decontaminate.fingerprints(
        batch.where(col(textCol).isNotNull), idCol, textCol, K, W)
        .select(col("doc_id").cast("long").as("doc_id"), col("fp")))

  def servedFps(spark: SparkSession, storeDir: String): DataFrame =
    served(spark, storeDir)

  /** The validated serve path for a reader that derived its own
    * query-side fingerprints. */
  def servedFps(spark: SparkSession, storeDir: String, k: Int,
                w: Int): DataFrame =
    served(spark, storeDir, Seq(k, w))

  /** Wire an (id, text) document stream into the maintained index. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          storeDir: String, trigger: Trigger,
          compactAfterBatches: Int = 48): DataStreamWriter[Row] =
    runLoop(stream, storeDir, trigger, compactAfterBatches)(
      applyBatch(_, _, idCol, textCol, storeDir))
}
