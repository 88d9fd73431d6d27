package graft.streaming

import graft.ops.{DeltaPartsStore, PinnedStore, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Streaming-maintained sign-LSH bucket INDEX — the ANN family's
  * corpus-side index (q31/q376's (id, band, key) rows: one key per
  * band per vector, [[graft.ops.VectorSearch.lshCandidates]]) kept
  * current one micro-batch at a time. A vector's bucket keys depend on
  * NOTHING but that vector and the fixed plane geometry, so like the
  * winnow index the maintained store is EXACT:
  *
  *  - slicing invariance holds by construction (per-row index entries,
  *    union fold): drain == batch bit-for-bit, spec-pinned;
  *  - compaction REPACKS (identity rewrite), so the store fingerprint
  *    — the downstream artifact address — is invariant;
  *  - [[servedBuckets]] serves the maintained index part-addressed
  *    through [[graft.ops.ArtifactStore.buildOrServeParts]]: an append
  *    costs one batch-sized part, a re-serve is a multi-path scan.
  *
  * Multi-probe serving needs NO store cooperation (Lv et al., VLDB
  * 2007 — the q376 trade): the corpus keeps ONE key per band forever;
  * only the query side fans out. An index maintained here answers
  * base-probe and multi-probe queries alike.
  *
  * The plane GEOMETRY is part of the store's identity: a key written
  * under (bands, bitsPerBand, dims) is meaningless under any other
  * geometry, so the first apply pins `geometry.txt` and every later
  * apply must match — LOUDLY, because mixed-geometry buckets would
  * serve silently wrong candidates. Store mechanics and the pin are
  * [[graft.ops.DeltaPartsStore]]'s.
  */
object StreamLshIndex extends PinnedStore[Seq[Int]] {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("band", IntegerType),
    StructField("key", LongType)))

  protected val pin =
    DeltaPartsStore.Pin.fields("geometry.txt", "bands", "bitsPerBand", "dims")
  protected val artifactName = "lsh_maintained_buckets"
  protected def artifactParams(storeDir: String) = "keys"

  /** The folded index: committed (id, band, key) rows. */
  def buckets(spark: SparkSession, storeDir: String): DataFrame =
    parts(spark, storeDir)

  /** The store's pinned plane geometry as (bands, bitsPerBand, dims),
    * or None for a store no apply has pinned yet. */
  def geometry(storeDir: String): Option[(Int, Int, Int)] =
    pinned(storeDir).map { case Seq(b, bb, d) => (b, bb, d) }

  def requireGeometry(storeDir: String, bands: Int, bitsPerBand: Int,
                      dims: Int): Unit =
    requirePinned(storeDir, Seq(bands, bitsPerBand, dims))

  /** Apply one batch: key the batch's vectors, commit the part +
    * sidecar, move the watermark. Null and WRONG-DIMENSION vectors
    * drop (poison-row rule — a truncated vector keyed by zero-padded
    * planes would land in a bucket its true geometry never visits, the
    * same silent-poison class the geometry pin refuses). Honest scope:
    * the single-shot inline path (q31/q376) zero-pads short vectors
    * instead of dropping them, so maintained == single-shot holds for
    * well-formed corpora — every dims-length vector, which is every
    * fixture row; a malformed row diverges by design, the maintained
    * side being the stricter one. A replayed bid is a no-op. Exposed
    * for the spec's slicing experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, vecCol: String,
                                bands: Int, bitsPerBand: Int, dims: Int,
                                storeDir: String): Unit =
    commitPinned(storeDir, bid, Seq(bands, bitsPerBand, dims))(
      VectorSearch.lshCandidates(
        batch.where(col(vecCol).isNotNull && size(col(vecCol)) === dims),
        idCol, vecCol, bands, bitsPerBand, dims)
        .select(col("id").cast("long").as("id"), col("band"),
          col("key").cast("long").as("key")))

  def servedBuckets(spark: SparkSession, storeDir: String): DataFrame =
    served(spark, storeDir)

  /** The validated serve path any query that derived its own probe
    * keys should use (q386 does). */
  def servedBuckets(spark: SparkSession, storeDir: String, bands: Int,
                    bitsPerBand: Int, dims: Int): DataFrame =
    served(spark, storeDir, Seq(bands, bitsPerBand, dims))

  /** Wire an (id, vector) stream into the maintained index. */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          bands: Int, bitsPerBand: Int, dims: Int, storeDir: String,
          trigger: Trigger,
          compactAfterBatches: Int = 48): DataStreamWriter[Row] =
    runLoop(stream, storeDir, trigger, compactAfterBatches)(
      applyBatch(_, _, idCol, vecCol, bands, bitsPerBand, dims, storeDir))
}
