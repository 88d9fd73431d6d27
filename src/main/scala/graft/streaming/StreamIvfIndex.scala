package graft.streaming

import graft.ops.{DeltaPartsStore, PinnedStore, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Streaming-maintained IVF postings INDEX — the coarse-quantizer
  * assignment table ([[graft.ops.VectorSearch.ivfAssign]]: (id, cell)
  * rows, each vector posted to its `probes` nearest centroids) kept
  * current one micro-batch at a time. The inline IVF probe (q30)
  * re-assigns the whole corpus per question; at 100 TB the postings
  * are built ONCE per arrival and every query's cell probe is a
  * filter over the maintained table. A vector's cells depend on
  * NOTHING but that vector and the fixed centroid matrix, so the
  * maintained store is EXACT:
  *
  *  - slicing invariance holds by construction (per-row postings,
  *    union fold): drain == batch bit-for-bit, spec-pinned;
  *  - compaction REPACKS (identity rewrite), so the store fingerprint
  *    — the downstream artifact address — is invariant;
  *  - [[servedAssign]] serves the postings part-addressed through
  *    [[graft.ops.ArtifactStore.buildOrServeParts]]: an append costs
  *    one batch-sized part, a re-serve is a multi-path parquet scan.
  *
  * The CENTROID MATRIX (and the per-vector assignment multiplicity
  * `probes`) is the store's identity the way plane geometry is the
  * LSH store's: a posting written under one matrix is meaningless
  * under another, so the first apply pins `centroids.txt`
  * (Double.toString round-trips exactly — the pin is lossless) and
  * every later apply — and every validated read — must match LOUDLY.
  * Readers that derive their own probe cells should take the matrix
  * FROM [[centroids]] rather than trusting configured constants.
  *
  * Centroid DRIFT is [[StreamIvfRefresh]]'s job: when its PSI gate
  * retrains, the new matrix is a NEW store identity — rebuild into a
  * fresh store dir and swap, never mix postings across matrices (the
  * same refusal the pin enforces). Store mechanics and the pin are
  * [[graft.ops.DeltaPartsStore]]'s.
  */
object StreamIvfIndex extends PinnedStore[(Array[Array[Double]], Int)] {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("cell", IntegerType)))

  private val Header = """probes=(\d+),k=(\d+),dims=(\d+)""".r

  /** Lossless (centroid matrix, probes) codec: a
    * `probes=..,k=..,dims=..` header line (the pin's summary), then
    * one comma-joined Double.toString line per centroid. A pin whose
    * rows disagree with its header is refused: a truncated row would
    * hand readers a ragged matrix that probes silently wrong cells. */
  protected val pin = DeltaPartsStore.Pin[(Array[Array[Double]], Int)](
    "centroids.txt", "centroid",
    { case (m, probes) =>
      require(m.nonEmpty,
        "IVF pin needs a non-empty centroid matrix — an empty matrix " +
          "has no cells to post to")
      (s"probes=$probes,k=${m.length},dims=${m.head.length}" +:
        m.map(_.mkString(","))).mkString("\n")
    },
    body => {
      val lines = body.split("\n")
      lines.head match {
        case Header(pr, k, d) =>
          val m = lines.tail.map(_.split(",").map(_.toDouble))
          require(m.length == k.toInt,
            s"declares k=$k but has ${m.length} rows")
          m.zipWithIndex.foreach { case (row, i) =>
            require(row.length == d.toInt,
              s"declares dims=$d but row $i has ${row.length} values — " +
                "refusing a ragged matrix")
          }
          Some((m, pr.toInt))
        case _ => None
      }
    })
  protected val artifactName = "ivf_maintained_assign"
  protected def artifactParams(storeDir: String) = "cells"

  /** The folded postings: committed (id, cell) rows. */
  def assign(spark: SparkSession, storeDir: String): DataFrame =
    parts(spark, storeDir)

  /** The store's pinned (centroid matrix, probes), or None for a store
    * no apply has pinned yet. */
  def centroids(storeDir: String): Option[(Array[Array[Double]], Int)] =
    pinned(storeDir)

  def requireCentroids(storeDir: String, cents: Array[Array[Double]],
                       probes: Int): Unit =
    requirePinned(storeDir, (cents, probes))

  /** Apply one batch: post the batch's vectors to their `probes`
    * nearest cells, commit the part + sidecar, move the watermark.
    * Null and wrong-dimension vectors drop (poison-row rule — the
    * kernel zero-pads, which would post a truncated vector to cells
    * its true geometry never visits; honest scope as StreamLshIndex:
    * the inline path zero-pads, so maintained == inline for
    * well-formed corpora, the maintained side stricter on malformed
    * rows). A replayed bid is a no-op. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, vecCol: String,
                                cents: Array[Array[Double]], probes: Int,
                                storeDir: String): Unit = {
    require(cents.nonEmpty,
      s"IVF store $storeDir needs a non-empty centroid matrix")
    commitPinned(storeDir, bid, (cents, probes))(
      VectorSearch.ivfAssign(
        batch.where(col(vecCol).isNotNull &&
          size(col(vecCol)) === cents.head.length),
        idCol, vecCol, cents, probes)
        .select(col("id").cast("long").as("id"),
          col("cell").cast("int").as("cell")))
  }

  def servedAssign(spark: SparkSession, storeDir: String): DataFrame =
    served(spark, storeDir)

  /** The validated serve path any query that derived its own probe
    * cells should use. */
  def servedAssign(spark: SparkSession, storeDir: String,
                   cents: Array[Array[Double]], probes: Int): DataFrame =
    served(spark, storeDir, (cents, probes))

  /** Wire an (id, vector) stream into the maintained postings. */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          cents: Array[Array[Double]], probes: Int, storeDir: String,
          trigger: Trigger,
          compactAfterBatches: Int = 48): DataStreamWriter[Row] =
    runLoop(stream, storeDir, trigger, compactAfterBatches)(
      applyBatch(_, _, idCol, vecCol, cents, probes, storeDir))
}
