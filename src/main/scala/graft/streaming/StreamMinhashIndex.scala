package graft.streaming

import graft.functions.TextAnalysis
import graft.ops.{Dedup, DeltaPartsStore, PinnedStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Streaming-maintained MinHash band INDEX — the near-dup dedup
  * family's corpus-side index ([[graft.ops.Dedup.bandKeyArray]] over
  * the standard shingle→minhash signatures: per-doc (doc_id, band,
  * bk) rows, one key per band) kept current one micro-batch at a
  * time, completing the maintained-index family (winnow for decon,
  * sign-LSH for ANN, THIS for near-dup). At 100 TB the corpus-wide
  * tokenize+shingle+minhash pass dominates every dedup question; docs
  * arrive incrementally and a doc's band keys depend on NOTHING but
  * that doc and the fixed geometry, so the maintained store is EXACT:
  *
  *  - slicing invariance holds by construction (per-doc rows, union
  *    fold): drain == batch bit-for-bit, spec-pinned;
  *  - compaction REPACKS (identity rewrite), so the store fingerprint
  *    — the downstream artifact address — is invariant;
  *  - [[servedKeys]] serves the maintained index part-addressed
  *    through [[graft.ops.ArtifactStore.buildOrServeParts]]: an
  *    append costs one batch-sized part, a re-serve is a multi-path
  *    parquet scan.
  *
  * Two serve shapes the index answers without cooperation from the
  * store (the corpus keeps ONE key per band forever):
  *  - SELF near-dup (q25's shape): join the served keys against
  *    themselves, verify candidates exactly against the corpus;
  *  - DEDUP-ON-ARRIVAL (the incremental-crawl shape,
  *    [[graft.ops.Dedup.nearDupMinhashCross]]'s maintained twin): an
  *    arriving batch derives its keys inline and joins the index
  *    state so far — candidate volume scales with the BATCH, never
  *    the corpus — then inserts itself. Multi-probe
  *    ([[graft.ops.Dedup.multiProbeBandKeys]]) fans out the query
  *    side only, so it too runs unchanged over this store.
  *
  * The band GEOMETRY is part of the store's identity: a key written
  * under (numBands, rowsPerBand) is meaningless under any other
  * geometry (the signature slots it hashes differ), so the first
  * apply pins `geometry.txt` and every later apply — and every
  * geometry-validated read — must match LOUDLY. The tokenizer /
  * 3-shingle / affine-minhash parameters are the family's global
  * constants ([[graft.functions.TextAnalysis]]), not per-store knobs.
  * Store mechanics and the pin are [[graft.ops.DeltaPartsStore]]'s.
  * Verification reads the CORPUS (point lookups by candidate doc_id),
  * not the index — the index answers candidate generation, the only
  * part that is quadratic-shaped at scale.
  *
  * Reference behavior context: the reference dedups exactly by txn
  * hash at ingest (src/be_txn.erl); near-dup families are the
  * training-pipeline extension (SURVEY §8).
  */
object StreamMinhashIndex extends PinnedStore[Seq[Int]] {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band", IntegerType),
    StructField("bk", LongType)))

  protected val pin =
    DeltaPartsStore.Pin.fields("geometry.txt", "bands", "rowsPerBand")
  protected val artifactName = "minhash_maintained_keys"
  protected def artifactParams(storeDir: String) = "bands"

  /** The folded index: committed (doc_id, band, bk) rows. */
  def keys(spark: SparkSession, storeDir: String): DataFrame =
    parts(spark, storeDir)

  /** The store's pinned band geometry as (numBands, rowsPerBand), or
    * None for a store no apply has pinned yet. */
  def geometry(storeDir: String): Option[(Int, Int)] =
    pinned(storeDir).map { case Seq(b, r) => (b, r) }

  def requireGeometry(storeDir: String, numBands: Int,
                      rowsPerBand: Int): Unit =
    requirePinned(storeDir, Seq(numBands, rowsPerBand))

  /** The batch's (doc_id, band, bk) rows under this geometry — the
    * SAME derivation the inline dedup path keys with
    * ([[graft.ops.Dedup.bandKeyArray]] over tokens→3-shingles→affine
    * minhash), shared so index and query sides can never drift.
    * Null-text and <3-token docs drop (no shingles ⇒ no signature —
    * the inline path's `size(toks) >= 3` gate, same filter, so
    * maintained == inline exactly). */
  private[graft] def batchKeys(batch: DataFrame, idCol: String,
                               textCol: String, numBands: Int,
                               rowsPerBand: Int): DataFrame =
    batch.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        TextAnalysis.minhashAffine(
          TextAnalysis.shingleHashes(col("toks")),
          numBands * rowsPerBand).as("mh"))
      .select(col("doc_id"),
        posexplode(Dedup.bandKeyArray(col("mh"), numBands, rowsPerBand)))
      .select(col("doc_id"), col("pos").cast("int").as("band"),
        col("col").cast("long").as("bk"))

  /** Apply one batch: key the batch's docs, commit the part + sidecar,
    * move the watermark. A replayed bid is a no-op. Exposed for the
    * spec's slicing experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, textCol: String,
                                numBands: Int, rowsPerBand: Int,
                                storeDir: String): Unit =
    applyKeys(batchKeys(batch, idCol, textCol, numBands, rowsPerBand),
      bid, numBands, rowsPerBand, storeDir)

  /** [[applyBatch]] over ALREADY-DERIVED band keys — for arrival loops
    * whose candidate leg computed [[batchKeys]] for the same batch one
    * expression earlier: passing the (checkpointed) keys here commits
    * the identical rows without re-running the tokenize → shingle-md5
    * → minhash pass a second time per round (guide §1.2: don't compute
    * things twice). */
  private[graft] def applyKeys(keys: DataFrame, bid: Long,
                               numBands: Int, rowsPerBand: Int,
                               storeDir: String): Unit =
    commitPinned(storeDir, bid, Seq(numBands, rowsPerBand))(keys)

  def servedKeys(spark: SparkSession, storeDir: String): DataFrame =
    served(spark, storeDir)

  /** The validated serve path any query that derived its own band keys
    * should use. */
  def servedKeys(spark: SparkSession, storeDir: String, numBands: Int,
                 rowsPerBand: Int): DataFrame =
    served(spark, storeDir, Seq(numBands, rowsPerBand))

  /** Wire an (id, text) document stream into the maintained index. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          numBands: Int, rowsPerBand: Int, storeDir: String,
          trigger: Trigger,
          compactAfterBatches: Int = 48): DataStreamWriter[Row] =
    runLoop(stream, storeDir, trigger, compactAfterBatches)(
      applyBatch(_, _, idCol, textCol, numBands, rowsPerBand, storeDir))
}
