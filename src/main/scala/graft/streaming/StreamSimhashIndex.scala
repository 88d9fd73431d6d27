package graft.streaming

import graft.functions.TextAnalysis
import graft.ops.{DeltaPartsStore, PinnedStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming-maintained SimHash SIGNATURE index — the bit-sketch
  * dedup family's corpus-side state (q26's per-doc
  * [[graft.functions.TextAnalysis.simhash32]] values) kept current
  * one micro-batch at a time. Unlike the MinHash store (which keeps
  * derived band KEYS and verification reads the corpus), a simhash
  * is 8 bytes and IS both the blocking input and the verification
  * value, so the maintained store keeps the SIGNATURE itself: the
  * Manku byte-blocks (WWW 2007 — two 32-bit hashes within hamming
  * distance 3 agree exactly on one of the four bytes, by pigeonhole)
  * derive at read time as a cheap projection, and hamming
  * verification never touches document text at all — the whole
  * near-dup question answers off the 16-byte-per-doc index.
  *
  * A doc's simhash depends on NOTHING but that doc, so the
  * maintained store is EXACT: slicing-invariant union fold (drain ==
  * batch bit-for-bit), repack compaction (store fingerprint — the
  * downstream artifact address — invariant), part-addressed serving
  * through [[graft.ops.ArtifactStore.buildOrServeParts]].
  *
  * The hash GEOMETRY (bit width + blocking slice count) is the
  * store's pinned identity: the reference-fixture 32/4 sketch and the
  * 100 TB-default 60/4 wide sketch (q402's measured density fix)
  * coexist as mutually-refusing stores, and a store written by a code
  * version with different constants is refused by name. Store
  * mechanics and the pin are [[graft.ops.DeltaPartsStore]]'s.
  */
object StreamSimhashIndex extends PinnedStore[Seq[Int]] {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("simhash", LongType)))

  /** House simhash geometries — lockstep with
    * [[graft.functions.TextAnalysis.simhash32]]/`simhash60` and
    * [[graft.ops.Dedup.nearDupSimhash]]/`nearDupSimhashWide`'s
    * blocking. 32/4 is the reference-fixture geometry; 60/4 (four
    * 15-bit slices, 32768 buckets each) is the 100 TB default — q402
    * measured the wide sketch collapsing the 32-bit family's
    * super-linear sf1 density (7.0× vs 17.1× for 10× data) at the
    * same pigeonhole recall guarantee. The identity pin keeps stores
    * of the two geometries mutually refusing, so they coexist. */
  val Bits = 32
  val Blocks = 4
  val WideBits = 60
  val WideBlocks = 4

  protected val pin =
    DeltaPartsStore.Pin.fields("geometry.txt", "bits", "blocks")
  protected val artifactName = "simhash_maintained_sigs"

  /** The artifact params carry the PINNED bit width, so a 32-bit and a
    * wide store can never collide on one artifact scope. */
  protected def artifactParams(storeDir: String) =
    s"sig${pinned(storeDir).map(_.head).getOrElse(Bits)}"

  /** The signing kernel for a pinned bit width — refuses an
    * ungeometried width by name (a silently-wrong kernel would sign a
    * DIFFERENT sketch under the store's pin). */
  private def signExpr(bits: Int,
                       toks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = bits match {
    case 32 => TextAnalysis.simhash32(toks).cast("long")
    case 60 => TextAnalysis.simhash60(toks)
    case b => throw new IllegalArgumentException(
      s"no simhash kernel for bits=$b — house geometries are 32 and 60")
  }

  /** The folded index: committed (doc_id, simhash) rows. */
  def sigs(spark: SparkSession, storeDir: String): DataFrame =
    parts(spark, storeDir)

  /** The store's pinned (bits, blocks), or None for a store no apply
    * has pinned yet. */
  def geometry(storeDir: String): Option[(Int, Int)] =
    pinned(storeDir).map { case Seq(b, k) => (b, k) }

  def requireGeometry(storeDir: String, bits: Int, blocks: Int): Unit =
    requirePinned(storeDir, Seq(bits, blocks))

  /** Apply one batch: sign the batch's docs under the store's pinned
    * geometry, commit the part + sidecar, move the watermark.
    * Null-text rows drop (poison-row rule); zero-token docs sign like
    * the inline path signs them (simhash 0 — no filter, maintained ==
    * inline exactly). A replayed bid is a no-op. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, textCol: String,
                                storeDir: String, bits: Int = Bits,
                                blocks: Int = Blocks): Unit =
    commitPinned(storeDir, bid, Seq(bits, blocks))(
      batch.where(col(textCol).isNotNull)
        .select(col(idCol).cast("long").as("doc_id"),
          signExpr(bits, TextAnalysis.tokens(col(textCol)))
            .as("simhash")))

  def servedSigs(spark: SparkSession, storeDir: String): DataFrame =
    served(spark, storeDir)

  def servedSigs(spark: SparkSession, storeDir: String, bits: Int,
                 blocks: Int): DataFrame =
    served(spark, storeDir, Seq(bits, blocks))

  /** The Manku block projection over a signature frame — one
    * (doc_id, simhash, blk, key) row per blocking slice, derived at
    * read time (the store never materializes keys). Delegates to the
    * ONE house projection ([[graft.ops.Dedup.simhashBlocked]]) so
    * blocking cannot drift from the inline families'. */
  def blocked(sigs: DataFrame, bits: Int = Bits,
              blocks: Int = Blocks): DataFrame =
    graft.ops.Dedup.simhashBlocked(sigs, blocks, bits / blocks)

  /** Wire an (id, text) document stream into the maintained index. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          storeDir: String, trigger: Trigger,
          compactAfterBatches: Int = 48, bits: Int = Bits,
          blocks: Int = Blocks): DataStreamWriter[Row] =
    runLoop(stream, storeDir, trigger, compactAfterBatches)(
      applyBatch(_, _, idCol, textCol, storeDir, bits, blocks))
}
