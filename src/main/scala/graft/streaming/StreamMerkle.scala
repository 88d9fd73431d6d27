package graft.streaming

import graft.functions.TextAnalysis._
import graft.ops.Fs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import java.nio.file.{Files, Paths}

/** Streaming twin of q324's Merkle reconciliation levels: the
  * per-shard xor signatures are maintained incrementally as documents
  * arrive (levels 1..3 fold from level 0 at read time — they need no
  * state of their own, which is the point of the xor tree).
  *
  * CONTRAST WITH StreamZoneMap: OR-masks are idempotent by algebra,
  * so that twin needs no delivery bookkeeping. Xor is self-INVERSE —
  * re-applying a batch flips every bit back — so this state DOES need
  * exactly-once delivery, and the twin implements the standard
  * foreachBatch idiom: the store records the highest applied batchId,
  * and a replayed batch (same id, the Structured Streaming recovery
  * contract) is skipped. The spec pins both directions: the gate
  * makes replay a no-op, and WITHOUT the gate (same rows under a new
  * id) the signatures corrupt — the algebraic reason the gate exists.
  */
object StreamMerkle {

  /** (appliedBatchId, sigs, counts) — the driver-side store. */
  def readStore(path: String, nShards: Int): (Long, Array[Long], Array[Long]) = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val parts = Files.readString(p).trim.split(";")
      val sigs = parts(1).split(",").map(_.toLong)
      val ns = parts(2).split(",").map(_.toLong)
      require(sigs.length == nShards && ns.length == nShards,
        s"StreamMerkle store $path holds ${sigs.length}/${ns.length} " +
          s"shards but the caller expects $nShards — the store was " +
          "written for a different shard count; refusing to mis-index it")
      (parts(0).toLong, sigs, ns)
    } else (-1L, new Array[Long](nShards), new Array[Long](nShards))
  }

  private def writeStore(path: String, applied: Long,
                         sigs: Array[Long], ns: Array[Long]): Unit =
    Fs.writeAtomic(Paths.get(path),
      s"$applied;${sigs.mkString(",")};${ns.mkString(",")}")

  /** q324's row hashing, shared verbatim: shard and content hash. */
  private[graft] def shardSig(batch: DataFrame, nShards: Int): Array[Row] =
    batch
      .select(pmod(tokenHash(concat(lit("sh:"),
        col("doc_id").cast("string"))), lit(nShards.toLong))
        .as("shard"),
        tokenHash(concat(col("doc_id").cast("string"), lit(":"),
          col("text"))).as("h"))
      .groupBy("shard")
      .agg(expr("bit_xor(h)").as("sig"), count(lit(1)).as("n"))
      .collect()

  /** Apply one batch if (and only if) its id is new. Exposed for the
    * spec's with/without-gate experiment. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                nShards: Int, storePath: String,
                                gate: Boolean): Unit = {
    val (applied, sigs, ns) = readStore(storePath, nShards)
    if (gate && bid <= applied) return
    shardSig(batch, nShards).foreach { r =>
      val i = r.getLong(0).toInt
      sigs(i) ^= r.getLong(1)
      ns(i) += r.getLong(2)
    }
    writeStore(storePath, math.max(applied, bid), sigs, ns)
  }

  /** Wire a (doc_id, text) stream into the signature store. */
  def run(stream: DataFrame, nShards: Int, storePath: String,
          trigger: Trigger): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        applyBatch(batch, bid, nShards, storePath, gate = true)
      }
}
