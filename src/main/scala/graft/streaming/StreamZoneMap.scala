package graft.streaming

import graft.functions.TextAnalysis._
import graft.ops.Fs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import java.nio.file.{Files, Paths}

/** Streaming twin of q298's zone map: the per-shard source-presence
  * bitmask is maintained incrementally as documents arrive — the way
  * a lakehouse keeps its data-skipping index fresh without rescanning
  * the table.
  *
  * Presence masks are monotone under OR, so the merge is
  * order-independent and replay-idempotent BY ALGEBRA (re-delivering
  * a batch ORs in bits that are already set): exactly-once bookkeeping
  * is unnecessary for this state, which is the point the spec pins.
  * Each batch reduces to at most #shards rows via the same bit_or
  * aggregation the batch query uses; only those ≤32 longs reach the
  * driver store (temp-file + atomic rename, the BlockIngest
  * discipline).
  *
  * The source→bit mapping must be FIXED across batches (a dense_rank
  * over observed sources would renumber as new sources appear), so
  * the caller provides the source universe up front — the same
  * contract a table's partition-column dictionary has.
  */
object StreamZoneMap {

  def readStore(path: String, nShards: Int): Array[Long] = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val m = Files.readString(p).trim.split(",").map(_.toLong)
      require(m.length == nShards,
        s"StreamZoneMap store $path holds ${m.length} shards but the " +
          s"caller expects $nShards — the store was written for a " +
          "different shard count; refusing to mis-index it")
      m
    } else new Array[Long](nShards)
  }

  private def writeStore(path: String, m: Array[Long]): Unit =
    Fs.writeAtomic(Paths.get(path), m.mkString(","))

  /** Wire a (doc_id, source) stream into the zone-map store. `sources`
    * is the fixed source universe (bit i = sources(i)). */
  def run(stream: DataFrame, sources: Seq[String], nShards: Int,
          storePath: String, trigger: Trigger): DataStreamWriter[Row] = {
    val sidx = sources.sorted.zipWithIndex.toMap
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val idxDf = spark.createDataFrame(
          sidx.toSeq.map { case (s, i) => (s, i) })
          .toDF("source", "sidx")
        val masks = batch
          .withColumn("shard",
            pmod(tokenHash(concat(lit("zm:"),
              col("doc_id").cast("string"))), lit(nShards.toLong)))
          .join(broadcast(idxDf), "source")
          .groupBy("shard")
          .agg(expr("bit_or(shiftleft(1L, sidx))").as("mask"))
          .collect()
        if (masks.nonEmpty) {
          val cur = readStore(storePath, nShards)
          masks.foreach { r =>
            cur(r.getLong(0).toInt) |= r.getLong(1)
          }
          writeStore(storePath, cur)
        }
      }
  }
}
