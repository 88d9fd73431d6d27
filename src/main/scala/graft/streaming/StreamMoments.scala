package graft.streaming

import graft.ops.{Fs, Moments}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import java.nio.file.{Files, Paths}

/** Streaming twin of the q277/q278 moment layer: the second-moment
  * vector is maintained continuously across micro-batches.
  *
  * Shape matters here: each batch runs the SAME distributed
  * map-side-combined aggregator the batch queries use (so no single
  * task ever sees more than its partition), and only the finished
  * 2145-long moment vector reaches the driver, which adds it into the
  * store — moment merge is plain addition, exactly the property that
  * makes the one-pass aggregator the 100 TB path. A
  * flatMapGroupsWithState on a constant key would instead shuffle
  * every row to one state task — the anti-pattern this twin exists to
  * avoid demonstrating.
  *
  * The store is a single text file `appliedBatchId;longs`, written via
  * temp-file + atomic rename (the BlockIngest manifest discipline): a
  * crash between batches never leaves a torn vector. Addition is NOT
  * idempotent (the [[StreamMerkle]] algebra lesson), so the store also
  * records the highest applied batch id and [[applyBatch]] skips
  * replayed ids — without the gate, a restart that re-delivers the
  * last uncommitted micro-batch would double-add it.
  */
object StreamMoments {

  /** (appliedBatchId, moment vector). A stored vector whose length
    * disagrees with the caller's `d` fails fast — a silent mis-index
    * (restart with a different dimension) would corrupt every moment.
    */
  def readStore(path: String, d: Int): (Long, Array[Long]) = {
    val want = 1 + d + d * (d + 1) / 2
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val parts = Files.readString(p).trim.split(";")
      val m = parts(1).split(",").map(_.toLong)
      require(m.length == want,
        s"StreamMoments store $path holds a ${m.length}-long vector " +
          s"but d=$d expects $want — the store was written for a " +
          "different dimension; refusing to mis-index it")
      (parts(0).toLong, m)
    } else (-1L, new Array[Long](want))
  }

  private def writeStore(path: String, applied: Long,
                         m: Array[Long]): Unit =
    Fs.writeAtomic(Paths.get(path), s"$applied;${m.mkString(",")}")

  /** Apply one batch if (and only if) its id is new. Exposed for the
    * spec's with/without-gate experiment. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long, vecCol: String,
                                d: Int, storePath: String,
                                gate: Boolean): Unit = {
    val (applied, cur) = readStore(storePath, d)
    if (gate && bid <= applied) return
    if (!batch.isEmpty) {
      val bm = Moments.secondMomentsMilli(batch, vecCol, d)
      var i = 0
      while (i < cur.length) { cur(i) += bm(i); i += 1 }
    }
    writeStore(storePath, math.max(applied, bid), cur)
  }

  /** Wire an embedding stream (any frame with `vecCol`) into the
    * moment store at `storePath`. */
  def run(stream: DataFrame, vecCol: String, d: Int, storePath: String,
          trigger: Trigger): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        applyBatch(batch, bid, vecCol, d, storePath, gate = true)
      }
}
