package graft.streaming

import graft.ops.Fs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import java.nio.file.{Files, Paths}

/** Streaming twin of q348's exponentially-decayed counters: per
  * (event_type, day) counts accumulate across micro-batches and the
  * decay weighting applies AT READ against the latest seen day — so
  * the stored state is pure additive integers (batch-id-gated, the
  * StreamMoments discipline) and never needs rescaling as time moves.
  *
  * State is bounded: days older than the 30-day decay horizon weigh
  * zero forever (the weight table ends at age 29), so they are
  * EVICTED when a newer max day arrives — per type the store holds at
  * most 30 day-buckets regardless of stream lifetime.
  *
  * Store format (atomic rename): `appliedBatchId` then one line per
  * `type,epochDay,count`.
  */
object StreamDecayedCounts {

  private val Horizon = 30

  /** λ=0.9/day milli weights — the SAME constant table q348 embeds. */
  val WeightsMilli: Array[Long] =
    Array.tabulate(Horizon)(a => math.floor(1000.0 * math.pow(0.9, a)).toLong)

  def readStore(path: String): (Long, Map[(String, Long), Long]) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (-1L, Map.empty)
    else {
      val lines = Files.readString(p).trim.split("\n")
      val m = lines.drop(1).filter(_.nonEmpty).map { l =>
        val f = l.split(",")
        (f(0), f(1).toLong) -> f(2).toLong
      }.toMap
      (lines(0).toLong, m)
    }
  }

  private def writeStore(path: String, applied: Long,
                         m: Map[(String, Long), Long]): Unit = {
    val body = (applied.toString +:
      m.toSeq.sortBy(t => (t._1._1, t._1._2)).map { case ((t, d), c) =>
        s"$t,$d,$c"
      }).mkString("\n")
    Fs.writeAtomic(Paths.get(path), body)
  }

  /** Decayed milli counters per type against the latest stored day. */
  def decayed(path: String): Map[String, Long] = {
    val (_, m) = readStore(path)
    if (m.isEmpty) Map.empty
    else {
      val maxDay = m.keys.map(_._2).max
      m.groupBy(_._1._1).view.mapValues(_.map { case ((_, d), c) =>
        val age = (maxDay - d).toInt
        if (age < Horizon) c * WeightsMilli(age) else 0L
      }.sum).toMap
    }
  }

  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                storePath: String,
                                gate: Boolean = true): Unit = {
    val (applied, cur) = readStore(storePath)
    if (gate && bid <= applied) return
    val add = batch
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
    var m = cur
    add.foreach { case (k, c) => m = m.updated(k, m.getOrElse(k, 0L) + c) }
    if (m.nonEmpty) {
      val maxDay = m.keys.map(_._2).max
      m = m.filter { case ((_, d), _) => maxDay - d < Horizon }
    }
    writeStore(storePath, math.max(applied, bid), m)
  }

  def run(stream: DataFrame, storePath: String,
          trigger: Trigger): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        applyBatch(batch, bid, storePath)
      }
}
