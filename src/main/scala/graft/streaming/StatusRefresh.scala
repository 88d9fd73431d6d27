package graft.streaming

import graft.ops.Fs
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}

/** Periodic gateway-status refresh — the reference's adaptive-rate side
  * job (ref: src/be_db_gateway_status.erl:36-46: refresh every gateway
  * every 10 minutes, spread as N requests/second with a cap; stalest
  * rows first, `updated_at < now() - interval`, :66-80).
  *
  * Spark shape: the probe/ledger math is a pure batch function
  * ([[computeStatus]], shared with declared query q54); the periodic
  * shell is a rate-source stream with `Trigger.ProcessingTime` whose
  * every tick refreshes the `budget` stalest rows and merges them back
  * — state lives in the sink (parquet), read back each tick, exactly
  * like the ingest driver's init-from-sink pattern. Each tick's work is
  * one bounded job: a stalest-first TakeOrdered, a semi-joined activity
  * aggregation, and a keyed anti-join merge.
  */
object StatusRefresh {

  /** The reference's adaptive request rate: inventory size spread over
    * the refresh period, floored at 1, capped (be_db_gateway_status.erl
    * ?MAX_REQUEST_RATE).
    */
  def requestRate(inventorySize: Long, refreshMins: Int = 10,
                  maxRate: Int = 200): Int =
    math.min(maxRate,
      math.max(1L, math.ceil(inventorySize / (refreshMins * 60.0)).toLong))
      .toInt

  /** Online-status math (ref: src/be_db_gateway_status.erl:247-281):
    * online iff the gateway had poc activity within `window` blocks of
    * the chain tip. `actors` is a transaction_actors-shaped frame.
    */
  def computeStatus(gw: DataFrame, actors: DataFrame, tip: Long,
                    window: Long): DataFrame = {
    val pocRoles = Seq("challenger", "challengee", "witness")
    val activity = actors
      .filter(col("actor_role").isin(pocRoles.map(x => x: Any): _*))
      .groupBy(col("actor").as("address"))
      .agg(max(col("block")).as("last_poc_block"))
    gw.select(col("address"), col("name"))
      .join(activity, Seq("address"), "left_outer")
      .select(col("address"), col("name"), col("last_poc_block"),
        when(col("last_poc_block").isNotNull &&
          col("last_poc_block") >= tip - window, lit("online"))
          .otherwise(lit("offline")).as("online"))
  }

  /** One refresh tick: refresh the `budget` stalest status rows
    * (never-refreshed rows sort first, ties by address for
    * determinism), stamping them `updated_at = nowSec`. Untouched rows
    * carry over unchanged.
    */
  def tick(gw: DataFrame, actors: DataFrame, tip: Long, window: Long,
           stateDir: String, budget: Int, nowSec: Long): Unit = {
    val spark = gw.sparkSession
    // gate on _SUCCESS: a crash mid-swap leaves an unreadable dir; the
    // status cache is rebuildable, so recovery is simply a full refresh
    val prior = if (Files.exists(Paths.get(s"$stateDir/_SUCCESS")))
      Some(spark.read.parquet(stateDir)) else None
    val staleness = prior match {
      case None => gw.select(col("address"), lit(0L).as("updated_at"))
      case Some(st) =>
        gw.select(col("address"))
          .join(st.select(col("address"), col("updated_at")),
            Seq("address"), "left_outer")
          .select(col("address"),
            coalesce(col("updated_at"), lit(0L)).as("updated_at"))
    }
    // stalest-first spread, the reference's `order by coalesce(
    // updated_at, to_timestamp(0)) limit $rate`. With NO prior state
    // (first run, or recovery after a crash mid-swap discarded the
    // rebuildable cache) the budget is waived and everything refreshes
    // — partial state would otherwise persist for a whole period.
    val effectiveBudget = if (prior.isEmpty) Int.MaxValue else budget
    val due = staleness.orderBy(col("updated_at").asc, col("address").asc)
      .limit(effectiveBudget).select(col("address"))
    val refreshed = computeStatus(
        gw.join(due, Seq("address"), "left_semi"), actors, tip, window)
      .withColumn("updated_at", lit(nowSec))
    val merged = prior match {
      case None => refreshed
      case Some(st) =>
        // rows for addresses no longer in the inventory are dropped —
        // without the semi-join they would be carried forever (staleness
        // is derived from gw, so they could never come due again)
        st.join(gw.select(col("address")), Seq("address"), "left_semi")
          .join(due, Seq("address"), "left_anti")
          .unionByName(refreshed)
    }
    val tmp = s"$stateDir._tmp"
    Fs.writer(merged).mode(SaveMode.Overwrite).parquet(tmp)
    Fs.writer(spark.read.parquet(tmp)).mode(SaveMode.Overwrite)
      .parquet(stateDir)
  }

  /** The periodic shell: a rate-source stream whose only purpose is the
    * `Trigger.ProcessingTime` clock; each tick runs one [[tick]] with
    * the adaptive budget. The inputs are THUNKS re-evaluated per tick —
    * a captured DataFrame would freeze its file listing (and a captured
    * tip its height) at start, and the loop would re-score a stale
    * chain forever instead of following it. Wall-clock `updated_at` is
    * the one nondeterministic surface — exactly the reference's NOW().
    */
  def run(spark: SparkSession, gw: () => DataFrame, actors: () => DataFrame,
          tip: () => Long, window: Long, stateDir: String,
          checkpointDir: String, intervalMs: Long, refreshMins: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        val g = gw()
        val perTick = math.max(1,
          (requestRate(g.count(), refreshMins) * intervalMs / 1000.0).toInt)
        tick(g, actors(), tip(), window, stateDir, perTick,
          System.currentTimeMillis() / 1000)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
      .start()
  }
}
