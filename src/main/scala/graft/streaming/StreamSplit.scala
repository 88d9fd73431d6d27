package graft.streaming

import graft.functions.TextAnalysis._
import graft.ops.{ConnectedComponents, Dedup, DeltaPartsStore, Fs}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.nio.file.{Files, Path, Paths}

/** Streaming cluster-consistent train/val/test split — the arrival-time
  * twin of q258: a document's split is decided ONCE, at ingest, and
  * near-duplicates of an already-assigned document inherit its split,
  * so the leakage q258 closes in batch stays closed as the corpus
  * streams in (a batch re-split would reshuffle history — exactly what
  * a training pipeline cannot do once shards shipped).
  *
  * Per micro-batch (the StreamDecontaminate foreachBatch discipline —
  * the BATCH operators run verbatim, no second semantics to drift):
  *   1. intra-batch near-dup pairs (Dedup.nearDupMinhash) close into
  *      components (ConnectedComponents) → batch cluster reps;
  *   2. cross pairs against the assigned store
  *      (Dedup.nearDupMinhashCross — candidate volume scales with the
  *      BATCH, never the corpus) elect, per component, the minimum
  *      prior doc as anchor: the component inherits its split;
  *   3. unanchored components draw their split from the hash of their
  *      rep (the q258 rule); all members share the component's split;
  *   4. assignments append to the store insert-ignore (anti-join on
  *      doc_id), so a replayed batch changes nothing.
  *
  * Streaming caveat (documented, inherent): if two priors that are NOT
  * near-dups of each other landed in different splits and a later doc
  * near-dups BOTH (similarity is not transitive), one prior pair stays
  * straddled — history is immutable. Batch q258 sees the full closure
  * up front and cannot hit this; the spec's fixture pins the common
  * case (clusters arriving spread across batches) at zero straddle.
  * At 100 TB the store keeps (doc_id, signature, split) — text is
  * carried here only because the fixture re-derives signatures.
  */
object StreamSplit {

  val storeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("split", StringType)))

  /** One batch's assignment against the current store (pure batch
    * logic — shared by the stream wiring and any backfill). Returns
    * the NEW rows to append (already insert-ignore filtered). */
  def assignBatch(batch: DataFrame, prior: DataFrame,
                  threshold: Double = 0.8): DataFrame = {
    val b = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint() // pairs, components, and emission read it
    val newNew = Dedup.nearDupMinhash(b, "doc_id", "text",
      threshold = threshold).select(col("doc_a"), col("doc_b"))
    val comp = ConnectedComponents.run(newNew, "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val withRep = b.join(comp, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
    val inherit =
      Dedup.nearDupMinhashCross(b, prior, "doc_id", "text",
          threshold = threshold)
        .join(withRep.select(col("doc_id").as("doc_new"), col("rep")),
          "doc_new")
        .groupBy("rep").agg(min(col("doc_prior")).as("anchor"))
        .join(prior.select(col("doc_id").as("anchor"),
          col("split").as("isplit")), "anchor")
        .select(col("rep"), col("isplit"))
    withRep
      .join(broadcast(inherit), Seq("rep"), "left")
      .withColumn("hb", pmod(tokenHash(concat(lit("csplit:"),
        col("rep").cast("string"))), lit(100L)))
      .withColumn("split", coalesce(col("isplit"),
        when(col("hb") < 90, lit("train"))
          .when(col("hb") < 95, lit("val")).otherwise(lit("test"))))
      // insert-ignore: replayed docs are already in the store
      .join(prior.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("split"))
  }

  private def readStore(spark: SparkSession, dir: String): DataFrame = {
    DeltaPartsStore.recoverCompaction(dir)
    if (Files.exists(Paths.get(dir)))
      spark.read.schema(storeSchema).parquet(dir)
    else
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[Row], storeSchema)
  }

  /** Compaction target: rewrite to ~this many bytes per file. */
  val CompactTargetBytes: Long = 64L << 20

  /** Default auto-compaction trigger for [[run]]: part-file count
    * after which the store rewrites. Every micro-batch append adds
    * part files (a REPLAYED batch appends zero ROWS but still writes
    * files), so without compaction a long-lived follower's store
    * fragments without bound — the r12 verdict #6 gap. */
  val CompactAfterFiles = 64

  private def partFiles(dir: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(dir))) Seq.empty
    else Fs.ls(Paths.get(dir)).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }

  /** Compact the split store — the q322 planner applied to the store
    * itself: the rewritten file count is the cumulative byte quota's
    * group count, ceil(total / [[CompactTargetBytes]]) (q322 groups
    * consecutive shards the same way; here the whole store is one
    * consecutive range, so the plan collapses to its group count).
    * Rewrite is a full coalesce to that count behind the maintained
    * stores' compaction swap
    * ([[graft.ops.DeltaPartsStore.rewriteSwapped]]), so a reader never
    * sees a partial store and a crash at any point either keeps the
    * old store or the new one (recovery heals the in-between state).
    * ASSIGNMENTS ARE PRESERVED EXACTLY — compaction moves bytes, never
    * rows; StreamSplitSpec pins the (doc_id → split) map across it.
    * Returns true when a rewrite happened. */
  def compact(spark: SparkSession, storeDir: String): Boolean = {
    DeltaPartsStore.recoverCompaction(storeDir)
    val parts = partFiles(storeDir)
    if (parts.size <= 1) return false
    val total = parts.map(Files.size(_)).sum
    val k = math.max(1L,
      (total + CompactTargetBytes - 1) / CompactTargetBytes).toInt
    if (parts.size <= k) return false
    DeltaPartsStore.rewriteSwapped(storeDir) { tmp =>
      Fs.writer(spark.read.schema(storeSchema).parquet(storeDir)
        .coalesce(k)).mode("overwrite").parquet(tmp)
    }
    true
  }

  /** Wire a (doc_id, text) stream into the split store at `storeDir`.
    * Each batch's leftover localCheckpoint blocks (the batch frame,
    * the store snapshot, and the signature tables Dedup checkpoints
    * internally) are freed after its append ([[BatchBlocks.freeAfter]]).
    */
  def run(stream: DataFrame, storeDir: String,
          trigger: Trigger, threshold: Double = 0.8,
          compactAfterFiles: Int = CompactAfterFiles)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        BatchBlocks.freeAfter(spark) {
          val prior = readStore(spark, storeDir).localCheckpoint()
          Fs.writer(assignBatch(batch, prior, threshold))
            .mode("append").parquet(storeDir)
          // retention: every append fragments the store (replays
          // append zero rows but still write files) — compact once
          // fragmentation passes the trigger, OUTSIDE the append so a
          // compaction failure never loses the batch
          if (partFiles(storeDir).size > compactAfterFiles) {
            compact(spark, storeDir)
            ()
          }
        }
      }
}
