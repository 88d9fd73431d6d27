package etlbench

import graft.ops.ArtifactStore
import graft.streaming.BlockIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** One follower over one sink, driven the way `BlockIngest.run`'s
  * `foreachBatch` drives it: `processBatch`, then
  * `compactFacts(minSlices = 49)` (the default `compactAfterSlices = 48`),
  * plus the fixed read set the benchmark runs after every commit.
  */
final class Follower(spark: SparkSession, val sink: String,
                     inputDir: Path, activityBlocks: Long) {

  import Follower._

  /** The commit's file for a batch of blocks: one JSON object per line,
    * as the follower's drop directory holds them. */
  def stage(batchNo: Int, blocks: Seq[ChainGen.Block]): Path = {
    val f = inputDir.resolve(f"batch-$batchNo%06d.jsonl")
    Files.write(f, blocks.map(_.json).mkString("\n").getBytes("UTF-8"))
    f
  }

  def process(batchFile: Path): Unit =
    BlockIngest.processBatch(spark,
      spark.read.schema(BlockIngest.blockSchema).json(batchFile.toString), sink)

  /** The follower's compaction after each batch; returns the number of
    * folded buckets. */
  def compact(): Int = BlockIngest.compactFacts(spark, sink, minSlices = 49)

  /** Fails unless the commit point is at `height`. */
  def requireCommitted(height: Long): Unit = {
    val h = BlockIngest.committedHeight(sink)
    require(h == height, s"commit point at $h after the batch ending at $height")
  }

  /** One batch end to end, untimed (as the specs ingest). */
  def ingest(batchNo: Int, blocks: Seq[ChainGen.Block]): Unit = {
    process(stage(batchNo, blocks))
    compact()
    requireCommitted(blocks.last.height)
  }

  /** The whole read set about `payer`'s actor at `height`, untimed. */
  def readSet(payer: ChainGen.Payer, height: Long): Answers =
    Answers(height, payer, actorLookup(payer.actor),
      actorActivity(payer.actor, height), typeCounts())

  /** The most committed slices any `transactions` bucket holds — the
    * compaction pressure (a bucket folds at 49). */
  def slicesPerBucket(): Long = {
    val root = java.nio.file.Paths.get(s"$sink/transactions")
    graft.ops.Fs.ls(root).filter(_.getFileName.toString.startsWith("hb="))
      .map(hb => graft.ops.Fs.ls(hb)
        .count(_.getFileName.toString.startsWith("slice=")).toLong)
      .maxOption.getOrElse(0L)
  }

  /** Drops every built artifact part, so the next [[typeCounts]] builds
    * its parts again. */
  def dropArtifacts(): Unit =
    ArtifactStore.root(spark).foreach(graft.ops.Fs.wipe)

  /** `readCommitted` point lookup on `actor_inventory`. */
  def actorLookup(actor: String): Option[(Long, Long, Long)] =
    BlockIngest.readCommitted(spark, sink, "actor_inventory")
      .where(col("actor") === actor)
      .select("first_block", "last_block", "n_rows")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .headOption

  /** One actor's `transaction_actors` rows over the last
    * `activityBlocks` blocks, by `readFactRange`. */
  def actorActivity(actor: String, height: Long): Seq[ActorRow] =
    BlockIngest.readFactRange(spark, sink, "transaction_actors",
        math.max(1L, height - activityBlocks + 1), height)
      .where(col("actor") === actor)
      .select("block", "transaction_hash", "actor_role")
      .collect()
      .map(r => ActorRow(r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq

  /** q388's part-addressed txn-type counts over `factParts`: each
    * committed bucket builds (or serves) its (block, type) counts. */
  def typeCounts(): Map[String, Long] =
    ArtifactStore.buildOrServeParts(spark, "txn_type_counts",
        BlockIngest.factParts(spark, sink, "transactions"),
        "by=block,type", sourceKey = s"$sink/transactions") { pid =>
        BlockIngest.readFactPart(spark, sink, "transactions", pid)
          .groupBy(col("block"), col("type"))
          .agg(count(lit(1)).as("n"))
      }
      .groupBy("type").agg(sum("n").cast("long"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

object Follower {
  final case class ActorRow(block: Long, hash: String, role: String)
  object ActorRow {
    implicit val ordering: Ordering[ActorRow] =
      Ordering.by((r: ActorRow) => (r.block, r.hash, r.role))
  }

  /** Every answer of one read set, with the height it read at and the
    * payment that made its actor one. */
  final case class Answers(height: Long, payer: ChainGen.Payer,
                           lookup: Option[(Long, Long, Long)],
                           activity: Seq[ActorRow],
                           typeCounts: Map[String, Long])

  val ReadNames: Seq[String] = Seq("actor_lookup", "actor_activity",
    "type_counts")
}
