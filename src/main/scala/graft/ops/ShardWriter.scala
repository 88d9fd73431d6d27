package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The physical shard SINK: materializes the q97 token-balanced
  * assignment ([[ShardAssign.tokenBalanced]]) as on-disk parquet
  * shards plus a manifest — the file layout a training job actually
  * consumes (shard = the unit of data-loader work).
  *
  * Layout notes for scale:
  *  - payload columns ride the assignment's initial scan (`extra`
  *    mechanism) — NO join back from the assignment to the corpus, so
  *    the only corpus-wide shuffles are the assignment's own bucketed
  *    prefix-sum and the final repartition to writers;
  *  - `repartition(nShards, shard_id)` gives each shard wholly to one
  *    writer task → exactly one file per `shard_id=N/` directory (no
  *    small-files explosion; at 100 TB size shards to the task budget
  *    via `nShards`, or cap row groups with
  *    `spark.sql.files.maxRecordsPerFile`);
  *  - the manifest carries per-shard doc/token counts and an
  *    order-free xxhash64 xor checksum (the q122 shape) so a reader
  *    can verify a shard without re-listing the corpus.
  */
object ShardWriter {

  /** Write `docs` (needs doc_id, text; all other columns carried as
    * payload) to `outDir/shards/shard_id=N/` and the manifest to
    * `outDir/manifest/`. Returns the manifest frame (shard_id,
    * n_docs, n_tokens, checksum).
    */
  /** Column names the assignment computes internally — a payload
    * column with one of these names would be silently clobbered
    * (`bucket`) or throw ambiguous-reference errors deep inside the
    * prefix sum; rejected loudly at the boundary instead.
    */
  private val Reserved =
    Set("n_tokens", "h", "bucket", "prev_tokens", "shard_id")

  def write(docs: DataFrame, nShards: Int, outDir: String): DataFrame = {
    val clash = docs.columns.toSet.intersect(Reserved)
    require(clash.isEmpty,
      s"ShardWriter: payload columns collide with assignment " +
        s"internals: ${clash.mkString(", ")} — rename before writing")
    val payload = docs.columns.filterNot(_ == "doc_id").toSeq
      .map(c => c -> col(c))
    val assigned = ShardAssign.tokenBalanced(docs, nShards, payload)
      .localCheckpoint() // feeds the shard write + the manifest agg
    Fs.writer(assigned.repartition(nShards, col("shard_id")))
      .mode("overwrite").partitionBy("shard_id")
      .parquet(s"$outDir/shards")
    val manifest = assigned.groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      expr("bit_xor(xxhash64(doc_id))").as("checksum"))
    Fs.writer(manifest.coalesce(1)).mode("overwrite")
      .parquet(s"$outDir/manifest")
    // write-time content identity (the ArtifactStore sidecar
    // protocol the maintained stores' DeltaPartsStore uses): one
    // grouped scan of the rows AS WRITTEN records each shard's
    // (Σ row-hash, count) sidecar, so an artifact built over this
    // shard store fingerprints its staleness in O(#shards) metadata
    // reads — never a corpus re-scan. Hashed from the READ-BACK frame
    // (column order + partition-column type exactly as a consumer's
    // `spark.read.parquet` sees them), so the fold equals the scan
    // fingerprint bit-for-bit (ShardWriterSpec pins it).
    val spark = docs.sparkSession
    val back = spark.read.parquet(s"$outDir/shards")
    ArtifactStore.partFingerprints(back, "shard_id")
      .foreach { case (part, fp) =>
        ArtifactStore.writeFpPart(s"$outDir/shards", part, fp) }
    manifest
  }
}
