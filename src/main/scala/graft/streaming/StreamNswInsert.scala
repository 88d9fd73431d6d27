package graft.streaming

import graft.ops.{NswIndex, TopK, VectorSearch}
import graft.ops.DeltaPartsStore.{PartSet, Watermark}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
  StructField, StructType}

/** Streaming NSW/HNSW graph maintenance — the MAINTAIN leg of the
  * artifact lifecycle (build: [[graft.ops.NswIndex.knnGraph]] / serve:
  * q358 / maintain: this): new vectors are INSERTED into the standing
  * graph the way HNSW inserts (Malkov & Yashunin, TPAMI 2018) —
  * beam-search the existing graph for each arrival's neighbors, link
  * symmetric edges — instead of rebuilding the O(n) graph per batch.
  *
  * Per micro-batch, all bounded by the BATCH, never the corpus:
  *  - arrivals are guarded (null / wrong-dims dropped — the
  *    StreamIvfRefresh poison-row rule) and insert-ignore deduped
  *    against the stored node set;
  *  - INTRA-batch edges come from the salt-capped [[NswIndex
  *    .knnGraph]] over just the batch (a batch-sized build);
  *  - CROSS edges come from ONE [[NswIndex.beamSearchBatch]] over the
  *    standing graph with the whole batch as the query set (the q259
  *    serving shape: `rounds` joins for the whole batch), keeping each
  *    new node's top-`m` discovered neighbors, symmetrized;
  *  - the TOP LAYER is maintained the same way one level up (r13
  *    verdict #5): arrivals whose deterministic level draw
  *    ([[NswIndex.atLevel]] — pure id hash, so membership is
  *    insert-order-free) reaches layer 1 also link into the standing
  *    layer-1 graph (`edges1/`), preserving q362's coarse-entry
  *    ladder as n grows — [[searchLadder]] descends exactly like the
  *    static two-layer build;
  *  - storage is the maintained-store protocol
  *    ([[graft.ops.DeltaPartsStore]]): four part sets — `vecs/`,
  *    `edges/`, `edges1/`, `edges2/` — under ONE `meta.txt` watermark.
  *    Each batch writes a `bid=N` partition (overwrite mode) plus its
  *    `_fp` content sidecar into every part set, then moves the
  *    watermark strictly last, so a replayed or crash-resumed batch
  *    OVERWRITES ITSELF — idempotence by construction, no anti-join
  *    against the corpus-sized edge store;
  *  - [[serveGraph]] folds the sidecars in O(#batches) metadata reads
  *    to address the served artifact, so the 100 TB staleness check
  *    never re-scans the store (r13 verdict #1);
  *  - [[compact]] bounds the one-dir-per-batch growth (r13 verdict
  *    #4a): each part set's committed partitions rewrite into one
  *    partition behind the compaction swap, sidecars inside the
  *    swapped dir, and compaction moves bytes, never rows, so the
  *    folded fingerprint (and therefore the served artifact address)
  *    is UNCHANGED across it.
  *
  * Honest caveat (inherent to every incremental graph index, HNSW
  * included): the result depends on ARRIVAL ORDER — early nodes were
  * linked against a smaller graph, so slicing-invariance (drain ==
  * batch) does NOT hold edge-for-edge and is not claimed. What the
  * spec pins instead: determinism for a fixed slicing, replay
  * idempotence, bounded per-node degree growth, and the contract that
  * matters — SEARCH RECALL over the incrementally maintained graph
  * (flat and two-layer) matches the statically rebuilt graph's on the
  * same corpus.
  */
object StreamNswInsert {

  val vecSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("v", ArrayType(DoubleType))))
  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  /** One of the four part sets under the store's watermark. */
  private def partSet(storeDir: String, sub: String): PartSet =
    new PartSet(s"$storeDir/$sub",
      if (sub == "vecs") vecSchema else edgeSchema, new Watermark(storeDir))

  private val subs = Seq("vecs", "edges", "edges1", "edges2")

  /** Committed node/edge views: only partitions at or below the meta
    * watermark — a torn later batch is invisible (the BlockIngest
    * reader rule). */
  def nodes(spark: SparkSession, storeDir: String): DataFrame =
    partSet(storeDir, "vecs").parts(spark)

  def edges(spark: SparkSession, storeDir: String): DataFrame =
    partSet(storeDir, "edges").parts(spark)

  /** The maintained LAYER-1 edge table (membership: [[NswIndex
    * .atLevel]](id, 1)). */
  def edges1(spark: SparkSession, storeDir: String): DataFrame =
    partSet(storeDir, "edges1").parts(spark)

  /** The maintained LAYER-2 edge table (membership: [[NswIndex
    * .atLevel]](id, 2) — the geometric P = 4⁻ˡ draw one level up, so
    * ~1/16 of the corpus): kept exactly like layer 1, so the
    * coarse-entry descent survives at corpus sizes where layer 1
    * alone saturates (r14 verdict #6). */
  def edges2(spark: SparkSession, storeDir: String): DataFrame =
    partSet(storeDir, "edges2").parts(spark)

  /** Content fingerprint of one committed sub-store (`vecs`, `edges`,
    * `edges1` or `edges2`) from its write-time sidecars — O(#batches) metadata
    * reads, NO data scan, equal to `ArtifactStore.fingerprint` of a
    * full scan over the committed rows (spec-pinned), and invariant
    * across [[compact]] (bytes move, rows don't). */
  def storeFingerprint(storeDir: String, sub: String): String =
    partSet(storeDir, sub).storeFingerprint

  /** Serve the maintained edge tables through the [[graft.ops.ArtifactStore]]
    * (r13 verdict #4b): the artifact addresses derive from the store's
    * own commit-time sidecars, so q358's serving path reads the
    * MAINTAINED graph exactly like a batch-built one. PART-ADDRESSED
    * since r14 ([[graft.ops.ArtifactStore.buildOrServeParts]]): each committed
    * `bid=N` partition is its own artifact part, so steady-state
    * growth costs O(new batch) per serve — a micro-batch append
    * rebuilds ONE batch-sized part, never a copy of the whole edge
    * table (the monolithic address re-copied the corpus on every
    * content change). Compaction collapses the part set to one rollup
    * part (a compaction-sized rebuild, as rare as compaction itself)
    * and the departed per-batch parts vacuum on that committing
    * serve. With no artifact root, falls back to the committed view.
    */
  def serveGraph(spark: SparkSession, storeDir: String,
                 layer: Int = 0): DataFrame = {
    val sub = layer match {
      case 0 => "edges"; case 1 => "edges1"; case _ => "edges2" }
    partSet(storeDir, sub).serveParts(spark, "nsw_maintained_edges",
      s"layer=$layer")
  }

  /** Apply one batch: guard, dedup, link (both layers), commit.
    * Exposed for the spec's replay/recall experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, vecCol: String,
                                centroids: Array[Array[Double]],
                                probes: Int, m: Int, beamWidth: Int,
                                rounds: Int, storeDir: String): Unit = {
    val spark = batch.sparkSession
    val watermark = new Watermark(storeDir)
    if (bid <= watermark.applied) return
    val dims = centroids(0).length
    val existing = nodes(spark, storeDir).localCheckpoint()
    val fresh = batch
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("id"),
        VectorSearch.toDouble(col(vecCol)).as("v"))
      // intra-batch dedup; min (lexicographic array order) not first:
      // a duplicated id with diverging payloads must resolve
      // deterministically or the replayed batch writes different edges
      .groupBy("id").agg(min("v").as("v"))
      .join(existing.select("id"), Seq("id"), "left_anti")
      .localCheckpoint() // intra-build + cross-search + write share it
    if (fresh.isEmpty) { watermark.commit(bid); return }

    /** Link `arrivals` into the standing (`standNodes`, `standEdges`)
      * graph: intra-batch salt-capped build + ONE whole-batch beam
      * search for cross edges, both sides symmetrized. */
    def link(arrivals: DataFrame, standNodes: DataFrame,
             standEdges: DataFrame): DataFrame = {
      val intra = NswIndex.knnGraph(arrivals, "id", "v", centroids,
        probes, m, NswIndex.DefaultBlockCap)
      val cross =
        if (standNodes.isEmpty || arrivals.isEmpty) intra.limit(0)
        else {
          val vecs = standNodes
            .withColumn("nrm", VectorSearch.norm(col("v")))
            .localCheckpoint()
          val queries = arrivals
            .select(col("id").as("qid"), col("v").as("qv"))
            .withColumn("qn", VectorSearch.norm(col("qv")))
          val entries = queries.select(col("qid"))
            .crossJoin(broadcast(standNodes.agg(min("id").as("id"))))
          val beam = NswIndex.beamSearchBatch(vecs, standEdges,
            queries, entries, beamWidth, rounds)
          val topm = TopK.perGroup(beam, "qid",
              struct((-col("sim")).as("ns"), col("id").as("id")), m)
            .select(col("qid").cast("long").as("src"),
              col("key.id").as("dst"))
          topm.unionByName(
            topm.select(col("dst").as("src"), col("src").as("dst")))
        }
      intra.unionByName(cross).distinct()
    }

    val newEdges = link(fresh, existing, edges(spark, storeDir))
    // layer 1: the deterministic ~25% subset keeps its own graph so
    // the coarse-entry ladder survives incremental growth
    val fresh1 = fresh.where(NswIndex.atLevel(col("id"), 1))
      .localCheckpoint()
    val existing1 = existing.where(NswIndex.atLevel(col("id"), 1))
    val newEdges1 = link(fresh1, existing1, edges1(spark, storeDir))
    // layer 2: the ~1/16 subset one rung up, maintained identically —
    // entries ladder 2→1→0 in [[searchLadder]], so the coarse descent
    // holds at corpus sizes where layer 1 alone saturates
    val fresh2 = fresh1.where(NswIndex.atLevel(col("id"), 2))
      .localCheckpoint()
    val existing2 = existing1.where(NswIndex.atLevel(col("id"), 2))
    val newEdges2 = link(fresh2, existing2, edges2(spark, storeDir))

    // per-batch partitions, overwrite mode: a replayed batch
    // overwrites ITSELF (data AND sidecar) — idempotent with no
    // corpus-sized anti-join
    partSet(storeDir, "vecs").writePart(fresh, bid)
    partSet(storeDir, "edges").writePart(newEdges, bid)
    partSet(storeDir, "edges1").writePart(newEdges1, bid)
    partSet(storeDir, "edges2").writePart(newEdges2, bid)
    watermark.commit(bid) // commit point, strictly last
  }

  /** Laddered search over the MAINTAINED store — q362's descent on
    * the streaming-built ladder, now THREE layers deep when layer 2
    * is populated: beam over the maintained layer-2 graph from its
    * min-id entry, the surviving beam seeds layer 1, and layer 1's
    * beam seeds the full layer-0 search. On a corpus too small for
    * the 4⁻² draw to land anyone, the descent starts at layer 1 (the
    * historical two-layer shape, unchanged). `query` is a one-row
    * (qv, qn) frame; returns the final beam (id, sim).
    *
    * `seedEntries` (r15 verdict #7 — q392's entry seeding promoted to
    * the maintained ladder): widen each descent stage's entry set
    * with its 1-hop neighbors in THAT layer's edge table before the
    * beam, so round 0 ranks over entries + their neighborhoods
    * instead of the bare handoff beam — one extra broadcast join per
    * stage against an entry set of O(beamWidth) rows, zero extra
    * index storage, the same beam budget afterwards.
    * StreamNswInsertSpec measures seeded recall against both the
    * unseeded maintained ladder and the static build. */
  def searchLadder(spark: SparkSession, storeDir: String,
                   query: DataFrame, beamWidth: Int, topRounds: Int,
                   rounds: Int, seedEntries: Boolean = false)
      : DataFrame = {
    val vecs = nodes(spark, storeDir)
      .withColumn("nrm", VectorSearch.norm(col("v")))
      .localCheckpoint() // every layer's scoring reads it
    // the q392 seeding: entries ∪ their 1-hop neighbors (edge tables
    // are symmetrized, so dst-of-src covers the whole neighborhood)
    def seed(entries: DataFrame, edgeTable: DataFrame): DataFrame =
      if (!seedEntries) entries
      else entries.unionByName(
          edgeTable.join(
            broadcast(entries.withColumnRenamed("id", "src")), "src")
            .select(col("dst").as("id")))
        .distinct()
    val e1 = edges1(spark, storeDir)
    val e0 = edges(spark, storeDir)
    val entry1 =
      if (!vecs.where(NswIndex.atLevel(col("id"), 2))
        .limit(1).isEmpty) {
        val e2 = edges2(spark, storeDir)
        val entry2 = vecs.where(NswIndex.atLevel(col("id"), 2))
          .agg(min("id").as("id"))
        NswIndex.beamSearch(vecs, e2, query, seed(entry2, e2),
          beamWidth, topRounds).select(col("id"))
      } else
        vecs.where(NswIndex.atLevel(col("id"), 1))
          .agg(min("id").as("id"))
    val beam1 = NswIndex.beamSearch(vecs, e1, query,
      seed(entry1, e1), beamWidth, topRounds)
    NswIndex.beamSearch(vecs, e0, query,
      seed(beam1.select(col("id")), e0), beamWidth, rounds)
  }

  /** One-dir-per-batch growth bound (r13 verdict #4a): rewrite every
    * COMMITTED partition of each part set into a single
    * `bid=<applied>` partition with one rollup sidecar
    * ([[graft.ops.DeltaPartsStore.PartSet.compact]] — the swap is
    * crash-safe at every point and the sidecars ride inside the
    * swapped dir). Rows are PRESERVED EXACTLY, so [[storeFingerprint]]
    * — and the served artifact address — is unchanged. Torn partitions
    * above the watermark are dropped; their batches replay anyway.
    * Returns true if any part set was rewritten. */
  def compact(spark: SparkSession, storeDir: String): Boolean =
    subs.map(partSet(storeDir, _).compact(spark)).contains(true)

  /** Wire an (id, vector) stream into the maintained graph. Compaction
    * auto-triggers once the per-batch partition count passes
    * `compactAfterBatches` — OUTSIDE the batch commit, so a compaction
    * failure never loses a batch. */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          centroids: Array[Array[Double]], probes: Int, m: Int,
          beamWidth: Int, rounds: Int, storeDir: String,
          trigger: Trigger, compactAfterBatches: Int = 48)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        BatchBlocks.freeAfter(batch.sparkSession) {
          applyBatch(batch, bid, idCol, vecCol, centroids, probes,
            m, beamWidth, rounds, storeDir)
          if (partSet(storeDir, "vecs").partDirCount >
              compactAfterBatches) {
            compact(batch.sparkSession, storeDir)
            ()
          }
        }
      }
}
