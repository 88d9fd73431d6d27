package graft.streaming

import graft.ops.{ArtifactStore, Fs, NswIndex, TopK, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
  StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

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
  *  - the batch's vectors and edges land in PER-BATCH partitions
  *    (`vecs/bid=N/`, `edges/bid=N/`, `edges1/bid=N/`, overwrite
  *    mode), so a replayed or crash-resumed batch OVERWRITES ITSELF —
  *    idempotence by construction, no anti-join against the
  *    corpus-sized edge store; the commit point is the meta file,
  *    written last via atomic move;
  *  - each committed partition also records its content identity
  *    ([[graft.ops.ArtifactStore.writeFpPart]] INSIDE the sub-store,
  *    `<sub>/_fp/bid=N.json` — underscore-prefixed, invisible to the
  *    parquet reader): [[serveGraph]] folds them in O(#batches)
  *    metadata reads to address the served artifact, so the 100 TB
  *    staleness check never re-scans the store (r13 verdict #1);
  *  - [[compact]] bounds the one-dir-per-batch growth (r13 verdict
  *    #4a): committed partitions rewrite into a single partition via
  *    the StreamSplit two-atomic-rename discipline, and because the
  *    sidecars live inside the renamed dir, data and fingerprint
  *    metadata swap ATOMICALLY together — a crash at any point leaves
  *    either the fragmented store or the compacted one, never a
  *    mixture, and compaction moves bytes, never rows, so the folded
  *    fingerprint (and therefore the served artifact address) is
  *    UNCHANGED across it.
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

  /** Compaction rewrite quota: one output file per this many input
    * bytes (the StreamSplit/q322 grouping). */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  val vecSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("v", ArrayType(DoubleType))))
  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  private def meta(dir: String) = Paths.get(s"$dir/meta.txt")

  /** Applied-through batch id (-1 = empty store). */
  def appliedBid(storeDir: String): Long =
    if (Files.exists(meta(storeDir)))
      new String(Files.readAllBytes(meta(storeDir)),
        StandardCharsets.UTF_8).trim.toLong
    else -1L

  private def writeMeta(storeDir: String, bid: Long): Unit = {
    Files.createDirectories(Paths.get(storeDir))
    val tmp = Paths.get(s"$storeDir/meta.txt.tmp")
    Files.write(tmp, bid.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, meta(storeDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Committed node/edge views: only partitions at or below the meta
    * watermark — a torn later batch is invisible (the BlockIngest
    * reader rule). */
  def nodes(spark: SparkSession, storeDir: String): DataFrame =
    readCommitted(spark, s"$storeDir/vecs", vecSchema, storeDir)

  def edges(spark: SparkSession, storeDir: String): DataFrame =
    readCommitted(spark, s"$storeDir/edges", edgeSchema, storeDir)

  /** The maintained LAYER-1 edge table (membership: [[NswIndex
    * .atLevel]](id, 1)). */
  def edges1(spark: SparkSession, storeDir: String): DataFrame =
    readCommitted(spark, s"$storeDir/edges1", edgeSchema, storeDir)

  /** The maintained LAYER-2 edge table (membership: [[NswIndex
    * .atLevel]](id, 2) — the geometric P = 4⁻ˡ draw one level up, so
    * ~1/16 of the corpus): kept exactly like layer 1, so the
    * coarse-entry descent survives at corpus sizes where layer 1
    * alone saturates (r14 verdict #6). */
  def edges2(spark: SparkSession, storeDir: String): DataFrame =
    readCommitted(spark, s"$storeDir/edges2", edgeSchema, storeDir)

  private def readCommitted(spark: SparkSession, dir: String,
                            schema: StructType, storeDir: String)
      : DataFrame = {
    recoverCompaction(dir)
    val applied = appliedBid(storeDir)
    if (applied < 0 || !Files.exists(Paths.get(dir)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    spark.read.option("basePath", dir).parquet(dir)
      .where(col("bid") <= applied) // torn later batches invisible
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Committed-sidecar filter: parts at or below the watermark —
    * per-batch commits and the compaction rollup alike are named after
    * their DATA directory (`bid=N`), so a sidecar part id is always a
    * readable partition path (what [[serveGraph]]'s per-part builds
    * rely on). A bid-shaped name that does not parse fails LOUDLY
    * naming the entry (the DeltaPartsStore rule — silently skipping it
    * would fold a store view that drops committed rows; a bare
    * NumberFormatException names nothing). */
  private def committedPart(applied: Long)(part: String): Boolean =
    part.startsWith("bid=") && (part.drop(4).toLongOption match {
      case Some(b) => b <= applied
      case None => throw new IllegalStateException(
        s"unparseable part id '$part' in an NSW store sidecar — " +
          "expected bid=<long>; refusing to guess whether it is " +
          "committed data")
    })

  /** Content fingerprint of one committed sub-store (`vecs` / `edges`
    * / `edges1`) from its write-time sidecars — O(#batches) metadata
    * reads, NO data scan, equal to `ArtifactStore.fingerprint` of a
    * full scan over the committed rows (spec-pinned), and invariant
    * across [[compact]] (bytes move, rows don't). */
  def storeFingerprint(storeDir: String, sub: String): String =
    ArtifactStore.fingerprintFromParts(s"$storeDir/$sub",
      committedPart(appliedBid(storeDir)))

  /** Serve the maintained edge tables through the [[ArtifactStore]]
    * (r13 verdict #4b): the artifact addresses derive from the store's
    * own commit-time sidecars, so q358's serving path reads the
    * MAINTAINED graph exactly like a batch-built one. PART-ADDRESSED
    * since r14 ([[ArtifactStore.buildOrServeParts]]): each committed
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
    val dir = s"$storeDir/$sub"
    if (ArtifactStore.root(spark).isEmpty)
      readCommitted(spark, dir, edgeSchema, storeDir)
    else {
      recoverCompaction(dir)
      val parts = ArtifactStore
        .readFpParts(dir, committedPart(appliedBid(storeDir)))
        .map { case (pid, fp) =>
          pid -> ArtifactStore.combineParts(Seq(fp)) }
      if (parts.isEmpty)
        readCommitted(spark, dir, edgeSchema, storeDir)
      else ArtifactStore.buildOrServeParts(spark, "nsw_maintained_edges",
        parts, params = s"layer=$layer", sourceKey = dir) { pid =>
        spark.read.option("basePath", dir).parquet(s"$dir/$pid")
          .select(edgeSchema.fieldNames.map(col).toIndexedSeq: _*)
      }
    }
  }

  /** Apply one batch: guard, dedup, link (both layers), commit.
    * Exposed for the spec's replay/recall experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, vecCol: String,
                                centroids: Array[Array[Double]],
                                probes: Int, m: Int, beamWidth: Int,
                                rounds: Int, storeDir: String,
                                gate: Boolean = true): Unit = {
    val spark = batch.sparkSession
    if (gate && bid <= appliedBid(storeDir)) return
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
    if (fresh.isEmpty) { writeMeta(storeDir, bid); return }

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
    def commitPart(sub: String, df: DataFrame,
                   cols: Seq[String]): Unit = {
      val dir = s"$storeDir/$sub"
      Fs.writer(df).mode("overwrite").parquet(s"$dir/bid=$bid")
      // fingerprint the rows AS WRITTEN (one batch-sized file scan):
      // the sidecar must reproduce exactly what a reader would hash
      ArtifactStore.writeFpPart(dir, s"bid=$bid",
        ArtifactStore.partFingerprint(
          spark.read.parquet(s"$dir/bid=$bid")
            .select(cols.map(col).toIndexedSeq: _*)))
    }
    commitPart("vecs", fresh.select(col("id"), col("v")), Seq("id", "v"))
    commitPart("edges", newEdges, Seq("src", "dst"))
    commitPart("edges1", newEdges1, Seq("src", "dst"))
    commitPart("edges2", newEdges2, Seq("src", "dst"))
    writeMeta(storeDir, bid) // commit point, strictly last
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

  /** One-dir-per-batch growth bound (r13 verdict #4a, the StreamSplit
    * discipline): rewrite every COMMITTED partition of each sub-store
    * into a single `bid=<applied>` partition + one rolled-up `base`
    * sidecar, built in a temp dir and swapped in with two atomic
    * renames — readers never see a partial store, a crash leaves
    * either the fragmented or the compacted state
    * ([[recoverCompaction]] heals the in-between), and because the
    * `_fp` sidecars ride inside the renamed dir, data and fingerprint
    * metadata can never diverge. Rows are PRESERVED EXACTLY, so
    * [[storeFingerprint]] — and the served artifact address — is
    * unchanged. Torn partitions above the watermark are dropped; their
    * batches are gate-replayed anyway. Returns true if any sub-store
    * was rewritten. */
  def compact(spark: SparkSession, storeDir: String,
              minDirs: Int = 2): Boolean = {
    val applied = appliedBid(storeDir)
    if (applied < 0) return false
    var any = false
    Seq(("vecs", vecSchema), ("edges", edgeSchema),
      ("edges1", edgeSchema), ("edges2", edgeSchema))
      .foreach { case (sub, schema) =>
      val dir = s"$storeDir/$sub"
      recoverCompaction(dir)
      val d = Paths.get(dir)
      if (Files.isDirectory(d)) {
        val committedDirs = listDir(d).count { p =>
          Files.isDirectory(p) &&
            committedPart(applied)(p.getFileName.toString)
        }
        if (committedDirs >= minDirs) {
          val tmp = s"$dir.compact.tmp"
          val old = s"$dir.compact.old"
          deleteRec(Paths.get(tmp)); deleteRec(Paths.get(old))
          // rewritten file count = the cumulative byte quota's group
          // count (the q322/StreamSplit plan): never one giant file at
          // scale, never one file per historical batch either
          val bytes = listDir(d).filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.startsWith("bid="))
            .flatMap(listDir).filter(_.getFileName.toString
              .endsWith(".parquet"))
            .map(Files.size(_)).sum
          val k = math.max(1L,
            (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
          Fs.writer(readCommitted(spark, dir, schema, storeDir)
            .coalesce(k)).parquet(s"$tmp/bid=$applied")
          val parts = ArtifactStore
            .readFpParts(dir, committedPart(applied)).map(_._2)
          // the rollup sidecar is NAMED AFTER its data dir (bid=N) so
          // part ids stay readable partition paths for per-part serves
          ArtifactStore.writeFpPart(tmp, s"bid=$applied",
            (parts.map(_._1).sum, parts.map(_._2).sum))
          Files.move(Paths.get(dir), Paths.get(old),
            StandardCopyOption.ATOMIC_MOVE)
          Files.move(Paths.get(tmp), Paths.get(dir),
            StandardCopyOption.ATOMIC_MOVE)
          deleteRec(Paths.get(old))
          any = true
        }
      }
    }
    any
  }

  /** Crash recovery: a compaction that died between its two renames
    * leaves the sub-store at `<dir>.compact.old` — restore it. A
    * leftover `.tmp` (died mid-rewrite) is garbage and is dropped. */
  private def recoverCompaction(dir: String): Unit = {
    val d = Paths.get(dir)
    val old = Paths.get(dir + ".compact.old")
    if (!Files.exists(d) && Files.exists(old))
      Files.move(old, d, StandardCopyOption.ATOMIC_MOVE)
    deleteRec(Paths.get(dir + ".compact.tmp"))
  }

  // one shared copy of the list/delete protocol (ops/Fs) — a
  // hardening there lands in every store at once
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    graft.ops.Fs.ls(p)

  private def deleteRec(p: java.nio.file.Path): Unit =
    graft.ops.Fs.deleteRec(p)

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
        val spark = batch.sparkSession
        val before = spark.sparkContext.getPersistentRDDs.keySet
        try {
          applyBatch(batch, bid, idCol, vecCol, centroids, probes,
            m, beamWidth, rounds, storeDir)
          val vdir = Paths.get(s"$storeDir/vecs")
          if (Files.isDirectory(vdir) &&
              listDir(vdir).count(_.getFileName.toString
                .startsWith("bid=")) > compactAfterBatches) {
            compact(spark, storeDir)
            ()
          }
        } finally spark.sparkContext.getPersistentRDDs.iterator
          .filter { case (id, _) => !before.contains(id) }
          .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
      }
}
