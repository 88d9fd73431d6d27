package graft.streaming

import graft.domain.{AccountLedger, Actors, OuiLedger, Ver}
import graft.ops.{CommittedParquet, Fs, Inventory}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}

/** Ordered block-ingest driver v1 — the Spark shape of the reference's
  * follower (ref: src/be_db_follower.erl:86-108; height continuity
  * assertion be_db_block.erl:96-100; state recovery from the DB on
  * restart be_db_block.erl:82-92).
  *
  * Design for the reference's exactly-once / strict-order contract on a
  * file-based lakehouse:
  *  - one micro-batch may carry k consecutive blocks (bulk backlog
  *    ingest); heights must continue from the committed watermark and be
  *    gap-free, else the batch aborts (crash-equivalent of the
  *    reference's assert);
  *  - fact tables (blocks, transactions, transaction_actors) are written
  *    partitioned by (height BUCKET, batch slice) with dynamic partition
  *    overwrite, so a replayed batch overwrites its own leaves —
  *    idempotent, the parquet stand-in for the reference's `on conflict
  *    do nothing`. `hb = height div K` (K pinned per sink in
  *    `_layout.json`, default 1024) keeps the directory count
  *    O(chain/K + #batches) instead of one directory per block: at the
  *    reference's archived chain height (1,526,437 blocks,
  *    ref: config/sys.config:67) the per-block layout meant ~1.5M
  *    directories per fact table, a 1.5M-file driver-side sidecar scan,
  *    and one Spark job per partition in a part-addressed artifact
  *    build. `slice = the batch's committed height` is the visibility
  *    gate (a torn batch's slices sit above the watermark) and, unlike
  *    the per-block layout, requires the next batch to REMOVE
  *    above-watermark slices before writing — a replayed batch with
  *    different boundaries would otherwise leave a stale slice that
  *    becomes visible when the watermark later passes it. Height-range
  *    reads prune at the bucket directories ([[readFactRange]]) and at
  *    parquet row-group stats on the in-file height column;
  *    [[compactFacts]] folds a bucket's slices into one under the
  *    two-rename protocol, so a long-lived 1-block-batch follower still
  *    converges to O(chain/K) directories;
  *  - the inventory (latest-per-key MERGE state) records the height it
  *    has merged through; a replayed batch is skipped rather than
  *    double-merged (the trigger-upsert is not idempotent per row);
  *  - the COMMIT POINT is one atomically-renamed manifest per batch
  *    (`_commits/<height>.json`) listing every table's live files at
  *    that height — the per-block multi-table transaction of the
  *    reference (src/be_db_follower.erl:87-105 runs one Postgres txn
  *    across 12 tables) realized Delta-style on plain parquet. Every
  *    table write lands in files no earlier manifest references (new
  *    height partitions for facts, new MVCC bucket versions for
  *    inventories, a new whole-table version for stats), so until the
  *    rename the previous snapshot is fully intact; a reader resolving
  *    through [[readCommitted]] can never see a torn batch, gating or
  *    not. Superseded files are vacuumed only after the rename.
  *  - driver state is recovered by reading the sinks at start — no Spark
  *    state store, matching the reference's init-from-DB pattern.
  */
object BlockIngest {

  val blockSchema: StructType = StructType(Seq(
    StructField("height", LongType), StructField("time", LongType),
    StructField("block_hash", StringType), StructField("prev_hash", StringType),
    StructField("election_epoch", LongType), StructField("epoch_start", LongType),
    StructField("hbbft_round", LongType),
    StructField("snapshot_hash", StringType),
    // ledger commit-hook keys changed without a block actor
    // (ref: src/be_db_account.erl:236-247)
    StructField("cdc_keys", StructType(Seq(
      StructField("accounts", ArrayType(StringType)),
      StructField("gateways", ArrayType(StringType)),
      StructField("validators", ArrayType(StringType)),
      // the ledger's freshly-computed reward scale per indirectly-
      // changed gateway — what the reference reads from its ledger for
      // the unchanged-scale guard (src/be_db_gateway.erl:163-186)
      StructField("gateway_scales", ArrayType(StructType(Seq(
        StructField("gateway", StringType),
        StructField("scale", DoubleType)))))))),
    // `fields` stays a raw JSON string at this layer (parsed by each
    // consumer against its own schema), which Spark's JSON reader
    // produces for object-typed tokens read as StringType
    StructField("transactions", ArrayType(StructType(Seq(
      StructField("hash", StringType), StructField("type", StringType),
      StructField("fields", StringType)))))))

  /** Tables a commit manifest covers, with how their files version:
    * fact tables are (hb, slice)-partitioned (slices ≤ the commit are
    * immutable between compactions), inventories are MVCC bucket
    * versions (Inventory.mergeBucketedBy), stats are whole-table
    * versions. The mapped column is the table's HEIGHT column — a data
    * column in the files, from which the `hb` bucket derives.
    */
  private val factTables = Seq("blocks" -> "height",
    "transactions" -> "block", "transaction_actors" -> "block",
    "rewards" -> "block", "packets" -> "block", "dc_burns" -> "block",
    "oracle_prices" -> "block", "dirty_sets" -> "block",
    "gateway_scales" -> "block")
  private val inventoryTables = Seq("actor_inventory", "gateway_inventory",
    "validator_inventory", "account_inventory", "oui_inventory")

  /** An inventory store's base bucket count: a fresh store starts at
    * one bucket and doubles it as it grows (Inventory.mergeBucketedBy).
    * A store keeps the base its pin records, so a sink first written
    * under another base (64, and 16 for oui_inventory, before the
    * count followed the state's size) is extended under its own. */
  private def baseBuckets(store: String): Int =
    Inventory.pinnedBuckets(store).getOrElse(1)

  // ---- fact layout: height buckets, pinned per sink ----

  /** Default height-bucket width: how many consecutive block heights
    * share one `hb=` partition directory. 1024 keeps a
    * 1.5M-block chain at ~1.5k bucket directories per fact table. */
  val DefaultBucketBlocks: Long = 1024L

  private def layoutPath(sinkDir: String) =
    Paths.get(s"$sinkDir/_layout.json")

  private val LayoutRe = """\{"fact_bucket_blocks":\s*(\d+)\}""".r

  /** The sink's pinned bucket width, or None for a sink with no
    * batches yet. Unparseable pin → fail LOUDLY (guessing a width
    * mis-buckets every later batch and silently splits partitions). */
  def factBucketBlocks(sinkDir: String): Option[Long] =
    if (!Files.exists(layoutPath(sinkDir))) None
    else new String(Files.readAllBytes(layoutPath(sinkDir)),
      "UTF-8").trim match {
      case LayoutRe(k) => Some(k.toLong)
      case body => throw new IllegalStateException(
        s"unparseable fact layout pin ${layoutPath(sinkDir)}: '$body' " +
          "— expected {\"fact_bucket_blocks\":<long>}")
    }

  /** Adopt or verify the sink's bucket width: the FIRST batch pins the
    * requested width (default [[DefaultBucketBlocks]]); later batches
    * must match the pin or refuse loudly — two widths in one sink
    * would scatter one height range across incompatible buckets. */
  private def ensureLayout(sinkDir: String, requested: Option[Long]): Long =
    factBucketBlocks(sinkDir) match {
      case Some(pinned) =>
        requested.foreach(r => require(r == pinned,
          s"fact bucket width $r requested but $sinkDir is pinned at " +
            s"$pinned blocks/bucket — the layout pin is immutable"))
        pinned
      case None =>
        val k = requested.getOrElse(DefaultBucketBlocks)
        require(k > 0, s"bucket width must be positive, got $k")
        Fs.writeAtomic(layoutPath(sinkDir),
          s"""{"fact_bucket_blocks":$k}""")
        k
    }

  /** `hb` value of a height under bucket width `k`. */
  private def hbCol(heightCol: String, k: Long): org.apache.spark.sql.Column =
    expr(s"$heightCol div ${k}L")

  /** Remove fact slices ABOVE the committed watermark — torn debris a
    * crashed batch left. Under the per-block layout a torn partition
    * stayed invisible until the block that owned it overwrote it; a
    * SLICE becomes visible as soon as the watermark passes its height
    * even if no replay overwrote it (a replay with different batch
    * boundaries commits at a different slice), so the next writer must
    * clean first. Single-writer contract: nothing above the watermark
    * is live. Sidecars of the removed slices go with them. */
  private def cleanTornSlices(sinkDir: String, committed: Long): Unit =
    factTables.foreach { case (table, _) =>
      val root = Paths.get(s"$sinkDir/$table")
      if (Files.isDirectory(root)) {
        graft.ops.Fs.ls(root)
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("hb="))
          .foreach { hbDir =>
            graft.ops.Fs.ls(hbDir).foreach { sl =>
              val n = sl.getFileName.toString
              if (n.startsWith("slice=") &&
                n.stripPrefix("slice=").toLongOption.exists(_ > committed))
                graft.ops.Fs.deleteRec(sl)
            }
          }
        val fp = root.resolve("_fp")
        if (Files.isDirectory(fp)) graft.ops.Fs.ls(fp).foreach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".json")) parseFactPid(n.stripSuffix(".json"),
              s"$sinkDir/$table") match {
            case (_, slice) if slice > committed => Files.delete(p)
            case _ =>
          }
        }
      }
    }

  /** Parse a fact sidecar part id `hb=<b>.slice=<h>`; anything else
    * fails LOUDLY — skipping it would fold a fingerprint over a
    * subset of the table, the silent-staleness failure the protocol
    * exists to prevent. */
  private def parseFactPid(pid: String, where: String): (Long, Long) = {
    val FactPid = """hb=(-?\d+)\.slice=(\d+)""".r
    pid match {
      case FactPid(b, s) => (b.toLong, s.toLong)
      case _ => throw new IllegalStateException(
        s"unparseable fact sidecar part id '$pid' under $where — " +
          "expected hb=<long>.slice=<long>")
    }
  }

  /** The commit point is the newest manifest in `_commits/` — one
    * atomically-renamed JSON file per batch, named by its committed
    * height. No manifest = height 0 (empty sink).
    */
  def committedHeight(sinkDir: String): Long =
    manifestHeights(sinkDir).foldLeft(0L)(math.max)

  /** All published commit heights (one manifest per batch). */
  private def manifestHeights(sinkDir: String): Seq[Long] = {
    val d = Paths.get(s"$sinkDir/_commits")
    if (!Files.exists(d)) return Seq.empty
    graft.ops.Fs.ls(d).iterator
      .map(_.getFileName.toString)
      .filter(f => f.endsWith(".json") && !f.startsWith("."))
      .map(_.stripSuffix(".json").toLong)
      .toSeq
  }

  /** The vacuum floor under a `retainCommits` retention: the height of
    * the R-th-newest manifest (or the oldest, if fewer exist). Every
    * file version a manifest ≥ the floor pins survives vacuum, so
    * [[readCommittedAt]] time-travels across the retained window;
    * retainCommits = 1 reproduces the original keep-only-newest
    * behavior exactly.
    */
  private def retentionFloor(sinkDir: String, retainCommits: Int): Long = {
    val hs = manifestHeights(sinkDir).sorted(Ordering[Long].reverse)
    if (hs.isEmpty) 0L
    else hs(math.min(math.max(retainCommits, 1), hs.size) - 1)
  }

  /** Process one micro-batch of whole blocks. Pure batch function —
    * callable without a stream (every transform testable standalone).
    *
    * `crashAt` is the spec's kill switch: `Some("after-facts")` /
    * `Some("before-commit")` aborts at that point, simulating a crash
    * mid-multi-table-write — the ACID contract under test is that a
    * reader resolving through [[readCommitted]] never sees the torn
    * batch.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, sinkDir: String,
                   crashAt: Option[String] = None,
                   retainCommits: Int = 1,
                   bucketBlocks: Option[Long] = None): Unit = {
    def t[A](tag: String)(f: => A): A =
      if (!sys.env.contains("GRAFT_INGEST_TIMING")) f
      else {
        val t0 = System.nanoTime(); val r = f
        System.err.println(f"[ingest-perf] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
    def crash(point: String): Unit =
      if (crashAt.contains(point))
        throw new IllegalStateException(s"injected crash at $point")
    import spark.implicits._
    val committed = committedHeight(sinkDir)
    val k = ensureLayout(sinkDir, bucketBlocks)
    // recovery strictly before any write: restore a torn compaction
    // and remove torn slices a crashed batch left above the watermark
    // (they would become VISIBLE once the watermark passes them,
    // whatever the replay's batch boundaries)
    recoverFactCompaction(sinkDir)
    cleanTornSlices(sinkDir, committed)
    // replay filter: already-committed heights are dropped (idempotence)
    val fresh = batch.filter(col("height") > committed).cache()
    try {
      // ONE bounded collect serves the height-continuity check, the
      // batch touch time, the snapshot manifest, the stats deltas, and
      // the carried-scales presence flag (all micro-batch-sized by
      // contract) — each used to be its own driver round-trip (a
      // max(time) agg, an orderBy-limit collect, a txn-type agg, a
      // limit(1).count), four serialized Spark jobs per batch that no
      // data volume can amortize
      // minimal spec fixtures omit the optional columns — reference
      // them only when present (a gap-abort batch must fail on the
      // continuity require, not on an analysis error here)
      val have = fresh.columns.toSet
      val snapCol = if (have("snapshot_hash")) col("snapshot_hash")
        else lit(null).cast("string")
      val scalesCol = if (have("cdc_keys"))
        exists(coalesce(col("cdc_keys")("gateway_scales"),
            array().cast("array<struct<gateway:string,scale:double>>")),
          g => g("gateway").isNotNull)
        else lit(false)
      // a block without a `transactions` key has a NULL array, whose
      // size is NULL under ANSI — it counts zero transactions, and the
      // non-null Long decode below must not abort the whole batch
      def txnCount(txns: org.apache.spark.sql.Column) =
        coalesce(size(txns).cast("long"), lit(0L))
      val hrows = fresh.select(col("height"), col("time"), snapCol,
          txnCount(col("transactions")),
          txnCount(filter(col("transactions"),
            t => t("type") === "consensus_group_v1")),
          txnCount(filter(col("transactions"),
            t => t("type") === "poc_request_v1")),
          scalesCol)
        .as[(Long, Long, Option[String], Long, Long, Long, Boolean)]
        .collect()
      val heights = hrows.map(_._1).sorted
      if (heights.isEmpty) return
      // strict order: continue from the watermark, no gaps
      // (ref: be_db_block.erl:96-100)
      require(heights.head == committed + 1,
        s"height gap: expected ${committed + 1}, got ${heights.head}")
      heights.sliding(2).foreach {
        case Array(a, b) => require(b == a + 1,
          s"non-consecutive heights in batch: $a -> $b")
        case _ =>
      }
      val newCommitted = heights.last
      // inventory versions a crashed batch left above the watermark:
      // those of a batch with other boundaries go, those at this
      // batch's own height stay for the per-bucket replay guard
      inventoryTables.foreach(t =>
        Inventory.dropAbove(s"$sinkDir/$t", committed, newCommitted))

      // Concurrent phase scheduling: within each phase every write
      // lands in files no earlier manifest references and no two
      // writes share a table, so they are order-independent — only
      // the PHASES order (facts → actor-derived state → sidecars →
      // manifest). Sequential submission made a batch ~14 tiny
      // Spark-job latencies long regardless of data volume (measured:
      // a warm 5-block batch spent 9.2 s across ~1 s phases); at
      // production scale the same schedule overlaps the per-table
      // I/O. The crash points keep their documented meanings: a phase
      // barrier completes every write of its group — Par.run awaits
      // ALL tasks even when one fails, so a caught-and-replayed batch
      // never races a failed attempt's stragglers — before the next
      // crash gate.
      def par(work: (String, () => Unit)*): Unit = {
        graft.ops.Par.run(work.toSeq, work.size) {
          case (tag, f) => t(tag)(f())
        }
        ()
      }

      val txns = fresh.select(col("height").as("block"), col("time"),
          explode(col("transactions")).as("t"))
        .select(col("block"), col("t.hash").as("hash"),
          col("t.type").as("type"), col("time"), col("t.fields").as("fields"))

      // deterministic updated_at touch value: the batch's newest block
      // time (the reproducible stand-in for the reference's NOW() touch
      // trigger, ref: migrations/1580305069:4-10) — from the collect above
      val batchTime = hrows.map(_._2).max

      // PHASE 1 — the fact tables (dynamic partition overwrite of the
      // (hb, slice) leaves: a replayed batch rewrites ONLY its own
      // leaves; static mode would truncate the table). The height
      // column stays a DATA column — bucket dirs give height-range
      // directory pruning, row-group stats prune inside a bucket.
      //
      // Each write carries its OWN `_fp` sidecar fingerprints as
      // per-bucket observe metrics riding the write job (hash basis:
      // the data columns in written order — exactly what the sidecar
      // protocol's read-back hashed), so the post-phase grouped
      // re-scan of every freshly-written leaf (9 tables × a scan +
      // collect per batch) is gone. Sidecars land strictly AFTER
      // their leaf's data (same thread) and strictly BEFORE the
      // commit point; a torn batch's sidecars sit above the
      // watermark, where factParts never reads them and
      // cleanTornSlices removes them with their slices. A table whose
      // schema is not parquet-bit-exact (none today) falls back to
      // the read-back scan after phase 2.
      val batchBuckets = heights.map(_ / k).distinct.sorted.toIndexedSeq
      val sidecarReadBack =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def writeFact(df: DataFrame, table: String, heightCol: String): Unit = {
        val out = df.withColumn("hb", hbCol(heightCol, k))
          .withColumn("slice", lit(newCommitted))
        val fps = graft.ops.ArtifactStore.observedPartFingerprints(
          out, "hb", batchBuckets, df.columns.toSeq) {
          Fs.writer(_).mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hb", "slice")
            .parquet(s"$sinkDir/$table")
        }
        fps match {
          case Some(ps) => ps.foreach { case (b, fp) =>
            graft.ops.ArtifactStore.writeFpPart(s"$sinkDir/$table",
              s"hb=$b.slice=$newCommitted", fp) }
          case None => sidecarReadBack.add(table); ()
        }
      }
      // the batch's actor rows, materialized ONCE: the fact write, the
      // actor inventory, and the dirty sets all consume exactly this
      // frame — the disk read-back they used to do forced a phase
      // barrier (write facts, THEN read them back), serializing the
      // batch into two max-leg latencies; the checkpoint is the same
      // rows (the write lands this frame verbatim plus the hb/slice
      // layout columns) without the barrier
      val txnActors = Actors.transactionActors(txns).localCheckpoint()
      // PHASE 1 — every height-sliced FACT table, dirty sets included:
      // no leg reads another leg's output (the dirty sets fold the
      // checkpointed actor frame, not the just-written partitions), so
      // the fact group costs ONE max-leg latency, and the after-facts
      // crash gate keeps its spec-pinned meaning — only `slice=`
      // leaves can be pending at that tear
      par(
        "blocks" -> (() =>
          writeFact(fresh.select("height", "time", "block_hash",
              "prev_hash", "election_epoch", "epoch_start", "hbbft_round",
              "snapshot_hash"), "blocks", "height")),
        "txns" -> (() => writeFact(txns, "transactions", "block")),
        "actors" -> (() =>
          writeFact(txnActors, "transaction_actors", "block")),
        "derived" -> (() =>
          writeDerivedFacts(sinkDir, txns, writeFact(_, _, "block"))),
        "dirty" -> (() =>
          writeDirtySets(spark, sinkDir, fresh, committed, txnActors,
            hrows.exists(_._7), writeFact(_, _, "block"))))
      crash("after-facts")

      // PHASE 2 — the derived state (bucketed MVCC inventories, stats,
      // snapshot manifest): every leg folds the in-memory batch frames
      // against its own prior state — none reads phase 1's output
      par(
        "snap" -> (() => writeSnapshotManifest(sinkDir,
          hrows.collect { case (h, _, Some(sh), _, _, _, _) => (h, sh) })),
        "inv-actor" -> (() => mergeActorInventory(spark, sinkDir,
          txnActors, newCommitted, batchTime)),
        "inv-gw" -> (() => mergeGatewayInventory(spark, sinkDir,
          newCommitted, txns, batchTime)),
        "inv-val" -> (() => mergeValidatorInventory(spark, sinkDir,
          newCommitted, txns, batchTime)),
        "inv-acct" -> (() => mergeAccountInventory(spark, sinkDir,
          newCommitted, txns)),
        "inv-oui" -> (() => mergeOuiInventory(spark, sinkDir,
          newCommitted, txns)),
        "stats" -> (() => mergeStats(spark, sinkDir, newCommitted,
          heights.length.toLong, hrows.map(_._4).sum,
          hrows.map(_._5).sum, hrows.map(_._6).sum)))
      // fallback sidecars for tables whose schema defeated the
      // observe fusion (none today): one grouped read-back per such
      // table — still strictly BEFORE the commit point
      if (!sidecarReadBack.isEmpty)
        t("sidecars")(writeFactSidecars(spark, sinkDir,
          batchBuckets, newCommitted,
          sidecarReadBack.toArray(Array.empty[String]).toSeq))
      crash("before-commit")

      // THE commit point: one atomically-renamed manifest listing every
      // table's live files as of this height. Every write above landed
      // in files no earlier manifest references (new height partitions,
      // new bucket versions, a new stats version), so until this rename
      // the previous snapshot is fully intact and a manifest-resolving
      // reader cannot observe the torn batch.
      t("manifest")(writeCommitManifest(sinkDir, newCommitted))
      // reclaim versions no RETAINED manifest references anymore —
      // strictly after the commit point. The floor is the R-th-newest
      // commit's height, so the newest `retainCommits` snapshots stay
      // fully resolvable for readCommittedAt time travel
      val floor = retentionFloor(sinkDir, retainCommits)
      inventoryTables.foreach(t =>
        Inventory.vacuumBucketedState(s"$sinkDir/$t", floor))
      vacuumStats(sinkDir, floor)
    } finally fresh.unpersist()
  }

  /** Incremental actor inventory: per actor address, first/last seen
    * block and txn count — the account/gateway inventory shape
    * maintained by MERGE instead of the reference's AFTER-INSERT trigger
    * (ref: migrations/1590689602:32-62).
    */
  private def mergeActorInventory(spark: SparkSession, sinkDir: String,
                                  txnActors: DataFrame, newCommitted: Long,
                                  batchTime: Long): Unit = {
    // the batch's actor rows — the checkpointed frame the fact write
    // lands verbatim (same rows the old slice-pruned read-back
    // returned, without serializing behind that write)
    val batchActors = txnActors
      .select(col("actor"), col("block"), col("actor_role"))
    // the LARGEST inventory (one row per actor ever seen) uses the
    // bucket-partitioned state: a batch reads and rewrites only the
    // buckets its actors hash into — O(touched) per batch, not
    // O(state) — with a per-bucket replay guard (exactly-once per
    // bucket even across a crash mid-write)
    val invDir = s"$sinkDir/actor_inventory"
    Inventory.mergeBucketedState(spark, invDir,
      batchActors, Seq("actor"), "block", Seq("actor_role"),
      touch = Some("updated_at" -> timestamp_seconds(lit(batchTime))),
      nBuckets = baseBuckets(invDir), mergedHeight = newCommitted)
  }

  /** gateway_inventory — the reference's key trigger-maintained derived
    * table (ref: migrations/1590689602:32-62), built from the gateway
    * lifecycle txns with the per-column coalesce rules:
    *  - owner: latest of add_gateway.owner / gen_gateway.owner /
    *    transfer_hotspot buyer/new_owner — last NON-null wins (each txn
    *    type sets only some columns, the upsert coalesces the rest, ref:
    *    1610634227:27);
    *  - location/gain/elevation: last non-null from
    *    assert_location_v1/v2 (or gen_gateway's location);
    *  - first_block / last_block / n_rows bookkeeping from the merge.
    */
  private def mergeGatewayInventory(spark: SparkSession, sinkDir: String,
                                    newCommitted: Long, txns: DataFrame,
                                    batchTime: Long): Unit = {
    val invDir = s"$sinkDir/gateway_inventory"
    val parsed = txns.filter(col("type").isin("add_gateway_v1",
        "gen_gateway_v1", "assert_location_v1", "assert_location_v2",
        "transfer_hotspot_v1", "transfer_hotspot_v2"))
      .select(col("block"), col("hash"), col("type"),
        from_json(col("fields"), Actors.fieldsSchema).as("f"))
    val f = col("f")
    val rows = parsed.select(
      f("gateway").as("address"),
      // txn ordering key within the batch: (block, hash) — unique
      Ver.key(col("block"), col("hash")).as("ver"),
      col("block"),
      when(col("type").isin("add_gateway_v1", "gen_gateway_v1"), f("owner"))
        .when(col("type") === "transfer_hotspot_v1", f("buyer"))
        .when(col("type") === "transfer_hotspot_v2", f("new_owner"))
        .as("owner"),
      when(col("type").isin("assert_location_v1", "assert_location_v2",
        "gen_gateway_v1"), f("location")).as("location"),
      when(col("type").isin("assert_location_v1", "assert_location_v2"),
        f("gain")).as("gain"),
      when(col("type").isin("assert_location_v1", "assert_location_v2"),
        f("elevation")).as("elevation"))
      .filter(col("address").isNotNull)
    val cols = Seq("block", "owner", "location", "gain", "elevation")
    val coalesceCols = Set("owner", "location", "gain", "elevation")
    Inventory.mergeBucketedState(spark, invDir, rows, Seq("address"), "ver",
      cols, coalesceCols,
      touch = Some("updated_at" -> timestamp_seconds(lit(batchTime))),
      nBuckets = baseBuckets(invDir), mergedHeight = newCommitted)
  }

  /** validator_inventory — same trigger-upsert pattern for the validator
    * lifecycle (ref: migrations/1622293265:49-82): stake/owner from
    * gen/stake/transfer txns, status transitions (staked/unstaked),
    * last heartbeat height/version — each column coalesced to the last
    * non-null setter in (block, hash) order.
    */
  private def mergeValidatorInventory(spark: SparkSession, sinkDir: String,
                                      newCommitted: Long, txns: DataFrame,
                                      batchTime: Long): Unit = {
    val invDir = s"$sinkDir/validator_inventory"
    val parsed = txns.filter(col("type").isin("gen_validator_v1",
        "stake_validator_v1", "unstake_validator_v1",
        "transfer_validator_stake_v1", "validator_heartbeat_v1"))
      .select(col("block"), col("hash"), col("type"),
        from_json(col("fields"), Actors.fieldsSchema).as("f"))
    val f = col("f")
    // transfer emits two rows: old validator unstakes, new one stakes
    val base = parsed.filter(col("type") =!= "transfer_validator_stake_v1")
      .select(
        when(col("type").isin("gen_validator_v1", "unstake_validator_v1",
          "validator_heartbeat_v1"), f("address"))
          .otherwise(f("validator")).as("address"),
        col("block"), col("hash"),
        f("owner").as("owner"),
        when(col("type").isin("gen_validator_v1", "stake_validator_v1"),
          f("stake")).as("stake"),
        when(col("type").isin("gen_validator_v1", "stake_validator_v1"),
          lit("staked"))
          .when(col("type") === "unstake_validator_v1", lit("unstaked"))
          .as("status"),
        when(col("type") === "validator_heartbeat_v1", col("block"))
          .as("heartbeat"))
    val xferOld = parsed.filter(col("type") === "transfer_validator_stake_v1")
      .select(f("old_validator").as("address"), col("block"), col("hash"),
        f("old_owner").as("owner"), lit(null).cast("long").as("stake"),
        lit("unstaked").as("status"), lit(null).cast("long").as("heartbeat"))
    val xferNew = parsed.filter(col("type") === "transfer_validator_stake_v1")
      .select(f("new_validator").as("address"), col("block"), col("hash"),
        nullif(f("new_owner"), lit("")).as("owner"),
        f("stake").as("stake"), lit("staked").as("status"),
        lit(null).cast("long").as("heartbeat"))
    val rows = base.unionByName(xferOld).unionByName(xferNew)
      .filter(col("address").isNotNull)
      .withColumn("ver", Ver.key(col("block"), col("hash")))
      .drop("hash")
    val cols = Seq("block", "owner", "stake", "status", "heartbeat")
    val co = Set("owner", "stake", "status", "heartbeat")
    Inventory.mergeBucketedState(spark, invDir, rows, Seq("address"), "ver",
      cols, co,
      touch = Some("updated_at" -> timestamp_seconds(lit(batchTime))),
      nBuckets = baseBuckets(invDir), mergedHeight = newCommitted)
  }

  /** account_inventory — balances per account rolled forward per batch
    * (ref: migrations/1591133143-account_inventory.sql:4-70). The batch
    * fold (per-address delta sums + latest nonces) merges additively
    * into the stored state; strict block order makes "batch nonce wins"
    * correct. Single-shot equivalence (3-batch fold == whole-corpus
    * recompute == DuckDB oracle q63) is asserted in BlockIngestSpec.
    */
  private def mergeAccountInventory(spark: SparkSession, sinkDir: String,
                                    newCommitted: Long, txns: DataFrame): Unit = {
    // bucketed by address: the balance fold is additive, so the
    // per-bucket replay guard is load-bearing (a double fold would
    // double-count) — exactly-once per bucket across crashes
    val invDir = s"$sinkDir/account_inventory"
    Inventory.mergeBucketedBy(spark, invDir,
      AccountLedger.deltas(txns), Seq("address"),
      baseBuckets(invDir), newCommitted) {
      case (None, d) => AccountLedger.finish(AccountLedger.fold(d))
      case (Some(st), d) => AccountLedger.merge(st, AccountLedger.fold(d))
    }
  }

  /** oui_inventory — routing state per OUI with the nested array
    * columns (addresses TEXT[] / subnets INT[][],
    * ref: migrations/1612480010-ouis.sql:16-57) persisted as genuine
    * parquet LIST columns; the subnet set is unioned + re-sorted per
    * merge so the accumulated list is independent of batch boundaries.
    */
  private def mergeOuiInventory(spark: SparkSession, sinkDir: String,
                                newCommitted: Long, txns: DataFrame): Unit = {
    val invDir = s"$sinkDir/oui_inventory"
    Inventory.mergeBucketedBy(spark, invDir,
      OuiLedger.rows(txns), Seq("oui"),
      baseBuckets(invDir), newCommitted) {
      case (None, r) => OuiLedger.finish(OuiLedger.fold(r))
      case (Some(st), r) => OuiLedger.merge(st, OuiLedger.fold(r))
    }
  }

  /** Derived per-block fact tables, written with the same idempotent
    * height-partition overwrite as the primary tables:
    *  - rewards: exploded reward entries summed per (txn, account,
    *    gateway) (ref: src/be_db_reward.erl:159-236)
    *  - packets: per-client packet/DC sums from state-channel closes
    *    (ref: src/be_db_packet.erl:85-101)
    *  - dc_burns: staking/fee/state-channel burns
    *    (ref: src/be_db_dc_burn.erl:43-125)
    *  - oracle_prices: price-oracle submissions
    *    (ref: src/be_db_oracle_price.erl)
    */
  private def writeDerivedFacts(sinkDir: String, txns: DataFrame,
                                writeFact: (DataFrame, String) => Unit)
      : Unit = {
    val parsed = txns.select(col("block"), col("hash"), col("type"),
      col("time"), from_json(col("fields"), Actors.fieldsSchema).as("f"))
    val f = col("f")

    // the four derived tables are independent writes into disjoint
    // table dirs — submitted concurrently (guide §2.6), same as the
    // phase they run inside; serialized they made "derived" phase 1's
    // long pole (4 tiny dynamic-overwrite job latencies end to end)
    val derivedWrites = Seq.newBuilder[(String, DataFrame)]
    def write(df: DataFrame, table: String): Unit =
      derivedWrites += (table -> df)

    write(parsed.filter(col("type").isin("rewards_v1", "rewards_v2"))
      .select(col("block"), col("hash"), col("time"),
        explode(f("rewards")).as("r"))
      .groupBy(col("block"), col("hash").as("transaction_hash"), col("time"),
        col("r.account").as("account"), col("r.gateway").as("gateway"))
      .agg(sum(col("r.amount")).as("amount")), "rewards")

    write(parsed.filter(col("type") === "state_channel_close_v1")
      .select(col("block"), col("time"),
        explode(f("state_channel")("summaries")).as("sm"))
      .groupBy(col("block"), col("time"), col("sm.client").as("client"))
      .agg(sum(col("sm.num_packets")).as("num_packets"),
        sum(col("sm.num_dcs")).as("num_dcs")), "packets")

    val payerOrOwner = coalesce(nullif(f("payer"), lit("")), f("owner"))
    val staking = parsed.filter(col("type").isin("oui_v1", "add_gateway_v1",
        "assert_location_v1", "assert_location_v2", "routing_v1"))
      .select(col("block"), col("hash"),
        when(col("type") === "oui_v1", f("payer"))
          .when(col("type") === "routing_v1", f("owner"))
          .otherwise(payerOrOwner).as("actor"),
        when(col("type") === "oui_v1", lit("oui"))
          .when(col("type") === "routing_v1", lit("routing"))
          .when(col("type") === "add_gateway_v1", lit("add_gateway"))
          .otherwise(lit("assert_location")).as("burn_type"),
        coalesce(f("staking_fee"), lit(0L)).as("amount"))
    val scBurns = parsed.filter(col("type") === "state_channel_close_v1")
      .select(col("block"), col("hash"),
        explode(f("state_channel")("summaries")).as("sm"))
      .groupBy(col("block"), col("hash"), col("sm.client").as("actor"))
      .agg(sum(col("sm.num_dcs")).as("amount"))
      .select(col("block"), col("hash"), col("actor"),
        lit("state_channel").as("burn_type"), col("amount"))
    val feeBurns = parsed.select(col("block"), col("hash"),
        payerOrOwner.as("actor"), lit("fee").as("burn_type"),
        f("fee").as("amount"))
      .filter(col("amount").isNotNull && col("amount") > 0 &&
        col("actor").isNotNull)
    write(staking.unionByName(scBurns).unionByName(feeBurns), "dc_burns")

    write(parsed.filter(col("type") === "price_oracle_v1")
      .select(col("block"), col("time"), f("public_key").as("oracle"),
        f("price").as("price")), "oracle_prices")

    graft.ops.Par.run(derivedWrites.result(), 4) {
      case (table, df) => writeFact(df, table)
    }
    ()
  }

  /** Per-block dirty key sets — the keys each handler re-snapshots
    * (ref: src/be_db_account.erl:95-163, be_db_gateway.erl:78-124):
    * actor-derived keys by role family UNIONED with the ledger-CDC keys
    * the block carries (the commit-hook side stream,
    * src/be_db_account.erl:236-247).
    *
    * CDC gateways pass the reference's reward_scale guard
    * (src/be_db_gateway.erl:158-186): an indirectly-changed gateway is
    * re-snapshotted only if its freshly-computed ledger scale differs
    * from the last written one — unless the block's actors already made
    * it dirty. The comparison chains per block inside the batch (lag
    * window over the gateway's carried scales) and falls back to the
    * `gateway_scales` LOG for the first occurrence. The log is
    * height-partitioned and replay-idempotent (dynamic overwrite of its
    * own partitions), and the guard only reads log entries at or below
    * the COMMITTED watermark — so a crash between the log write and the
    * watermark cannot make the replayed guard compare against its own
    * half-applied batch (which would silently drop dirty rows).
    */
  private def writeDirtySets(spark: SparkSession, sinkDir: String,
                             fresh: DataFrame, committed: Long,
                             txnActors: DataFrame, hasScales: Boolean,
                             writeFact: (DataFrame, String) => Unit)
      : Unit = {
    val accountRoles = Seq("payer", "payee", "owner", "escrow")
    val gatewayRoles = Seq("gateway", "reward_gateway", "witness",
      "challenger", "challengee", "packet_receiver")
    val validatorRoles = Seq("validator", "consensus_member",
      "consensus_failure_member", "consensus_failure_failed_member")
    // the batch's actor rows — the checkpointed frame the fact write
    // lands verbatim (batch-sized by construction; the old read-back
    // of the just-written slices serialized this behind that write)
    val actors = txnActors
    val fromActors = actors.select(col("block"), col("actor"),
        when(col("actor_role").isin(accountRoles.map(x => x: Any): _*), "account")
          .when(col("actor_role").isin(gatewayRoles.map(x => x: Any): _*), "gateway")
          .when(col("actor_role").isin(validatorRoles.map(x => x: Any): _*), "validator")
          .as("kind"))
      .filter(col("kind").isNotNull)
    val batchHeights = fresh.select(col("height").as("block"))
    val actorDirty = fromActors.join(batchHeights, Seq("block"), "left_semi")

    // accounts/validators: every CDC key is dirty (no guard exists)
    val fromCdcPlain = Seq("accounts" -> "account", "validators" -> "validator")
      .map { case (field, kind) =>
        fresh.select(col("height").as("block"),
          explode_outer(col("cdc_keys")(field)).as("actor"),
          lit(kind).as("kind"))
      }.reduce(_ unionByName _)
      .filter(col("actor").isNotNull)

    // gateways: guard on the carried reward scale. "Stored" = latest
    // log entry per gateway at or below the committed watermark — a
    // replay after a crash sees exactly what the first attempt saw.
    val scaleLeaves = committedFactLeaves(sinkDir, "gateway_scales", committed)
    val stored = if (scaleLeaves.nonEmpty)
      readFactLeaves(spark, sinkDir, "gateway_scales", scaleLeaves)
        .filter(col("block") <= committed)
        .groupBy(col("actor"))
        .agg(max_by(col("scale"), col("block")).as("stored_scale"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("actor", StringType),
        StructField("stored_scale", DoubleType))))
    val carried = fresh.select(col("height").as("block"),
        explode_outer(col("cdc_keys")("gateway_scales")).as("gs"))
      .select(col("block"), col("gs.gateway").as("actor"),
        col("gs.scale").as("scale"))
      .filter(col("actor").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("actor").orderBy("block")
    val guarded = carried
      .withColumn("prev_in_batch", lag(col("scale"), 1).over(w))
      .join(stored, Seq("actor"), "left_outer")
      .withColumn("prev", coalesce(col("prev_in_batch"), col("stored_scale")))
      .filter(col("prev").isNull || col("prev") =!= col("scale"))
      .select(col("block"), col("actor"), lit("gateway").as("kind"))
    // CDC gateways carried WITHOUT a scale entry (older sidecar formats,
    // or a ledger that could not compute one) have no guard information
    // — always dirty, the reference's failed-lookup path
    val plainGw = fresh.select(col("height").as("block"),
        explode_outer(col("cdc_keys")("gateways")).as("actor"))
      .filter(col("actor").isNotNull)
      .join(carried.select("block", "actor"), Seq("block", "actor"),
        "left_anti")
      .select(col("block"), col("actor"), lit("gateway").as("kind"))
    // actor-dirty gateways are re-added harmlessly (distinct below) —
    // the reference's cache check only avoids double-processing

    // the two table writes are independent (disjoint dirs; the dirty
    // frame's scale guard reads the gateway_scales LOG strictly at or
    // below the committed watermark, and the concurrent append creates
    // only slice = newCommitted > committed leaves, invisible to that
    // read) — submitted concurrently, the leg was q388's phase-1 long
    // pole at two serialized write latencies. The scales append's
    // presence flag (`∃ gateway_scales entry with a non-null gateway`
    // — exactly `carried` being non-empty) was decided on the batch's
    // one driver collect: the limit(1).count() here was one more
    // serialized job per batch.
    val dirtyFrame = actorDirty
      .unionByName(fromCdcPlain)
      .unionByName(guarded)
      .unionByName(plainGw)
      .distinct()
    val writes = ("dirty_sets" -> dirtyFrame) ::
      (if (hasScales) List("gateway_scales" -> carried) else Nil)
    graft.ops.Par.run(writes, writes.size) {
      case (table, df) => writeFact(df, table)
    }
    ()
  }

  // ---- write-time fingerprint sidecars over the fact tables ----
  // The ETL half of the sidecar-addressed staleness story (r14 verdict
  // #1): the LLM half's maintained stores already commit per-part
  // (sum, count) sidecars at write time; here the ingest sink does the
  // same for every height-partitioned fact table, so an artifact built
  // over `transactions`/`rewards`/... addresses and delta-rebuilds in
  // O(#commits) metadata reads — never a corpus scan. Same write-time-
  // precompute instinct as the reference's txn JSON cache
  // (ref: src/be_txn.erl:14-126).

  /** One grouped batch-sized scan per touched table: fingerprint the
    * batch's freshly-written `hb=B/slice=H` leaves AS READ BACK (the
    * canonical hash basis — DATA columns in written order; the hb and
    * slice partition columns are physical layout, excluded so the
    * table fingerprint is invariant under [[compactFacts]]' repack)
    * and record one `_fp` sidecar per leaf. A replayed batch
    * overwrites its own leaves with identical rows, so the sidecar
    * overwrite is idempotent. */
  private def writeFactSidecars(spark: SparkSession, sinkDir: String,
                                buckets: Seq[Long], slice: Long,
                                tables: Seq[String]): Unit = {
    // one grouped scan per table, submitted CONCURRENTLY (Par.run —
    // awaits all, so no straggler survives a failure): the scans
    // are independent batch-sized jobs, and sequential submission made
    // the sidecar step job-count-bound (~9 tiny jobs of scheduling
    // overhead per batch, the q388 lifecycle measured it);
    // writeFpPart is atomic per file, tables never share one.
    // Since the observe-fused write-time sidecars this is only the
    // FALLBACK for tables whose schema is not parquet-bit-exact.
    graft.ops.Par.run(tables, math.max(tables.size, 1)) {
      table =>
        val dir = s"$sinkDir/$table"
        // a table writes NO leaf for a bucket with no rows (e.g.
        // rewards on a rewardless range): sidecars exist iff data does
        val present = buckets.map(b => b -> s"$dir/hb=$b/slice=$slice")
          .filter { case (_, d) => Files.exists(Paths.get(d)) }
        if (present.nonEmpty) {
          val back = readFactLeaves(spark, sinkDir, table,
            present.map { case (b, _) => b -> slice })
          val dataCols = back.columns.filterNot(c =>
            c == "hb" || c == "slice").toSeq
          graft.ops.ArtifactStore.partFingerprints(back, "hb", dataCols)
            .foreach { case (pid, fp) =>
              val b = pid.stripPrefix("hb=")
              graft.ops.ArtifactStore.writeFpPart(dir,
                s"hb=$b.slice=$slice", fp) }
        }
    }
    ()
  }

  /** Committed `(hb, slice)` leaves of a fact table, from the data
    * layout — the ground truth the sidecars describe. Only the bucket
    * directories `bucket` admits are opened. */
  private def committedFactLeaves(sinkDir: String, table: String, h: Long,
                                  bucket: Long => Boolean = _ => true)
      : Seq[(Long, Long)] = {
    val root = Paths.get(s"$sinkDir/$table")
    if (!Files.isDirectory(root)) return Seq.empty
    graft.ops.Fs.ls(root)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("hb="))
      .map(p => p -> p.getFileName.toString.stripPrefix("hb=").toLong)
      .filter { case (_, b) => bucket(b) }
      .flatMap { case (hbDir, b) =>
        graft.ops.Fs.ls(hbDir)
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("slice="))
          .map(p =>
            b -> p.getFileName.toString.stripPrefix("slice=").toLong)
          .filter(_._2 <= h)
      }.sorted
  }

  /** Fact-table `(hb, slice)` leaves as one frame over their files,
    * `hb`/`slice` kept as partition columns (`basePath` = the table
    * root) — the files come from the driver's listing, so no Spark job
    * runs before the query. An empty `leaves` reads as an empty frame
    * with the schema of the table's first leaf. */
  private def readFactLeaves(spark: SparkSession, sinkDir: String,
                             table: String,
                             leaves: Seq[(Long, Long)]): DataFrame =
    readFactFiles(spark, sinkDir, table,
      factLeafFiles(sinkDir, table, leaves))

  /** Data files of the given `(hb, slice)` leaves, from the driver's
    * java.nio listing. */
  private def factLeafFiles(sinkDir: String, table: String,
                            leaves: Seq[(Long, Long)]): Seq[Path] =
    leaves.flatMap { case (b, s) => CommittedParquet.dataFiles(
      Paths.get(s"$sinkDir/$table/hb=$b/slice=$s")) }

  /** [[readFactLeaves]] over an already-listed file set. */
  private def readFactFiles(spark: SparkSession, sinkDir: String,
                            table: String, files: Seq[Path]): DataFrame =
    CommittedParquet.read(spark, files, Some(s"$sinkDir/$table"),
      schemaFile = if (files.nonEmpty) None
        else committedFactLeaves(sinkDir, table, Long.MaxValue)
          .iterator.flatMap(l => factLeafFiles(sinkDir, table, Seq(l)))
          .nextOption())

  /** The committed (bucket partId → folded fingerprint) map of a fact
    * table — the `parts` input for a part-addressed artifact over the
    * table ([[graft.ops.ArtifactStore.buildOrServeParts]]). Part ids
    * are BUCKETS (`hb=B`), each fingerprint the associative fold of
    * the bucket's committed slice sidecars: O(#buckets) parts
    * regardless of batch count, so the artifact build schedules
    * O(#buckets) jobs and an appended batch dirties only the buckets
    * it touched — and a [[compactFacts]] repack (rows unchanged)
    * leaves every bucket address IDENTICAL, so compaction never
    * triggers a rebuild. The DATA LAYOUT is the source of truth (the
    * inventory-sidecar rule): a missing sidecar heals by recomputing
    * from its leaf, a sidecar whose leaf is gone is dropped, and a
    * sidecar that does not parse fails LOUDLY. Torn slices above the
    * watermark are invisible. */
  def factParts(spark: SparkSession, sinkDir: String,
                table: String): Seq[(String, String)] = {
    recoverFactCompaction(sinkDir)
    val h = committedHeight(sinkDir)
    val dir = s"$sinkDir/$table"
    val sidecars = graft.ops.ArtifactStore.readFpParts(dir, pid => {
      parseFactPid(pid, dir) // loud refusal on a foreign pid
      true
    }).toMap
    // heal-delete: a sidecar whose leaf directory is gone (compaction
    // folded it) must not contribute to any fold
    sidecars.keys.foreach { pid =>
      val (b, s) = parseFactPid(pid, dir)
      if (!Files.isDirectory(Paths.get(s"$dir/hb=$b/slice=$s")))
        Files.deleteIfExists(Paths.get(s"$dir/_fp/$pid.json"))
    }
    val leafFps = committedFactLeaves(sinkDir, table, h).map {
      case (b, s) =>
        val pid = s"hb=$b.slice=$s"
        val fp = sidecars.getOrElse(pid, {
          // heal-write: recompute from the leaf (leaf-sized scan) and
          // persist, so the next read is metadata-only again
          val healed = graft.ops.ArtifactStore.partFingerprint(
            readFactLeaves(spark, sinkDir, table, Seq(b -> s))
              .drop("hb", "slice"))
          graft.ops.ArtifactStore.writeFpPart(dir, pid, healed)
          healed
        })
        (b, fp)
    }
    leafFps.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, fps) =>
      s"hb=$b" -> graft.ops.ArtifactStore.combineParts(fps.map(_._2))
    }
  }

  /** Canonical reader of ONE committed bucket part (`hb=B`) — exactly
    * the rows its folded sidecar fingerprint hashes (data columns in
    * written order). The `buildPart` reader for part-addressed
    * artifacts: bucket-sized, never a table scan. */
  def readFactPart(spark: SparkSession, sinkDir: String, table: String,
                   pid: String): DataFrame = {
    require(pid.startsWith("hb=") && !pid.contains("."),
      s"fact part ids are buckets (hb=<long>), got '$pid'")
    val b = pid.stripPrefix("hb=").toLong
    readFactLeaves(spark, sinkDir, table,
      committedFactLeaves(sinkDir, table, committedHeight(sinkDir), _ == b))
      .drop("hb", "slice")
  }

  /** Canonical committed view of a fact table on the sidecar hash
    * basis (data columns in written order) — what [[factFingerprint]]'s
    * sidecar fold equals a full scan of (spec-pinned). */
  def readFactCommitted(spark: SparkSession, sinkDir: String,
                        table: String): DataFrame =
    readFactLeaves(spark, sinkDir, table,
      committedFactLeaves(sinkDir, table, committedHeight(sinkDir)))
      .drop("hb", "slice")

  /** Committed height-range read with BUCKET-directory pruning: only
    * the range's bucket directories are listed and read (a 1.5M-block
    * chain reads range/K bucket dirs, not the table), the height
    * predicate prunes row groups inside them via parquet min/max
    * stats. */
  def readFactRange(spark: SparkSession, sinkDir: String, table: String,
                    loHeight: Long, hiHeight: Long): DataFrame = {
    val k = factBucketBlocks(sinkDir).getOrElse(DefaultBucketBlocks)
    val heightCol = factTables.toMap.apply(table)
    readFactLeaves(spark, sinkDir, table,
      committedFactLeaves(sinkDir, table, committedHeight(sinkDir),
        b => b >= loHeight / k && b <= hiHeight / k))
      .where(col(heightCol).between(loHeight, hiHeight))
      .drop("hb", "slice")
  }

  /** Sidecar-folded content fingerprint of a fact table's committed
    * rows — O(#buckets + #uncompacted slices) metadata, no scan;
    * equal to `ArtifactStore.fingerprint(readFactCommitted(...))`,
    * and invariant under [[compactFacts]] (a repack moves bytes, not
    * rows). */
  def factFingerprint(spark: SparkSession, sinkDir: String,
                      table: String): String =
    graft.ops.ArtifactStore.combineParts(
      factParts(spark, sinkDir, table).map { case (_, fp) =>
        val Array(hex, n) = fp.split('_')
        (BigInt(hex, 16), n.toLong)
      })

  // ---- fact-bucket compaction ----

  /** Fold every fact bucket with ≥ `minSlices` committed slices into
    * ONE slice under the two-rename protocol — the bound that keeps a
    * long-lived 1-block-batch follower at O(chain/K) directories
    * instead of O(#batches). A REPACK, not a merge: rows are
    * unchanged, so [[factFingerprint]] and every [[factParts]] bucket
    * address are invariant and no part-addressed artifact rebuilds.
    *
    * Protocol per bucket (crash-safe at every point, recovery in
    * [[recoverFactCompaction]] which every writer and part reader runs
    * first):
    *  1. write the folded rows to a hidden `.compact-tmp-hb=B` (file
    *     count honors the [[graft.ops.DeltaPartsStore]] byte quota);
    *  2. drop the bucket's old sidecars (a sidecar-less leaf HEALS —
    *     the data layout is the source of truth);
    *  3. rename `hb=B` → `.compact-old-hb=B`, tmp → `hb=B` (the two
    *     atomic renames; between them recovery restores the old dir);
    *  4. write the folded sidecar, verified against the rewritten
    *     rows as read back (never trusted from arithmetic alone).
    * Then ONE manifest step for all folded buckets: regenerate the
    * newest commit manifest from the live layout, PRUNE older
    * manifests (their fact file lists reference the pre-compaction
    * slices — compaction collapses fact-table time travel to the
    * newest commit, the standard compaction/retention trade), and only
    * then delete the `.compact-old` payloads — so until the manifest
    * step completes, every crash restores or regenerates losslessly.
    *
    * Single-writer contract (the vacuumOrphans scope): runs between
    * batches, never concurrently with one. Returns the number of
    * folded buckets. */
  def compactFacts(spark: SparkSession, sinkDir: String,
                   minSlices: Int = 2): Int = {
    require(minSlices >= 2, s"minSlices must be ≥ 2, got $minSlices")
    recoverFactCompaction(sinkDir)
    val h = committedHeight(sinkDir)
    if (h <= 0) return 0
    cleanTornSlices(sinkDir, h)
    // every (table, bucket) fold touches only its own directories —
    // submitted concurrently (guide §2.6): the sequential sweep paid
    // one write-job latency per folded bucket end to end
    val foldable = factTables.flatMap { case (table, _) =>
      committedFactLeaves(sinkDir, table, h).groupBy(_._1).toSeq
        .sortBy(_._1)
        .filter(_._2.size >= minSlices)
        .map { case (b, leaves) => (table, b, leaves) }
    }
    val folded = if (foldable.isEmpty) 0
    else graft.ops.Par.run(foldable, 8) {
      case (table, b, leaves) =>
          val dir = s"$sinkDir/$table"
          val slices = leaves.map(_._2).sorted
          val smax = slices.last
          val tmp = s"$dir/.compact-tmp-hb=$b"
          val old = Paths.get(s"$dir/.compact-old-hb=$b")
          graft.ops.Fs.deleteRec(Paths.get(tmp))
          // 1. folded payload, file count by committed-byte quota
          val files = factLeafFiles(sinkDir, table, leaves)
          val bytes = files.map(Files.size(_)).sum
          val target = graft.ops.DeltaPartsStore.CompactTargetBytes
          val nf = math.max(1L, (bytes + target - 1) / target).toInt
          val union = readFactFiles(spark, sinkDir, table, files)
            .drop("hb", "slice")
          // folded sidecar basis = the rewritten rows: the observe
          // metric hashes the written evaluation itself (one job,
          // no post-rename leaf re-read)
          val foldedFp = graft.ops.ArtifactStore.writeWithFingerprint(
            union.coalesce(nf), s"$tmp/slice=$smax")
          // 2. old sidecars out (heal covers a crash from here on —
          // including the (b, smax) id the folded sidecar will REUSE:
          // left in place it would silently describe a subset)
          slices.foreach(s => Files.deleteIfExists(
            Paths.get(s"$dir/_fp/hb=$b.slice=$s.json")))
          // 3. the two renames
          Fs.swap(Paths.get(s"$dir/hb=$b"), Paths.get(tmp), old)
          // 4. folded sidecar from the rewritten rows (the observe
          // metric captured at write time in step 1)
          graft.ops.ArtifactStore.writeFpPart(dir, s"hb=$b.slice=$smax",
            foldedFp)
    }.size
    if (folded > 0) {
      // one manifest step for the whole sweep: newest regenerated
      // from the live layout, stale history pruned, then the old
      // payloads — strictly in that order (see the scaladoc)
      writeCommitManifest(sinkDir, h)
      pruneManifestsBelowNewest(sinkDir)
      dropCompactOldDirs(sinkDir)
    }
    folded
  }

  /** Restore or finish a compaction that crashed mid-protocol — runs
    * before any write ([[processBatch]]) and any sidecar-trusting
    * read ([[factParts]]). A `.compact-tmp` is garbage at any crash
    * point; a `.compact-old` whose `hb=` target is missing died
    * between the two renames (restore it); one whose target exists
    * died after the swap — the newest manifest may predate the swap,
    * so regenerate it from the live layout (always correct by
    * construction), prune the stale history, and only then reclaim
    * the old payloads. */
  def recoverFactCompaction(sinkDir: String): Unit = {
    var debris = false
    factTables.foreach { case (table, _) =>
      val root = Paths.get(s"$sinkDir/$table")
      if (Files.isDirectory(root)) graft.ops.Fs.ls(root).foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(".compact-tmp-hb="))
          graft.ops.Fs.deleteRec(p)
        else if (n.startsWith(".compact-old-hb=")) {
          debris = true
          Fs.restoreSwap(root.resolve(n.stripPrefix(".compact-old-")), p)
        }
      }
    }
    if (debris) {
      val h = committedHeight(sinkDir)
      if (h > 0) {
        writeCommitManifest(sinkDir, h)
        pruneManifestsBelowNewest(sinkDir)
      }
      dropCompactOldDirs(sinkDir)
    }
  }

  private def dropCompactOldDirs(sinkDir: String): Unit =
    factTables.foreach { case (table, _) =>
      val root = Paths.get(s"$sinkDir/$table")
      if (Files.isDirectory(root)) graft.ops.Fs.ls(root).foreach { p =>
        if (p.getFileName.toString.startsWith(".compact-old-hb="))
          graft.ops.Fs.deleteRec(p)
      }
    }

  /** Drop every commit manifest below the newest — compaction's
    * history collapse (the folded slices those manifests referenced
    * are gone). The newest snapshot, [[committedHeight]], and the
    * replay filter are untouched. */
  private def pruneManifestsBelowNewest(sinkDir: String): Unit = {
    val hs = manifestHeights(sinkDir)
    if (hs.nonEmpty) hs.filter(_ < hs.max).foreach(h =>
      Files.deleteIfExists(Paths.get(s"$sinkDir/_commits/$h.json")))
  }

  /** Snapshot manifest (ref: src/be_db_block.erl:118-157): when a batch
    * carries snapshot blocks, record the newest as latest-snap.json.
    * Pure driver work over the batch's already-collected
    * (height, snapshot_hash) rows — the orderBy-limit collect it
    * replaced was one more serialized Spark job per batch.
    */
  private def writeSnapshotManifest(sinkDir: String,
                                    snapRows: Seq[(Long, String)]): Unit = {
    snapRows.sortBy(-_._1).headOption.foreach { case (h, sh) =>
      // atomic replace: a reader never sees a half-written manifest
      Fs.writeAtomic(Paths.get(s"$sinkDir/latest-snap.json"),
        s"""{"height": $h, "snapshot_hash": "$sh"}""")
    }
  }

  /** Incremental counter stats (ref: src/be_db_stats.erl:63-217): the
    * additive counters (blocks, transactions, consensus_groups,
    * challenges) are maintained per batch by adding the batch's deltas
    * to the stored values — never rescanning history — with the same
    * replay guard as the inventory. IngestStatsSpec asserts the additive
    * form equals a full recompute.
    */
  private def mergeStats(spark: SparkSession, sinkDir: String,
                         newCommitted: Long, nBlocks: Long,
                         nTxns: Long, nConsensus: Long,
                         nChallenges: Long): Unit = {
    val statsDir = s"$sinkDir/stats_inventory"
    // MVCC: each batch writes a NEW whole-table version dir h=<height>;
    // the prior fold reads the newest existing version, the replay
    // guard skips when it is already at (or past) this batch, and
    // superseded versions are vacuumed after the commit point
    val prior: Map[String, Long] = statsVersions(statsDir).sorted.lastOption
      .map { v =>
        CommittedParquet.read(spark,
            CommittedParquet.dataFiles(Paths.get(s"$statsDir/h=$v")))
          .collect()
          .map(r => r.getAs[String]("name") -> r.getAs[Long]("value")).toMap
      }.getOrElse(Map.empty)
    if (prior.getOrElse("_merged_height", 0L) >= newCommitted) return
    // the txn-derived counters arrive pre-summed from the batch's ONE
    // driver collect (per-block size/filter counts — a micro-batch is
    // driver-sized by contract), so the separate txn aggregation job
    // this leg used to run is gone
    val deltas = Map(
      "blocks" -> nBlocks,
      "transactions" -> nTxns,
      "consensus_groups" -> nConsensus,
      "challenges" -> nChallenges)
    val updated = deltas.map { case (k, d) => k -> (prior.getOrElse(k, 0L) + d) } +
      ("_merged_height" -> newCommitted)
    import spark.implicits._
    Fs.writer(updated.toSeq.toDF("name", "value").coalesce(1))
      .mode(SaveMode.Overwrite)
      .parquet(s"$statsDir/h=$newCommitted")
  }

  private def statsVersions(statsDir: String): Seq[Long] = {
    val root = Paths.get(statsDir)
    if (!Files.exists(root)) return Seq.empty
    graft.ops.Fs.ls(root).iterator
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("h="))
      .map(_.getFileName.toString.stripPrefix("h=").toLong)
      .toSeq
  }

  private def vacuumStats(sinkDir: String, committed: Long): Unit = {
    val statsDir = s"$sinkDir/stats_inventory"
    val vs = statsVersions(statsDir)
    vs.filter(_ <= committed).sorted.lastOption.foreach { keep =>
      vs.filter(_ < keep).foreach { v =>
        val dir = Paths.get(s"$statsDir/h=$v")
        graft.ops.Fs.walk(dir).reverse
          .foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** List a table's live data files as of `height`, relative to
    * `sinkDir` (driver-side java.nio walk — the local stand-in for the
    * Hadoop FileSystem listing a cluster deployment would use).
    */
  private def liveFiles(sinkDir: String, height: Long): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    def rel(f: java.nio.file.Path): String =
      Paths.get(sinkDir).relativize(f).toString
    val facts = factTables.map { case (table, _) =>
      val root = Paths.get(s"$sinkDir/$table")
      val fs = CommittedParquet.dataFiles(root).filter { f =>
        // keep only slices at or below the commit height (a torn
        // later batch can only have added HIGHER slices, and a slice
        // carries no block above its own height)
        val part = root.relativize(f)
          .iterator().asScala.map(_.toString)
          .find(_.startsWith("slice="))
        part.forall(_.stripPrefix("slice=").toLong <= height)
      }
      table -> fs.map(rel)
    }
    val invs = inventoryTables.map(table =>
      table -> Inventory.liveFiles(s"$sinkDir/$table", height).map(rel))
    val stats = {
      val statsDir = s"$sinkDir/stats_inventory"
      val keep = statsVersions(statsDir).filter(_ <= height).sorted.lastOption
      "stats_inventory" -> keep.toSeq.flatMap(v =>
        CommittedParquet.dataFiles(Paths.get(s"$statsDir/h=$v")).map(rel))
    }
    (facts ++ invs :+ stats).toMap
  }

  /** Write `_commits/<height>.json` — the atomic commit point,
    * published with [[Fs.writeAtomic]]. Lists every table's live files
    * at this height.
    */
  private def writeCommitManifest(sinkDir: String, height: Long): Unit = {
    val tables = liveFiles(sinkDir, height)
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
    val body = tables.toSeq.sortBy(_._1).map { case (t, fs) =>
      fs.sorted.map(f => "\"" + esc(f) + "\"")
        .mkString("\"" + esc(t) + "\": [", ", ", "]")
    }.mkString(s"""{"height": $height, "tables": {""", ", ", "}}")
    // may replace: [[compactFacts]] rewrites the newest manifest in
    // place after a bucket fold (same height, new file list)
    Fs.writeAtomic(Paths.get(s"$sinkDir/_commits/$height.json"), body)
  }

  private val manifestJson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A commit manifest's (table → sink-relative files) map, parsed on
    * the driver — the one parser every manifest reader shares. A
    * manifest of any other shape fails LOUDLY. */
  private def manifestTables(sinkDir: String,
                             h: Long): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val path = Paths.get(s"$sinkDir/_commits/$h.json")
    def bad(why: String) =
      throw new IllegalStateException(s"malformed commit manifest $path: $why")
    val tables = manifestJson.readTree(Files.readAllBytes(path)).get("tables")
    if (tables == null || !tables.isObject) bad("no \"tables\" object")
    tables.properties().asScala.map { e =>
      if (!e.getValue.isArray) bad(s"table ${e.getKey} is not a file list")
      e.getKey -> e.getValue.asScala.toSeq.map { f =>
        if (!f.isTextual) bad(s"table ${e.getKey} lists a non-string file")
        f.textValue
      }
    }.toMap
  }

  /** Orphan-file AUDIT — the VACUUM story for the commit-manifest
    * store (r12 verdict frontier (c)): classify every data file under
    * the sink against the retained manifests.
    *
    *  - '''live''': referenced by at least one existing commit
    *    manifest — load-bearing for [[readCommitted]] /
    *    [[readCommittedAt]] time travel. Never touched.
    *  - '''pending''': referenced by NO manifest, but its version
    *    segment (fact partition / inventory bucket version / stats
    *    version) is ABOVE the committed watermark — an in-flight or
    *    torn LATER batch. The next successful commit will reference
    *    or supersede it; deleting it under a concurrent writer would
    *    corrupt that batch, so the audit only reports it.
    *  - '''orphan''': referenced by no manifest and at-or-below the
    *    watermark — torn writes whose batch later replayed into fresh
    *    files, superseded versions a crashed vacuum missed, manual
    *    debris. Invisible to every manifest-resolving reader, hence
    *    safe to delete ([[vacuumOrphans]]).
    *
    * Returns (sink-relative path, table, status).
    */
  def auditOrphans(sinkDir: String): Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    val watermark = committedHeight(sinkDir)
    val referenced: Set[String] = manifestHeights(sinkDir)
      .flatMap(h => manifestTables(sinkDir, h).values.flatten).toSet
    val versionPrefixes =
      Seq("slice", "merged_height", "h").map(_ + "=")
    val allTables =
      factTables.map(_._1) ++ inventoryTables :+ "stats_inventory"
    allTables.flatMap { table =>
      CommittedParquet.dataFiles(Paths.get(s"$sinkDir/$table")).map { f =>
        val rel = Paths.get(sinkDir).relativize(f).toString
        val status =
          if (referenced(rel)) "live"
          else {
            val segs = Paths.get(s"$sinkDir/$table").relativize(f)
              .iterator().asScala.map(_.toString).toSeq
            val ver = segs.reverse.collectFirst {
              case s if versionPrefixes.exists(s.startsWith) =>
                s.substring(s.indexOf('=') + 1)
            }.flatMap(v => scala.util.Try(v.toLong).toOption)
            if (ver.exists(_ > watermark)) "pending" else "orphan"
          }
        (rel, table, status)
      }
    }
  }

  /** Delete what [[auditOrphans]] marks `orphan` and return the
    * deleted paths. `live` and `pending` are never touched — the spec
    * pins that every committed snapshot (including time travel across
    * the retained window) reads identically after the vacuum. */
  def vacuumOrphans(sinkDir: String): Seq[String] = {
    val orphans = auditOrphans(sinkDir)
      .collect { case (f, _, "orphan") => f }
    orphans.foreach(f => Files.deleteIfExists(Paths.get(s"$sinkDir/$f")))
    orphans
  }

  /** Reader view over the committed snapshot: resolve `table`'s file
    * list through the NEWEST commit manifest and read exactly those
    * files — never the live directory. This is what makes the
    * multi-table commit atomic for readers that don't replicate the
    * height-gating protocol: a batch killed after any subset of its
    * table writes has published no manifest, so every reader still
    * resolves the previous snapshot's files (all of which the writers
    * above leave untouched until post-commit vacuum).
    */
  def readCommitted(spark: SparkSession, sinkDir: String,
                    table: String): DataFrame = {
    val h = committedHeight(sinkDir)
    require(h > 0L, s"no committed snapshot at $sinkDir")
    resolveManifest(spark, sinkDir, h, table)
  }

  /** Time travel: resolve `table` through the newest commit manifest
    * at or below `asOf` — the snapshot a reader at that height saw.
    * Resolvable as long as the manifest's file versions survive
    * vacuum, i.e. within the writer's `retainCommits` window (the
    * manifest itself always survives; only superseded inventory/stats
    * versions are reclaimed — fact-table height partitions are
    * immutable and readable forever).
    */
  def readCommittedAt(spark: SparkSession, sinkDir: String,
                      table: String, asOf: Long): DataFrame = {
    val hs = manifestHeights(sinkDir).filter(_ <= asOf)
    require(hs.nonEmpty,
      s"no commit manifest at or below height $asOf in $sinkDir")
    resolveManifest(spark, sinkDir, hs.max, table)
  }

  private def resolveManifest(spark: SparkSession, sinkDir: String,
                              h: Long, table: String): DataFrame = {
    val files = manifestTables(sinkDir, h).getOrElse(table,
      sys.error(s"table $table not in commit manifest $h"))
    require(files.nonEmpty, s"table $table is empty in commit manifest $h")
    // the manifest's own file list, read with the table root as base:
    // each table keeps its layout directories as partition columns —
    // `bucket`/`merged_height` for the inventories, `h` for stats.
    // Only the facts' hb/slice are dropped, so a committed fact read
    // keeps the reference shape; inventory/stats callers drop their
    // layout columns themselves
    CommittedParquet.read(spark, files.map(f => Paths.get(s"$sinkDir/$f")),
        Some(s"$sinkDir/$table"))
      .drop("hb", "slice")
  }

  /** Structured-Streaming wrapper: one ordered `processBatch` per
    * micro-batch. The default AvailableNow trigger drains the drop-dir
    * and stops (backfill / test mode); pass `followIntervalMs` for the
    * reference's continuous-follower mode (ref: src/be_db_follower.erl:
    * 86-108) — a ProcessingTime trigger that keeps polling the drop-dir
    * for new block files. Returns only after termination (AvailableNow)
    * or runs until the returned-from-stop (caller stops the query via
    * spark.streams).
    *
    * `compactAfterSlices` auto-triggers [[compactFacts]] OUTSIDE the
    * batch commit (a compaction failure never loses a batch — the
    * index stores' compactAfterBatches discipline) whenever a bucket
    * accumulates more than that many committed slices, so a long-lived
    * 1-block-batch follower converges to O(chain/K) directories
    * instead of O(#batches); 0 disables. */
  def run(spark: SparkSession, streamDir: String, sinkDir: String,
          checkpointDir: String, followIntervalMs: Option[Long] = None,
          bucketBlocks: Option[Long] = None,
          compactAfterSlices: Int = 48)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.schema(blockSchema).json(streamDir)
    val trigger = followIntervalMs
      .map(ms => Trigger.ProcessingTime(s"$ms milliseconds"))
      .getOrElse(Trigger.AvailableNow())
    val q = stream.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        processBatch(spark, df, sinkDir, bucketBlocks = bucketBlocks)
        if (compactAfterSlices > 0) {
          compactFacts(spark, sinkDir,
            minSlices = compactAfterSlices + 1)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
    if (followIntervalMs.isEmpty) q.awaitTermination()
    q
  }
}
