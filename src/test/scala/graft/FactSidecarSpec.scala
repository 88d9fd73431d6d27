package graft

import graft.ops.ArtifactStore
import graft.streaming.BlockIngest
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The write-time fingerprint-sidecar protocol on the INGEST sink —
  * the ETL half of the sidecar-addressed staleness story, at the
  * HEIGHT-BUCKETED layout (`hb=<height div K>/slice=<batch height>`):
  * every fact table commits one `_fp` sidecar per written leaf with
  * the batch (strictly before the manifest), [[BlockIngest.factParts]]
  * folds them per BUCKET (O(#buckets) artifact parts regardless of
  * chain length), and [[BlockIngest.compactFacts]] repacks a bucket's
  * slices without moving any fingerprint. Specs run at a small bucket
  * width (8 blocks) so the 60-block fixture exercises multi-bucket
  * behavior; production defaults to 1024.
  */
class FactSidecarSpec extends SparkSpec {

  private val streamDir = "/root/repo/fixtures/stream"
  private val K = Some(8L)

  private def blocks = spark.read.schema(BlockIngest.blockSchema)
    .json(s"$streamDir/blocks.jsonl")

  private def ingest(sink: String, lo: Long, hi: Long): Unit =
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(lo, hi)), sink,
      bucketBlocks = K)

  test("fold == scan for every fact table: the sidecar-folded " +
    "fingerprint equals a full content scan of the canonical " +
    "committed view, across multiple batches and buckets") {
    val sink = Files.createTempDirectory("fp_sink").toString
    ingest(sink, 1L, 25L)
    ingest(sink, 26L, 60L)
    Seq("blocks", "transactions", "transaction_actors", "rewards",
      "dc_burns", "oracle_prices", "dirty_sets").foreach { table =>
      val parts = BlockIngest.factParts(spark, sink, table)
      assert(parts.nonEmpty, s"$table must have committed sidecars")
      assert(parts.forall(_._1.startsWith("hb=")),
        s"$table part ids must be buckets: ${parts.map(_._1)}")
      ArtifactStore.clearFingerprintMemo()
      assert(BlockIngest.factFingerprint(spark, sink, table) ===
        ArtifactStore.fingerprint(
          BlockIngest.readFactCommitted(spark, sink, table),
          s"facts:$sink:$table"),
        s"$table: sidecar fold must equal the full-scan fingerprint")
    }
    // O(#buckets) part count: 60 blocks at width 8 = 8 buckets, not
    // 60 per-block parts
    assert(BlockIngest.factParts(spark, sink, "transactions").size === 8)
  }

  test("each bucket part's folded sidecar reproduces exactly what " +
    "readFactPart hashes — the per-bucket address a delta rebuild " +
    "trusts") {
    val sink = Files.createTempDirectory("fp_part").toString
    ingest(sink, 1L, 20L)
    val parts = BlockIngest.factParts(spark, sink, "transactions")
    assert(parts.size === 3, "heights 1..20 at width 8 span hb 0..2")
    parts.foreach { case (pid, fp) =>
      assert(fp === ArtifactStore.combineParts(Seq(
        ArtifactStore.partFingerprint(
          BlockIngest.readFactPart(spark, sink, "transactions", pid)))),
        s"part $pid: sidecar fold must equal the part-read fingerprint")
    }
  }

  test("a torn batch's slices sit above the watermark and are " +
    "invisible to factParts; the replay commits them and leaves " +
    "untouched buckets' addresses unchanged") {
    val sink = Files.createTempDirectory("fp_torn").toString
    ingest(sink, 1L, 30L)
    val before = BlockIngest.factParts(spark, sink, "transactions").toMap
    intercept[IllegalStateException](BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(31L, 60L)), sink,
      crashAt = Some("before-commit"), bucketBlocks = K))
    // the torn batch wrote slice=60 leaves AND sidecars, but the
    // watermark never moved — the committed part map is unchanged
    assert(BlockIngest.factParts(spark, sink, "transactions").toMap
      === before, "torn slices must be invisible below the watermark")
    val tornSidecars = graft.ops.Fs
      .ls(Paths.get(s"$sink/transactions/_fp"))
      .map(_.getFileName.toString).filter(_.contains("slice=60"))
    assert(tornSidecars.nonEmpty,
      "the torn sidecar files themselves do exist (above the watermark)")
    ingest(sink, 31L, 60L)
    val after = BlockIngest.factParts(spark, sink, "transactions").toMap
    // buckets 0..2 (heights 1..23) are untouched by the second batch;
    // bucket 3 (24..31) gains block 31, buckets 4..7 are new
    Seq("hb=0", "hb=1", "hb=2").foreach(b =>
      assert(after(b) === before(b),
        s"replay must not change untouched bucket $b"))
    assert(after.keySet === (0 to 7).map(b => s"hb=$b").toSet)
  }

  test("a torn batch replayed with DIFFERENT boundaries never leaks " +
    "duplicates: the next writer removes above-watermark slices " +
    "before writing (the slice-visibility hazard the per-block " +
    "layout never had)") {
    val sink = Files.createTempDirectory("fp_resplit").toString
    ingest(sink, 1L, 30L)
    // batch 31..60 tears before its commit: slice=60 leaves on disk
    intercept[IllegalStateException](BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(31L, 60L)), sink,
      crashAt = Some("before-commit"), bucketBlocks = K))
    // the replay arrives RE-SPLIT as 31..45 + 46..60 (slices 45, 60):
    // without the pre-write clean, the torn slice=60 leaves (carrying
    // blocks 31..60) would become visible at watermark 60 ALONGSIDE
    // the recommitted rows
    ingest(sink, 31L, 45L)
    ingest(sink, 46L, 60L)
    val golden = Files.createTempDirectory("fp_resplit_ref").toString
    ingest(golden, 1L, 60L)
    Seq("blocks", "transactions", "rewards").foreach { table =>
      val got = BlockIngest.readFactCommitted(spark, sink, table)
      val want = BlockIngest.readFactCommitted(spark, golden, table)
      assert(got.count() === want.count(),
        s"$table: re-split replay must not duplicate rows")
      ArtifactStore.clearFingerprintMemo()
      assert(BlockIngest.factFingerprint(spark, sink, table) ===
        BlockIngest.factFingerprint(spark, golden, table),
        s"$table: content must equal a clean single-drain ingest")
    }
  }

  test("sidecar files never leak into commit manifests, audits, or " +
    "committed reads") {
    val sink = Files.createTempDirectory("fp_leak").toString
    ingest(sink, 1L, 60L)
    // manifest-resolving read works (would throw on a .json 'parquet')
    assert(BlockIngest.readCommitted(spark, sink, "transactions")
      .count() > 0)
    val audit = BlockIngest.auditOrphans(sink)
    assert(!audit.exists(_._1.contains("_fp/")),
      "the audit must not classify sidecar metadata as data files")
  }

  test("compaction: a bucket's slices fold into one under the " +
    "two-rename protocol — rows, table fingerprint, and every bucket " +
    "address invariant; committed reads identical; directory count " +
    "collapses to O(#buckets)") {
    val sink = Files.createTempDirectory("fp_compact").toString
    // 1-block-wide batches over 1.5 buckets: the pathological
    // follower regime compaction exists for
    (1L to 12L).foreach(h => ingest(sink, h, h))
    val table = s"$sink/transactions"
    val partsBefore = BlockIngest.factParts(spark, sink, "transactions")
    ArtifactStore.clearFingerprintMemo()
    val fpBefore = BlockIngest.factFingerprint(spark, sink, "transactions")
    val rowsBefore = BlockIngest
      .readCommitted(spark, sink, "transactions")
      .orderBy("block", "hash").collect().toSeq
    def sliceDirs(b: Long) = graft.ops.Fs
      .ls(Paths.get(s"$table/hb=$b"))
      .count(_.getFileName.toString.startsWith("slice="))
    assert(sliceDirs(0L) > 1, "pre-compaction: one slice per batch")

    val folded = BlockIngest.compactFacts(spark, sink)
    assert(folded > 0, "at least one bucket must fold")
    // bucket 0 (heights 1..7, all committed) is one slice now; bucket
    // 1 (8..12) folded too
    assert(sliceDirs(0L) === 1 && sliceDirs(1L) === 1)
    // the repack moved bytes, not rows: every address identical
    assert(BlockIngest.factParts(spark, sink, "transactions")
      === partsBefore,
      "compaction must not move any bucket address")
    ArtifactStore.clearFingerprintMemo()
    assert(BlockIngest.factFingerprint(spark, sink, "transactions")
      === fpBefore)
    assert(BlockIngest.readCommitted(spark, sink, "transactions")
      .orderBy("block", "hash").collect().toSeq === rowsBefore,
      "the committed snapshot must be byte-identical after compaction")
    // sidecar files collapsed with the slices: O(#buckets) metadata
    assert(graft.ops.Fs.ls(Paths.get(s"$table/_fp"))
      .count(_.getFileName.toString.endsWith(".json")) === 2)
    // ingest continues on the compacted store
    ingest(sink, 13L, 20L)
    assert(BlockIngest.readCommitted(spark, sink, "blocks")
      .count() === 20L)
    // idempotent: nothing left to fold at minSlices=2 for bucket 0
    assert(BlockIngest.auditOrphans(sink)
      .forall(_._3 == "live"), "no debris after compact + ingest")
  }

  test("compaction crash recovery: a store stranded between the two " +
    "renames restores losslessly before the next write or read") {
    val sink = Files.createTempDirectory("fp_crash").toString
    (1L to 10L).foreach(h => ingest(sink, h, h))
    val table = s"$sink/transactions"
    val partsBefore = BlockIngest.factParts(spark, sink, "transactions")
    // fabricate the died-between-renames state: hb=0 moved aside,
    // replacement never landed
    Files.move(Paths.get(s"$table/hb=0"),
      Paths.get(s"$table/.compact-old-hb=0"))
    assert(BlockIngest.factParts(spark, sink, "transactions")
      === partsBefore,
      "recovery must restore the bucket before any sidecar fold")
    assert(Files.isDirectory(Paths.get(s"$table/hb=0")))
    assert(!Files.exists(Paths.get(s"$table/.compact-old-hb=0")))
    // fabricate the died-after-swap state: a stale .compact-old COPY
    // next to the live bucket — recovery reclaims it and regenerates
    // the newest manifest from the live layout
    val live = BlockIngest.readCommitted(spark, sink, "blocks").count()
    Files.createDirectories(Paths.get(s"$table/.compact-old-hb=1"))
    BlockIngest.recoverFactCompaction(sink)
    assert(!Files.exists(Paths.get(s"$table/.compact-old-hb=1")))
    assert(BlockIngest.readCommitted(spark, sink, "blocks").count()
      === live)
  }

  test("healing: the data layout is the source of truth — a deleted " +
    "sidecar recomputes and persists; a stale sidecar whose leaf is " +
    "gone is dropped; a foreign sidecar id fails loudly") {
    val sink = Files.createTempDirectory("fp_heal").toString
    ingest(sink, 1L, 20L)
    val dir = s"$sink/transactions"
    val before = BlockIngest.factParts(spark, sink, "transactions")
    // heal-write: drop one sidecar, the fold recomputes it identically
    val victim = graft.ops.Fs.ls(Paths.get(s"$dir/_fp")).head
    val victimName = victim.getFileName.toString
    Files.delete(victim)
    assert(BlockIngest.factParts(spark, sink, "transactions") === before,
      "healing must reproduce the same addresses")
    assert(Files.exists(Paths.get(s"$dir/_fp/$victimName")),
      "the healed sidecar must persist")
    // heal-delete: a sidecar for a leaf that no longer exists
    ArtifactStore.writeFpPart(dir, "hb=99.slice=20", (BigInt(7), 3L))
    assert(BlockIngest.factParts(spark, sink, "transactions") === before)
    assert(!Files.exists(Paths.get(s"$dir/_fp/hb=99.slice=20.json")),
      "a sidecar with no backing leaf must be dropped, not folded")
    // loud refusal: a bid-shaped-but-foreign id must never be guessed
    ArtifactStore.writeFpPart(dir, "hb=zz.slice=20", (BigInt(1), 1L))
    val e = intercept[IllegalStateException](
      BlockIngest.factParts(spark, sink, "transactions"))
    assert(e.getMessage.contains("hb=zz.slice=20"))
  }

  test("the layout pin is immutable: a second batch at a different " +
    "bucket width refuses loudly; readers never need the width") {
    val sink = Files.createTempDirectory("fp_pin").toString
    ingest(sink, 1L, 10L)
    assert(BlockIngest.factBucketBlocks(sink) === Some(8L))
    val e = intercept[IllegalArgumentException](
      BlockIngest.processBatch(spark,
        blocks.filter(col("height").between(11L, 20L)), sink,
        bucketBlocks = Some(16L)))
    assert(e.getMessage.contains("pinned"))
    // a caller passing None adopts the pin
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(11L, 20L)), sink)
    assert(BlockIngest.committedHeight(sink) === 20L)
  }

  test("height-range reads prune at the bucket directories: a range " +
    "inside one bucket scans only that bucket's files") {
    // ... and only its COMMITTED files: a torn slice above the
    // watermark in the same bucket is never read
    val sink = Files.createTempDirectory("fp_prune").toString
    ingest(sink, 1L, 20L)
    // batch 21..23 tears before its commit: its slice=23 leaves land
    // in bucket hb=2 (16..23) beside the committed slice=20
    intercept[IllegalStateException](BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(21L, 23L)), sink,
      crashAt = Some("before-commit"), bucketBlocks = K))
    val torn = graft.ops.CommittedParquet
      .dataFiles(Paths.get(s"$sink/transactions/hb=2/slice=23"))
    assert(torn.nonEmpty, "the torn slice's files exist on disk")
    val golden = Files.createTempDirectory("fp_prune_ref").toString
    ingest(golden, 1L, 20L)
    def scanned(df: org.apache.spark.sql.DataFrame) = df.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val range = BlockIngest.readFactRange(spark, sink, "transactions",
      17L, 23L) // hb=2 only (16..23)
    // directory-level pruning happens before the scan (a 1.5M-block
    // chain reads range/K bucket dirs): the scan's files are exactly
    // the committed files of bucket hb=2; the height predicate reaches
    // the scan's pushed filters (row-group pruning inside the bucket)
    val bucketFiles = graft.ops.CommittedParquet
      .dataFiles(Paths.get(s"$sink/transactions/hb=2/slice=20"))
      .map(_.toAbsolutePath.toString).toSet
    assert(bucketFiles.nonEmpty && scanned(range) === bucketFiles,
      s"the scan must read exactly hb=2's committed files, got: " +
        scanned(range))
    val plan = range.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") && plan.contains("block"),
      "the height range must push to the parquet scan")
    // the bucket-part and whole-table reads hide the torn slice too,
    // and every read returns exactly the committed rows
    val part = BlockIngest.readFactPart(spark, sink, "transactions", "hb=2")
    val all = BlockIngest.readFactCommitted(spark, sink, "transactions")
    assert(scanned(part) === bucketFiles)
    assert(!scanned(all).exists(_.contains("/slice=23/")),
      "the committed read must not scan the torn slice")
    assert(range.count() === BlockIngest.readFactRange(spark, golden,
      "transactions", 17L, 23L).count())
    assert(part.count() === BlockIngest.readFactPart(spark, golden,
      "transactions", "hb=2").count())
    assert(all.count() ===
      BlockIngest.readFactCommitted(spark, golden, "transactions").count())
  }

  test("inventory sidecars: fold == scan for the bucketed MVCC " +
    "stores, a missing sidecar heals from the data layout, and " +
    "vacuumed versions take their sidecars with them") {
    val sink = Files.createTempDirectory("fp_inv").toString
    ingest(sink, 1L, 30L)
    ingest(sink, 31L, 60L)
    val h = BlockIngest.committedHeight(sink)
    Seq("gateway_inventory", "account_inventory", "actor_inventory")
      .foreach { table =>
        val dir = s"$sink/$table"
        val parts = graft.ops.Inventory
          .committedStateParts(spark, dir, h)
        assert(parts.nonEmpty, s"$table must have committed parts")
        ArtifactStore.clearFingerprintMemo()
        val scan = ArtifactStore.fingerprint(
          graft.ops.Inventory.readBucketedStateAt(spark, dir, h),
          s"inv:$dir")
        val fold = ArtifactStore.combineParts(parts.map { case (_, fp) =>
          val Array(hex, n) = fp.split('_')
          (BigInt(hex, 16), n.toLong)
        })
        assert(fold === scan,
          s"$table: sidecar fold must equal the committed-view scan")
      }
    // healing: drop one sidecar — the part map recomputes it from the
    // version leaf and REWRITES it (data layout is the source of truth)
    val gwDir = s"$sink/gateway_inventory"
    val before = graft.ops.Inventory.committedStateParts(spark, gwDir, h)
    val victim = before.head._1
    assert(Files.deleteIfExists(Paths.get(s"$gwDir/_fp/$victim.json")))
    val healed = graft.ops.Inventory.committedStateParts(spark, gwDir, h)
    assert(healed === before, "healing must reproduce the same address")
    assert(Files.exists(Paths.get(s"$gwDir/_fp/$victim.json")),
      "the healed sidecar must persist")
    // vacuum took superseded versions' sidecars: every remaining
    // sidecar names a version directory that still exists
    graft.ops.ArtifactStore.readFpParts(gwDir).foreach { case (pid, _) =>
      val Array(b, m) = pid.split("\\.")
      assert(Files.isDirectory(Paths.get(
        s"$gwDir/$b/merged_height=${m.stripPrefix("mh=")}")),
        s"sidecar $pid must not outlive its data version")
    }
  }

  test("delta rebuild over an INVENTORY: a second batch rebuilds " +
    "only its touched buckets' parts") {
    val sink = Files.createTempDirectory("fp_inv_delta").toString
    val root = Files.createTempDirectory("fp_inv_root").toString
    ingest(sink, 1L, 40L)
    val dir = s"$sink/gateway_inventory"
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    def serve(): Long = {
      spark.conf.set(ArtifactStore.RootConf, root)
      try ArtifactStore.buildOrServeParts(spark, "gw_inv_proj",
        graft.ops.Inventory.committedStateParts(spark, dir,
          BlockIngest.committedHeight(sink)),
        "cols=address,owner", sourceKey = dir) { pid =>
        built.incrementAndGet()
        graft.ops.Inventory.readStatePart(spark, dir, pid)
          .select(col("address"), col("last_owner"))
      }.count()
      finally spark.conf.unset(ArtifactStore.RootConf)
    }
    serve()
    val builds1 = built.get()
    val parts1 = graft.ops.Inventory.committedStateParts(spark, dir,
      BlockIngest.committedHeight(sink)).toMap
    assert(builds1 === parts1.size, "first serve builds every bucket")
    ingest(sink, 41L, 60L)
    val h2 = BlockIngest.committedHeight(sink)
    val parts2 = graft.ops.Inventory.committedStateParts(spark, dir, h2)
    val changed = parts2.count { case (pid, _) => !parts1.contains(pid) }
    serve()
    assert(built.get() - builds1 === changed,
      s"the second serve must rebuild exactly the ${changed} touched " +
        s"buckets (got ${built.get() - builds1})")
    // the served rows == the committed view's projection
    assert(serve() === graft.ops.Inventory
      .readBucketedStateAt(spark, dir, h2).count())
  }

  test("delta rebuild over the ingested table: an appended batch " +
    "rebuilds ONLY the buckets it touched (build count pinned), " +
    "compaction rebuilds NOTHING, the served artifact equals the " +
    "inline per-block rollup") {
    val sink = Files.createTempDirectory("fp_delta").toString
    val root = Files.createTempDirectory("fp_delta_root").toString
    ingest(sink, 1L, 40L)
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    def serve(): Map[(Long, String), Long] = {
      spark.conf.set(ArtifactStore.RootConf, root)
      try ArtifactStore.buildOrServeParts(spark, "txn_type_counts",
        BlockIngest.factParts(spark, sink, "transactions"),
        "by=block,type", sourceKey = s"$sink/transactions") { pid =>
        built.incrementAndGet()
        BlockIngest.readFactPart(spark, sink, "transactions", pid)
          .groupBy(col("block"), col("type"))
          .agg(count(lit(1)).as("n"))
      }.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      finally spark.conf.unset(ArtifactStore.RootConf)
    }
    val v1 = serve()
    val builds1 = built.get()
    val parts1 = BlockIngest.factParts(spark, sink, "transactions").toMap
    assert(builds1 === parts1.size,
      "first serve builds every committed bucket once")
    assert(serve() === v1, "re-serve is pure"); assert(built.get() === builds1,
      "a pure re-serve must invoke the builder ZERO times")
    // append 20 more blocks: the rebuild must touch exactly the
    // buckets whose fold changed (hb=5 gains blocks 41..47, hb=6 and
    // hb=7 are new)
    ingest(sink, 41L, 60L)
    val parts2 = BlockIngest.factParts(spark, sink, "transactions")
    val changed = parts2.count { case (pid, fp) =>
      !parts1.get(pid).contains(fp) }
    val v2 = serve()
    assert(changed === 3, s"width-8 buckets: 41..60 touches hb 5..7")
    assert(built.get() - builds1 === changed,
      s"appending must rebuild exactly the $changed dirtied buckets " +
        s"(got ${built.get() - builds1})")
    // compaction repacks: every address invariant, so a further serve
    // builds NOTHING
    assert(BlockIngest.compactFacts(spark, sink) > 0)
    val builds2 = built.get()
    assert(serve() === v2, "post-compaction serve is identical")
    assert(built.get() === builds2,
      "a fingerprint-invariant repack must trigger zero rebuilds")
    // served == the whole-table rollup, computed directly
    val want = BlockIngest.readFactCommitted(spark, sink, "transactions")
      .groupBy(col("block"), col("type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(v2 === want, "the part-addressed artifact must equal the " +
      "whole-table rollup")
  }
}
