package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Latest-per-key ("inventory") semantics.
  *
  * The reference maintains `*_inventory` tables via AFTER-INSERT triggers
  * that upsert the newest row per key while preserving `first_block` and
  * applying per-column coalesce rules
  * (/root/reference/migrations/1590689602-gateway_inventory.sql:32-62,
  *  1610634227-gateway_inventory_reward_scale.sql:27).
  *
  * Spark-first realization: a single hash aggregation with `max_by` /
  * `min` — one shuffle on the key, map-side partial aggregation, no window
  * sort. This is the form that scales: at 100 TB an equivalent
  * `row_number() over (partition by key order by ver desc)` plan would
  * sort every partition; `max_by` keeps one running row per key per task.
  */
object Inventory {

  /** Collapse `df` to one row per `key`, taking each column in `latestCols`
    * from the row with the highest `ver`, plus `first_<ver>`/`last_<ver>`
    * and a row count. `ver` must be unique per key (the reference's block
    * height is; our fixtures use event_id) so the argmax is deterministic.
    *
    * Columns in `coalesceCols` take the value of the latest row where the
    * column is NON-NULL — the row-level effect of the trigger's
    * `x = coalesce(EXCLUDED.x, old.x)` upsert rule applied per insert in
    * `ver` order (ref: migrations/1610634227:27). `max_by` skips rows
    * whose ordering expression is null, so `max_by(c, ver when c not
    * null)` is exactly "last non-null".
    */
  def latestPerKey(df: DataFrame, key: Seq[String], ver: String,
                   latestCols: Seq[String],
                   coalesceCols: Set[String] = Set.empty,
                   touch: Option[(String, Column)] = None): DataFrame = {
    val aggs =
      latestCols.map { c =>
        val ord = if (coalesceCols(c))
          when(col(c).isNotNull, col(ver)) else col(ver)
        max_by(col(c), ord).as(s"last_$c")
      } ++
        Seq(min(col(ver)).as(s"first_$ver"),
            max(col(ver)).as(s"last_$ver"),
            count(lit(1)).as("n_rows"))
    val base = df.groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // every row of a fresh fold was just written — all get the touch
    touch.fold(base) { case (name, v) => base.withColumn(name, v) }
  }

  /** Incremental form: merge a new batch into an existing inventory state
    * produced by [[latestPerKey]]. Mirrors the trigger's upsert: keep the
    * old `first_<ver>`, take batch values when the batch is newer, and for
    * columns listed in `coalesceCols` keep the old value when the new one
    * is null (the reference's `reward_scale = coalesce(EXCLUDED, old)`
    * rule, migrations/1610634227:27).
    *
    * Implemented as a key-partitioned full-outer merge; with the state
    * table bucketed by key this is a co-partitioned join with no extra
    * shuffle of the (large) state side.
    */
  def mergeBatch(state: DataFrame, batch: DataFrame, key: Seq[String],
                 ver: String, latestCols: Seq[String],
                 coalesceCols: Set[String] = Set.empty,
                 touch: Option[(String, Column)] = None): DataFrame = {
    val b = latestPerKey(batch, key, ver, latestCols, coalesceCols)
    val joined = state.as("s").join(b.as("b"), key, "full_outer")
    val newer = col(s"b.last_$ver").isNotNull &&
      (col(s"s.last_$ver").isNull || col(s"b.last_$ver") > col(s"s.last_$ver"))
    def pick(c: String): Column = {
      val bv = col(s"b.last_$c")
      val sv = col(s"s.last_$c")
      val v = when(newer, if (coalesceCols(c)) coalesce(bv, sv) else bv)
        .otherwise(sv)
      v.as(s"last_$c")
    }
    val cols =
      key.map(col) ++ latestCols.map(pick) ++ Seq(
        least(col(s"s.first_$ver"), col(s"b.first_$ver")).as(s"first_$ver"),
        greatest(col(s"s.last_$ver"), col(s"b.last_$ver")).as(s"last_$ver"),
        (coalesce(col("s.n_rows"), lit(0L)) + coalesce(col("b.n_rows"), lit(0L)))
          .as("n_rows")) ++
        // updated_at touch (ref: migrations/1580305069:4-10): rows that
        // took batch data get the batch's touch value, untouched rows
        // keep their stored one — NOW() replaced by a deterministic
        // batch watermark so replays and oracles reproduce
        touch.map { case (name, v) =>
          when(newer, v).otherwise(col(s"s.$name")).as(name) }
    joined.select(cols: _*)
  }

  /** Bucket-partitioned incremental state on plain parquet — the
    * O(touched)-per-batch merge that replaces the O(state) full
    * rewrite (the Delta/Iceberg MERGE shape without a table format).
    *
    * State lives under `stateDir` partitioned by
    * `bucket = pmod(xxhash64(key), nBuckets)`. A batch only involves
    * the buckets its keys hash into: those partitions are read
    * (partition-pruned scan — untouched buckets are never opened),
    * merged with the batch fold, and rewritten via dynamic partition
    * overwrite — untouched bucket files stay byte-identical on disk.
    * Per-batch cost is O(batch + touched-state); at 100 TB with, say,
    * 64k buckets, a batch touching 1k keys rewrites ≤1k buckets
    * (~state/64k each), not the whole table.
    *
    * The replay guard is PER BUCKET: each bucket carries the height it
    * merged through, and only buckets still behind `mergedHeight` are
    * merged and rewritten. A crash mid-write leaves some buckets ahead
    * — the replay then completes exactly the lagging ones, never
    * double-folding the finished ones (exactly-once per bucket).
    * Returns true when any bucket was merged, false when all were
    * already at `mergedHeight` (or the batch was empty).
    */
  def mergeBucketedState(spark: SparkSession, stateDir: String,
                         batch: DataFrame, key: Seq[String], ver: String,
                         latestCols: Seq[String],
                         coalesceCols: Set[String] = Set.empty,
                         touch: Option[(String, Column)] = None,
                         nBuckets: Int = 64,
                         mergedHeight: Long = 0L): Boolean =
    mergeBucketedBy(spark, stateDir, batch, key, nBuckets, mergedHeight) {
      case (None, b) => latestPerKey(b, key, ver, latestCols,
        coalesceCols, touch)
      case (Some(st), b) => mergeBatch(st, b, key, ver, latestCols,
        coalesceCols, touch)
    }

  /** The generic bucket-partitioned state driver: handles bucket
    * assignment, touched/behind selection, the partition-pruned prior
    * read, and the dynamic-overwrite write — `combine(priorBehind,
    * batchBehind)` supplies the merge semantics (latest-per-key,
    * additive balances, subnet accumulation, …) and must emit the key
    * columns unchanged so the bucket re-derives identically.
    *
    * On-disk layout is MVCC: `bucket=B/merged_height=H/…` — a merge
    * writes each rewritten bucket as a NEW version partition and never
    * deletes the version a committed snapshot references. A commit
    * manifest (graft.streaming.BlockIngest) can therefore list a
    * bucket's files and stay valid even while the next batch is
    * half-written; superseded versions are reclaimed by
    * [[vacuumBucketedState]] AFTER the commit point, never during the
    * write.
    */
  def mergeBucketedBy(spark: SparkSession, stateDir: String,
                      batch: DataFrame, key: Seq[String], nBuckets: Int,
                      mergedHeight: Long)
                     (combine: (Option[DataFrame], DataFrame) => DataFrame)
      : Boolean = {
    val bucket = pmod(xxhash64(key.map(col): _*), lit(nBuckets)).cast("int")
    // the batch lineage can be expensive (JSON parse + explode for the
    // ledger folds) and is consumed twice (touched-bucket discovery and
    // the merge) — materialize it once. Touched-bucket discovery rides
    // the SAME checkpoint job as a collect_set observe metric: the
    // separate distinct().collect() was one more serialized job (plus
    // its shuffle) per inventory per batch, pure scheduling latency.
    val obs = org.apache.spark.sql.Observation()
    val withBucket = batch.withColumn("bucket", bucket)
      .observe(obs, collect_set(col("bucket")).as("touched"))
      .localCheckpoint()
    val touched = obs.get("touched").asInstanceOf[scala.collection.Seq[Int]]
      .toArray.sorted
    if (touched.isEmpty) return false
    val hasState = Files.exists(Paths.get(stateDir))
    // the bucket function is part of the state's on-disk layout: a
    // drifted nBuckets would hash keys into different buckets than the
    // stored rows, duplicating keys and resurrecting stale rows with no
    // error — pinned before the store's first data write, validated on
    // every merge
    val nbPath = Paths.get(s"$stateDir/_n_buckets")
    val pinned = Files.exists(nbPath)
    if (pinned) {
      val body = new String(Files.readAllBytes(nbPath), "UTF-8").trim
      val storedN = body.toIntOption.getOrElse(throw new IllegalStateException(
        s"unparseable bucket-count pin $nbPath: '$body'"))
      require(storedN == nBuckets,
        s"state at $stateDir was written with nBuckets=$storedN, got $nBuckets")
    }
    // current version per bucket from the partition layout (driver-side
    // listing — no data read)
    val versions = if (hasState) bucketVersions(stateDir) else Map.empty[Int, Seq[Long]]
    val bucketHeights: Map[Int, Long] =
      versions.collect { case (bk, vs) if vs.nonEmpty => bk -> vs.max }
    val behind =
      if (mergedHeight == 0L) touched
      else touched.filter(bk => bucketHeights.getOrElse(bk, 0L) < mergedHeight)
    if (behind.isEmpty) return false
    // atomic, and strictly before any data file: a crash can leave a
    // pin without data, never data without a pin
    if (!pinned) Fs.writeAtomic(nbPath, nBuckets.toString)
    val bBehind = withBucket
      .filter(col("bucket").isin(behind.map(x => x: Any): _*))
      .drop("bucket")
    // prior read: only the behind buckets' CURRENT versions are opened
    // (older versions awaiting vacuum are skipped). The driver lists
    // those version-LEAF directories itself and [[CommittedParquet]]
    // reads exactly their files (table root as base, so the partition
    // columns are the ones a root scan yields): no listing or schema
    // job runs before the merge, and the write below targets a
    // DIFFERENT root path than any input relation, so the merge+write
    // run as ONE job — no localCheckpoint to break the
    // read-your-own-output-path rule. MVCC makes the overlap safe:
    // the write creates only NEW (bucket, merged_height) version
    // dirs, never touching the leaf files being read.
    val priorPairs = behind.toSeq
      .flatMap(bk => bucketHeights.get(bk).map(bk -> _))
    // the one-job merge+write overlap below is safe ONLY because the
    // write creates strictly NEW (bucket, merged_height) version dirs
    // while the read holds strictly OLDER ones — a replay/refactor
    // that violated that would race the write against its own input
    // with no loud failure (r16 advice): refuse it here instead
    require(!priorPairs.exists(_._2 == mergedHeight),
      s"inventory merge at $stateDir: a read version equals the " +
        s"version being written ($mergedHeight) — the no-overlap MVCC " +
        "assumption the single-job merge rests on is violated")
    val priorBehind =
      if (priorPairs.isEmpty) None
      else Some(readVersions(spark, stateDir, priorPairs)
        .drop("bucket", "merged_height"))
    // state and batch agree on the hash, so the merge re-derives the
    // bucket from the key — no cross-bucket movement possible.
    // Dynamic overwrite targets the (bucket, NEW version) partitions —
    // existing version partitions, including the ones the last commit
    // references, are never touched; untouched buckets stay
    // byte-identical on disk.
    val merged = combine(priorBehind, bBehind).withColumn("bucket", bucket)
      .withColumn("merged_height", lit(mergedHeight))
    def writeMerged(df: DataFrame): Unit =
      Fs.writer(df).mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "merged_height")
        .parquet(stateDir)
    // write-time fingerprint sidecars, one per rewritten (bucket,
    // version) — the fact-table protocol extended to the bucketed MVCC
    // stores, so an artifact over an inventory addresses and
    // delta-rebuilds per TOUCHED bucket with no state scan. The
    // per-bucket (sum, count) pairs ride the merge write's OWN job as
    // observe metrics over the DATA columns in written order (the
    // canonical [[readStatePart]] basis — a version-leaf read has no
    // partition columns): the grouped read-back scan this replaces was
    // one more serialized job plus a part-sized re-scan per inventory
    // per batch. A non-bit-exact schema falls back to exactly that
    // read-back (same guard as ArtifactStore.writeWithFingerprint). A
    // crash between the data write and the sidecar writes leaves
    // versions without sidecars; [[committedStateParts]] heals from
    // the data layout, which stays the source of truth.
    val dataCols = merged.columns.toSeq
      .filterNot(Set("bucket", "merged_height"))
    val fps = ArtifactStore.observedPartFingerprints(merged, "bucket",
        behind.toSeq, dataCols)(writeMerged)
      .getOrElse {
        val back = readVersions(spark, stateDir,
          behind.toSeq.map(_ -> mergedHeight))
        ArtifactStore.partFingerprints(back, "bucket", dataCols)
          .map { case (pid, fp) =>
            pid.stripPrefix("bucket=").toInt -> fp }
      }
    fps.foreach { case (bk, fp) =>
      ArtifactStore.writeFpPart(stateDir, s"bucket=$bk.mh=$mergedHeight", fp)
    }
    true
  }

  /** The `(bucket, merged_height)` version leaves `versions` of a
    * bucketed store as one frame over their files, the layout kept as
    * partition columns (`basePath` = the store root). */
  private def readVersions(spark: SparkSession, stateDir: String,
                           versions: Seq[(Int, Long)]): DataFrame =
    CommittedParquet.read(spark,
      versions.flatMap { case (bk, v) => CommittedParquet.dataFiles(
        Paths.get(s"$stateDir/bucket=$bk/merged_height=$v")) },
      Some(stateDir))

  private val StatePartIdRe = """bucket=(\d+)\.mh=(\d+)""".r

  /** The committed (partId → part fingerprint) map of a bucketed MVCC
    * store: each bucket's newest version at or below `committed` —
    * exactly the file set [[readBucketedStateAt]] reads — with the
    * fingerprint answered from the write-time sidecar. The DATA layout
    * is the source of truth: a version whose sidecar is missing (a
    * crash between the data write and the sidecar write, or a store
    * predating the protocol) heals here with ONE bucket-sized scan and
    * the healed sidecar persists; steady state is O(#buckets) metadata
    * reads. The `parts` input for a part-addressed artifact over an
    * inventory ([[graft.ops.ArtifactStore.buildOrServeParts]] with
    * [[readStatePart]] as the part reader). */
  def committedStateParts(spark: SparkSession, stateDir: String,
                          committed: Long): Seq[(String, String)] = {
    val sidecars = ArtifactStore.readFpParts(stateDir).toMap
    bucketVersions(stateDir).toSeq.sortBy(_._1).flatMap { case (bk, vs) =>
      vs.filter(_ <= committed).sorted.lastOption.map { v =>
        val pid = s"bucket=$bk.mh=$v"
        val fp = sidecars.getOrElse(pid, {
          val healed = ArtifactStore.partFingerprint(
            readStatePart(spark, stateDir, pid))
          ArtifactStore.writeFpPart(stateDir, pid, healed)
          healed
        })
        pid -> ArtifactStore.combineParts(Seq(fp))
      }
    }
  }

  /** Canonical reader of ONE committed (bucket, version) partition —
    * exactly the rows its sidecar hashed (the version-leaf directory,
    * data columns only). Partition-sized, never a state scan. */
  def readStatePart(spark: SparkSession, stateDir: String,
                    pid: String): DataFrame = pid match {
    case StatePartIdRe(bk, mh) =>
      CommittedParquet.read(spark, CommittedParquet.dataFiles(
        Paths.get(s"$stateDir/bucket=$bk/merged_height=$mh")))
    case _ => throw new IllegalStateException(
      s"unparseable inventory part id '$pid' — expected bucket=<n>.mh=<h>")
  }

  /** Per-bucket version list from the partition directory layout.
    * Driver-side listing (java.nio — the local-FS stand-in for the
    * Hadoop FileSystem listing a cluster deployment would use).
    */
  def bucketVersions(stateDir: String): Map[Int, Seq[Long]] = {
    val root = Paths.get(stateDir)
    if (!Files.exists(root)) return Map.empty
    Fs.ls(root).iterator
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bucket="))
      .map { p =>
        val bk = p.getFileName.toString.stripPrefix("bucket=").toInt
        val vs = Fs.ls(p)
          .filter(q => Files.isDirectory(q) &&
            q.getFileName.toString.startsWith("merged_height="))
          .map(_.getFileName.toString.stripPrefix("merged_height=").toLong)
        bk -> vs
      }.toMap
  }

  /** Reclaim superseded bucket versions: for each bucket, keep the
    * newest version at or below `committed` (the one the current commit
    * manifest references) plus any versions ABOVE it (a half-written
    * next batch — its replay will reuse them); delete the rest. Call
    * only AFTER the commit point that stops referencing them.
    */
  def vacuumBucketedState(stateDir: String, committed: Long): Unit = {
    bucketVersions(stateDir).foreach { case (bk, vs) =>
      val keepFloor = vs.filter(_ <= committed).sorted.lastOption
      keepFloor.foreach { floor =>
        vs.filter(_ < floor).foreach { v =>
          val dir = Paths.get(s"$stateDir/bucket=$bk/merged_height=$v")
          Fs.walk(dir).reverse
            .foreach(Files.deleteIfExists(_))
          // the version's sidecar goes with its data — the store
          // vacuums its own metadata (otherwise _fp grows one file
          // per superseded version forever)
          Files.deleteIfExists(
            Paths.get(s"$stateDir/_fp/bucket=$bk.mh=$v.json"))
          ()
        }
      }
    }
  }

  /** Read bucketed state back without the physical columns: each
    * bucket's CURRENT (max-version) partition only — superseded
    * versions awaiting vacuum are pruned out at the partition level.
    */
  def readBucketedState(spark: SparkSession, stateDir: String): DataFrame =
    readBucketedStateAt(spark, stateDir, Long.MaxValue)

  /** Snapshot read: each bucket's newest version at or below
    * `committed` (the file set a commit manifest at that height pins).
    */
  def readBucketedStateAt(spark: SparkSession, stateDir: String,
                          committed: Long): DataFrame = {
    val pairs = bucketVersions(stateDir).toSeq.flatMap { case (bk, vs) =>
      vs.filter(_ <= committed).sorted.lastOption.map(bk -> _)
    }
    require(pairs.nonEmpty, s"no committed state at $stateDir")
    readVersions(spark, stateDir, pairs).drop("bucket", "merged_height")
  }
}
