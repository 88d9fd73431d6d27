package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

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
    * `bucket = pmod(xxhash64(key), n)`, where `n` starts at the base
    * count `nBuckets` and doubles as the state grows (see
    * [[mergeBucketedBy]]). A batch only involves the buckets its keys
    * hash into: those partitions are read (untouched buckets are never
    * opened), merged with the batch fold, and rewritten via dynamic
    * partition overwrite — untouched bucket files stay byte-identical
    * on disk. Per-batch cost is O(batch + touched-state), and a bucket
    * holds at most about [[SplitTargetBytes]] of state whatever the
    * store's size.
    *
    * The replay guard is PER BUCKET: a bucket that already has a
    * version at `mergedHeight` is not merged again. A crash mid-write
    * leaves some buckets ahead — the replay then completes exactly the
    * lagging ones, never double-folding the finished ones
    * (exactly-once per bucket). Returns true when any bucket was
    * merged, false when all were already at `mergedHeight` (or the
    * batch was empty).
    */
  def mergeBucketedState(spark: SparkSession, stateDir: String,
                         batch: DataFrame, key: Seq[String], ver: String,
                         latestCols: Seq[String],
                         coalesceCols: Set[String] = Set.empty,
                         touch: Option[(String, Column)] = None,
                         nBuckets: Int = 1,
                         mergedHeight: Long = 0L): Boolean =
    mergeBucketedBy(spark, stateDir, batch, key, nBuckets, mergedHeight) {
      case (None, b) => latestPerKey(b, key, ver, latestCols,
        coalesceCols, touch)
      case (Some(st), b) => mergeBatch(st, b, key, ver, latestCols,
        coalesceCols, touch)
    }

  /** Live parquet bytes per touched bucket past which a merge doubles
    * the store's bucket count. Each bucket a batch touches is
    * rewritten whole, so a follower rewrites up to about the target
    * per touched key, while the count of files a backfill commit
    * writes follows the state's size instead of a fixed fan-out.
    * Of the targets measured against the fixed 64 buckets on 5–233 MB
    * stores (256 KiB to 4 MiB, plans/r18/split-target.md), 4 MiB had
    * the smallest worst ratio over follow and backfill merges; its
    * loss is follow on stores of 32 buckets (1.25× at 117 MB).
    */
  val SplitTargetBytes: Long = 4L << 20

  /** The generic bucket-partitioned state driver: handles bucket
    * assignment, touched/behind selection, the prior read, the bucket
    * count's growth, and the dynamic-overwrite write —
    * `combine(priorBehind, batchBehind)` supplies the merge semantics
    * (latest-per-key, additive balances, subnet accumulation, …) and
    * must emit the key columns unchanged so the bucket re-derives
    * identically.
    *
    * On-disk layout is MVCC: `bucket=B/merged_height=H/…` — a merge
    * writes each rewritten bucket as a NEW version partition and never
    * deletes the version a committed snapshot references. A commit
    * manifest (graft.streaming.BlockIngest) can therefore list a
    * bucket's files and stay valid even while the next batch is
    * half-written; superseded versions are reclaimed by
    * [[vacuumBucketedState]] AFTER the commit point, never during the
    * write.
    *
    * Bucket count: `nBuckets` is the base count, pinned in
    * `_n_buckets`. When the live parquet bytes of the buckets a batch
    * touches average more than [[SplitTargetBytes]], the merge at
    * height H doubles the count and rewrites EVERY bucket under it:
    * with `bucket = pmod(hash, n)`,
    * bucket b splits exactly into b and b+n, so new bucket c takes the
    * rows of old bucket `c mod n` that hash to c. The doubling is
    * recorded in `_bucket_doublings` before the split's first data
    * file; a torn split resumes through the per-bucket replay guard,
    * and [[liveVersions]] never lets a version older than the split
    * back into a read. Each byte is rewritten an amortized O(1) times
    * by splits, as in linear hashing.
    */
  def mergeBucketedBy(spark: SparkSession, stateDir: String,
                      batch: DataFrame, key: Seq[String], nBuckets: Int,
                      mergedHeight: Long)
                     (combine: (Option[DataFrame], DataFrame) => DataFrame)
      : Boolean = {
    // the bucket function is part of the state's on-disk layout: a
    // drifted base count would hash keys into different buckets than
    // the stored rows, duplicating keys and resurrecting stale rows
    // with no error — pinned before the store's first data write,
    // validated on every merge
    val pin = pinnedBuckets(stateDir)
    pin.foreach(storedN => require(storedN == nBuckets,
      s"state at $stateDir was written with nBuckets=$storedN, got $nBuckets"))
    // the layout below this merge from the driver listing (no data
    // read): the doublings, each bucket's versions, and the live
    // version under the count below this height
    val splits = doublings(stateDir)
    val versions = bucketVersions(stateDir)
    require(mergedHeight > 0L || versions.isEmpty,
      s"inventory merge at $stateDir: height 0 folds only into an empty " +
        "store — the per-bucket replay guard needs a height per merge")
    val below = nBuckets << splits.count(_ < mergedHeight)
    val prior = liveAt(versions, splits, mergedHeight - 1).toMap
    // the batch lineage can be expensive (JSON parse + explode for the
    // ledger folds) and is consumed twice (touched-bucket discovery and
    // the merge) — materialize it once. Touched-bucket discovery rides
    // the SAME checkpoint job as a collect_set observe metric: the
    // separate distinct().collect() was one more serialized job (plus
    // its shuffle) per inventory per batch, pure scheduling latency.
    // The bucket is taken under TWICE the count below: its residue
    // mod `below` is the bucket under `below`, so one job serves
    // either side of the split decision.
    val obs = org.apache.spark.sql.Observation()
    val withBucket = batch
      .withColumn("bucket", pmod(xxhash64(key.map(col): _*), lit(below * 2))
        .cast("int"))
      .observe(obs, collect_set(col("bucket")).as("touched"))
      .localCheckpoint()
    val touchedUp = obs.get("touched")
      .asInstanceOf[scala.collection.Seq[Int]].toArray
    if (touchedUp.isEmpty) return false
    val touchedBelow = touchedUp.map(_ % below).distinct.sorted
    // only a merge that has written nothing at this height decides a
    // split, from state strictly below it — a replay therefore resumes
    // exactly the layout its first attempt chose. The decision reads
    // the sizes of the live leaves the merge lists anyway, the touched
    // buckets': the hash spreads keys evenly, so their mean stands for
    // every bucket's
    val filesOf = scala.collection.mutable.Map.empty[(Int, Long), Seq[Path]]
    def files(bv: (Int, Long)): Seq[Path] =
      filesOf.getOrElseUpdate(bv, CommittedParquet.dataFiles(leaf(stateDir, bv)))
    val recorded = splits.contains(mergedHeight)
    val split = recorded || (
      mergedHeight > splits.lastOption.getOrElse(0L) &&
        !versions.values.exists(_.contains(mergedHeight)) &&
        touchedBelow.flatMap(bk => prior.get(bk).map(v => bk -> v))
          .flatMap(files).map(Files.size).sum >
          SplitTargetBytes * touchedBelow.length)
    val n = if (split) below * 2 else below
    val bucket = pmod(xxhash64(key.map(col): _*), lit(n)).cast("int")
    val batchBucket = if (split) col("bucket") else col("bucket") % below
    // a bucket is merged when it has no version at this height under
    // the count in force here — on a split, every bucket
    val candidates =
      if (split) (0 until n).toArray else touchedBelow
    val behind = candidates.filterNot(bk =>
      versions.get(bk).exists(_.contains(mergedHeight)))
    if (behind.isEmpty) return false
    // atomic, and strictly before any data file: a crash can leave a
    // pin without data, never data without a pin
    if (pin.isEmpty) Fs.writeAtomic(pinPath(stateDir), nBuckets.toString)
    // the same order for a doubling: a crash leaves the record without
    // split data (its replay resumes the split), never split data
    // under the old count
    if (split && !recorded)
      Fs.writeAtomic(layoutPath(stateDir),
        renderDoublings(splits :+ mergedHeight))
    val behindVals = behind.map(x => x: Any)
    val bBehind = withBucket
      .filter(batchBucket.isin(behindVals: _*))
      .drop("bucket")
    // prior read: each behind bucket's source under the count below
    // this height (the bucket itself, or on a split the bucket it
    // halves, `c mod below`) at its live version — older versions
    // awaiting vacuum are skipped. [[CommittedParquet]] reads exactly
    // the listed leaves' files (table root as base, so the partition
    // columns are the ones a root scan yields): no listing or schema
    // job runs before the merge, and the write below targets a
    // DIFFERENT root path than any input relation, so the merge+write
    // run as ONE job — no localCheckpoint to break the
    // read-your-own-output-path rule. MVCC makes the overlap safe:
    // the write creates only NEW (bucket, merged_height) version
    // dirs, never touching the leaf files being read.
    val priorPairs = behind.map(_ % below).distinct.sorted.toSeq
      .flatMap(bk => prior.get(bk).map(bk -> _))
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
      else {
        val rows = CommittedParquet.read(spark,
            priorPairs.flatMap(files), Some(stateDir))
          .drop("bucket", "merged_height")
        // a resumed split redoes only some new buckets, and each
        // source also holds the keys of its other half
        Some(if (split && behind.length < n)
          rows.filter(bucket.isin(behindVals: _*)) else rows)
      }
    // state and batch agree on the hash, so the merge re-derives the
    // bucket from the key. Dynamic overwrite targets the (bucket, NEW
    // version) partitions — existing version partitions, including the
    // ones the last commit references, are never touched; untouched
    // buckets stay byte-identical on disk.
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
    // the data layout, which stays the source of truth. A bucket a
    // split left empty gets neither data nor a sidecar.
    val dataCols = merged.columns.toSeq
      .filterNot(Set("bucket", "merged_height"))
    val fps = ArtifactStore.observedPartFingerprints(merged, "bucket",
        behind.toSeq, dataCols)(writeMerged)
      .getOrElse {
        val written = behind.toSeq.flatMap(bk => CommittedParquet.dataFiles(
          leaf(stateDir, bk -> mergedHeight)))
        if (written.isEmpty) Seq.empty
        else ArtifactStore.partFingerprints(
            CommittedParquet.read(spark, written, Some(stateDir)),
            "bucket", dataCols)
          .map { case (pid, fp) =>
            pid.stripPrefix("bucket=").toInt -> fp }
      }
    fps.foreach { case (bk, fp) =>
      ArtifactStore.writeFpPart(stateDir, s"bucket=$bk.mh=$mergedHeight", fp)
    }
    true
  }

  /** The version-leaf directory of `(bucket, merged_height)`. */
  private def leaf(stateDir: String, bv: (Int, Long)): Path =
    Paths.get(s"$stateDir/bucket=${bv._1}/merged_height=${bv._2}")

  private def pinPath(stateDir: String): Path =
    Paths.get(s"$stateDir/_n_buckets")

  /** The base bucket count the store was first written with (its
    * `_n_buckets` pin), or None for a store not written yet. */
  def pinnedBuckets(stateDir: String): Option[Int] = {
    val p = pinPath(stateDir)
    if (!Files.exists(p)) None
    else {
      val body = new String(Files.readAllBytes(p), "UTF-8").trim
      Some(body.toIntOption.getOrElse(throw new IllegalStateException(
        s"unparseable bucket-count pin $p: '$body'")))
    }
  }

  private def layoutPath(stateDir: String): Path =
    Paths.get(s"$stateDir/_bucket_doublings")

  private val DoublingsRe = """\{"doubled_at":\[(\d+(?:,\d+)*)\]\}""".r

  private def renderDoublings(hs: Seq[Long]): String =
    hs.mkString("""{"doubled_at":[""", ",", "]}")

  /** The heights at which the store's bucket count doubled, ascending
    * (empty: still at its base count). The count in force at height h
    * is the base count times 2 per doubling at or below h. A layout
    * file of any other shape fails LOUDLY with its path — a guessed
    * count would hash keys into the wrong buckets. */
  def doublings(stateDir: String): Seq[Long] = {
    val p = layoutPath(stateDir)
    if (!Files.exists(p)) return Seq.empty
    val body = new String(Files.readAllBytes(p), "UTF-8").trim
    def bad = new IllegalStateException(s"unparseable bucket layout $p: " +
      s"""'$body' — expected {"doubled_at":[<height>,…]}, ascending""")
    body match {
      case DoublingsRe(list) =>
        val hs = list.split(',').toSeq.map(_.toLongOption.getOrElse(throw bad))
        if (hs.zip(hs.drop(1)).exists { case (a, b) => a >= b }) throw bad
        hs
      case _ => throw bad
    }
  }

  /** The live version of each bucket at height `h` — the one resolver
    * behind every read, commit manifest, part map and vacuum: the
    * bucket's newest version at or below `h`, and never one older than
    * the newest doubling at or below `h`. The doubling rewrote every
    * bucket, so an older version holds rows that have since moved: a
    * bucket the split left empty must not bring them back. */
  def liveVersions(stateDir: String, h: Long): Seq[(Int, Long)] =
    liveAt(bucketVersions(stateDir), doublings(stateDir), h)

  private def liveAt(versions: Map[Int, Seq[Long]], splits: Seq[Long],
                     h: Long): Seq[(Int, Long)] = {
    val floor = splits.filter(_ <= h).lastOption.getOrElse(Long.MinValue)
    versions.toSeq.sortBy(_._1).flatMap { case (bk, vs) =>
      vs.filter(v => v >= floor && v <= h).maxOption.map(bk -> _)
    }
  }

  /** The data files of the live versions at height `h`
    * ([[liveVersions]]) — the file set a commit manifest at `h` lists
    * and [[readBucketedStateAt]] reads. */
  def liveFiles(stateDir: String, h: Long): Seq[Path] =
    liveVersions(stateDir, h).flatMap(bv =>
      CommittedParquet.dataFiles(leaf(stateDir, bv)))

  private val StatePartIdRe = """bucket=(\d+)\.mh=(\d+)""".r

  /** The committed (partId → part fingerprint) map of a bucketed MVCC
    * store: the live versions at `committed` ([[liveVersions]]) —
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
    liveVersions(stateDir, committed).map { case (bk, v) =>
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

  /** Canonical reader of ONE committed (bucket, version) partition —
    * exactly the rows its sidecar hashed (the version-leaf directory,
    * data columns only). Partition-sized, never a state scan. */
  def readStatePart(spark: SparkSession, stateDir: String,
                    pid: String): DataFrame = pid match {
    case StatePartIdRe(bk, mh) =>
      CommittedParquet.read(spark, CommittedParquet.dataFiles(
        leaf(stateDir, bk.toInt -> mh.toLong)))
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

  /** Reclaim every version at or below `committed` that is not live
    * there ([[liveVersions]]): the bucket's superseded versions, and
    * all versions older than a doubling. Versions ABOVE `committed`
    * (a half-written next batch) are left to [[dropAbove]]. Call only
    * AFTER the commit point that stops referencing them.
    */
  def vacuumBucketedState(stateDir: String, committed: Long): Unit = {
    val versions = bucketVersions(stateDir)
    val live = liveAt(versions, doublings(stateDir), committed).toSet
    versions.foreach { case (bk, vs) =>
      dropVersions(stateDir, bk, vs,
        vs.filter(v => v <= committed && !live(bk -> v)))
    }
  }

  /** Prepare a replay of the batch `(committed, replayAt]`: remove
    * what a torn merge left above `committed` at any height other than
    * `replayAt` — version leaves with their sidecars, and doublings.
    * Such debris comes from a batch with other boundaries; left in
    * place, a torn version would be read as prior state or shadow the
    * replay's own version. What a torn merge left AT `replayAt` came
    * from this same batch, so it stays: the per-bucket replay guard
    * resumes it, redoing only the buckets (or, after a recorded
    * doubling, the split's new buckets) that have no version there.
    * Call before the batch writes anything. */
  def dropAbove(stateDir: String, committed: Long, replayAt: Long): Unit = {
    def torn(h: Long) = h > committed && h != replayAt
    bucketVersions(stateDir).foreach { case (bk, vs) =>
      dropVersions(stateDir, bk, vs, vs.filter(torn))
    }
    // and a sidecar whose data write never landed
    val fp = Paths.get(s"$stateDir/_fp")
    if (Files.isDirectory(fp)) Fs.ls(fp).foreach { p =>
      p.getFileName.toString.stripSuffix(".json") match {
        case StatePartIdRe(_, mh) if torn(mh.toLong) => Files.delete(p)
        case _ =>
      }
    }
    val splits = doublings(stateDir)
    val kept = splits.filterNot(torn)
    if (kept.isEmpty) Files.deleteIfExists(layoutPath(stateDir))
    else if (kept.size < splits.size)
      Fs.writeAtomic(layoutPath(stateDir), renderDoublings(kept))
  }

  /** Delete bucket `bk`'s versions `drop` (of all its versions `vs`)
    * and their sidecars — the sidecar goes with its data, or `_fp`
    * would grow one file per superseded version forever — and the
    * bucket directory with its last version. */
  private def dropVersions(stateDir: String, bk: Int, vs: Seq[Long],
                           drop: Seq[Long]): Unit = {
    drop.foreach { v =>
      Fs.deleteRec(leaf(stateDir, bk -> v))
      Files.deleteIfExists(
        Paths.get(s"$stateDir/_fp/bucket=$bk.mh=$v.json"))
    }
    if (drop.nonEmpty && drop.size == vs.size)
      Fs.deleteRec(Paths.get(s"$stateDir/bucket=$bk"))
  }

  /** Read bucketed state back without the physical columns: the live
    * versions at the newest height ([[liveVersions]]) — superseded
    * versions awaiting vacuum are never opened.
    */
  def readBucketedState(spark: SparkSession, stateDir: String): DataFrame =
    readBucketedStateAt(spark, stateDir, Long.MaxValue)

  /** Snapshot read: the live versions at `committed` (the file set a
    * commit manifest at that height pins).
    */
  def readBucketedStateAt(spark: SparkSession, stateDir: String,
                          committed: Long): DataFrame = {
    val files = liveFiles(stateDir, committed)
    require(files.nonEmpty, s"no committed state at $stateDir")
    CommittedParquet.read(spark, files, Some(stateDir))
      .drop("bucket", "merged_height")
  }
}
