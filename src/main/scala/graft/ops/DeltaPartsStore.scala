package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The maintained DELTA-PARTS store protocol, one implementation
  * behind all seven maintained stores (token counts and the winnow,
  * LSH, MinHash, SimHash, IVF and containment indexes): one `bid=N`
  * parquet partition plus an `_fp` content sidecar per applied
  * micro-batch, a meta-file watermark written strictly LAST (torn
  * later batches are invisible — the BlockIngest reader rule), a
  * sidecar-folded store fingerprint (O(#batches) metadata reads, never
  * a data scan), and a two-atomic-rename compaction with crash
  * recovery.
  *
  * Row semantics stay with the caller:
  *
  *  - the caller transforms its micro-batch into part ROWS
  *    (pre-aggregated counts, per-doc index entries, ...) and hands
  *    them to [[applyPart]] — the store never sees raw documents;
  *  - `compactRewrite` states what compaction does to the folded rows.
  *    `identity` REPACKS: bytes move, rows don't, so the store
  *    fingerprint is INVARIANT across compaction (the winnow index's
  *    spec-pinned property — the sum-of-row-hashes fold cannot see a
  *    repartition). A merging rewrite (group-sum) CHANGES rows — and
  *    so the fingerprint, deliberately: a downstream part-addressed
  *    artifact built over these rows must re-address, because its
  *    input rows really did change (the token count store's documented
  *    trade).
  *
  * What a store OBJECT shares around the protocol lives here once:
  * [[MaintainedStore]] (wrappers, replay guard, the `foreachBatch`
  * stream loop) and [[PinnedStore]] (the identity pin, a typed
  * `G ⇄ String` codec [[DeltaPartsStore.Pin]], and the serve legs). A
  * store object keeps its schema, its row derivation and its codec.
  *
  * Same commit instinct as the reference's follower (payload first,
  * watermark strictly last — src/be_db_follower.erl:215-260), here as
  * a reusable storage primitive rather than per-op plumbing.
  */
final class DeltaPartsStore(
    storeDir: String,
    schema: StructType,
    compactRewrite: DataFrame => DataFrame) {

  private val cols = schema.fieldNames.toIndexedSeq

  private def metaPath = Paths.get(s"$storeDir/meta.txt")

  /** Applied-through batch id (-1 = empty store). */
  def appliedBid: Long =
    if (Files.exists(metaPath))
      new String(Files.readAllBytes(metaPath),
        StandardCharsets.UTF_8).trim.toLong
    else -1L

  /** The parts root — exposed so callers can address downstream
    * part-artifacts by this store's sidecars
    * ([[graft.ops.ArtifactStore.readFpParts]]). */
  def partsDir: String = s"$storeDir/parts"

  /** The companion's parse-and-refuse rule, bound to this store's
    * parts dir (see [[DeltaPartsStore.bidOf]]). */
  private def bidOf(name: String): Option[Long] =
    DeltaPartsStore.bidOf(name, partsDir)

  /** Is `part` a committed `bid=N` partition at watermark `applied`?
    * Callers capture the watermark ONCE per operation and pass the
    * resulting predicate to `readFpParts` — re-reading meta.txt per
    * sidecar would cost one small-file round-trip per part. A torn
    * later batch's sidecar never passes. */
  def committedPartAt(applied: Long)(part: String): Boolean =
    bidOf(part).exists(_ <= applied)

  /** The read schema: data columns + the `bid` partition column —
    * specified EXPLICITLY on every store read so an all-empty store
    * (every committed batch filtered to zero rows) still reads instead
    * of failing parquet schema inference. */
  private val readSchema = StructType(
    schema.fields :+ org.apache.spark.sql.types.StructField(
      "bid", org.apache.spark.sql.types.LongType))

  /** Committed part rows: partitions at or below the meta watermark. */
  def parts(spark: SparkSession): DataFrame = {
    recoverCompaction()
    val applied = appliedBid
    if (applied < 0 || !Files.exists(Paths.get(partsDir)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    spark.read.option("basePath", partsDir).schema(readSchema)
      .parquet(partsDir)
      .where(col("bid") <= applied)
      .select(cols.map(col): _*)
  }

  /** One committed part's rows (data columns only) — the
    * part-artifact buildPart reader, schema-explicit so an empty part
    * reads as zero rows instead of failing inference. */
  def readPart(spark: SparkSession, pid: String): DataFrame =
    spark.read.option("basePath", partsDir).schema(readSchema)
      .parquet(s"$partsDir/$pid")
      .select(cols.map(col): _*)

  /** Serve the maintained store through the artifact store,
    * PART-ADDRESSED by the write-time sidecars: each committed `bid=N`
    * partition is its own artifact part, so an append copies one
    * batch's rows, a re-serve is a pure multi-path scan, and
    * compaction collapses the part set to one rollup (the departed
    * batch parts vacuum on that committing serve). With no artifact
    * root — or an empty store — the folded [[parts]] view directly.
    * One implementation behind every maintained store's serve leg
    * ([[PinnedStore.served]]). */
  def serveParts(spark: SparkSession, artifactName: String,
                 params: String): DataFrame = {
    if (ArtifactStore.root(spark).isEmpty) parts(spark)
    else {
      recoverCompaction()
      val sidecars = ArtifactStore
        .readFpParts(partsDir, committedPartAt(appliedBid))
        .map { case (pid, fp) =>
          pid -> ArtifactStore.combineParts(Seq(fp)) }
      if (sidecars.isEmpty) parts(spark)
      else ArtifactStore.buildOrServeParts(spark, artifactName,
        sidecars, params, sourceKey = partsDir)(readPart(spark, _))
    }
  }

  /** Content fingerprint of the committed part rows from the
    * write-time sidecars — O(#batches) metadata, no scan; equal to a
    * full-scan fingerprint of [[parts]] (spec-pinned by every store).
    */
  def storeFingerprint: String =
    ArtifactStore.fingerprintFromParts(partsDir, committedPartAt(appliedBid))

  /** Commit one batch's pre-transformed part rows: write the `bid=N`
    * partition (overwrite mode — a replayed batch overwrites ITSELF,
    * idempotence with no anti-join against the standing store), record
    * the `_fp` sidecar from the rows AS WRITTEN, then move the
    * watermark strictly last. A bid at or below the watermark is a
    * replayed batch: no-op. */
  def applyPart(part: DataFrame, bid: Long): Unit = {
    // restore a torn compaction FIRST: writing the new partition would
    // recreate partsDir and strand `.compact.old` (the whole committed
    // store) where recovery can no longer see it — silent data loss on
    // the next compaction's deleteRec
    recoverCompaction()
    if (bid <= appliedBid) return
    // sidecar from the rows AS WRITTEN: an observe metric on the write
    // job itself hashes exactly the written evaluation (an all-filtered
    // batch writes an EMPTY part, which fingerprints to (0, 0)) — one
    // job per batch commit instead of write + part re-read
    ArtifactStore.writeFpPart(partsDir, s"bid=$bid",
      ArtifactStore.writeWithFingerprint(
        part.select(cols.map(col): _*), s"$partsDir/bid=$bid"))
    // commit point, strictly last
    DeltaPartsStore.writeAtomic(metaPath, bid.toString)
  }

  /** Rewrite every committed part into ONE `bid=<applied>` partition
    * behind the two-atomic-rename discipline (crash at any point
    * leaves the fragmented or the rewritten store, never a mixture).
    * The partition's FILE count honors `targetBytes` — one output file
    * per that many committed input bytes (the q322/StreamNswInsert
    * quota grouping): a 100 TB maintained store compacts into bounded
    * files, never one giant rollup, never one file per historical
    * batch either. What the rewrite means for rows — and so for the
    * fingerprint — is `compactRewrite`'s contract (see the class doc).
    * Returns true if the store was rewritten. */
  def compact(spark: SparkSession, minDirs: Int = 2,
              targetBytes: Long = DeltaPartsStore.CompactTargetBytes)
      : Boolean = {
    val applied = appliedBid
    if (applied < 0) return false
    recoverCompaction()
    val d = Paths.get(partsDir)
    if (!Files.isDirectory(d)) return false
    val committed = Fs.ls(d).filter { p =>
      Files.isDirectory(p) &&
        bidOf(p.getFileName.toString).exists(_ <= applied)
    }
    if (committed.size < minDirs) return false
    val tmp = s"$partsDir.compact.tmp"
    val old = s"$partsDir.compact.old"
    Fs.deleteRec(Paths.get(tmp)); Fs.deleteRec(Paths.get(old))
    val bytes = committed.flatMap(Fs.ls)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
    val k = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // fingerprint the rewritten rows as written (never fold the old
    // sidecars: a MERGING rewrite changed the rows they hashed) — the
    // observe metric rides the rewrite job, same basis as a read-back
    ArtifactStore.writeFpPart(tmp, s"bid=$applied",
      ArtifactStore.writeWithFingerprint(
        compactRewrite(parts(spark)).select(cols.map(col): _*)
          .coalesce(k), s"$tmp/bid=$applied"))
    Files.move(Paths.get(partsDir), Paths.get(old),
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(partsDir),
      StandardCopyOption.ATOMIC_MOVE)
    Fs.deleteRec(Paths.get(old))
    true
  }

  /** Count of committed `bid=N` part directories (the auto-compaction
    * trigger input). */
  def partDirCount: Int = {
    val d = Paths.get(partsDir)
    if (!Files.isDirectory(d)) 0
    else Fs.ls(d).count(p => bidOf(p.getFileName.toString).isDefined)
  }

  /** Crash recovery: a compaction that died between its two renames
    * leaves the store at `<parts>.compact.old` — restore it; one that
    * died AFTER the second rename but before its cleanup leaves the
    * swap complete with a stale `.compact.old` copy — by the recovery
    * ordering invariant (recovery runs before any new write, so
    * partsDir can only coexist with `.old` after a completed swap)
    * that copy is superseded: reclaim it here rather than stranding a
    * full pre-compaction store until a `minDirs`-gated compaction that
    * may never trigger. A leftover `.tmp` is garbage either way. */
  def recoverCompaction(): Unit = {
    val d = Paths.get(partsDir)
    val old = Paths.get(partsDir + ".compact.old")
    if (!Files.exists(d) && Files.exists(old))
      Files.move(old, d, StandardCopyOption.ATOMIC_MOVE)
    else if (Files.exists(d) && Files.exists(old))
      Fs.deleteRec(old)
    Fs.deleteRec(Paths.get(partsDir + ".compact.tmp"))
  }
}

object DeltaPartsStore {
  /** Compaction rewrite quota: one output file per this many committed
    * input bytes (the q322/StreamNswInsert grouping constant). */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  /** Write `text` to `p` through `<p>.tmp` and one atomic rename — a
    * crash never leaves a torn `p`; a leftover `.tmp` is not `p`. */
  def writeAtomic(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A store's IDENTITY PIN: the parameters its rows were derived
    * under (a geometry, a centroid matrix, a shingle order), kept in
    * the text file `file` beside the parts ([[PinnedStore]] pins and
    * checks it). `decode` answers None for a body it cannot parse and
    * may `require` deeper invariants; `what` names the pinned thing in
    * refusals. */
  final case class Pin[G](file: String, what: String,
                          encode: G => String,
                          decode: String => Option[G]) {
    def path(storeDir: String): Path = Paths.get(s"$storeDir/$file")

    /** The pinned value, or None for a store no apply has pinned yet;
      * a body the codec refuses fails LOUDLY naming the file. */
    def read(storeDir: String): Option[G] = {
      val p = path(storeDir)
      Option.when(Files.exists(p)) {
        val body = new String(Files.readAllBytes(p),
          StandardCharsets.UTF_8).trim
        val g = try decode(body) catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"$what pin at $p: ${e.getMessage}", e)
        }
        g.getOrElse(throw new IllegalStateException(
          s"unparseable $what pin at $p: '$body'"))
      }
    }

    def write(storeDir: String, g: G): Unit =
      writeAtomic(path(storeDir), encode(g))
  }

  object Pin {
    /** A one-line geometry pin of named non-negative integers in
      * order, `a=1,b=2,...`. */
    def fields(file: String, names: String*): Pin[Seq[Int]] = {
      val re = names.map(n => s"$n=(\\d+)").mkString(",").r
      Pin[Seq[Int]](file, "geometry",
        vs => names.zip(vs).map { case (n, v) => s"$n=$v" }.mkString(","),
        {
          case re(vs @ _*) => Some(vs.map(_.toInt))
          case _ => None
        })
    }
  }

  /** Parse a `bid=N` part/dir name — THE protocol rule, one copy, so
    * an external auditor (the q397 registry) and the store itself can
    * never drift on what counts as a committed part. Not a bid-shaped
    * name at all → None (a marker file, `_fp`, ...); bid-shaped but
    * unparseable (`bid=tmp` — a foreign or corrupt entry) → fail
    * LOUDLY naming the entry: silently skipping it would fold a store
    * view that drops committed rows, and an unexplained
    * NumberFormatException deep in a read path names nothing. */
  def bidOf(name: String, partsDir: String): Option[Long] =
    if (!name.startsWith("bid=")) None
    else name.drop(4).toLongOption match {
      case some @ Some(_) => some
      case None => throw new IllegalStateException(
        s"unparseable part id '$name' under $partsDir — expected " +
          "bid=<long>; refusing to guess whether it is committed data")
    }

  /** The committed-part predicate at a captured watermark, for callers
    * that audit a store's parts dir WITHOUT a store instance (the
    * registry): same parse, same refusal, same ≤-watermark rule as
    * the instance's [[DeltaPartsStore.committedPartAt]]. */
  def committedPartAt(partsDir: String, applied: Long)
                     (part: String): Boolean =
    bidOf(part, partsDir).exists(_ <= applied)
}

/** The wrappers every maintained store OBJECT shares around one
  * [[DeltaPartsStore]] per store dir: the object supplies its part
  * `schema` and derives its batch rows into [[commit]]. */
trait MaintainedStore {
  def schema: StructType

  /** A REPACK unless overridden (see [[DeltaPartsStore]]). */
  protected def compactRewrite: DataFrame => DataFrame = identity

  protected final def store(storeDir: String): DeltaPartsStore =
    new DeltaPartsStore(storeDir, schema, compactRewrite)

  /** Applied-through batch id (-1 = empty store). */
  def appliedBid(storeDir: String): Long = store(storeDir).appliedBid

  /** The folded view: committed part rows. */
  def parts(spark: SparkSession, storeDir: String): DataFrame =
    store(storeDir).parts(spark)

  /** Sidecar-folded content fingerprint — O(#batches) metadata; equal
    * to a full-scan fingerprint of [[parts]], invariant across a
    * repacking [[compact]] and changed by a merging one. */
  def storeFingerprint(storeDir: String): String =
    store(storeDir).storeFingerprint

  /** Rewrite every committed part into ONE partition (crash-safe, see
    * [[DeltaPartsStore.compact]]). Returns true if rewritten. */
  def compact(spark: SparkSession, storeDir: String): Boolean =
    store(storeDir).compact(spark)

  /** Commit one batch's part rows. A replayed `bid` (at or below the
    * watermark) is a no-op that runs not even `check`, the identity
    * pin; otherwise `check` runs first. */
  protected final def commit(storeDir: String, bid: Long,
                             check: => Unit = ())
                            (part: => DataFrame): Unit = {
    val st = store(storeDir)
    if (bid > st.appliedBid) {
      check
      st.applyPart(part, bid)
    }
  }

  /** The idempotent `foreachBatch` sink: `apply` commits each
    * micro-batch under its batch id; compaction auto-triggers past
    * `compactAfterBatches` per-batch partitions — OUTSIDE the batch
    * commit, so a compaction failure never loses a batch. */
  protected final def runLoop(stream: DataFrame, storeDir: String,
                              trigger: Trigger, compactAfterBatches: Int)
                             (apply: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        apply(batch, bid)
        if (store(storeDir).partDirCount > compactAfterBatches) {
          compact(batch.sparkSession, storeDir)
          ()
        }
      }
}

/** A [[MaintainedStore]] whose rows mean something only under the
  * identity [[pin]]ned at its first apply, served through the artifact
  * store. */
trait PinnedStore[G] extends MaintainedStore {
  protected def pin: DeltaPartsStore.Pin[G]

  protected def artifactName: String
  protected def artifactParams(storeDir: String): String

  /** The pinned identity, or None for an unpinned store — a caller
    * deriving its own probe keys takes them from HERE (or
    * [[requirePinned]]-checks its own), never from configured
    * constants. */
  def pinned(storeDir: String): Option[G] = pin.read(storeDir)

  /** The re-encoded pin's first line (all of a one-line pin). */
  def pinLine(storeDir: String): Option[String] =
    pinned(storeDir).map(g => firstLine(pin.encode(g)))

  private def firstLine(s: String) = s.linesIterator.next()

  /** Fail LOUDLY unless the store is pinned to exactly `want`, naming
    * both (an unpinned store refuses too). */
  def requirePinned(storeDir: String, want: G): Unit = {
    val w = pin.encode(want)
    val have = pinned(storeDir).map(pin.encode).getOrElse("<unpinned>")
    require(have == w, {
      val (hh, wh) = (firstLine(have), firstLine(w))
      s"${getClass.getSimpleName.stripSuffix("$")} $storeDir is pinned " +
        s"to ${pin.what} '$hh'; refusing a caller keyed under '$wh'" +
        (if (hh == wh) s" (same shape, DIFFERENT ${pin.what} values)"
        else "") +
        " — rows derived under another identity are silently wrong"
    })
  }

  /** [[commit]] under identity `want`: the first apply pins it (after
    * `beforePin` — the pin is the commit point), every later apply must
    * match. */
  protected final def commitPinned(storeDir: String, bid: Long, want: G,
                                   beforePin: => Unit = ())
                                  (part: => DataFrame): Unit =
    commit(storeDir, bid, {
      if (Files.exists(pin.path(storeDir))) requirePinned(storeDir, want)
      else {
        beforePin
        pin.write(storeDir, want)
      }
    })(part)

  /** Serve the store PART-ADDRESSED through the artifact store
    * ([[DeltaPartsStore.serveParts]]). */
  def served(spark: SparkSession, storeDir: String): DataFrame =
    store(storeDir).serveParts(spark, artifactName,
      artifactParams(storeDir))

  /** [[served]] after [[requirePinned]] — the serve path for a query
    * that derived its own probe keys. */
  def served(spark: SparkSession, storeDir: String, want: G): DataFrame = {
    requirePinned(storeDir, want)
    served(spark, storeDir)
  }
}
