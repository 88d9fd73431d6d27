package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The maintained DELTA-PARTS store protocol, one implementation
  * behind every maintained store (token counts; the winnow, LSH,
  * MinHash, SimHash, IVF and containment indexes; the four sub-stores
  * of the maintained NSW graph): one `bid=N` parquet partition plus an
  * `_fp` content sidecar per applied micro-batch, a meta-file
  * watermark written strictly LAST (torn later batches are invisible —
  * the BlockIngest reader rule), a sidecar-folded store fingerprint
  * (O(#batches) metadata reads, never a data scan), and a
  * two-atomic-rename compaction with crash recovery.
  *
  * The protocol has two halves: a [[DeltaPartsStore.PartSet]] (one
  * directory of `bid=N` parts, their sidecars and its compaction) read
  * at a [[DeltaPartsStore.Watermark]] (`meta.txt`, the commit point).
  * This class is the common case — one part set `<storeDir>/parts`
  * under one watermark; a store with several row kinds (the NSW graph:
  * vectors and three edge layers) keeps one part set per kind under
  * ONE watermark, so a batch commits all of them or none.
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
    compactRewrite: DataFrame => DataFrame)
  extends DeltaPartsStore.PartSet(s"$storeDir/parts", schema,
    new DeltaPartsStore.Watermark(storeDir), compactRewrite) {

  /** Applied-through batch id (-1 = empty store). */
  def appliedBid: Long = watermark.applied

  /** Commit one batch's pre-transformed part rows: the `bid=N`
    * partition and its sidecar ([[writePart]]), then the watermark
    * strictly last. A bid at or below the watermark is a replayed
    * batch: no-op. */
  def applyPart(part: DataFrame, bid: Long): Unit =
    if (bid > appliedBid) {
      writePart(part, bid)
      watermark.commit(bid) // commit point, strictly last
    }
}

object DeltaPartsStore {
  /** A store's commit point: `<storeDir>/meta.txt` holds the
    * applied-through batch id, published with [[Fs.writeAtomic]]
    * strictly after every part the batch wrote. */
  final class Watermark(storeDir: String) {
    private val path = Paths.get(s"$storeDir/meta.txt")

    /** Applied-through batch id (-1 = empty store). */
    def applied: Long =
      if (Files.exists(path))
        new String(Files.readAllBytes(path), StandardCharsets.UTF_8).trim.toLong
      else -1L

    def commit(bid: Long): Unit = Fs.writeAtomic(path, bid.toString)
  }

  /** One directory of `bid=N` parquet parts with their `_fp` content
    * sidecars, read at `watermark`: what is committed, how it folds,
    * serves and compacts. Writing a part never moves the watermark —
    * the store commits once per batch, after all its part sets. */
  class PartSet(val partsDir: String, schema: StructType,
                protected val watermark: Watermark,
                compactRewrite: DataFrame => DataFrame = identity) {

    private val cols = schema.fieldNames.toIndexedSeq

    /** The companion's parse-and-refuse rule, bound to this part set's
      * dir (see [[DeltaPartsStore.bidOf]]). */
    private def bidOf(name: String): Option[Long] =
      DeltaPartsStore.bidOf(name, partsDir)

    /** Is `part` a committed `bid=N` partition at watermark `applied`?
      * Callers capture the watermark ONCE per operation and pass the
      * resulting predicate to `readFpParts` — re-reading meta.txt per
      * sidecar would cost one small-file round-trip per part. A torn
      * later batch's sidecar never passes. */
    def committedPartAt(applied: Long)(part: String): Boolean =
      bidOf(part).exists(_ <= applied)

    /** Committed `bid=N` part directories at watermark `applied`. */
    private def committedDirs(applied: Long): Seq[Path] = {
      val d = Paths.get(partsDir)
      if (applied < 0 || !Files.isDirectory(d)) Seq.empty
      else Fs.ls(d).filter(p => Files.isDirectory(p) &&
        committedPartAt(applied)(p.getFileName.toString))
    }

    /** The data columns of the parts in `dirs`, over the files a driver
      * listing names ([[CommittedParquet]]): no listing job — Spark
      * lists more than 32 `bid=` dirs with one — and no schema job. An
      * all-empty part set still reads: every part, even an empty one,
      * is a Spark-written file carrying the row schema. */
    private def readDirs(spark: SparkSession, dirs: Seq[Path]): DataFrame = {
      val files = dirs.flatMap(CommittedParquet.dataFiles)
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else CommittedParquet.read(spark, files).select(cols.map(col): _*)
    }

    /** Committed part rows: partitions at or below the watermark. */
    def parts(spark: SparkSession): DataFrame = {
      recoverCompaction()
      readDirs(spark, committedDirs(watermark.applied))
    }

    /** One committed part's rows (data columns only) — the
      * part-artifact buildPart reader. */
    def readPart(spark: SparkSession, pid: String): DataFrame =
      readDirs(spark, Seq(Paths.get(s"$partsDir/$pid")))

    /** Serve the part set through the artifact store, PART-ADDRESSED by
      * the write-time sidecars: each committed `bid=N` partition is its
      * own artifact part, so an append copies one batch's rows, a
      * re-serve is a pure multi-path scan, and compaction collapses the
      * part set to one rollup (the departed batch parts vacuum on that
      * committing serve). With no artifact root — or an empty store —
      * the folded [[parts]] view directly. One implementation behind
      * every maintained store's serve leg ([[PinnedStore.served]],
      * the maintained NSW graph). */
    def serveParts(spark: SparkSession, artifactName: String,
                   params: String): DataFrame = {
      if (ArtifactStore.root(spark).isEmpty) parts(spark)
      else {
        recoverCompaction()
        val sidecars = ArtifactStore
          .readFpParts(partsDir, committedPartAt(watermark.applied))
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
      ArtifactStore.fingerprintFromParts(partsDir,
        committedPartAt(watermark.applied))

    /** Write one batch's `bid=N` partition (overwrite mode — a replayed
      * batch overwrites ITSELF, idempotence with no anti-join against
      * the standing store) and its `_fp` sidecar from the rows AS
      * WRITTEN. Not a commit: the caller moves the watermark after its
      * last part set. */
    def writePart(part: DataFrame, bid: Long): Unit = {
      // restore a torn compaction FIRST: writing the new partition would
      // recreate partsDir and strand `.compact.old` (the whole committed
      // store) where recovery can no longer see it — silent data loss on
      // the next compaction's reclaim
      recoverCompaction()
      // an observe metric on the write job itself hashes exactly the
      // written evaluation (an all-filtered batch writes an EMPTY part,
      // which fingerprints to (0, 0)) — one job per part instead of
      // write + part re-read
      ArtifactStore.writeFpPart(partsDir, s"bid=$bid",
        ArtifactStore.writeWithFingerprint(
          part.select(cols.map(col): _*), s"$partsDir/bid=$bid"))
    }

    /** Rewrite every committed part into ONE `bid=<applied>` partition
      * behind the compaction swap ([[rewriteSwapped]]: a crash at any
      * point leaves the fragmented or the rewritten part set, never a
      * mixture). The partition's FILE count honors `targetBytes` — one
      * output file per that many committed input bytes (the q322
      * quota grouping): a 100 TB maintained store compacts into
      * bounded files, never one giant rollup, never one file per
      * historical batch either. What the rewrite means for rows — and
      * so for the fingerprint — is `compactRewrite`'s contract (see
      * [[DeltaPartsStore]]). Returns true if the part set was
      * rewritten. */
    def compact(spark: SparkSession, minDirs: Int = 2,
                targetBytes: Long = CompactTargetBytes): Boolean = {
      val applied = watermark.applied
      recoverCompaction()
      val committed = committedDirs(applied)
      if (committed.isEmpty || committed.size < minDirs) return false
      val bytes = committed.flatMap(Fs.ls)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum
      val k = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // fingerprint the rewritten rows as written (never fold the old
      // sidecars: a MERGING rewrite changed the rows they hashed) — the
      // observe metric rides the rewrite job, same basis as a read-back
      rewriteSwapped(partsDir) { tmp =>
        ArtifactStore.writeFpPart(tmp, s"bid=$applied",
          ArtifactStore.writeWithFingerprint(
            compactRewrite(parts(spark)).select(cols.map(col): _*)
              .coalesce(k), s"$tmp/bid=$applied"))
      }
      true
    }

    /** Count of `bid=N` part directories (the auto-compaction trigger
      * input). */
    def partDirCount: Int = {
      val d = Paths.get(partsDir)
      if (!Files.isDirectory(d)) 0
      else Fs.ls(d).count(p => bidOf(p.getFileName.toString).isDefined)
    }

    /** Crash recovery of this part set's compaction
      * ([[DeltaPartsStore.recoverCompaction]]). */
    def recoverCompaction(): Unit = DeltaPartsStore.recoverCompaction(partsDir)
  }

  /** Compaction rewrite quota: one output file per this many committed
    * input bytes (the q322 grouping constant). */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  private def staged(dir: String) = Paths.get(s"$dir.compact.tmp")
  private def superseded(dir: String) = Paths.get(s"$dir.compact.old")

  /** Rewrite directory `dir` as a whole: `write` fills the staging dir
    * `<dir>.compact.tmp` (whose path it is given), [[Fs.swap]] puts it
    * in place of `dir` — the old `dir` parks at `<dir>.compact.old`
    * between the two renames — and the superseded copy is reclaimed.
    * The one compaction swap of every store that rewrites a whole
    * directory (the part sets, the flat StreamSplit store). Call after
    * [[recoverCompaction]], which clears both side names. */
  def rewriteSwapped(dir: String)(write: String => Unit): Unit = {
    write(staged(dir).toString)
    Fs.swap(Paths.get(dir), staged(dir), superseded(dir))
    Fs.deleteRec(superseded(dir))
  }

  /** Crash recovery of a [[rewriteSwapped]] directory, run before any
    * read or write of it: a compaction that died between its two
    * renames leaves the store at `<dir>.compact.old` — restore it; one
    * that died AFTER the second rename but before its cleanup leaves
    * the swap complete with a stale `.compact.old` copy — by the
    * recovery ordering invariant (recovery runs before any new write,
    * so `dir` can only coexist with `.old` after a completed swap) that
    * copy is superseded: reclaim it here rather than stranding a full
    * pre-compaction store until the next compaction, which may never
    * trigger. A leftover `.tmp` is garbage either way. */
  def recoverCompaction(dir: String): Unit = {
    if (!Fs.restoreSwap(Paths.get(dir), superseded(dir)))
      Fs.deleteRec(superseded(dir))
    Fs.deleteRec(staged(dir))
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
      Fs.writeAtomic(path(storeDir), encode(g))
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
