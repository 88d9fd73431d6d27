package graft

import graft.ops.{ArtifactStore, DeltaPartsStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.file.Files

/** Property-style laws of the shared delta-parts protocol itself,
  * across randomized slicings and compaction points — the clients
  * (token counts, winnow index, LSH buckets) pin their row semantics;
  * this pins the STORE: any partition of the rows into batches folds
  * to the same view, the sidecar fold always equals the scan
  * fingerprint, an identity rewrite never changes the fingerprint, and
  * a merging rewrite preserves the post-merge view.
  */
class DeltaPartsStoreSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("n", LongType)))

  private val rows: Seq[(Long, Long)] =
    (0L until 40L).map(i => (i % 7, i % 3 + 1))

  private def df(rs: Seq[(Long, Long)]): DataFrame = rs.toDF("k", "n")

  private def idStore(): DeltaPartsStore = new DeltaPartsStore(
    Files.createTempDirectory("dps").toString + "/s", schema, identity)

  private def mergeStore(): DeltaPartsStore = new DeltaPartsStore(
    Files.createTempDirectory("dps").toString + "/s", schema,
    d => d.groupBy(col("k")).agg(sum(col("n")).as("n")))

  private def folded(st: DeltaPartsStore): Map[(Long, Long), Long] =
    st.parts(spark).as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("any random slicing folds to the same multiset; sidecar fold " +
    "== scan fingerprint at every step; identity compaction never " +
    "changes rows or fingerprint") {
    val truth = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nSlices = 2 + rnd.nextInt(4)
      val sliceOf = rows.map(_ => rnd.nextInt(nSlices))
      val st = idStore()
      (0 until nSlices).foreach { b =>
        st.applyPart(df(rows.zip(sliceOf).filter(_._2 == b).map(_._1)),
          b.toLong)
        ArtifactStore.clearFingerprintMemo()
        assert(st.storeFingerprint === ArtifactStore.fingerprint(
          st.parts(spark), s"dps:$seed:$b:${st.partsDir}"),
          s"sidecar fold must equal the scan fingerprint (seed $seed)")
      }
      assert(folded(st) === truth, s"slicing must not change the fold " +
        s"(seed $seed, $nSlices slices)")
      val fpBefore = st.storeFingerprint
      if (st.compact(spark)) {
        assert(folded(st) === truth,
          s"identity compaction moves bytes, never rows (seed $seed)")
        ArtifactStore.clearFingerprintMemo()
        assert(st.storeFingerprint === fpBefore,
          s"identity compaction must preserve the fingerprint (seed $seed)")
      }
    }
  }

  test("a merging rewrite preserves the post-merge view, changes the " +
    "fingerprint, and later appends keep folding") {
    val st = mergeStore()
    (0 until 3).foreach { b =>
      st.applyPart(df(rows.filter(_._1.toInt % 3 == b)), b.toLong)
    }
    val sumTruth = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    def sums(): Map[Long, Long] =
      st.parts(spark).groupBy(col("k")).agg(sum(col("n")).as("n"))
        .as[(Long, Long)].collect().toMap
    assert(sums() === sumTruth)
    val fpBefore = st.storeFingerprint
    assert(st.compact(spark), "must rewrite")
    assert(sums() === sumTruth, "the merged view must be preserved")
    ArtifactStore.clearFingerprintMemo()
    assert(st.storeFingerprint !== fpBefore,
      "merged rows are new content — the fingerprint must change")
    st.applyPart(df(Seq((100L, 5L))), 9L)
    assert(sums() === (sumTruth + (100L -> 5L)))
  }

  test("a batch arriving AFTER a torn compaction recovers the store " +
    "first — the committed rows survive, nothing strands in " +
    ".compact.old") {
    val st = idStore()
    (0 until 3).foreach { b =>
      st.applyPart(df(rows.filter(_._1.toInt % 3 == b)), b.toLong)
    }
    val truth = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // crash between compaction's two renames: the whole committed
    // store sits at .compact.old
    java.nio.file.Files.move(
      java.nio.file.Paths.get(st.partsDir),
      java.nio.file.Paths.get(st.partsDir + ".compact.old"))
    // the next batch must RESTORE before writing — writing first would
    // recreate partsDir and strand (then silently delete) the store
    st.applyPart(df(Seq((200L, 1L))), 7L)
    assert(folded(st) === (truth + ((200L, 1L) -> 1L)),
      "post-crash batch must fold with ALL previously committed rows")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(st.partsDir + ".compact.old")),
      "recovery must consume the stranded dir")
    assert(st.compact(spark), "must rewrite")
    assert(folded(st) === (truth + ((200L, 1L) -> 1L)),
      "compaction after recovery must preserve everything")
  }

  test("an EMPTY part commits cleanly: fingerprints to (sum 0, count " +
    "0), the watermark moves, and the store still reads") {
    val st = idStore()
    st.applyPart(df(rows.take(5)), 0L)
    st.applyPart(df(Seq.empty), 1L)
    assert(st.appliedBid === 1L)
    assert(st.parts(spark).count() === 5L)
    ArtifactStore.clearFingerprintMemo()
    assert(st.storeFingerprint === ArtifactStore.fingerprint(
      st.parts(spark), s"dps:empty:${st.partsDir}"),
      "the empty part's sidecar must fold as (0, 0)")
    // a store whose EVERY part is empty still reads as zero rows
    val st2 = idStore()
    st2.applyPart(df(Seq.empty), 0L)
    assert(st2.parts(spark).count() === 0L)
  }

  test("compaction honors the byte quota: a store over quota rewrites " +
    "into >1 file, fold and (identity) fingerprint preserved, crash " +
    "recovery intact") {
    val st = idStore()
    (0 until 3).foreach { b =>
      st.applyPart(df(rows.filter(_._1.toInt % 3 == b)), b.toLong)
    }
    val truth = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val fpBefore = st.storeFingerprint
    val total = graft.ops.Fs.ls(java.nio.file.Paths.get(st.partsDir))
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bid="))
      .flatMap(graft.ops.Fs.ls)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).sum
    // quota = half the store: k = ceil(total / (total/2)) >= 2 files
    assert(st.compact(spark, targetBytes = total / 2), "must rewrite")
    val rollup = java.nio.file.Paths.get(s"${st.partsDir}/bid=2")
    val files = graft.ops.Fs.ls(rollup)
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(files >= 2,
      s"a store over quota must compact into >1 file (got $files)")
    assert(folded(st) === truth, "quota grouping moves bytes, not rows")
    ArtifactStore.clearFingerprintMemo()
    assert(st.storeFingerprint === fpBefore,
      "identity compaction keeps the fingerprint at any file count")
    // the rolled-up store keeps absorbing appends
    st.applyPart(df(Seq((300L, 2L))), 5L)
    assert(folded(st) === (truth + ((300L, 2L) -> 1L)))
  }

  test("a crash AFTER the compaction swap but before cleanup — " +
    "partsDir and .compact.old coexist — reclaims the superseded " +
    "copy on the next touch instead of stranding it forever") {
    val st = idStore()
    (0 until 2).foreach { b =>
      st.applyPart(df(rows.filter(_._1.toInt % 2 == b)), b.toLong)
    }
    val truth = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // simulate: swap completed (partsDir is the rewritten store), the
    // pre-compaction copy still sits at .compact.old
    val old = java.nio.file.Paths.get(st.partsDir + ".compact.old")
    def copyRec(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(src)) {
        java.nio.file.Files.createDirectories(dst)
        graft.ops.Fs.ls(src).foreach(c =>
          copyRec(c, dst.resolve(c.getFileName)))
      } else java.nio.file.Files.copy(src, dst)
    }
    copyRec(java.nio.file.Paths.get(st.partsDir), old)
    assert(folded(st) === truth,
      "the live store must read unchanged through recovery")
    assert(!java.nio.file.Files.exists(old),
      "recovery must reclaim the superseded .compact.old copy")
  }

  test("a foreign bid-shaped entry fails LOUDLY by name instead of an " +
    "unexplained NumberFormatException") {
    val st = idStore()
    st.applyPart(df(rows.take(5)), 0L)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"${st.partsDir}/bid=tmp"))
    val e = intercept[IllegalStateException](st.compact(spark, minDirs = 1))
    assert(e.getMessage.contains("bid=tmp"),
      s"the error must name the offending entry: ${e.getMessage}")
    // sidecar edition: a corrupt _fp name hits the same loud path
    assert(intercept[IllegalStateException](
      st.committedPartAt(0L)("bid=oops")).getMessage.contains("bid=oops"))
  }

  // ---- the identity pin shared by the six pinned maintained stores ----

  private lazy val pinDocs: DataFrame = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "one two three four five six seven eight nine ten",
    3L -> "alpha beta gamma delta plus some other words here").toDF(
    "doc_id", "text")

  private lazy val pinVecs: DataFrame = Seq(
    1L -> Seq(0.5f, -1.0f, 0.25f, 2.0f),
    2L -> Seq(-0.5f, 1.0f, 0.75f, -2.0f)).toDF("vec_id", "embedding")

  private val pinCents: Array[Array[Double]] = Array(
    Array(0.5, -1.25, 3.0, 0.1), Array(-0.3, 2.0, 1e-9, 7.0))

  private def pinDir(): String =
    Files.createTempDirectory("pin").toString + "/s"

  private def bytesAt(dir: String, file: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$file")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("golden pin bytes: each pinned store, applied once under a " +
    "fixed geometry, writes exactly these literal pin files") {
    import graft.streaming._
    val lsh = pinDir()
    StreamLshIndex.applyBatch(pinVecs, 0L, "vec_id", "embedding", 2, 3, 4,
      lsh)
    assert(bytesAt(lsh, "geometry.txt") === "bands=2,bitsPerBand=3,dims=4")
    val sim = pinDir()
    StreamSimhashIndex.applyBatch(pinDocs, 0L, "doc_id", "text", sim)
    assert(bytesAt(sim, "geometry.txt") === "bits=32,blocks=4")
    val wide = pinDir()
    StreamSimhashIndex.applyBatch(pinDocs, 0L, "doc_id", "text", wide,
      60, 4)
    assert(bytesAt(wide, "geometry.txt") === "bits=60,blocks=4")
    val mh = pinDir()
    StreamMinhashIndex.applyBatch(pinDocs, 0L, "doc_id", "text", 12, 2, mh)
    assert(bytesAt(mh, "geometry.txt") === "bands=12,rowsPerBand=2")
    val ivf = pinDir()
    StreamIvfIndex.applyBatch(pinVecs, 0L, "vec_id", "embedding",
      pinCents, 1, ivf)
    assert(bytesAt(ivf, "centroids.txt") ===
      "probes=1,k=2,dims=4\n0.5,-1.25,3.0,0.1\n-0.3,2.0,1.0E-9,7.0")
    val win = pinDir()
    StreamWinnowIndex.applyBatch(pinDocs, 0L, "doc_id", "text", win)
    assert(bytesAt(win, "geometry.txt") === "k=5,w=4")
    val hash = pinDir()
    StreamContainIndex.applyBatch(pinDocs, 0L, "doc_id", "text", hash)
    assert(bytesAt(hash, "geometry.txt") === "shingles=3,order=hash")
    assert(!Files.exists(java.nio.file.Paths.get(s"$hash/hotset.txt")),
      "a hash-order store pins no hot list")
    val hot = pinDir()
    StreamContainIndex.applyBatch(pinDocs, 0L, "doc_id", "text", hot,
      Seq(11L, 22L))
    assert(bytesAt(hot, "hotset.txt") === "11,22")
    assert(bytesAt(hot, "geometry.txt") === "shingles=3,order=hotband," +
      "n=2,h=c179a368056293632962f32c3c892a97")
  }

  test("a leftover <pin>.tmp with no pin file (a crash before the " +
    "rename) reads as unpinned, and the next apply pins the store") {
    import graft.streaming.{StreamIvfIndex, StreamLshIndex}
    val lsh = pinDir()
    Files.createDirectories(java.nio.file.Paths.get(lsh))
    Files.write(java.nio.file.Paths.get(s"$lsh/geometry.txt.tmp"),
      "bands=9,bit".getBytes("UTF-8"))
    assert(StreamLshIndex.geometry(lsh).isEmpty,
      "a torn tmp is not a pin")
    StreamLshIndex.applyBatch(pinVecs, 0L, "vec_id", "embedding", 2, 3, 4,
      lsh)
    assert(StreamLshIndex.geometry(lsh) === Some((2, 3, 4)))
    assert(bytesAt(lsh, "geometry.txt") === "bands=2,bitsPerBand=3,dims=4")
    assert(!Files.exists(java.nio.file.Paths.get(s"$lsh/geometry.txt.tmp")),
      "the pin write renames its tmp away")
    val ivf = pinDir()
    Files.createDirectories(java.nio.file.Paths.get(ivf))
    Files.write(java.nio.file.Paths.get(s"$ivf/centroids.txt.tmp"),
      "probes=1,k=2,dims=4\n0.5".getBytes("UTF-8"))
    assert(StreamIvfIndex.centroids(ivf).isEmpty)
    StreamIvfIndex.applyBatch(pinVecs, 0L, "vec_id", "embedding",
      pinCents, 1, ivf)
    assert(StreamIvfIndex.centroids(ivf).map(_._2) === Some(1))
  }

  test("an unparseable pin is refused by every pinned accessor with an " +
    "error naming the pin file's path") {
    import graft.streaming._
    def corrupt(file: String)(read: String => Any): Unit = {
      val dir = pinDir()
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.write(java.nio.file.Paths.get(s"$dir/$file"),
        "bands=two".getBytes("UTF-8"))
      val e = intercept[IllegalStateException](read(dir))
      assert(e.getMessage.contains(s"$dir/$file"),
        s"the refusal must name the pin path: ${e.getMessage}")
    }
    corrupt("geometry.txt")(StreamLshIndex.geometry)
    corrupt("geometry.txt")(StreamSimhashIndex.geometry)
    corrupt("geometry.txt")(StreamMinhashIndex.geometry)
    corrupt("geometry.txt")(StreamWinnowIndex.geometry)
    corrupt("centroids.txt")(StreamIvfIndex.centroids)
  }
}
