package graft

import graft.ops.{ArtifactStore, CommittedParquet, Fs, Inventory}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** A bucketed inventory store starts at its base bucket count and
  * doubles it once its live bytes per bucket pass
  * [[Inventory.SplitTargetBytes]]. Each row carries base64 over random
  * bytes, which neither snappy nor dictionary encoding shrinks, sized
  * at 1/64 of the target: 80 rows fill one bucket to 1.25 targets. */
class InventorySplitSpec extends SparkSpec {
  import spark.implicits._

  private def pad(seed: Long): String = {
    // 3/4 of the base64 text, which is 1/64 of the target
    val b = new Array[Byte]((Inventory.SplitTargetBytes * 3 / 256).toInt)
    new scala.util.Random(seed).nextBytes(b)
    java.util.Base64.getEncoder.encodeToString(b)
  }

  /** Keys `keys` at batch height `h`: `ver` is unique per (key, h). */
  private def rows(keys: Seq[String], h: Long): DataFrame =
    keys.map { k =>
      val ver = h * 1000000L + math.abs(k.hashCode % 1000000)
      (k, ver, pad(ver))
    }.toDF("key", "ver", "status")

  private def ks(r: Range): Seq[String] = r.map(i => s"k$i")

  private def merge(dir: String, batch: DataFrame, h: Long): Boolean =
    Inventory.mergeBucketedState(spark, dir, batch, Seq("key"), "ver",
      Seq("status"), nBuckets = 1, mergedHeight = h)

  private def fold(batches: DataFrame*): DataFrame =
    Inventory.latestPerKey(batches.reduce(_ union _), Seq("key"), "ver",
      Seq("status"))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty, "rows only the store holds")
    assert(want.exceptAll(got).isEmpty, "rows the store lost")
  }

  private def freshStore(tag: String): String =
    Files.createTempDirectory(tag).toString + "/state"

  private def copyStore(src: String): String = {
    val dst = freshStore("split_copy")
    Fs.walk(Paths.get(src)).foreach { p =>
      Files.copy(p, Paths.get(dst).resolve(Paths.get(src).relativize(p)))
    }
    dst
  }

  /** (bucket, version) leaf directories on disk. */
  private def leaves(dir: String): Set[(Int, Long)] =
    Inventory.bucketVersions(dir).toSeq
      .flatMap { case (bk, vs) => vs.map(bk -> _) }.toSet

  private lazy val b10 = rows(ks(0 to 79), 10L)
  private lazy val b20 = rows(ks(60 to 99), 20L)
  private lazy val b30 = rows(ks(100 to 159), 30L)
  private lazy val b40 = rows(ks(0 to 9), 40L)

  /** Four merges: 80 rows (1.25 targets, one bucket) → a split to 2 at 20 →
    * 160 rows in 2 buckets at 30 → a split to 4 at 40. Not vacuumed. */
  private lazy val chain: String = {
    val dir = freshStore("split_chain")
    Seq(b10 -> 10L, b20 -> 20L, b30 -> 30L, b40 -> 40L).foreach {
      case (b, h) => assert(merge(dir, b, h))
    }
    dir
  }

  test("the bucket count doubles past the byte target: 1 → 2 → 4, " +
    "each split rewriting every bucket") {
    assert(Inventory.doublings(chain) === Seq(20L, 40L))
    assert(new String(Files.readAllBytes(Paths.get(chain, "_n_buckets")),
      "UTF-8") === "1")
    assert(Inventory.liveVersions(chain, 10L) === Seq(0 -> 10L))
    assert(Inventory.liveVersions(chain, 20L) === Seq(0 -> 20L, 1 -> 20L))
    assert(Inventory.liveVersions(chain, 30L) === Seq(0 -> 30L, 1 -> 30L))
    assert(Inventory.liveVersions(chain, 40L) ===
      (0 to 3).map(_ -> 40L))
    // a raw directory read skips the layout record: 80 + 100 + 160 +
    // 160 rows over every version written
    assert(spark.read.parquet(chain).select("key").count() === 500L)
  }

  test("a read at a pre-split height returns the pre-split state") {
    assertSameRows(Inventory.readBucketedStateAt(spark, chain, 10L),
      fold(b10))
    assertSameRows(Inventory.readBucketedStateAt(spark, chain, 30L),
      fold(b10, b20, b30))
    assertSameRows(Inventory.readBucketedStateAt(spark, chain, 40L),
      fold(b10, b20, b30, b40))
  }

  test("committedStateParts folded equals the committed scan after " +
    "a split") {
    Seq(20L, 30L, 40L).foreach { h =>
      val parts = Inventory.committedStateParts(spark, chain, h)
      assert(parts.map(_._1) === Inventory.liveVersions(chain, h)
        .map { case (bk, v) => s"bucket=$bk.mh=$v" })
      ArtifactStore.clearFingerprintMemo()
      val scan = ArtifactStore.fingerprint(
        Inventory.readBucketedStateAt(spark, chain, h), s"split:$chain:$h")
      val folded = ArtifactStore.combineParts(parts.map { case (_, fp) =>
        val Array(hex, n) = fp.split('_')
        (BigInt(hex, 16), n.toLong)
      })
      assert(folded === scan, s"height $h")
    }
  }

  test("after vacuum the raw store read equals the single-shot fold, " +
    "and only live versions and their sidecars remain") {
    val dir = copyStore(chain)
    Inventory.vacuumBucketedState(dir, 40L)
    val live = Inventory.liveVersions(dir, 40L)
    assert(leaves(dir) === live.toSet)
    assert(ArtifactStore.readFpParts(dir).map(_._1).toSet ===
      live.map { case (bk, v) => s"bucket=$bk.mh=$v" }.toSet)
    assertSameRows(spark.read.parquet(dir).drop("bucket", "merged_height"),
      fold(b10, b20, b30, b40))
  }

  test("a bucket a split leaves empty never resurfaces") {
    // keys that all land in bucket 1 of 2: the split at 20 leaves
    // bucket 0 with no rows, beside its pre-split version
    val byParity = (0 until 400).map(i => s"e$i").toDF("key")
      .withColumn("p", pmod(xxhash64(col("key")), lit(2)))
      .as[(String, Long)].collect().toSeq
    val odd = byParity.collect { case (k, 1L) => k }.take(80)
    val even = byParity.collect { case (k, 0L) => k }.take(5)
    assert(odd.size === 80)
    val dir = freshStore("split_empty")
    // the merge at 30 touches bucket 1 (past the target) and the empty
    // bucket 0: their mean stays under the target, so no split, and
    // bucket 0's prior state is empty — not its pre-split version
    val (e10, e20, e30) = (rows(odd, 10L), rows(odd.take(10), 20L),
      rows(odd.slice(10, 15) ++ even, 30L))
    assert(merge(dir, e10, 10L))
    assert(merge(dir, e20, 20L))
    assert(Inventory.doublings(dir) === Seq(20L))
    assert(leaves(dir) === Set(0 -> 10L, 1 -> 20L))
    assert(Inventory.liveVersions(dir, 20L) === Seq(1 -> 20L))
    assertSameRows(Inventory.readBucketedStateAt(spark, dir, 20L),
      fold(e10, e20))
    val at20 = copyStore(dir)
    Inventory.vacuumBucketedState(at20, 20L)
    assert(!Files.exists(Paths.get(at20, "bucket=0")),
      "the emptied bucket goes with its last version")
    assert(merge(dir, e30, 30L))
    assert(Inventory.doublings(dir) === Seq(20L))
    assert(Inventory.liveVersions(dir, 30L) === Seq(0 -> 30L, 1 -> 30L))
    assertSameRows(Inventory.readBucketedState(spark, dir),
      fold(e10, e20, e30))
    // the pre-split height still reads its own state until vacuum
    assertSameRows(Inventory.readBucketedStateAt(spark, dir, 10L), fold(e10))
    Inventory.vacuumBucketedState(dir, 30L)
    assert(leaves(dir) === Set(0 -> 30L, 1 -> 30L))
    assertSameRows(spark.read.parquet(dir).drop("bucket", "merged_height"),
      fold(e10, e20, e30))
  }

  // ---- an additive store: a double fold would double a balance ----

  private def amounts(keys: Seq[String], amt: Long, h: Long): DataFrame =
    keys.map(k => (k, amt, pad(h * 1000000L + k.hashCode)))
      .toDF("key", "amt", "pad")

  private def foldAmounts(d: DataFrame): DataFrame =
    d.groupBy("key").agg(sum("amt").as("bal"), max("pad").as("pad"))

  private def additive(dir: String, batch: DataFrame, h: Long,
                       crash: Boolean = false): Boolean = {
    val boom = udf { (s: String) =>
      if (s != null) throw new RuntimeException("crash mid-write"); s }
    Inventory.mergeBucketedBy(spark, dir, batch, Seq("key"), 1, h) {
      (prior, b) =>
        val merged = prior.fold(foldAmounts(b)) { st =>
          st.as("s").join(foldAmounts(b).as("b"), Seq("key"), "full_outer")
            .select(col("key"),
              (coalesce(col("s.bal"), lit(0L)) +
                coalesce(col("b.bal"), lit(0L))).as("bal"),
              coalesce(col("b.pad"), col("s.pad")).as("pad"))
        }
        if (crash) merged.withColumn("pad", boom(col("pad"))) else merged
    }
  }

  private lazy val a10 = amounts(ks(0 to 79), 1L, 10L)
  private lazy val a20 = amounts(ks(40 to 119), 10L, 20L)

  private def balances(dir: String): Seq[(String, Long)] =
    Inventory.readBucketedState(spark, dir).select("key", "bal")
      .as[(String, Long)].collect().toSeq.sorted

  private lazy val noCrash: Seq[(String, Long)] = {
    val dir = freshStore("split_add_ref")
    assert(additive(dir, a10, 10L))
    assert(additive(dir, a20, 20L))
    assert(Inventory.doublings(dir) === Seq(20L), "the merge at 20 splits")
    balances(dir)
  }

  test("an additive store converges exactly once after a crash between " +
    "the layout record and the split's first data file") {
    assert(noCrash.map(_._2).sum === 80L + 80L * 10L)
    val dir = freshStore("split_add_torn")
    assert(additive(dir, a10, 10L))
    intercept[Exception](additive(dir, a20, 20L, crash = true))
    assert(Inventory.doublings(dir) === Seq(20L),
      "the doubling is recorded before any split data")
    assert(leaves(dir) === Set(0 -> 10L), "no split data landed")
    // the last committed state still reads under the base count
    assert(Inventory.readBucketedStateAt(spark, dir, 10L).count() === 80L)
    // what processBatch does before a replay of the same batch
    Inventory.dropAbove(dir, 10L, 20L)
    assert(Inventory.doublings(dir) === Seq(20L),
      "the replay's own doubling stays")
    assert(additive(dir, a20, 20L))
    assert(balances(dir) === noCrash)
    assert(!additive(dir, a20, 20L), "a second replay is a no-op")
    assert(balances(dir) === noCrash)
  }

  test("an additive store converges exactly once when new-bucket dirs " +
    "of a finished split are gone before the replay") {
    val dir = freshStore("split_add_resume")
    assert(additive(dir, a10, 10L))
    assert(additive(dir, a20, 20L))
    val gone = Paths.get(dir, "bucket=1", "merged_height=20")
    assert(Files.isDirectory(gone))
    val kept = Files.getLastModifiedTime(
      dataFiles(s"$dir/bucket=0/merged_height=20").head)
    Fs.deleteRec(gone)
    Inventory.dropAbove(dir, 10L, 20L)
    assert(leaves(dir) === Set(0 -> 10L, 0 -> 20L),
      "the replay's own height stays for the per-bucket guard")
    assert(additive(dir, a20, 20L))
    assert(Files.isDirectory(gone), "the missing bucket is redone")
    assert(Files.getLastModifiedTime(
      dataFiles(s"$dir/bucket=0/merged_height=20").head) === kept,
      "the finished bucket is not merged again")
    assert(balances(dir) === noCrash)
  }

  test("a torn split replayed with other batch boundaries converges " +
    "once dropAbove clears what it left above the watermark") {
    val dir = freshStore("split_add_resplit")
    assert(additive(dir, a10, 10L))
    assert(additive(dir, a20, 20L))
    // torn: the split at 20 rewrote bucket 0 but not bucket 1
    Fs.deleteRec(Paths.get(dir, "bucket=1", "merged_height=20"))
    // the replay arrives as ONE batch through height 30
    Inventory.dropAbove(dir, 10L, 30L)
    assert(Inventory.doublings(dir).isEmpty)
    assert(leaves(dir) === Set(0 -> 10L))
    assert(ArtifactStore.readFpParts(dir).map(_._1) === Seq("bucket=0.mh=10"))
    val a30 = amounts(ks(100 to 139), 100L, 30L)
    assert(additive(dir, a20.union(a30), 30L))
    val want = Seq(ks(0 to 79) -> 1L, ks(40 to 119) -> 10L,
        ks(100 to 139) -> 100L)
      .flatMap { case (keys, amt) => keys.map(_ -> amt) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(balances(dir) === want.toSeq.sorted)
  }

  test("a torn layout file is refused, with its path in the message") {
    val dir = freshStore("split_torn")
    assert(merge(dir, rows(ks(0 to 4), 10L).withColumn("status",
      lit("s")), 10L))
    val layout = Paths.get(dir, "_bucket_doublings")
    Seq("""{"doubled_at":[20,""", """{"doubled_at":[30,20]}""", "").foreach {
      torn =>
        Files.write(layout, torn.getBytes("UTF-8"))
        val refusals = Seq(
          () => merge(dir, rows(ks(5 to 6), 40L), 40L),
          () => Inventory.readBucketedState(spark, dir),
          () => Inventory.vacuumBucketedState(dir, 10L))
        refusals.foreach { f =>
          val e = intercept[IllegalStateException](f())
          assert(e.getMessage.contains(layout.toString), e.getMessage)
        }
    }
  }

  private def dataFiles(dir: String): Seq[Path] =
    CommittedParquet.dataFiles(Paths.get(dir))
}
