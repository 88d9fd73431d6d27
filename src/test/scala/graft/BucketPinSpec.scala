package graft

import graft.ops.Inventory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

/** The `_n_buckets` pin of a bucketed inventory store: written once,
  * atomically, before the store's first data file; a torn pin is
  * refused by path. Without the ordering, a crash between the first
  * data write and the pin left an unpinned store that a merge under
  * another bucket count then extended silently (duplicate keys). */
class BucketPinSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo to hi).map(i => (s"k$i", i.toLong, s"s$i")).toDF("key", "ver", "status")

  private def merge(dir: String, batch: DataFrame, nBuckets: Int,
                    h: Long): Boolean =
    Inventory.mergeBucketedState(spark, dir, batch, Seq("key"), "ver",
      Seq("status"), nBuckets = nBuckets, mergedHeight = h)

  private def freshStore(): String =
    Files.createTempDirectory("bucketpin").toString + "/state"

  test("a torn pin is refused with its path, not a bare number error") {
    val dir = freshStore()
    assert(merge(dir, rows(1, 50), 8, 10L))
    val pin = Paths.get(dir, "_n_buckets")
    Seq("", "x8").foreach { torn =>
      Files.write(pin, torn.getBytes("UTF-8"))
      val e = intercept[IllegalStateException](merge(dir, rows(51, 60), 8, 20L))
      assert(e.getMessage.contains(pin.toString), e.getMessage)
    }
  }

  test("the pin is on disk before the first data file: a crash in the " +
      "first data write leaves a pinned store that refuses another count") {
    val dir = freshStore()
    val boom = udf { (s: String) =>
      if (s != null) throw new RuntimeException("crash mid-write"); s }
    intercept[Exception] {
      Inventory.mergeBucketedBy(spark, dir, rows(1, 50), Seq("key"), 8, 10L) {
        (_, b) => Inventory.latestPerKey(b, Seq("key"), "ver", Seq("status"))
          .withColumn("last_status", boom(col("last_status")))
      }
    }
    assert(Inventory.bucketVersions(dir).isEmpty, "no data was committed")
    val pin = Paths.get(dir, "_n_buckets")
    assert(new String(Files.readAllBytes(pin), "UTF-8") === "8")
    assert(!Files.exists(Paths.get(dir, "_n_buckets.tmp")))
    val e = intercept[IllegalArgumentException](merge(dir, rows(1, 50), 16, 10L))
    assert(e.getMessage.contains("nBuckets=8"), e.getMessage)
    // the same count replays the batch onto the pinned store
    assert(merge(dir, rows(1, 50), 8, 10L))
    assert(Inventory.readBucketedState(spark, dir).count() === 50L)
  }

  test("later merges leave the pin as written") {
    val dir = freshStore()
    assert(merge(dir, rows(1, 50), 8, 10L))
    val pin = Paths.get(dir, "_n_buckets")
    Files.setLastModifiedTime(pin, FileTime.fromMillis(0L))
    def key = Files.readAttributes(pin, classOf[BasicFileAttributes]).fileKey
    val before = key
    assert(merge(dir, rows(51, 100), 8, 20L))
    assert(merge(dir, rows(1, 10).withColumn("ver", $"ver" + 1000), 8, 30L))
    assert(Files.getLastModifiedTime(pin).toMillis === 0L)
    assert(key === before)
    assert(Inventory.readBucketedState(spark, dir).count() === 100L)
  }
}
