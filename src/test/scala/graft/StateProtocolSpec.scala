package graft

import graft.ops.{ArtifactStore, DeltaPartsStore, Fs, VectorSearch}
import graft.streaming.{BlockIngest, StreamNswInsert, StreamSplit}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The state protocols every store shares — the atomic publish
  * (`<name>.tmp` + one rename) and the two-rename compaction swap with
  * its recovery: golden on-disk bytes of a fixed NSW store and a fixed
  * split store, the stale-`.compact.old` reclaim of both, leftover
  * publish temps that must never read as commits or pins, and a source
  * scan that keeps the rename protocol in one file.
  */
class StateProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def utf8(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Every file under `dir`, relative, with Spark's per-write part-file
    * names (`part-<task>-<uuid>-c<n>`) normalized to `part`; sorted,
    * duplicates kept (so the per-directory file COUNT is pinned). */
  private def tree(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    Fs.walk(root).filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString
        .replaceAll("part-\\d{5}-[0-9a-f-]{36}-c\\d{3}", "part"))
      .sorted
  }

  private def copyRec(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Fs.ls(src).foreach(c => copyRec(c, dst.resolve(c.getFileName)))
    } else Files.copy(src, dst)

  // ---- a fixed NSW store: 36 vectors in 3 batches ----

  private val dims = 4
  private val nswCorpus: Seq[(Long, Array[Double])] = {
    val rnd = new Random(7)
    (0 until 36).map { i =>
      val v = Array.fill(dims)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / n))
    }
  }
  private lazy val nswCents = VectorSearch.kmeansCentroids(
    nswCorpus.map(_._2).toArray, k = 4, iters = 4, seed = 11L)

  private def nswBatch(rows: Seq[(Long, Array[Double])]): DataFrame =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

  private def nswStore(batches: Int = 3): String = {
    val store = Files.createTempDirectory("proto-nsw").toString + "/g"
    (0 until batches).foreach { b =>
      StreamNswInsert.applyBatch(nswBatch(nswCorpus.filter(_._1 % 3 == b)),
        b.toLong, "vec_id", "embedding", nswCents, 2, 3, 6, 2, store)
    }
    store
  }

  private val subs = Seq("vecs", "edges", "edges1", "edges2")

  private def nswView(store: String, sub: String): DataFrame = sub match {
    case "vecs" => StreamNswInsert.nodes(spark, store)
    case "edges" => StreamNswInsert.edges(spark, store)
    case "edges1" => StreamNswInsert.edges1(spark, store)
    case _ => StreamNswInsert.edges2(spark, store)
  }

  /** (scan fingerprint, row set) of one committed NSW sub-store. */
  private def nswRows(store: String, sub: String, tag: String)
      : (String, Set[String]) = {
    ArtifactStore.clearFingerprintMemo()
    val v = nswView(store, sub)
    (ArtifactStore.fingerprint(v, s"proto:$tag:$store:$sub"),
      v.collect().map(_.toString).toSet)
  }

  /** One batch dir: a single part file, its checksum and the commit
    * marker. */
  private def bidDir(sub: String, b: Int): Seq[String] =
    Seq("._SUCCESS.crc", ".part.snappy.parquet.crc", "_SUCCESS",
      "part.snappy.parquet").map(f => s"$sub/bid=$b/$f")

  private def subTree(sub: String, bids: Seq[Int]): Seq[String] =
    bids.map(b => s"$sub/_fp/bid=$b.json") ++ bids.flatMap(bidDir(sub, _))

  private val nswSidecars: Map[String, String] = Seq(
    "edges/_fp/bid=0.json" -> ("5995181947261823011", 50),
    "edges/_fp/bid=1.json" -> ("1823988202688857635", 118),
    "edges/_fp/bid=2.json" -> ("2755654696890806758", 112),
    "edges1/_fp/bid=0.json" -> ("18044929812917344818", 2),
    "edges1/_fp/bid=1.json" -> ("0", 0),
    "edges1/_fp/bid=2.json" -> ("17372929583698413600", 16),
    "edges2/_fp/bid=0.json" -> ("0", 0),
    "edges2/_fp/bid=1.json" -> ("0", 0),
    "edges2/_fp/bid=2.json" -> ("0", 0),
    "vecs/_fp/bid=0.json" -> ("4913587566069284956", 12),
    "vecs/_fp/bid=1.json" -> ("5440973538681799946", 12),
    "vecs/_fp/bid=2.json" -> ("10632880029101837888", 12))
    .map { case (f, (sum, n)) =>
      val part = f.split('/').last.stripSuffix(".json")
      f -> s"""{"part":"$part","sum":"$sum","n":$n}"""
    }.toMap

  /** Scan fingerprint (== the sidecar fold) of each sub-store's rows. */
  private val nswFp: Map[String, String] = Map(
    "vecs" -> "23425e83d7b993a6_36", "edges" -> "92c1532b9df6202c_280",
    "edges1" -> "eb85837828036252_18", "edges2" -> "0000000000000000_0")

  test("golden NSW store: file tree, meta.txt and every _fp sidecar " +
    "byte for byte over 3 batches; rows and folded fingerprints " +
    "before and after compact") {
    val store = nswStore()
    assert(tree(store) ===
      (subs.flatMap(subTree(_, Seq(0, 1, 2))) :+ "meta.txt").sorted)
    assert(utf8(Paths.get(s"$store/meta.txt")) === "2")
    nswSidecars.foreach { case (f, body) =>
      assert(utf8(Paths.get(s"$store/$f")) === body, s"sidecar $f")
    }
    val rows = subs.map(s => s -> nswRows(store, s, "before")).toMap
    subs.foreach { s =>
      assert(rows(s)._1 === nswFp(s), s"$s scan fingerprint")
      assert(StreamNswInsert.storeFingerprint(store, s) === nswFp(s),
        s"$s folded fingerprint")
    }

    // compaction: one rollup dir per sub-store, the same rows and the
    // same folded fingerprint. The rollup sidecar's bytes are not
    // pinned: a sum written mod 2^64 or unreduced folds the same.
    assert(StreamNswInsert.compact(spark, store), "must rewrite")
    assert(tree(store) ===
      (subs.flatMap(subTree(_, Seq(2))) :+ "meta.txt").sorted)
    assert(utf8(Paths.get(s"$store/meta.txt")) === "2")
    subs.foreach { s =>
      assert(nswRows(store, s, "after") === rows(s),
        s"$s: compaction moves bytes, never rows")
      assert(StreamNswInsert.storeFingerprint(store, s) === nswFp(s),
        s"$s folded fingerprint after compact")
    }
  }

  test("a completed NSW compaction swap with a stale .compact.old " +
    "per sub-store: the next read reclaims it and the rows are " +
    "unchanged") {
    val store = nswStore(batches = 2)
    assert(StreamNswInsert.compact(spark, store), "must rewrite")
    val rows = subs.map(s => s -> nswRows(store, s, "swap")).toMap
    subs.foreach(s => copyRec(Paths.get(s"$store/$s"),
      Paths.get(s"$store/$s.compact.old")))
    subs.foreach { s =>
      assert(nswRows(store, s, "stale") === rows(s), s"$s rows")
      assert(!Files.exists(Paths.get(s"$store/$s.compact.old")),
        s"$s: the superseded .compact.old must be reclaimed")
    }
  }

  // ---- a fixed split store: 15 docs in 3 batches ----

  private def splitDocs: Seq[(Long, String)] = {
    val rnd = new Random(5)
    val vocab = (0 until 40).map(i => s"w$i")
    def base(): Seq[String] = Seq.fill(16)(vocab(rnd.nextInt(vocab.size)))
    val clusters = (0 until 3).map(_ => base())
    val members = for (c <- 0 until 3; j <- 0 until 3)
      yield (100L * c + j, (clusters(c) :+ s"u_${c}_$j").mkString(" "))
    members ++ (0 until 6).map(i => (1000L + i, base().mkString(" ")))
  }

  private def drainSplit(src: String, store: String): Unit = {
    val q = StreamSplit.run(spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet"), store, Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** A split store drained from 3 source files; returns (src, store). */
  private def splitStore(): (String, String) = {
    val src = Files.createTempDirectory("proto-split-src").toString
    val store = Files.createTempDirectory("proto-split").toString + "/st"
    (0 until 3).foreach { j =>
      splitDocs.filter(_._1 % 3 == j).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$src/b$j.parquet")
    }
    drainSplit(src, store)
    (src, store)
  }

  private def splitMap(store: String): Map[Long, String] =
    spark.read.parquet(store).select("doc_id", "split")
      .as[(Long, String)].collect().toMap

  private def splitParts(store: String): Int =
    Fs.ls(Paths.get(store)).count { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }

  private val splitGolden: Map[Long, String] =
    (Seq(0L, 1L, 2L, 100L, 101L, 102L, 200L, 201L, 202L, 1000L, 1001L,
      1002L, 1004L, 1005L).map(_ -> "train") :+ (1003L -> "test")).toMap

  test("golden split store: the doc_id -> split map and the part-file " +
    "count before and after compact") {
    val (_, store) = splitStore()
    assert(splitMap(store) === splitGolden)
    assert(splitParts(store) === 3)
    assert(StreamSplit.compact(spark, store), "must rewrite")
    assert(splitMap(store) === splitGolden)
    assert(splitParts(store) === 1)
  }

  test("a completed split-store compaction swap with a stale " +
    ".compact.old: the next batch reclaims it and no label moves") {
    val (src, store) = splitStore()
    assert(StreamSplit.compact(spark, store), "must rewrite")
    val old = Paths.get(s"$store.compact.old")
    copyRec(Paths.get(store), old)
    drainSplit(src, store) // a full replay: appends no rows
    assert(!Files.exists(old),
      "the superseded .compact.old must be reclaimed")
    assert(splitMap(store) === splitGolden)
  }

  // ---- the publish temps of the ingest sink ----

  test("leftover <name>.tmp publish temps (a crash before the rename) " +
    "are not a layout pin, a commit or a snapshot; the next batch " +
    "commits over them") {
    val blocks = spark.read.schema(BlockIngest.blockSchema)
      .json(s"${graft.fixtures.FixtureGen.FixtureDir}/stream/blocks.jsonl")
    def batch(lo: Long, hi: Long) = blocks.filter(col("height").between(lo, hi))
    def txns() = BlockIngest.readCommitted(spark, sink, "transactions").count()
    def put(rel: String, body: String): Path =
      Files.write(Paths.get(s"$sink/$rel"), body.getBytes(StandardCharsets.UTF_8))
    lazy val sink = Files.createTempDirectory("proto-ingest").toString

    // the first batch died before renaming its layout pin
    val layoutTmp = put("_layout.json.tmp", """{"fact_bucket_blocks":7}""")
    assert(BlockIngest.factBucketBlocks(sink).isEmpty, "a tmp is not a pin")
    assert(BlockIngest.committedHeight(sink) === 0L)
    BlockIngest.processBatch(spark, batch(1L, 40L), sink)
    assert(BlockIngest.factBucketBlocks(sink) ===
      Some(BlockIngest.DefaultBucketBlocks))
    assert(!Files.exists(layoutTmp), "the pin write renames its tmp away")
    assert(BlockIngest.committedHeight(sink) === 40L)
    val txns40 = txns()
    val snap40 = utf8(Paths.get(s"$sink/latest-snap.json"))

    // the next batch died before renaming its manifest and snapshot
    val commitTmp = put("_commits/60.json.tmp",
      """{"height": 60, "tables": {"transactions": []}}""")
    val snapTmp = put("latest-snap.json.tmp",
      """{"height": 52, "snapshot_hash": "torn"}""")
    assert(BlockIngest.committedHeight(sink) === 40L, "a tmp is not a commit")
    assert(txns() === txns40)
    assert(utf8(Paths.get(s"$sink/latest-snap.json")) === snap40)
    assert(BlockIngest.factBucketBlocks(sink) ===
      Some(BlockIngest.DefaultBucketBlocks))

    // its replay commits over both temps
    BlockIngest.processBatch(spark, batch(41L, 60L), sink)
    assert(BlockIngest.committedHeight(sink) === 60L)
    assert(txns() === spark.read.parquet(
      s"${graft.fixtures.FixtureGen.FixtureDir}/transactions.parquet").count())
    assert(utf8(Paths.get(s"$sink/latest-snap.json"))
      .contains("\"height\": 52"))
    assert(!utf8(Paths.get(s"$sink/latest-snap.json")).contains("torn"))
    assert(!Files.exists(commitTmp) && !Files.exists(snapTmp),
      "the commit renames its temps away")
  }

  // ---- the one rename protocol ----

  test("no ATOMIC_MOVE under src/main/scala outside graft/ops/Fs.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val offenders = Fs.walk(root)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/ops/Fs.scala")))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.matches("(//|\\*|/\\*).*") &&
              line.replaceAll("//.*", "").contains("ATOMIC_MOVE") =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty, "atomic renames outside Fs.writeAtomic / " +
      s"Fs.swap / Fs.restoreSwap:\n${offenders.mkString("\n")}")
  }

  // ---- maintained-store reads ----

  /** Jobs `f` launches, counted by a listener. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      ListenerBusDrain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a 40-batch maintained store builds its parts() and readPart " +
    "frames without a listing or schema job") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("n", LongType)))
    val st = new DeltaPartsStore(
      Files.createTempDirectory("proto-dps").toString + "/s", schema,
      identity)
    (0 until 40).foreach(b => st.applyPart(Seq((b.toLong, 1L)).toDF("k", "n"),
      b.toLong))
    assert(st.partDirCount === 40)
    val (parts, partsJobs) = jobsOf(st.parts(spark))
    val (one, oneJobs) = jobsOf(st.readPart(spark, "bid=7"))
    println(s"JOBCOUNT parts=$partsJobs readPart=$oneJobs")
    assert(partsJobs === 0, "parts() launched Spark jobs before any action")
    assert(oneJobs === 0, "readPart launched Spark jobs before any action")
    assert(parts.count() === 40L)
    assert(one.as[(Long, Long)].collect().toSeq === Seq((7L, 1L)))
  }
}
