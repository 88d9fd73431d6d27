package graft

import graft.ops.{ArtifactStore, CommittedParquet}
import graft.streaming.BlockIngest
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The committed-file reader: each frame it builds is the frame
  * `spark.read.parquet` builds over the same files (schema — names,
  * order, types, nullability, partition columns — and rows), it runs
  * no Spark job before the query, and it refuses parquet without the
  * Spark row schema. */
class CommittedParquetSpec extends SparkSpec {
  import spark.implicits._

  /** Fixture blocks 1..60 ingested in two batches. */
  private lazy val sink: String = {
    val dir = Files.createTempDirectory("committed_parquet").toString
    val blocks = spark.read.schema(BlockIngest.blockSchema)
      .json(s"${graft.fixtures.FixtureGen.FixtureDir}/stream/blocks.jsonl")
    Seq((1L, 40L), (41L, 60L)).foreach { case (lo, hi) =>
      BlockIngest.processBatch(spark,
        blocks.filter(col("height").between(lo, hi)), dir)
    }
    dir
  }

  private def assertSameFrame(ours: DataFrame, theirs: DataFrame): Unit = {
    assert(ours.schema === theirs.schema)
    assert(ours.count() === theirs.count())
    assert(ours.exceptAll(theirs).isEmpty, "rows only the reader yields")
    assert(theirs.exceptAll(ours).isEmpty, "rows only spark.read yields")
  }

  private def sparkRead(base: String, files: Seq[Path]): DataFrame =
    spark.read.option("basePath", base).parquet(files.map(_.toString): _*)

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

  Seq("transactions", "actor_inventory", "oui_inventory",
    "stats_inventory").foreach { table =>
    test(s"$table: the reader's frame is spark.read's over the same files") {
      val root = s"$sink/$table"
      val files = CommittedParquet.dataFiles(Paths.get(root))
      assert(files.nonEmpty)
      val ours = CommittedParquet.read(spark, files, Some(root))
      assertSameFrame(ours, sparkRead(root, files))
      // and the manifest-resolving call site keeps the layout columns
      // of the stores (only the facts' hb/slice are dropped)
      assertSameFrame(BlockIngest.readCommitted(spark, sink, table),
        sparkRead(root, files).drop("hb", "slice"))
    }
  }

  test("committed fact reads equal their spark.read filters") {
    val root = s"$sink/transaction_actors"
    val all = sparkRead(root, CommittedParquet.dataFiles(Paths.get(root)))
    assertSameFrame(
      BlockIngest.readFactCommitted(spark, sink, "transaction_actors"),
      all.drop("hb", "slice"))
    assertSameFrame(
      BlockIngest.readFactRange(spark, sink, "transaction_actors", 20L, 45L),
      all.where(col("block").between(20L, 45L)).drop("hb", "slice"))
    assertSameFrame(
      BlockIngest.readFactPart(spark, sink, "transaction_actors", "hb=0"),
      all.where(col("hb") === 0).drop("hb", "slice"))
    // a range no bucket holds is empty, with the table's schema
    val none = BlockIngest.readFactRange(spark, sink, "transaction_actors",
      1L << 40, (1L << 40) + 5)
    assert(none.schema === all.drop("hb", "slice").schema)
    assert(none.isEmpty)
  }

  test("inventory state reads equal spark.read over the version leaves") {
    val root = s"$sink/account_inventory"
    val all = sparkRead(root, CommittedParquet.dataFiles(Paths.get(root)))
    assertSameFrame(graft.ops.Inventory.readBucketedState(spark, root),
      all.drop("bucket", "merged_height"))
    val (pid, _) = graft.ops.Inventory.committedStateParts(spark, root,
      BlockIngest.committedHeight(sink)).head
    val leaf = pid.replace(".mh=", "/merged_height=")
    assertSameFrame(graft.ops.Inventory.readStatePart(spark, root, pid),
      spark.read.parquet(s"$root/$leaf"))
  }

  test("artifact payloads serve as spark.read reads the payload dirs") {
    val root = Files.createTempDirectory("committed_parquet_art").toString
    spark.conf.set(ArtifactStore.RootConf, root)
    try {
      val corpus = (1 to 50).map(i => (i.toLong, s"doc$i", Seq(i, i + 1)))
        .toDF("id", "body", "xs")
      val served = ArtifactStore.buildOrServe(spark, "cp_whole", "fp1",
        "p", "src")(corpus)
      val parts = ArtifactStore.buildOrServeParts(spark, "cp_parts",
        Seq("a" -> "fa", "b" -> "fb"), "p", "src") { pid =>
        corpus.where(col("body").endsWith(if (pid == "a") "1" else "2"))
      }
      val payloads = graft.ops.Fs.walk(Paths.get(root))
        .filter(_.getFileName.toString == "_SUCCESS").map(_.getParent)
      def payloadsOf(name: String) =
        payloads.filter(_.toString.contains(s"/$name/")).map(_.toString)
      assertSameFrame(served, spark.read.parquet(payloadsOf("cp_whole"): _*))
      assert(payloadsOf("cp_parts").size === 2)
      assertSameFrame(parts, spark.read.parquet(payloadsOf("cp_parts"): _*))
    } finally spark.conf.unset(ArtifactStore.RootConf)
  }

  test("readCommitted of a 64-bucket inventory runs exactly one job") {
    // one block paying 1000 distinct payees into a sink whose
    // actor_inventory is pinned at a 64-bucket base: every actor bucket
    // holds state, so the read names far more files than the 32 paths
    // above which spark.read lists in a Spark job
    val store = Files.createTempDirectory("committed_parquet_64").toString
    Files.createDirectories(Paths.get(s"$store/actor_inventory"))
    Files.write(Paths.get(s"$store/actor_inventory/_n_buckets"),
      "64".getBytes("UTF-8"))
    val txns = (1 to 1000).map(i =>
      s"""{"hash":"t$i","type":"payment_v1",""" +
        s""""fields":{"payer":"p0","payee":"a$i","amount":1}}""")
    BlockIngest.processBatch(spark, spark.read
      .schema(BlockIngest.blockSchema).json(Seq(
        """{"height":1,"time":1000,"block_hash":"h1","prev_hash":"h0",""" +
          txns.mkString(""""transactions":[""", ",", "]}")).toDS()), store)
    val buckets = graft.ops.Fs.ls(Paths.get(s"$store/actor_inventory"))
      .count(_.getFileName.toString.startsWith("bucket="))
    assert(buckets === 64)
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val (rows, jobs) = jobsOf(
      BlockIngest.readCommitted(spark, store, "actor_inventory").collect())
    assert(rows.length === 1001)
    assert(jobs === 1, "the scan's own job and nothing before it")
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount === listed,
      "the file index listed no directory")
  }

  test("parquet without the Spark row schema is refused") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("committed_parquet_foreign")
    val file = dir.resolve("foreign.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 7L))
    finally w.close()
    // spark.read would infer the schema from the parquet types; the
    // committed reader has no second path and refuses
    assert(spark.read.parquet(file.toString).count() === 1L)
    val e = intercept[IllegalStateException](
      CommittedParquet.read(spark, Seq(file)))
    assert(e.getMessage.contains(CommittedParquet.RowMetadataKey))
  }
}
