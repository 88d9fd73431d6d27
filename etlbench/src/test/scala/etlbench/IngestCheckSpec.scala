package etlbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, StandardCopyOption}

class IngestCheckSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val chain = ChainGen.generate(seed = 5, nBlocks = 20, txnsPerBlock = 6)
  // the chain's last payment: its payer is active in the last read's window
  private val payer = ChainGen.payers(chain).toSeq.last

  /** Ingest `blocks` cut into batches of `per`, reading the read set
    * after each batch; returns the follower and its answers. */
  private def follow(name: String, blocks: Seq[ChainGen.Block], per: Int)
      : (Follower, Seq[Follower.Answers]) = {
    val dir = SparkTestSession.work.resolve(name)
    val f = new Follower(spark, dir.resolve("sink").toString,
      Files.createDirectories(dir.resolve("input")), activityBlocks = 8)
    val answers = blocks.grouped(per).zipWithIndex.map { case (b, i) =>
      f.ingest(i, b)
      f.readSet(payer, b.last.height)
    }.toSeq
    (f, answers)
  }

  private lazy val bySingle = follow("single", chain, 1)
  private lazy val bySixteen = follow("sixteen", chain, 16)

  private def failures(f: Follower, blocks: Seq[ChainGen.Block],
                       answers: Seq[Follower.Answers]) =
    IngestCheck.run(spark, f.sink, blocks, answers, activityBlocks = 8)
      .filter(_.failure.nonEmpty)

  test("every check passes on a faithful ingest, at both batch sizes") {
    val (f1, a1) = bySingle
    val (f16, a16) = bySixteen
    assert(a1.size == 20 && a16.size == 2)
    assert(failures(f1, chain, a1).isEmpty)
    assert(failures(f16, chain, a16).isEmpty)
  }

  test("fact-table digests do not depend on where batches are cut") {
    val d1 = IngestCheck.factDigests(spark, bySingle._1.sink)
    val d16 = IngestCheck.factDigests(spark, bySixteen._1.sink)
    assert(d1 == d16)
    assert(Set("blocks", "transactions", "transaction_actors", "rewards",
      "dirty_sets").subsetOf(d1.keySet))
    assert(d1("transactions").endsWith(s"_${chain.map(_.txns.size).sum}"))
  }

  test("a dropped block fails the check") {
    val (f, answers) = follow("dropped", chain.init, 16)
    val failed = failures(f, chain, answers).map(_.name).toSet
    assert(Set("heights", "transactions", "stats").subsetOf(failed))
  }

  test("a planted wrong read answer fails its check") {
    val (f, answers) = bySixteen
    val last = answers.last
    val (typ, n) = last.typeCounts.head
    val wrongTypes = last.copy(typeCounts = last.typeCounts.updated(typ, n + 1))
    assert(last.lookup.nonEmpty && last.activity.nonEmpty)
    val wrongLookup = last.copy(lookup = last.lookup.map {
      case (first, lastBlock, n) => (first, lastBlock, n + 1) })
    val wrongActivity = last.copy(activity = last.activity.tail)
    for (planted <- Seq(wrongTypes, wrongLookup, wrongActivity)) {
      val failed = failures(f, chain, answers.init :+ planted)
      assert(failed.map(_.name) == Seq(s"read.1@${last.height}"))
    }
  }

  /** Rewrite every committed file of `table` in place, keeping only the
    * rows `keep` accepts: a sink whose commits lost those rows. */
  private def keepRows(sink: String, table: String, keep: Column): Unit =
    graft.ops.Fs.walk(java.nio.file.Paths.get(sink, table)).toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .zipWithIndex.foreach { case (file, i) =>
        val df = spark.read.parquet(file.toString)
        val rows = df.where(keep).collect()
        val tmp = SparkTestSession.work.resolve(s"rewrite-$table-$i")
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(tmp.toString)
        val part = graft.ops.Fs.ls(tmp)
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
        Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
      }

  test("missing actor rows or derived rows fail the check") {
    val (f, answers) = follow("lost-rows", chain, 16)
    assert(failures(f, chain, answers).isEmpty)
    keepRows(f.sink, "transaction_actors", col("actor_role") =!= "payer")
    val rewarded = chain.find(_.txns.exists(_.typ.startsWith("rewards_"))).get
    keepRows(f.sink, "rewards", col("block") =!= rewarded.height)
    val failed = failures(f, chain, answers)
    assert(Set("actors", "derived").subsetOf(failed.map(_.name).toSet))
    val derived = failed.find(_.name == "derived").get.failure.get
    assert(derived.startsWith("rewards ") && !derived.contains(";"))
  }
}
