package graft

import graft.ops.Inventory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Follow/backfill merges into an actor-inventory-shaped store of a given
  * size. usage: SplitProbe label:nBuckets:targetBytes,... rows,... out.jsonl workDir
  *
  * targetBytes is read as the system property graft.splitTarget, which
  * the measured copy of Inventory.SplitTargetBytes read in place of the
  * constant; the parent ignores it. */
object SplitProbe {
  def main(args: Array[String]): Unit = {
    val Array(cfgArg, rowsArg, outPath, workDir) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val work = Paths.get(workDir); Files.createDirectories(work)
    val root = Files.createTempDirectory(work, "probe")
    def parquet(p: Path): Seq[Path] = if (!Files.exists(p)) Seq.empty else
      Files.walk(p).iterator().asScala.filter(f =>
        f.getFileName.toString.endsWith(".parquet")).toSeq
    val rnd = new scala.util.Random(7)
    for (nRows <- rowsArg.split(',').map(_.toLong); cfg <- cfgArg.split(',')) {
      val Array(label, nb, target) = cfg.split(':')
      System.setProperty("graft.splitTarget", target)
      val dir = root.resolve(s"$label-$nRows").toString
      var next = nRows
      def batch(ids: DataFrame, h: Long): DataFrame = ids.select(
        sha2(col("id").cast("string"), 256).as("actor"),
        (lit(h * 10000000L) + col("id") % 10000000L).as("block"),
        element_at(array(lit("payer"), lit("payee"), lit("gateway")),
          (pmod(col("id"), lit(3L)) + 1).cast("int")).as("actor_role"))
      def keys(old: Int, fresh: Int): DataFrame = {
        val o = Seq.fill(old)((rnd.nextDouble() * next).toLong).distinct
        val f = (next until next + fresh).toSeq; next += fresh
        (o ++ f).toDF("id")
      }
      def buckets = Files.list(Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.startsWith("bucket="))
      var h = 0L
      def merge(b: DataFrame, phase: String): Unit = {
        h += 1
        val t0 = System.nanoTime()
        Inventory.mergeBucketedState(spark, dir, b, Seq("actor"), "block",
          Seq("actor_role"),
          touch = Some("updated_at" -> timestamp_seconds(lit(h))),
          nBuckets = nb.toInt, mergedHeight = h)
        val s = (System.nanoTime() - t0) / 1e9
        val written = Files.list(Paths.get(dir)).iterator().asScala
          .filter(_.getFileName.toString.startsWith("bucket="))
          .flatMap(bk => parquet(bk.resolve(s"merged_height=$h"))).toSeq
        val t1 = System.nanoTime()
        Inventory.vacuumBucketedState(dir, h)
        val vac = (System.nanoTime() - t1) / 1e9
        val store = parquet(Paths.get(dir)).map(Files.size).sum
        val line = s"""{"label":"$label","rows":$nRows,"phase":"$phase",""" +
          s""""h":$h,"merge_s":$s,"vacuum_s":$vac,""" +
          s""""bytes_written":${written.map(Files.size).sum},""" +
          s""""files_written":${written.size},"buckets":$buckets,""" +
          s""""store_bytes":$store}"""
        println(line)
        val out = new java.io.FileWriter(outPath, true)
        out.write(line + "\n"); out.close()
      }
      // the initial state in one merge (spark.range: a local Seq of
      // millions of ids exhausts a 3 GB driver heap), then small merges
      // until the layout stops changing
      merge(batch(spark.range(nRows).toDF("id"), 1L), "build")
      var before = -1
      while (before != buckets && h < 14) { before = buckets; merge(batch(keys(20, 5), h + 1), "settle") }
      (1 to 30).foreach(_ => merge(batch(keys(20, 5), h + 1), "follow"))
      (1 to 6).foreach(_ => merge(batch(keys(1000, 1000), h + 1), "backfill"))
      (1 to 10).foreach(_ => merge(batch(keys(20, 5), h + 1), "follow2"))
      val tmp = Paths.get(dir)
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    spark.stop()
  }
}
