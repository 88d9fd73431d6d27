package etlbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The query sweep: a fixed list of `SparkEntry.queries`, run cold (the
  * artifact root starts empty) in name order, each result materialized
  * to parquet under `<work>/out/<query>` — a `count()` would let column
  * pruning skip work users pay for. run.py checks each result's digest
  * against the committed oracle digests after the JVM exits.
  *
  * The list lives in etlbench/sweep/queries.tsv (`name<TAB>group`); the
  * sf0.1 testdata directory is `ETLBENCH_SF_DIR`.
  */
object Sweep {
  import Main._

  def run(spark: SparkSession, a: Args): Result = {
    val sfDir = sys.env.getOrElse("ETLBENCH_SF_DIR",
      sys.error("set ETLBENCH_SF_DIR to the sf0.1 testdata directory"))
    val listed = scala.io.Source.fromFile("etlbench/sweep/queries.tsv")
      .getLines().filter(_.nonEmpty).map(_.split('\t'))
      .map { case Array(n, g) => n -> g }.toSeq.sortBy(_._1)
    val out = a.work.resolve("out")
    Files.createDirectories(out)
    val trace = if (a.trace) Some(new Trace(spark)) else None
    // warm the JVM and codegen on the smallest query outside the list,
    // as Bench does
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val setupS = elapsedSinceJvmStart()

    trace.foreach(_.start())
    var failed = 0L
    val ran = ArrayBuffer.empty[(String, String, Double, Option[Trace#Span])]
    listed.zipWithIndex.foreach { case ((name, group), i) =>
      val t0 = System.nanoTime()
      val span = try {
        val body = () => SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").parquet(out.resolve(name).toString)
        trace match {
          case Some(t) => Some(t.span(body())._2)
          case None => body(); None
        }
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[etlbench] query $name failed: $e")
        None
      }
      ran += ((name, group, (System.nanoTime() - t0) / 1e9, span))
      // between queries, outside the timing, Bench's hygiene: free leftover
      // checkpoints, and let the ContextCleaner drop broadcasts every 16
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      if (i % 16 == 15) System.gc()
    }
    trace.foreach(_.stop())
    val rss = rssPeakMb()
    // make_expected.py's hook: the listed queries' oracle SQL, resolved
    // after the run as Verify does (some oracles are late-bound)
    sys.env.get("ETLBENCH_ORACLE_OUT").foreach { f =>
      val oracles = SparkEntry.oracleSql
      Files.writeString(Paths.get(f), listed.flatMap { case (n, _) =>
        oracles.get(n).map(sql => jsonString(n) + ":" + jsonString(sql))
      }.mkString("{", ",", "}"))
    }
    val info = Seq(s"# sweep: ${ran.size} queries from $sfDir, $failed failed") ++
      ran.map { case (n, g, s, _) => f"# $g $n $s%.3f" }
    val metrics = if (!a.trace) Seq(
      ("setup_s", setupS, "s"),
      ("light_s", ran.filter(_._2 == "light").map(_._3).sum, "s"),
      ("heavy_s", ran.filter(_._2 == "heavy").map(_._3).sum, "s"),
      ("rss_peak_mb", rss, "MB"))
    else Seq("light", "heavy").flatMap { g =>
      val spans = ran.filter(_._2 == g).flatMap(_._4)
      def sum(f: Trace#Span => Double): Double = spans.map(f).sum
      Seq(
        (s"SparkEntry.$g.jobs", sum(_.jobs.toDouble), "count"),
        (s"SparkEntry.$g.actions", sum(_.actions.toDouble), "count"),
        (s"SparkEntry.$g.planning_s", sum(_.planningS), "s"),
        (s"SparkEntry.$g.codegen_s", sum(_.codegenS), "s"),
        (s"SparkEntry.$g.codegen_classes", sum(_.codegenClasses.toDouble), "count"),
        (s"SparkEntry.$g.idle_s", sum(_.idleS), "s"),
        (s"SparkEntry.$g.task_s", sum(_.taskS), "s"),
        (s"SparkEntry.$g.gc_s", sum(_.gcS), "s"),
        (s"SparkEntry.$g.input_bytes", sum(_.bytesRead.toDouble), "bytes"),
        (s"SparkEntry.$g.shuffle_bytes", sum(_.shuffleBytes.toDouble), "bytes"),
        (s"SparkEntry.$g.self_s", sum(_.wallS), "s"))
    }
    Result(listed.size, failed, metrics, info)
  }

  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
