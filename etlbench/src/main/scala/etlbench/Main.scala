package etlbench

import graft.ops.ArtifactStore
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** The block-follower benchmark (see etlbench/README.md).
  *
  * {{{
  * Main --workload follow|backfill|sweep --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints informational lines, then ONE JSON line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}` — the
  * end-to-end metrics with `--trace 0`, the per-layer ones with
  * `--trace 1`.
  */
object Main {

  /** A workload: the batch shape, the number of read sets run back to
    * back after each commit (the step's read latency is their median),
    * and the nominal length of one step on a 4-core host, which turns
    * `--seconds` into a fixed number of measured steps — so every run of
    * a workload does the same work. */
  final case class Regime(name: String, blocksPerBatch: Int,
                          txnsPerBlock: Int, readSets: Int,
                          nominalStepS: Double, activityBlocks: Long) {
    def steps(seconds: Int): Int =
      math.max(2, math.round(seconds / nominalStepS).toInt)
  }

  val Regimes: Map[String, Regime] = Seq(
    Regime("follow", blocksPerBatch = 1, txnsPerBlock = 10, readSets = 1,
      nominalStepS = 4.0, activityBlocks = 64),
    Regime("backfill", blocksPerBatch = 32, txnsPerBlock = 40, readSets = 3,
      nominalStepS = 8.0, activityBlocks = 256)
  ).map(r => r.name -> r).toMap

  /** Batches committed during set-up, before the measured window. */
  val WarmupBatches = 1

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", Paths.get(arg("work")))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set(ArtifactStore.RootConf, work.resolve("artifacts").toString)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload != "sweep" && !Regimes.contains(a.workload)) {
      System.err.println(s"unknown workload '${a.workload}' (known: " +
        (Regimes.keys.toSeq.sorted :+ "sweep").mkString(", ") + ")")
      sys.exit(2)
    }
    graft.ops.Fs.wipe(a.work.toAbsolutePath.toString)
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val result = try {
      if (a.workload == "sweep") Sweep.run(spark, a)
      else Ingest.run(spark, Regimes(a.workload), a)
    } finally spark.stop()
    result.info.foreach(println)
    println(result.json)
  }

  /** The result line. Values keep every digit they were measured with. */
  final case class Result(attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)],
                          info: Seq[String]) {
    def json: String = {
      val ms = metrics.map { case (k, v, u) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
      s"""{"correct":${failed == 0},"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":{$ms}}"""
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Peak resident set of this JVM, from /proc. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least 10 samples above it
    * (needs 11 samples or more). */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 11) None else Some(math.floor(100.0 * (n - 10) / n).toInt)

  def dirStats(root: Path): (Long, Long) = {
    var files = 0L; var bytes = 0L
    graft.ops.Fs.walk(root).foreach { p =>
      if (Files.isRegularFile(p)) {
        bytes += Files.size(p)
        if (p.getFileName.toString.endsWith(".parquet")) files += 1
      }
    }
    (files, bytes)
  }

  /** Parquet files under `root` written at or after `sinceMs`. */
  def newFiles(root: Path, sinceMs: Long): Long =
    graft.ops.Fs.walk(root).count(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet") &&
      Files.getLastModifiedTime(p).toMillis >= sinceMs).toLong

  def elapsedSinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** The follow/backfill loop: set-up (session, chain, warm-up prefix),
  * the timed window, then the output check. */
object Ingest {
  import Main._

  def run(spark: SparkSession, r: Regime, a: Args): Result = {
    val nBlocks = (WarmupBatches + r.steps(a.seconds)) * r.blocksPerBatch
    val chain = ChainGen.generate(a.seed, nBlocks, r.txnsPerBlock)
    val batches = chain.grouped(r.blocksPerBatch).toIndexedSeq
    val input = Files.createDirectories(a.work.resolve("input"))
    val sink = a.work.resolve("sink").toAbsolutePath.toString
    val f = new Follower(spark, sink, input, r.activityBlocks)
    val trace = if (a.trace) Some(new Trace(spark)) else None
    System.err.println(f"[etlbench] session and chain ready at " +
      f"${elapsedSinceJvmStart()}%.3f s")

    var attempted = 0L
    var failed = 0L
    val answers = ArrayBuffer.empty[Follower.Answers]
    // each read set asks about a payer of the newest batch (an actor it
    // just touched), or the previous one's when the batch has none
    var payer = ChainGen.payers(chain).next()
    var readSetsRun = 0L

    def timed[A](traced: Boolean)(body: => A): (A, Double, Option[Trace#Span]) =
      trace.filter(_ => traced) match {
        case Some(t) =>
          val (v, s) = t.span(body)
          (v, s.wallS, Some(s))
        case None =>
          val t0 = System.nanoTime()
          val v = body
          (v, (System.nanoTime() - t0) / 1e9, None)
      }

    /** One commit and `readSets` read sets; None when the commit
      * failed. */
    def step(i: Int, readSets: Int, traced: Boolean): Option[Layers.StepTrace] = {
      val batch = batches(i)
      val file = f.stage(i, batch)
      val last = batch.last.height
      attempted += 1
      val startMs = System.currentTimeMillis()
      val committed = try {
        // processBatch and the compaction it is followed by are timed
        // together (commit latency) and traced apart
        val (_, s1, sp1) = timed(traced)(f.process(file))
        val (_, s2, sp2) = timed(traced)(f.compact())
        f.requireCommitted(last)
        Some((s1 + s2, sp1, sp2))
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[etlbench] commit of batch $i failed: $e")
        None
      }
      committed.map { case (commitS, sp1, sp2) =>
        val batchPayers = ChainGen.payers(batch).toIndexedSeq
        def read[A](name: String)(body: => A): (Option[A], Double, Option[Trace#Span]) = {
          attempted += 1
          try {
            val (v, s, sp) = timed(traced)(body)
            (Some(v), s, sp)
          } catch { case e: Throwable =>
            failed += 1
            System.err.println(s"[etlbench] read $name at $last failed: $e")
            (None, 0.0, None)
          }
        }
        val sets = (0 until readSets).map { k =>
          // later sets find the part cache as the first one did: the
          // commit dirtied the part, so every set builds it again
          if (k > 0) f.dropArtifacts()
          if (batchPayers.nonEmpty) payer = batchPayers(k % batchPayers.size)
          val actor = payer.actor
          val (lookup, s1, sp1r) = read("actor_lookup")(f.actorLookup(actor))
          val (activity, s2, sp2r) = read("actor_activity")(f.actorActivity(actor, last))
          val (types, s3, sp3r) = read("type_counts")(f.typeCounts())
          for (l <- lookup; ac <- activity; t <- types)
            answers += Follower.Answers(last, payer, l, ac, t)
          readSetsRun += 1
          (Seq(s1, s2, s3), Seq(sp1r, sp2r, sp3r).flatten)
        }
        System.err.println(f"[etlbench] step $i commit $commitS%.3f s reads " +
          sets.map(_._1.map(x => f"$x%.3f").mkString(" ")).mkString(" | ") + " s")
        // files the commit left in the sink (outside every span)
        val written = if (!traced) 0L else newFiles(Paths.get(sink), startMs)
        Layers.StepTrace(commitS, median(sets.map(_._1.sum)), sp1, sp2,
          sets.map(_._2), written)
      }
    }

    // ---- set-up: warm-up prefix (its commits are checked like all; one
    // read set each, which checks them too) ----
    var next = 0
    while (next < WarmupBatches) {
      step(next, readSets = 1, traced = false); next += 1
    }
    val setupS = elapsedSinceJvmStart()
    val (built0, _) = ArtifactStore.resolutionCounts
    val readSets0 = readSetsRun

    // ---- the timed window ----
    trace.foreach(_.start())
    val steps = ArrayBuffer.empty[Layers.StepTrace]
    val t0 = System.nanoTime()
    while (next < batches.size) {
      step(next, r.readSets, traced = trace.isDefined).foreach(steps += _)
      next += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.stop())
    val (built1, _) = ArtifactStore.resolutionCounts
    val rss = rssPeakMb()
    val committedBlocks = batches.take(next).flatten

    // ---- output check ----
    val tc = System.nanoTime()
    val outcomes = IngestCheck.run(spark, sink, committedBlocks,
      answers.toSeq, r.activityBlocks)
    attempted += outcomes.size
    System.err.println(f"[etlbench] check ${(System.nanoTime() - tc) / 1e9}%.3f s")
    outcomes.foreach { o =>
      o.failure.foreach { m =>
        failed += 1
        System.err.println(s"[etlbench] check ${o.name} failed: $m")
      }
    }

    val info = ArrayBuffer.empty[String]
    val measuredBlocks = batches.slice(WarmupBatches, next).map(_.size).sum
    info += s"# workload ${r.name}: ${steps.size} commits of ${r.blocksPerBatch} " +
      s"block(s), each followed by ${r.readSets} read set(s), in $windowS s " +
      s"after $WarmupBatches warm-up commits; " +
      s"${outcomes.size} checks, ${outcomes.count(_.failure.nonEmpty)} failed"
    val metrics = if (!a.trace) {
      val commits = steps.map(_.commitS).toSeq
      val readSets = steps.map(_.readS).toSeq
      val tailQ = tailPercentile(steps.size)
      tailQ match {
        case Some(p) => info += s"# commit_tail_s and read_tail_s are p$p " +
          s"of ${steps.size} samples"
        case None => info += s"# only ${steps.size} samples: the tail is their maximum"
      }
      def tail(xs: Seq[Double]) = tailQ.fold(xs.max)(p => quantile(xs, p / 100.0))
      val (files, bytes) = dirStats(Paths.get(sink))
      val inputBytes = committedBlocks.map(_.json.getBytes("UTF-8").length.toLong).sum
      Seq(
        ("setup_s", setupS, "s"),
        ("commit_p50_s", median(commits), "s"),
        ("commit_tail_s", tail(commits), "s"),
        ("blocks_per_s", measuredBlocks / windowS, "1/s"),
        ("read_p50_s", median(readSets), "s"),
        ("read_tail_s", tail(readSets), "s"),
        ("sink_files", files.toDouble, "count"),
        ("sink_bytes_per_input_byte", bytes.toDouble / inputBytes, "ratio"),
        ("rss_peak_mb", rss, "MB"))
    } else {
      val actorRows = graft.streaming.BlockIngest
        .readCommitted(spark, sink, "transaction_actors")
        .where(org.apache.spark.sql.functions.col("block")
          .between(batches(WarmupBatches).head.height, committedBlocks.last.height))
        .count()
      Layers.metrics(steps.toSeq, built1 - built0, readSetsRun - readSets0,
        f.slicesPerBucket(),
        actorRows, trace.get.overheadS)
    }
    Result(attempted, failed, metrics, info.toSeq)
  }
}
