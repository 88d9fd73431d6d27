package etlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The traced run's recorder. Spans come from the benchmark's own code
  * (each commit, compaction and read); the Spark work inside a span is
  * taken from a `SparkListener` (jobs, stages, tasks, task and GC time,
  * bytes), a `QueryExecutionListener` (actions, Catalyst phases),
  * `CodegenMetrics` deltas, and the `[ingest-perf]` lines
  * `processBatch` prints under `GRAFT_INGEST_TIMING` (its phase legs).
  *
  * A span is measured as the delta of the counters across it, after the
  * listener bus has drained, so the spans must not overlap.
  */
final class Trace(spark: SparkSession) {

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskNs = 0L; var gcMs = 0L
    var bytesWritten = 0L; var bytesRead = 0L; var shuffleBytes = 0L
    var actions = 0L
    var taskEnds = 0
    var planningMs = 0L
    val legs: mutable.Map[String, Double] = mutable.Map.empty
    var codegenClasses = 0L; var codegenMs = 0.0
  }

  private val total = new Counters
  // what tracing itself costs: driver time blocked on the listener bus
  // plus listener and leg-parsing time (their threads compete for cores)
  @volatile private var overheadNs = 0L
  private def charged[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally synchronized(overheadNs += System.nanoTime() - t0)
  }
  def overheadS: Double = overheadNs / 1e9
  // (launch, finish) epoch millis of every finished task, in end order
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      charged(total.synchronized(total.jobs += 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      charged(total.synchronized(total.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      charged(total.synchronized {
        total.tasks += 1
        taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          total.taskNs += m.executorRunTime * 1000000L
          total.gcMs += m.jvmGCTime
          total.bytesWritten += m.outputMetrics.bytesWritten
          total.bytesRead += m.inputMetrics.bytesRead
          total.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        }
      })
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      charged(total.synchronized {
        total.actions += 1
        total.planningMs += qe.tracker.phases.values
          .map(p => p.endTimeMs - p.startTimeMs).sum
      })
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      total.synchronized(total.actions += 1)
  }

  /** `[ingest-perf] <leg> <seconds> s` lines from processBatch. */
  private val LegRe = """\[ingest-perf\] (\S+) ([0-9.]+) s""".r
  private val stderr = System.err
  private val legSink = new java.io.PrintStream(new java.io.OutputStream {
    private val line = new StringBuilder
    override def write(b: Int): Unit = charged(synchronized {
      if (b == '\n') { flushLine(); line.clear() } else line.append(b.toChar)
    })
    private def flushLine(): Unit = line.toString match {
      case LegRe(leg, s) => total.synchronized {
        total.legs(leg) = total.legs.getOrElse(leg, 0.0) + s.toDouble
      }
      case other => stderr.println(other)
    }
  }, true)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    System.setErr(legSink)
  }

  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    System.setErr(stderr)
  }

  private def snapshot(): Counters = charged {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val c = new Counters
    total.synchronized {
      c.jobs = total.jobs; c.stages = total.stages; c.tasks = total.tasks
      c.taskNs = total.taskNs; c.gcMs = total.gcMs
      c.bytesWritten = total.bytesWritten; c.bytesRead = total.bytesRead
      c.shuffleBytes = total.shuffleBytes; c.actions = total.actions
      c.taskEnds = taskSpans.size
      c.planningMs = total.planningMs; c.legs ++= total.legs
    }
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    c.codegenClasses = cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    val ct = cg.METRIC_COMPILATION_TIME
    c.codegenMs = ct.getSnapshot.getMean * ct.getCount
    c
  }

  /** Everything a span cost: its wall time and the counter deltas. */
  final case class Span(wallS: Double, jobs: Long, stages: Long, tasks: Long,
                        taskS: Double, gcS: Double, bytesWritten: Long,
                        bytesRead: Long, shuffleBytes: Long, actions: Long,
                        idleS: Double, planningS: Double,
                        codegenClasses: Long, codegenS: Double,
                        legs: Map[String, Double])

  /** Milliseconds of [from, to] during which at least one task ran. */
  private def busyMs(tasks: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L; var end = from
    tasks.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > end) { busy += e - math.max(s, end); end = e }
      }
    busy
  }

  def span[A](body: => A): (A, Span) = {
    val a = snapshot()
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val r = body
    val wallNs = System.nanoTime() - t0
    val b = snapshot()
    val legs = b.legs.map { case (k, v) => k -> (v - a.legs.getOrElse(k, 0.0)) }
      .filter(_._2 > 0).toMap
    val tasks = total.synchronized(taskSpans.slice(a.taskEnds, b.taskEnds).toSeq)
    val busy = math.min(wallNs,
      busyMs(tasks, ms0, ms0 + wallNs / 1000000L) * 1000000L)
    (r, Span(wallNs / 1e9, b.jobs - a.jobs, b.stages - a.stages,
      b.tasks - a.tasks, (b.taskNs - a.taskNs) / 1e9, (b.gcMs - a.gcMs) / 1e3,
      b.bytesWritten - a.bytesWritten, b.bytesRead - a.bytesRead,
      b.shuffleBytes - a.shuffleBytes, b.actions - a.actions,
      (wallNs - busy) / 1e9,
      (b.planningMs - a.planningMs) / 1e3,
      b.codegenClasses - a.codegenClasses, (b.codegenMs - a.codegenMs) / 1e3,
      legs))
  }
}
