package etlbench

/** Per-layer metrics of a traced run (every measured step is traced).
  *
  * Self time splits each traced step's wall time across the layers:
  * the two concurrent `processBatch` phases each cost their longest leg,
  * shared among the layers in proportion to their legs' time (phase 1:
  * the `actors` leg is Actors, the other fact legs BlockIngest; phase 2:
  * the `inv-*` legs are Inventory, `snap`/`stats` BlockIngest). The rest
  * of the commit (recovery, the driver collect, actor extraction, the
  * manifest, vacuum), the compaction and the two committed reads of
  * every read set are BlockIngest; the part-addressed type counts are
  * ArtifactStore.
  */
object Layers {

  /** One measured step: its commit latency, its read latency (the
    * median over its read sets), and its spans when traced — `reads`
    * holds one span per read of each read set. */
  final case class StepTrace(commitS: Double, readS: Double,
                             commit: Option[Trace#Span],
                             compaction: Option[Trace#Span],
                             reads: Seq[Seq[Trace#Span]], filesWritten: Long)

  val Phase1: Seq[String] = Seq("blocks", "txns", "actors", "derived", "dirty")
  val Phase2: Seq[String] = Seq("snap", "inv-actor", "inv-gw", "inv-val",
    "inv-acct", "inv-oui", "stats")
  // `snap` is left out: pure driver work, printed as 0.00 s
  val IngestLegs: Seq[String] = Seq("blocks", "txns", "actors", "derived",
    "dirty", "stats", "manifest")
  val InventoryLegs: Seq[String] = Seq("inv-actor", "inv-gw", "inv-val",
    "inv-acct", "inv-oui")

  def metrics(steps: Seq[StepTrace], built: Long, readSets: Long,
              slicesPerBucket: Long,
              actorRows: Long, overheadS: Double)
      : Seq[(String, Double, String)] = {
    val traced = steps.filter(s => s.commit.nonEmpty &&
      s.compaction.nonEmpty && s.reads.nonEmpty && s.reads.forall(_.size == 3))
    require(traced.nonEmpty, "no traced step completed")
    def mean(xs: Seq[Double]): Double = xs.sum / xs.size
    def perCommit(f: Trace#Span => Double): Double =
      mean(traced.map(s => f(s.commit.get) + f(s.compaction.get)))
    def leg(s: StepTrace, name: String) = s.commit.get.legs.getOrElse(name, 0.0)

    val selfTimes = traced.map { s =>
      val c = s.commit.get
      def share(group: Seq[String], mine: Seq[String]): (Double, Double) = {
        val legs = group.map(leg(s, _))
        val wall = legs.max
        val all = legs.sum
        val part = if (all == 0) 0.0 else wall * mine.map(leg(s, _)).sum / all
        (wall, part)
      }
      val (g1, actors) = share(Phase1, Seq("actors"))
      val (g2, inventory) = share(Phase2, InventoryLegs)
      val rest = math.max(0.0, c.wallS - g1 - g2)
      val ingest = (g1 - actors) + (g2 - inventory) + rest +
        s.compaction.get.wallS + s.reads.map(rs => rs(0).wallS + rs(1).wallS).sum
      Map("BlockIngest" -> ingest, "Inventory" -> inventory,
        "Actors" -> actors, "ArtifactStore" -> s.reads.map(_(2).wallS).sum)
    }
    val actorLegS = traced.map(leg(_, "actors")).sum

    Seq(
      ("BlockIngest.jobs_per_commit", perCommit(_.jobs.toDouble), "count"),
      ("BlockIngest.stages_per_commit", perCommit(_.stages.toDouble), "count"),
      ("BlockIngest.tasks_per_commit", perCommit(_.tasks.toDouble), "count"),
      ("BlockIngest.actions_per_commit", perCommit(_.actions.toDouble), "count"),
      ("BlockIngest.idle_s_per_commit", perCommit(_.idleS), "s"),
      ("BlockIngest.task_s_per_commit", perCommit(_.taskS), "s"),
      ("BlockIngest.gc_s_per_commit", perCommit(_.gcS), "s"),
      ("BlockIngest.bytes_written_per_commit",
        perCommit(_.bytesWritten.toDouble), "bytes"),
      ("BlockIngest.files_written_per_commit",
        mean(traced.map(_.filesWritten.toDouble)), "count")) ++
    IngestLegs.map(l => (s"BlockIngest.phase.${l}_s",
      mean(traced.map(leg(_, l))), "s")) ++
    InventoryLegs.map(l => (s"Inventory.phase.${l}_s",
      mean(traced.map(leg(_, l))), "s")) ++
    Seq(
      ("Actors.rows_per_s", actorRows / actorLegS, "1/s"),
      ("BlockIngest.compact_s", mean(traced.map(_.compaction.get.wallS)), "s"),
      ("BlockIngest.slices_per_bucket", slicesPerBucket.toDouble, "count")) ++
    Follower.ReadNames.zipWithIndex.map { case (n, i) =>
      (s"BlockIngest.read.${n}_s",
        Main.median(traced.flatMap(_.reads.map(_(i).wallS))), "s")
    } ++
    Seq(
      ("BlockIngest.read.input_bytes",
        mean(traced.flatMap(_.reads.map(_.map(_.bytesRead).sum.toDouble))),
        "bytes"),
      ("ArtifactStore.built", built.toDouble / readSets, "count")) ++
    Seq("BlockIngest", "Inventory", "Actors", "ArtifactStore").map(l =>
      (s"$l.self_s", mean(selfTimes.map(_(l))), "s")) ++
    Seq(
      ("trace.commit_p50_s", Main.median(traced.map(_.commitS)), "s"),
      ("trace.overhead_s_per_step", overheadS / steps.size, "s"))
  }
}
