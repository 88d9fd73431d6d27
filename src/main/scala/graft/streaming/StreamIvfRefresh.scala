package graft.streaming

import graft.ops.{Fs, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Incremental IVF centroid refresh under distribution drift — the
  * maintenance loop StreamAnnIngest needs at 100 TB: centroids trained
  * on January's corpus slowly mis-bucket July's arrivals (cells bloat
  * or empty out), and the only question is WHEN retraining pays.
  *
  * Per micro-batch, all distributed work is one map-side pass:
  *  - each arrival is assigned to its nearest cell by the codegen'd
  *    [[graft.expressions.TopCellsDbl]] kernel and only the O(k)
  *    occupancy counts reach the driver;
  *  - a bottom-K-by-hash vector sample (the q334 mergeable rank-sketch
  *    law: bottom-K of a union == bottom-K of bottom-Ks, so the
  *    maintained sample is independent of how the stream was sliced
  *    into batches) is merged into the store — K vectors of state
  *    regardless of arrivals.
  *
  * Drift is the population-stability index (q284's metric) between
  * the REFERENCE occupancy (measured when the current centroids were
  * installed) and the accumulated arrival occupancy. When PSI crosses
  * the threshold, centroids retrain driver-side from the stored
  * sample (the deterministic k-means++ used everywhere), and the
  * reference resets to the sample's occupancy under the NEW centroids
  * so PSI restarts from ~0.
  *
  * Exactly-once: occupancy addition is NOT idempotent, so the store
  * carries the highest applied batch id and replays are skipped (the
  * StreamMerkle/StreamMoments gate); shape mismatches (k, dims, K)
  * fail fast instead of mis-indexing. Writes are temp-file + atomic
  * rename.
  */
object StreamIvfRefresh {

  /** Driver-side store. `sample` rows are (hash, id, vector) kept
    * sorted by (hash, id) ascending — the K smallest corpus-wide. */
  final case class State(applied: Long, refreshes: Long,
                         centroids: Array[Array[Double]],
                         refOcc: Array[Long], curOcc: Array[Long],
                         sample: Vector[(Long, Long, Array[Double])])

  /** 60-bit deterministic sample hash of an id — the Scala twin of
    * Sketches.hash60 on "ivf:<id>" (first 15 md5 hex digits). */
  def sampleHash(id: Long): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"ivf:$id".getBytes(StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString.take(15), 16)

  /** q284's PSI in milli-nats over two occupancy vectors, add-one
    * smoothed (empty cells must not produce infinities). Driver-side
    * doubles are fine here: this is a streaming-only operator (no
    * cross-engine oracle) and the value is a pure function of the
    * stored longs. */
  def psiMilli(ref: Array[Long], cur: Array[Long]): Long = {
    val k = ref.length
    val rt = ref.sum + k
    val ct = cur.sum + k
    var s = 0.0
    var i = 0
    while (i < k) {
      val p = (ref(i) + 1).toDouble / rt
      val q = (cur(i) + 1).toDouble / ct
      s += (p - q) * math.log(p / q)
      i += 1
    }
    math.floor(s * 1000).toLong
  }

  def readStore(path: String, k: Int, dims: Int, sampleK: Int): State = {
    val p = Paths.get(path)
    require(Files.exists(p), s"StreamIvfRefresh store $path missing — " +
      "call init() with the trained centroids first")
    val parts = Files.readString(p).trim.split("\n")
    val head = parts(0).split(";")
    val cents = parts(1).split("\\|").map(_.split(",").map(_.toDouble))
    val refOcc = parts(2).split(",").map(_.toLong)
    val curOcc = parts(3).split(",").map(_.toLong)
    val sample =
      if (parts.length < 5 || parts(4).isEmpty) Vector.empty
      else parts(4).split("\\|").toVector.map { r =>
        val f = r.split(",")
        (f(0).toLong, f(1).toLong, f.drop(2).map(_.toDouble))
      }
    require(cents.length == k && cents.forall(_.length == dims) &&
      refOcc.length == k && curOcc.length == k && sample.size <= sampleK,
      s"StreamIvfRefresh store $path shape (k=${cents.length}, " +
        s"dims=${cents.headOption.map(_.length).getOrElse(0)}, " +
        s"sample=${sample.size}) disagrees with the caller's " +
        s"(k=$k, dims=$dims, K=$sampleK) — refusing to mis-index it")
    State(head(0).toLong, head(1).toLong, cents, refOcc, curOcc, sample)
  }

  private def writeStore(path: String, st: State): Unit = {
    val body = Seq(
      s"${st.applied};${st.refreshes}",
      st.centroids.map(_.map(java.lang.Double.toString).mkString(","))
        .mkString("|"),
      st.refOcc.mkString(","),
      st.curOcc.mkString(","),
      st.sample.map { case (h, id, v) =>
        s"$h,$id," + v.map(java.lang.Double.toString).mkString(",")
      }.mkString("|")
    ).mkString("\n")
    Fs.writeAtomic(Paths.get(path), body)
  }

  /** Install freshly trained centroids and their reference occupancy
    * (assignment counts of the training corpus). */
  def init(path: String, centroids: Array[Array[Double]],
           refOcc: Array[Long]): Unit =
    writeStore(path, State(-1L, 0L, centroids, refOcc,
      new Array[Long](centroids.length), Vector.empty))

  /** One map-side pass over the batch: (cell → count) under the
    * CURRENT centroids plus the batch's bottom-`sampleK` sample.
    * Null or wrong-dimension vectors are DROPPED here (r12 advice): a
    * null vector makes [[VectorSearch.topCells]] return null and the
    * occupancy `getInt` throw mid-batch, and an over-long vector
    * stored into the sample would overrun the retrain dot loop — a
    * poison row must not kill the stream. */
  private def batchStats(batch: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Double]], sampleK: Int)
      : (Array[Row], Array[Row]) = {
    val dims = centroids(0).length
    val cached = batch
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("id"),
        VectorSearch.toDouble(col(vecCol)).as("v"))
      .localCheckpoint() // occupancy agg + sample TopK share one scan
    val occ = cached
      .select(element_at(
        VectorSearch.topCells(col("v"), centroids, 1), 1).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("c"))
      .collect()
    val smp = graft.ops.TopK.perGroup(
        cached.select(col("id"), col("v"),
          graft.ops.Sketches.hash60(concat(lit("ivf:"),
            col("id").cast("string"))).as("h"))
          .withColumn("g", lit(1L)),
        "g", struct(col("h"), col("id"), col("v")), sampleK)
      .select(col("key.h"), col("key.id"), col("key.v"))
      .collect()
    (occ, smp)
  }

  /** Apply one batch if its id is new; retrain when PSI crosses
    * `psiThresholdMilli`. Exposed for the spec's replay/drift
    * experiments. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, vecCol: String,
                                k: Int, dims: Int, sampleK: Int,
                                psiThresholdMilli: Long,
                                storePath: String,
                                gate: Boolean = true): Unit = {
    val st = readStore(storePath, k, dims, sampleK)
    if (gate && bid <= st.applied) return
    if (batch.isEmpty) {
      writeStore(storePath, st.copy(applied = math.max(st.applied, bid)))
      return
    }
    val (occ, smp) = batchStats(batch, idCol, vecCol, st.centroids, sampleK)
    val cur = st.curOcc.clone()
    occ.foreach(r => cur(r.getInt(0)) += r.getLong(1))
    // merge law: bottom-K of (stored ∪ batch bottom-K) == bottom-K of
    // the union of all arrivals so far, independent of batch slicing.
    // distinct on (hash, id) FIRST (r12 advice): the same id re-sent
    // in a later batch must occupy one sample slot, not two.
    val merged = (st.sample ++ smp.map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray)))
      .distinctBy(t => (t._1, t._2))
      .sortBy(t => (t._1, t._2)).take(sampleK).toVector
    val psi = psiMilli(st.refOcc, cur)
    if (psi > psiThresholdMilli && merged.nonEmpty) {
      val cents = VectorSearch.kmeansCentroids(
        merged.map(_._3).toArray, k, iters = 4, seed = 42L)
      // reference resets to the sample's occupancy under the NEW
      // centroids (driver-side, O(K·k·dims)) so PSI restarts near 0
      val refOcc = new Array[Long](k)
      merged.foreach { case (_, _, v) =>
        var best = 0; var bestSim = Double.NegativeInfinity
        val nv = math.sqrt(v.map(x => x * x).sum)
        var ci = 0
        while (ci < k) {
          val c = cents(ci)
          // min-bound: a legacy store written before the ingest-side
          // dims filter may hold an over-long sample vector — clamp
          // rather than overrun c (r12 advice)
          val m = math.min(v.length, c.length)
          var d = 0.0; var i = 0
          while (i < m) { d += v(i) * c(i); i += 1 }
          val s = d / (nv * math.sqrt(c.map(x => x * x).sum))
          if (s > bestSim || (s == bestSim && ci > best)) {
            bestSim = s; best = ci
          }
          ci += 1
        }
        refOcc(best) += 1
      }
      writeStore(storePath, State(math.max(st.applied, bid),
        st.refreshes + 1, cents, refOcc, refOcc.clone(), merged))
    } else {
      writeStore(storePath, st.copy(
        applied = math.max(st.applied, bid), curOcc = cur,
        sample = merged))
    }
  }

  /** Wire an (id, vector) stream into the refresh loop. */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          k: Int, dims: Int, sampleK: Int, psiThresholdMilli: Long,
          storePath: String, trigger: Trigger): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        applyBatch(batch, bid, idCol, vecCol, k, dims, sampleK,
          psiThresholdMilli, storePath)
      }
}
