package graft.streaming

import graft.functions.TextAnalysis
import graft.ops.{DeltaPartsStore, PinnedStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Streaming-maintained CONTAINMENT postings index — the corpus-side
  * state of the one-sided prefix-filtered containment join
  * ([[graft.ops.Dedup.containmentJoin]], the quotation/excerpt
  * detector), kept current one micro-batch at a time so every
  * arriving slice can ask "does this doc quote — or get quoted by —
  * anything that arrived before it?" without re-shingling the corpus
  * (r15 verdict #8a).
  *
  * One store serves BOTH probe directions. Rows are each doc's full
  * sorted distinct 3-shingle hash postings with position and length:
  * `(doc_id, tok, pos, len)`. The prefix-filter theorem (pigeonhole:
  * a container of `a` at threshold t must share one of a's first
  * `|a| − ceil(t·|a|) + 1` elements) needs the probe side's PREFIX
  * and the index side's FULL postings — and a prefix is just
  * `pos < len − ceil(t·len) + 1` over the full rows, so the store is
  * THRESHOLD-INDEPENDENT: t is a read-time parameter, never store
  * identity.
  *
  * The global element order must be FIXED across arrivals or the
  * positions written yesterday would be wrong under today's order —
  * the inline op's ascending-document-frequency ranking cannot be
  * maintained (df changes as the corpus grows). The recall guarantee
  * is order-agnostic (any fixed global order works), so the store
  * offers two FIXED orders:
  *
  *  - pure hash order (no training, the zero-config default);
  *  - HOT-BANDED order (the IVF-centroid pattern applied to
  *    AllPairs): the caller trains a bounded hot-shingle list from a
  *    reference corpus ([[trainHotSet]]) and pins it as store
  *    identity — hot shingles sort LAST (most frequent very last),
  *    everything else in hash order, so probe PREFIXES hold rare
  *    shingles and the candidate join's hot buckets never meet a
  *    probe row. This recovers the inline ranking's candidate-volume
  *    collapse at a FIXED order (measured on the house corpus: the
  *    q409 arrival sweep drops ~10× — the synthetic 31-word
  *    vocabulary is maximally hot-headed). Like an IVF matrix, a
  *    drifted hot set degrades COST, never recall — and the refresh
  *    answer is the same: retrain → NEW store identity → rebuild.
  *
  * A doc's rows depend on NOTHING but that doc, so the maintained
  * store is EXACT: slicing-invariant union fold (drain == batch
  * bit-for-bit), repack compaction (store fingerprint invariant),
  * part-addressed serving. The shingle geometry (k=3, hash order)
  * rides the house constants and is pinned like the winnow store's.
  * Store mechanics and the pin are [[graft.ops.DeltaPartsStore]]'s.
  */
object StreamContainIndex extends PinnedStore[String] {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("tok", LongType),
    StructField("pos", IntegerType),
    StructField("len", IntegerType)))

  /** House shingle width — lockstep with
    * [[graft.functions.TextAnalysis.shingleHashes]]. */
  val ShingleK = 3

  /** The pin line is kept as written: it carries the ORDER IDENTITY,
    * and a hot-banded store pins the full MD5 of its hot list, which
    * no codec could invert. */
  protected val pin =
    DeltaPartsStore.Pin[String]("geometry.txt", "geometry", identity, Some(_))

  /** The hot list itself (df-descending), pinned strictly BEFORE
    * `geometry.txt`: the geometry pin is the commit point, so a crash
    * between the writes leaves an unpinned store (re-pinned
    * idempotently), never a pinned store with a missing hot list. */
  private val hotPin = DeltaPartsStore.Pin[Seq[Long]]("hotset.txt",
    "hot-set", _.mkString(","),
    b => Some(if (b.isEmpty) Seq.empty else b.split(",").toSeq.map(_.toLong)))

  protected val artifactName = "contain_maintained_posts"

  /** The artifact params carry the PINNED order identity, so stores
    * under different orders can never collide on one artifact scope. */
  protected def artifactParams(storeDir: String) =
    geometry(storeDir).getOrElse(geomString(Seq.empty))

  /** A hot-banded store's order identity names its hot list by MD5 — a
    * store written under a different hot set has different positions
    * everywhere and must refuse. */
  private def geomString(hotSet: Seq[Long]): String =
    if (hotSet.isEmpty) s"shingles=$ShingleK,order=hash"
    else s"shingles=$ShingleK,order=hotband,n=${hotSet.length}," +
      s"h=${graft.ops.ArtifactStore.contentHash(hotSet.mkString(","))}"

  /** The folded postings: committed (doc_id, tok, pos, len) rows. */
  def posts(spark: SparkSession, storeDir: String): DataFrame =
    parts(spark, storeDir)

  /** The store's pinned geometry line, or None for an unpinned store. */
  def geometry(storeDir: String): Option[String] = pinned(storeDir)

  /** The store's pinned hot list, empty for a hash-order store —
    * readers that derive their own probe keys take the order FROM HERE
    * (the StreamIvfIndex.centroids pattern). */
  def hotSet(storeDir: String): Seq[Long] =
    hotPin.read(storeDir).getOrElse(Seq.empty)

  /** Positions under a different shingle width, order, or hot set are a
    * different index entirely. */
  def requireGeometry(storeDir: String,
                      hotSet: Seq[Long] = Seq.empty): Unit =
    requirePinned(storeDir, geomString(hotSet))

  /** Train a hot-shingle list from a reference corpus: the `n` most
    * frequent shingle hashes, df-descending (ties by hash) — a
    * bounded driver-side model, the AllPairs analogue of training IVF
    * centroids. Pure cost tuning: ANY list yields full recall. */
  def trainHotSet(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 512): Seq[Long] = {
    docs.where(col(textCol).isNotNull)
      .select(TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(explode(array_distinct(
        TextAnalysis.shingleHashes(col("toks")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc)
      .limit(n) // bounded driver collect: n rows, the trained model
      .collect().map(_.getLong(0)).toSeq
  }

  /** The banded sort KEY of a shingle hash under a pinned hot set:
    * non-hot hashes keep their value (< 2^32, hash order first), hot
    * hashes move past 2^62 with the most frequent LAST. Injective, so
    * key equality ⟺ shingle equality and the candidate join runs on
    * keys directly. An empty hot set is the identity — pure hash
    * order. */
  private def bandKey(tok: org.apache.spark.sql.Column,
                      hot: Seq[Long]): org.apache.spark.sql.Column =
    if (hot.isEmpty) tok
    else {
      // rank 0 = most frequent = largest key
      val m = hot.zipWithIndex
        .map { case (h, i) => h -> ((1L << 62) + (hot.length - i)) }
        .toMap
      coalesce(element_at(typedLit(m), tok), tok)
    }

  /** A batch's postings under the pinned order: distinct shingle
    * hashes as banded KEYS, sorted, with 0-based position and set
    * length — the SAME derivation for the store's apply and the query
    * side's probes, shared so they can never drift. Null-text and
    * <k-token docs drop (no shingles ⇒ no postings — the inline op's
    * filter). */
  def batchPosts(batch: DataFrame, idCol: String, textCol: String,
                 hot: Seq[Long] = Seq.empty): DataFrame =
    graft.ops.Dedup.spread(batch.where(col(textCol).isNotNull))
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), array_sort(transform(
        TextAnalysis.shingleHashes(col("toks")),
        t => bandKey(t, hot))).as("hs"))
      // materialized BEFORE the explode: project-into-generate
      // collapsing re-evaluates the generator input's subtree per
      // OUTPUT element (the shingles3 inlining rule one level up), so
      // without the cut the md5-shingle pipeline ran ~|hs| times per
      // doc — measured 5.6x on the q409 sweep
      .localCheckpoint()
      .select(col("doc_id"), size(col("hs")).as("len"),
        posexplode(col("hs")))
      .select(col("doc_id"), col("col").as("tok"),
        col("pos").cast("int").as("pos"), col("len").cast("int").as("len"))

  /** The probe-side PREFIX of a postings frame at threshold `t`: the
    * first `len − ceil(t·len) + 1` elements (pigeonhole bound). The
    * epsilon keeps exact-multiple lengths from overshooting the ceil
    * (the nearDupPrefix lesson: 0.9 × 20 = 18.000000000000004). */
  def prefixOf(posts: DataFrame, t: Double): DataFrame =
    posts.where(col("pos") <
      col("len") - ceil(lit(t) * col("len") - lit(1e-9)) + 1)

  /** Apply one batch: post the batch's shingle sets under the pinned
    * order, commit the part + sidecar, move the watermark. The first
    * apply pins the caller's hot set (possibly empty = hash order);
    * every later apply must match it exactly. A replayed bid is a
    * no-op. */
  private[graft] def applyBatch(batch: DataFrame, bid: Long,
                                idCol: String, textCol: String,
                                storeDir: String,
                                hot: Seq[Long] = Seq.empty): Unit =
    applyPosts(batchPosts(batch, idCol, textCol, hot), bid, storeDir, hot)

  /** [[applyBatch]] over ALREADY-DERIVED postings — for arrival loops
    * whose candidate leg computed [[batchPosts]] for the same batch
    * one expression earlier: committing that frame directly skips the
    * second tokenize → shingle-md5 → band-sort pass per round
    * ([[batchPosts]] checkpoints its pre-explode frame, so both
    * consumers share one materialization). */
  private[graft] def applyPosts(posts: DataFrame, bid: Long,
                                storeDir: String,
                                hot: Seq[Long] = Seq.empty): Unit =
    commitPinned(storeDir, bid, geomString(hot),
      beforePin = if (hot.nonEmpty) hotPin.write(storeDir, hot))(posts)

  def servedPosts(spark: SparkSession, storeDir: String): DataFrame =
    served(spark, storeDir)

  /** The validated serve path a caller that derives its own probe keys
    * should use. */
  def servedPosts(spark: SparkSession, storeDir: String,
                  hot: Seq[Long]): DataFrame =
    served(spark, storeDir, geomString(hot))

  /** Cross-batch containment CANDIDATES between an arriving batch's
    * postings and the standing index, BOTH directions in one pass:
    *
    *  - the arrival as CONTAINED (it quotes something older): its
    *    prefix probes the full prior postings;
    *  - the arrival as CONTAINER (something older is quoted by it):
    *    prior prefixes (derived from the same full store at read
    *    time) probe the arrival's full postings.
    *
    * Both legs carry the index-side positional filter
    * `len − pos ≥ ceil(t·|contained|)` (overlap from the first shared
    * element onward cannot exceed the index side's remaining
    * elements). Returns DISTINCT (contained, container) candidate
    * pairs — exact verification is the caller's (candidates only,
    * never the cross product). */
  def arrivalCandidates(batchPosts: DataFrame, prior: DataFrame,
                        t: Double): DataFrame = {
    def ceilT(n: org.apache.spark.sql.Column) =
      ceil(lit(t) * n - lit(1e-9))
    val asContained = prefixOf(batchPosts, t).as("a")
      .join(prior.as("b"), col("a.tok") === col("b.tok") &&
        (col("b.len") - col("b.pos")) >= ceilT(col("a.len")))
      .select(col("a.doc_id").as("contained"),
        col("b.doc_id").as("container"))
    val asContainer = prefixOf(prior, t).as("a")
      .join(batchPosts.as("b"), col("a.tok") === col("b.tok") &&
        (col("b.len") - col("b.pos")) >= ceilT(col("a.len")))
      .select(col("a.doc_id").as("contained"),
        col("b.doc_id").as("container"))
    asContained.unionByName(asContainer)
      .where(col("contained") =!= col("container"))
      .distinct()
  }
}
