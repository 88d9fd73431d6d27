package graft.queries

import graft.Tables
import graft.ops.{ArtifactStore, Fs}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Eighty-third pipeline group — the artifact-root VACUUM as an
  * OPERATION (r15 verdict #8c: q390 made the lifecycle auditable;
  * this makes the audit actionable).
  *
  *  - q408: a scripted lifecycle plants the two debris classes the
  *    commit protocol can leave behind — an ORPHAN payload (the dead
  *    temp of a crashed build / the losing side of a same-address
  *    race, sitting next to a committed manifest that does not
  *    reference it) and a TORN build (an address directory with a
  *    payload but no manifest at all — died before its commit point).
  *    [[graft.ops.ArtifactStore.auditRoot]] classifies every payload
  *    directory (live / orphan / torn), [[ArtifactStore.vacuumRoot]]
  *    deletes the debris, and the query require-pins that the
  *    committed artifact serves IDENTICAL rows after the vacuum and
  *    that the post-vacuum audit is all-live. The oracle replays the
  *    classification from the FILESYSTEM ITSELF: DuckDB globs the
  *    root, re-derives each payload's address directory, joins the
  *    manifests (with their _SUCCESS liveness rule replayed
  *    literally), and must classify every payload identically —
  *    the protocol's reader rule checked by an engine that never saw
  *    the writer.
  *
  * CONCURRENCY SCOPE: drives a fixed `target/` root — correct under
  * the strictly-single-threaded driver contract (see
  * [[PipelineQueries75]]'s scope note).
  */
object PipelineQueries83 {

  /** q408's late-bound oracle (embeds the root path). */
  private object VacuumOracle {
    @volatile var sql: Option[String] = None
  }

  private def copyDir(src: java.nio.file.Path,
                      dst: java.nio.file.Path): Unit = {
    graft.ops.Fs.walk(src).foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t)
      }
    }
  }

  val defs: Seq[QDef] = Seq(

    QDef("q408_artifact_vacuum",
      (s, dir) => {
        val root = new java.io.File(
          "target/artifacts_vacuum").getAbsolutePath
        graft.ops.Fs.wipe(root)
        val nat = Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))
        val key = s"$dir#nation#vacuum"
        val prev = s.conf.getOption(ArtifactStore.RootConf)
        val servedBefore =
          try {
            s.conf.set(ArtifactStore.RootConf, root)
            val fp = ArtifactStore.fingerprint(nat, key)
            ArtifactStore.buildOrServe(s, "vac_mono", fp, "p=1", key)(nat)
              .count()
          } finally prev match {
            case Some(r) => s.conf.set(ArtifactStore.RootConf, r)
            case None => s.conf.unset(ArtifactStore.RootConf)
          }
        // plant the ORPHAN: a payload copy next to the committed one,
        // unreferenced by the manifest (what a crashed same-address
        // race leaves when its committer never ran cleanup)
        val addrDir = graft.ops.Fs.walk(Paths.get(root))
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("payload-"))
          .head.getParent
        val livePayload = graft.ops.Fs.ls(addrDir)
          .filter(p => p.getFileName.toString.startsWith("payload-"))
          .head
        copyDir(livePayload, addrDir.resolve("payload-deadbeef"))
        // plant the TORN build: a sibling address dir holding a
        // written payload (with its _SUCCESS) and NO manifest — a
        // build that died before its atomic manifest move
        val tornAddr = addrDir.getParent.resolve("fp_torn")
        Fs.writer(nat.limit(3))
          .parquet(tornAddr.resolve("payload-torn01").toString)
        VacuumOracle.sql = Some(
          s"""WITH f AS (SELECT substr(file, ${root.length + 2})
             |    AS rel FROM glob('$root/**')),
             |pay AS (SELECT DISTINCT
             |    regexp_extract(rel, '(.*)/(payload-[^/]+)/', 1)
             |      AS addr,
             |    regexp_extract(rel, '(.*)/(payload-[^/]+)/', 2)
             |      AS payload
             |  FROM f WHERE regexp_matches(rel, '/payload-[^/]+/')),
             |succ AS (SELECT DISTINCT
             |    regexp_extract(rel, '(.*)/(payload-[^/]+)/_SUCCESS$$', 1)
             |      AS addr,
             |    regexp_extract(rel, '(.*)/(payload-[^/]+)/_SUCCESS$$', 2)
             |      AS payload
             |  FROM f WHERE rel LIKE '%/_SUCCESS'),
             |ma AS (SELECT
             |    replace(substr(filename, ${root.length + 2}),
             |      '/manifest.json', '') AS addr,
             |    payload AS committed
             |  FROM read_json_auto('$root/**/manifest.json',
             |    filename=true)),
             |live AS (SELECT ma.addr, ma.committed FROM ma
             |  JOIN succ ON succ.addr = ma.addr
             |    AND succ.payload = ma.committed)
             |SELECT pay.addr, pay.payload,
             |  CASE WHEN live.addr IS NOT NULL
             |      AND pay.payload = live.committed THEN 'live'
             |    WHEN live.addr IS NOT NULL THEN 'orphan'
             |    ELSE 'torn' END AS status
             |FROM pay LEFT JOIN live ON pay.addr = live.addr
             |ORDER BY 1, 2""".stripMargin)
        val audit = ArtifactStore.auditRoot(root)
        // the OPERATION, pinned in-query ON A CLONE — the planted
        // root stays untouched so the oracle classifies the same
        // filesystem the audit saw: vacuum deletes exactly the
        // planted debris, the committed serve is untouched, and the
        // post-vacuum audit is all-live
        val opRoot = s"${root}_op"
        graft.ops.Fs.wipe(opRoot)
        copyDir(Paths.get(root), Paths.get(opRoot))
        require(ArtifactStore.auditRoot(opRoot) == audit,
          "the clone must audit identically to the planted root")
        val deleted = ArtifactStore.vacuumRoot(opRoot)
        require(deleted.size == 2 &&
          deleted.exists(_.endsWith("payload-deadbeef")) &&
          deleted.exists(_.contains("fp_torn/")),
          s"vacuum must delete exactly the planted debris, got $deleted")
        val after = ArtifactStore.auditRoot(opRoot)
        require(after.nonEmpty && after.forall(_._3 == "live"),
          s"post-vacuum audit must be all-live, got $after")
        val servedAfter =
          try {
            s.conf.set(ArtifactStore.RootConf, opRoot)
            val fp = ArtifactStore.fingerprint(nat, key)
            ArtifactStore.buildOrServe(s, "vac_mono", fp, "p=1", key)(
              sys.error("the committed artifact must still serve"))
              .count()
          } finally prev match {
            case Some(r) => s.conf.set(ArtifactStore.RootConf, r)
            case None => s.conf.unset(ArtifactStore.RootConf)
          }
        require(servedAfter == servedBefore,
          "the committed serve must be byte-identical after the vacuum")
        import s.implicits._
        audit.toDF("addr", "payload", "status").orderBy("addr", "payload")
      },
      None,
      Some(() => VacuumOracle.sql)),

    // Cross-batch containment-on-arrival (r15 verdict #8a): the
    // quotation detector as a MAINTAINED question — each arriving
    // slice asks "what prior doc do I quote (I'm contained), and what
    // prior doc quotes me (I'm the container)?" against the standing
    // postings index, BOTH directions in one pass, then posts itself.
    // The maintained store orders elements by raw shingle hash (a
    // FIXED global order — the inline op's document-frequency ranking
    // changes as the corpus grows, which an incremental index cannot
    // tolerate); the pigeonhole recall guarantee is order-agnostic,
    // so detection is still FULL-RECALL at the threshold and the
    // oracle is exhaustive exact containment over ordered pairs with
    // the cross-slice arrival condition (within-slice pairs never
    // meet — stated literally, the q394/q400 discipline).
    QDef("q409_containment_on_arrival",
      (s, dir) => {
        import graft.streaming.StreamContainIndex
        val store = new java.io.File(
          "target/stream_contain_arrival").getAbsolutePath
        graft.ops.Fs.wipe(store)
        val t = 0.9
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
        // the trained order model (the IVF-centroid pattern): hot
        // shingles sort last, so probe prefixes hold RARE shingles
        // and the candidate join never meets a hot bucket — pure cost
        // tuning (~10x on this hot-headed synthetic vocabulary), the
        // detected pairs are identical under any pinned order
        val hot = StreamContainIndex.trainHotSet(docs, "doc_id",
          "text", n = 512)
        val hits = (0 until 3).map { b =>
          val batch = docs.where(pmod(col("doc_id"), lit(3)) === b)
          // the round's postings derive ONCE (batchPosts checkpoints
          // its pre-explode frame): the candidate legs and the store
          // commit share the same materialization — the apply used to
          // re-run the tokenize → shingle-md5 → band-sort pass a
          // second time per round
          val posts = StreamContainIndex.batchPosts(batch, "doc_id",
            "text", hot)
          val cand =
            if (StreamContainIndex.appliedBid(store) < 0) None
            else {
              val prior = StreamContainIndex.servedPosts(s, store, hot)
              // materialized NOW (the q394 lesson): the next round's
              // serve vacuums this round's superseded part-artifacts
              Some(StreamContainIndex.arrivalCandidates(
                posts, prior, t).localCheckpoint())
            }
          StreamContainIndex.applyPosts(posts, b.toLong, store, hot)
          if (b == 1) StreamContainIndex.compact(s, store)
          cand
        }.flatten.reduce(_ unionAll _)
        // exact verification, candidates only: C(contained→container)
        // = |∩| / |contained's set|
        val corpus = PipelineQueries77.corpusShingles(s, dir)
        hits
          .join(corpus.select(col("doc_id").as("contained"),
            col("hs").as("hs_a")), "contained")
          .join(corpus.select(col("doc_id").as("container"),
            col("hs").as("hs_b")), "container")
          .withColumn("inter",
            size(array_intersect(col("hs_a"), col("hs_b"))))
          .withColumn("containment",
            col("inter").cast("double") / size(col("hs_a")).cast("double"))
          .filter(col("containment") >= t)
          .select(col("contained"), col("container"),
            round(col("containment"), 6).as("containment"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |  list_filter(string_split(text, ' '), x -> x != '')
              |    AS toks FROM documents),
              |s AS (
              |  SELECT doc_id, list_distinct(list_transform(
              |    CASE WHEN len(toks) >= 3 THEN
              |      list_transform(generate_series(1, len(toks) - 2),
              |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              |      ELSE [] END,
              |    g -> cast('0x' || substr(md5(g), 1, 8) as bigint)))
              |    AS sh
              |  FROM t),
              |p AS (
              |  SELECT a.doc_id AS contained, b.doc_id AS container,
              |    len(list_intersect(a.sh, b.sh)) AS inter,
              |    len(a.sh) AS la
              |  FROM s a JOIN s b ON a.doc_id != b.doc_id
              |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
              |    AND (a.doc_id % 3) != (b.doc_id % 3))
              |SELECT contained, container,
              |  round(inter::DOUBLE / la, 6) AS containment
              |FROM p WHERE inter::DOUBLE / la >= 0.9""".stripMargin)),

    // SemDeDup-ON-ARRIVAL (r15 verdict #8b): q107's cluster-scoped
    // semantic dedup as the embedding twin of q400's gate — arriving
    // vectors check the MAINTAINED IVF postings of everything that
    // arrived before them (cell-scoped candidates, the Σ cell² shape,
    // never corpus²), and retention is arrival order instead of
    // q107's lowest-id rule: the FIRST arrival in a semantic
    // neighborhood is kept, later ≥0.4-cosine arrivals in its cell
    // are dups. One audit row per vector with the verdict — the frame
    // an embedding-curation run ships. The oracle replays cell
    // assignment from centroid literals, the cross-slice arrival
    // condition (within-slice pairs never meet — stated literally),
    // and exact cosine.
    QDef("q410_semdedup_on_arrival",
      (s, dir) => {
        import graft.ops.VectorSearch
        import graft.streaming.StreamIvfIndex
        val store = new java.io.File(
          "target/stream_semdedup_arrival").getAbsolutePath
        graft.ops.Fs.wipe(store)
        val emb = Tables.embeddings(s, dir)
        val cents = VectorSearch.kmeansCentroids(
          VectorSearch.sampleVectors(emb, "vec_id", "embedding",
            n = 512, seed = 88),
          k = 8, iters = 10, seed = 88)
        SemArrivalOracle.sql = Some(semArrivalSql(cents, 0.4))
        val e = emb.select(col("vec_id"),
          VectorSearch.toDouble(col("embedding")).as("v"))
          .localCheckpoint() // both verification sides read it
        val dupIds = (0 until 3).map { b =>
          val batch = emb.where(pmod(col("vec_id"), lit(3)) === b)
          val cand =
            if (StreamIvfIndex.appliedBid(store) < 0) None
            else {
              val idx = StreamIvfIndex.servedAssign(s, store, cents, 1)
              // materialized NOW (the q394 lesson)
              Some(VectorSearch
                .ivfAssign(batch, "vec_id", "embedding", cents, 1)
                .as("x")
                .join(idx.as("y"), col("x.cell") === col("y.cell"))
                .select(col("x.id").as("vec_new"),
                  col("y.id").as("vec_prior"))
                .distinct()
                .localCheckpoint())
            }
          StreamIvfIndex.applyBatch(batch, b.toLong, "vec_id",
            "embedding", cents, 1, store)
          if (b == 1) StreamIvfIndex.compact(s, store)
          cand
        }.flatten.reduce(_ unionAll _)
          .join(e.select(col("vec_id").as("vec_new"),
            col("v").as("v_n")), "vec_new")
          .join(e.select(col("vec_id").as("vec_prior"),
            col("v").as("v_p")), "vec_prior")
          .filter(VectorSearch.cosine(col("v_n"), col("v_p")) >= 0.4)
          .select(col("vec_new").as("vec_id")).distinct()
          .withColumn("db", lit(true))
        VectorSearch.ivfAssign(emb, "vec_id", "embedding", cents, 1)
          .select(col("id").as("vec_id"), col("cell"))
          .join(dupIds, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            coalesce(col("db"), lit(false)).cast("long").as("is_dup"),
            (!coalesce(col("db"), lit(false))).cast("long")
              .as("accepted"))
      },
      None,
      Some(() => SemArrivalOracle.sql)))

  /** q410's late-bound oracle (embeds the trained centroid literals). */
  private object SemArrivalOracle {
    @volatile var sql: Option[String] = None
  }

  private def semArrivalSql(cents: Array[Array[Double]],
                            threshold: Double): String = {
    import VectorOracleSql.{cos, dbl, dot, norm, vlit}
    val cells = cents.zipWithIndex.map { case (c, i) =>
      val n = dbl(math.sqrt(c.map(x => x * x).sum))
      s"{'sim': ${dot("v", vlit(c))} / (${norm("v")} * $n), 'cell': $i}"
    }.mkString("[", ",\n", "]")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |a AS (SELECT vec_id, v,
       |    list_reverse_sort($cells)[1].cell AS cell
       |  FROM e),
       |r AS (SELECT DISTINCT b.vec_id FROM a x JOIN a b
       |    ON x.cell = b.cell AND (x.vec_id % 3) < (b.vec_id % 3)
       |  WHERE ${cos("x.v", "b.v")} >= ${dbl(threshold)})
       |SELECT a.vec_id, a.cell,
       |  CAST(r.vec_id IS NOT NULL AS BIGINT) AS is_dup,
       |  CAST(r.vec_id IS NULL AS BIGINT) AS accepted
       |FROM a LEFT JOIN r ON a.vec_id = r.vec_id""".stripMargin
  }
}
