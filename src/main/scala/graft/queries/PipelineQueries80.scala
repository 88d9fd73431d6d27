package graft.queries

import graft.Tables
import graft.ops.{ArtifactStore, VectorSearch}
import graft.streaming.{StreamIvfIndex, StreamLshIndex, StreamMinhashIndex,
  StreamSimhashIndex, StreamWinnowIndex}
import org.apache.spark.sql.functions._

/** Eightieth pipeline group — the maintained-index REGISTRY: every
  * pinned maintained store's operational surface (identity pin,
  * watermark, committed part count, sidecar-folded fingerprint) in
  * ONE frame, audited by two engines reading the SAME files
  * independently. q371/q378/q387/q390 audit the ARTIFACT side of the
  * lifecycle; this audits the STORE side — the thing a fleet operator
  * lists before trusting a serve tier: which indexes exist, under
  * which identity, applied through which batch, folding to which
  * content address.
  *
  *  - q397: drives one store of each pinned family (MinHash bands,
  *    sign-LSH, IVF postings, winnow fingerprints, SimHash
  *    signatures — a mid-life compaction on the LSH store so the
  *    registry sees a rollup part) plus a PLANTED TORN BATCH:
  *    a `bid=99` sidecar written with no watermark move. Both engines
  *    must exclude it — the Spark side through the store protocol's
  *    committed-part filter, the oracle by joining the sidecar list
  *    against `meta.txt` itself. The fingerprint column is the
  *    protocol's actual fold (Σ part sums mod 2⁶⁴ over committed
  *    sidecars, decimal), so the oracle re-derives the content
  *    address from raw sidecar JSON — the fold arithmetic itself is
  *    cross-engine checked, not trusted.
  *
  * CONCURRENCY SCOPE: drives fixed `target/` store paths — correct
  * under the strictly-single-threaded driver contract (see
  * [[PipelineQueries75]]'s scope note).
  */
object PipelineQueries80 {

  private val Mod64 = BigInt(2).pow(64)

  /** q397's late-bound oracle (embeds the absolute store paths). */
  private object RegistryOracle {
    @volatile var sql: Option[String] = None
  }

  /** q403's late-bound oracle (embeds the store + artifact roots). */
  private object StalenessOracle {
    @volatile var sql: Option[String] = None
  }

  /** q407's late-bound oracle (embeds five store paths + the root). */
  private object FleetStalenessOracle {
    @volatile var sql: Option[String] = None
  }

  /** The fold-and-hex replay CTEs for one DeltaPartsStore — DuckDB
    * re-deriving [[graft.ops.ArtifactStore.combineParts]]' canonical
    * `<16-hex sum mod 2^64>_<count>` address from raw sidecar JSON
    * and the meta watermark (torn parts excluded by the store's own
    * rule). ONE copy for q403's single-store audit and q407's fleet
    * sweep. Emits CTEs `m_$tag`, `f_$tag`, `cur_$tag` (the last with
    * a single `fp` column). */
  private def curFoldSql(tag: String, dirPath: String): String = {
    val mod = "CAST('18446744073709551616' AS HUGEINT)"
    val hsum = s"(sum(s2) % $mod)"
    s"""m_$tag AS (SELECT CAST(trim(content) AS BIGINT) AS applied
       |  FROM read_text('$dirPath/meta.txt')),
       |f_$tag AS (SELECT CAST(sum AS HUGEINT) AS s2,
       |    CAST(n AS BIGINT) AS n
       |  FROM read_json_auto('$dirPath/parts/_fp/*.json'), m_$tag
       |  WHERE CAST(replace(part, 'bid=', '') AS BIGINT)
       |    <= m_$tag.applied),
       |cur_$tag AS (SELECT
       |  lower(lpad(to_hex(CAST($hsum // 4294967296 AS BIGINT)),
       |      8, '0') ||
       |    lpad(to_hex(CAST($hsum % 4294967296 AS BIGINT)),
       |      8, '0')) || '_' || CAST(sum(n) AS VARCHAR) AS fp
       |  FROM f_$tag)""".stripMargin
  }

  /** One registry row from the STORE PROTOCOL's own reads: watermark
    * from meta, committed sidecars only, the canonical fold. */
  private def registryRow(store: String, identity: String,
                          dirPath: String, applied: Long)
      : (String, String, Long, Long, String, Long) = {
    // the store protocol's OWN committed-part rule (parse-and-refuse
    // included) — the registry audits the protocol, so it must never
    // re-implement what it audits
    val parts = ArtifactStore.readFpParts(s"$dirPath/parts",
      graft.ops.DeltaPartsStore.committedPartAt(s"$dirPath/parts",
        applied))
    val sum = parts.map(_._2._1)
      .foldLeft(BigInt(0))((a, b) => (a + b).mod(Mod64))
    (store, identity, applied, parts.size.toLong,
      sum.toString, parts.map(_._2._2).sum)
  }

  /** One store's oracle CTE pair + SELECT leg. */
  private def storeSql(store: String, dirPath: String,
                       identitySql: String): (String, String) = {
    val ctes =
      s"""m_$store AS (SELECT CAST(trim(content) AS BIGINT) AS applied
         |  FROM read_text('$dirPath/meta.txt')),
         |f_$store AS (SELECT CAST(sum AS HUGEINT) AS s,
         |    CAST(n AS BIGINT) AS n
         |  FROM read_json_auto('$dirPath/parts/_fp/*.json'), m_$store
         |  WHERE CAST(replace(part, 'bid=', '') AS BIGINT)
         |    <= m_$store.applied)""".stripMargin
    val leg =
      s"""SELECT '$store' AS store, $identitySql AS identity,
         |  (SELECT applied FROM m_$store) AS applied_bid,
         |  (SELECT CAST(count(*) AS BIGINT) FROM f_$store) AS n_parts,
         |  (SELECT CAST(sum(s) %
         |     CAST('18446744073709551616' AS HUGEINT) AS VARCHAR)
         |   FROM f_$store) AS fp_sum,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM f_$store) AS n_rows""".stripMargin
    (ctes, leg)
  }

  val defs: Seq[QDef] = Seq(

    QDef("q397_index_registry",
      (s, dir) => {
        val mh = new java.io.File("target/registry_minhash").getAbsolutePath
        val lsh = new java.io.File("target/registry_lsh").getAbsolutePath
        val ivf = new java.io.File("target/registry_ivf").getAbsolutePath
        val win = new java.io.File("target/registry_winnow").getAbsolutePath
        val sim = new java.io.File(
          "target/registry_simhash").getAbsolutePath
        Seq(mh, lsh, ivf, win, sim).foreach(graft.ops.Fs.wipe)
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        // IVF's trained matrix — driver-side, before the fan-out
        val cents = VectorSearch.kmeansCentroids(
          VectorSearch.sampleVectors(emb, "vec_id", "embedding",
            n = 256, seed = 7),
          k = 8, iters = 5, seed = 7)
        // The five family lifecycles are INDEPENDENT store drives
        // (disjoint store dirs, batches ordered only within a family)
        // — run them concurrently so the wall cost is the slowest
        // family, not the sum (guide §2.6 / the processBatch phase
        // idiom). Each family's own batch order is preserved inside
        // its task.
        graft.ops.Par.run(Seq[(String, () => Unit)](
          // MinHash bands: two arrival batches, then a TORN batch:
          // sidecar present, watermark never moved — both engines
          // must leave it out of the registry row
          "minhash" -> (() => {
            Seq(0, 1).foreach { b =>
              StreamMinhashIndex.applyBatch(
                docs.where(pmod(col("doc_id"), lit(2)) === b), b.toLong,
                "doc_id", "text", 12, 2, mh)
            }
            ArtifactStore.writeFpPart(s"$mh/parts", "bid=99",
              (BigInt(123456789), 45L))
          }),
          // sign-LSH: three batches with a mid-life compaction, so the
          // registry sees the rollup part under the same watermark
          "lsh" -> (() => {
            Seq(0, 1, 2).foreach { b =>
              StreamLshIndex.applyBatch(
                emb.where(pmod(col("vec_id"), lit(3)) === b), b.toLong,
                "vec_id", "embedding", 4, 4, 64, lsh)
            }
            StreamLshIndex.compact(s, lsh)
            ()
          }),
          // IVF postings: two batches under the trained matrix
          "ivf" -> (() =>
            Seq(0, 1).foreach { b =>
              StreamIvfIndex.applyBatch(
                emb.where(pmod(col("vec_id"), lit(2)) === b), b.toLong,
                "vec_id", "embedding", cents, 2, ivf)
            }),
          // winnow fingerprints: two arrival batches (its (k, w) pin
          // rides module constants — the registry shows the pin FILE)
          "winnow" -> (() =>
            Seq(0, 1).foreach { b =>
              StreamWinnowIndex.applyBatch(
                docs.where(pmod(col("doc_id"), lit(2)) === b), b.toLong,
                "doc_id", "text", win)
            }),
          // simhash signatures: two arrival batches
          "simhash" -> (() =>
            Seq(0, 1).foreach { b =>
              StreamSimhashIndex.applyBatch(
                docs.where(pmod(col("doc_id"), lit(2)) === b), b.toLong,
                "doc_id", "text", sim)
            })), 5) { case (_, f) => f() }
        // identity strings come off the stores' PIN CODECS (the engine
        // path: decode, re-encode, one-line summary); the oracle
        // re-reads the pin files raw
        val mhId = StreamMinhashIndex.pinLine(mh).get
        val lshId = StreamLshIndex.pinLine(lsh).get
        val ivfId = StreamIvfIndex.pinLine(ivf).get
        val winId = StreamWinnowIndex.pinLine(win).get
        val simId = StreamSimhashIndex.pinLine(sim).get
        val (mc, ml) = storeSql("minhash", mh,
          s"(SELECT trim(content) FROM read_text('$mh/geometry.txt'))")
        val (lc, ll) = storeSql("lsh", lsh,
          s"(SELECT trim(content) FROM read_text('$lsh/geometry.txt'))")
        val (ic, il) = storeSql("ivf", ivf,
          s"(SELECT split_part(content, chr(10), 1) " +
            s"FROM read_text('$ivf/centroids.txt'))")
        val (wc, wl) = storeSql("winnow", win,
          s"(SELECT trim(content) FROM read_text('$win/geometry.txt'))")
        val (hc, hl) = storeSql("simhash", sim,
          s"(SELECT trim(content) FROM read_text('$sim/geometry.txt'))")
        RegistryOracle.sql = Some(
          s"""WITH $mc,
             |$lc,
             |$ic,
             |$wc,
             |$hc
             |$ml
             |UNION ALL
             |$ll
             |UNION ALL
             |$il
             |UNION ALL
             |$wl
             |UNION ALL
             |$hl
             |ORDER BY store""".stripMargin)
        import s.implicits._
        Seq(
          registryRow("minhash", mhId, mh,
            StreamMinhashIndex.appliedBid(mh)),
          registryRow("lsh", lshId, lsh, StreamLshIndex.appliedBid(lsh)),
          registryRow("ivf", ivfId, ivf, StreamIvfIndex.appliedBid(ivf)),
          registryRow("winnow", winId, win,
            StreamWinnowIndex.appliedBid(win)),
          registryRow("simhash", simId, sim,
            StreamSimhashIndex.appliedBid(sim)))
          .toDF("store", "identity", "applied_bid", "n_parts",
            "fp_sum", "n_rows")
          .orderBy("store")
      },
      None,
      Some(() => RegistryOracle.sql)),

    // The registry-driven STALENESS audit (the freshness question
    // q397 and q371 each answer half of): which committed artifacts
    // still match their source store's CURRENT content address? The
    // serve path answers this implicitly (a stale address rebuilds on
    // the next serve); this makes it QUERYABLE for artifacts nobody
    // has re-served — the fleet-operator question "what would rebuild
    // if swept right now". A monolithic rollup builds over the
    // maintained store, the store moves on (one more batch, NOT
    // re-served — now stale), a sibling builds after the append
    // (current). Both engines derive "current" independently — the
    // Spark side through the store protocol's sidecar fold, the
    // oracle by re-deriving the FOLD AND ITS 16-HEX FORMAT from raw
    // sidecar JSON (combineParts replayed literally, hex and all) —
    // and read the same manifests. Single-threaded-driver scope.
    QDef("q403_artifact_staleness",
      (s, dir) => {
        val store = new java.io.File(
          "target/staleness_minhash").getAbsolutePath
        val root = new java.io.File(
          "target/artifacts_staleness").getAbsolutePath
        Seq(store, root).foreach(graft.ops.Fs.wipe)
        val docs = Tables.documents(s, dir)
        Seq(0, 1).foreach { b =>
          StreamMinhashIndex.applyBatch(
            docs.where(pmod(col("doc_id"), lit(3)) === b), b.toLong,
            "doc_id", "text", 12, 2, store)
        }
        val prev = s.conf.getOption(ArtifactStore.RootConf)
        val fpNow =
          try {
            s.conf.set(ArtifactStore.RootConf, root)
            def rollup(name: String) = ArtifactStore.buildOrServe(s,
              name, StreamMinhashIndex.storeFingerprint(store),
              "agg=perdoc", s"$store#$name")(
              StreamMinhashIndex.keys(s, store)
                .groupBy(col("doc_id"))
                .agg(count(lit(1)).as("n_keys")))
            rollup("minhash_rollup").count() // built at the 2-batch address
            // the store moves on; the rollup is NOT re-served → stale
            StreamMinhashIndex.applyBatch(
              docs.where(pmod(col("doc_id"), lit(3)) === 2), 2L,
              "doc_id", "text", 12, 2, store)
            rollup("minhash_rollup_fresh").count() // current by construction
            StreamMinhashIndex.storeFingerprint(store)
          } finally prev match {
            case Some(r) => s.conf.set(ArtifactStore.RootConf, r)
            case None => s.conf.unset(ArtifactStore.RootConf)
          }
        StalenessOracle.sql = Some(
          s"""WITH ${curFoldSql("s", store)}
             |SELECT name, fingerprint,
             |  CAST(fingerprint = cur_s.fp AS BIGINT) AS is_current
             |FROM read_json_auto('$root/*/*/*/manifest.json'), cur_s
             |ORDER BY name""".stripMargin)
        s.read.schema("name STRING, fingerprint STRING")
          .json(s"$root/*/*/*/manifest.json")
          .select(col("name"), col("fingerprint"),
            (col("fingerprint") === lit(fpNow)).cast("long")
              .as("is_current"))
          .orderBy("name")
      },
      None,
      Some(() => StalenessOracle.sql)),

    // The FLEET-WIDE staleness sweep (r15 verdict #4): q403's
    // question — "which served artifacts would rebuild if swept right
    // now" — asked across ALL FIVE pinned store families in one
    // frame. Per family: a store arrives in two batches, a rollup
    // artifact commits at that address, the store moves on (one more
    // batch, artifact deliberately NOT re-served — the planted stale
    // artifact), and a sibling builds after the append (current by
    // construction). The Spark side derives each family's CURRENT
    // address through the store protocol's sidecar fold; the oracle
    // re-derives every fold AND its 16-hex format from raw sidecar
    // JSON + meta watermark (curFoldSql ×5 — one fragment, five
    // instantiations) and reads the same manifests. Ten rows: one
    // stale + one current per family.
    QDef("q407_fleet_staleness",
      (s, dir) => {
        val root = new java.io.File(
          "target/artifacts_fleet").getAbsolutePath
        val dirs = Seq("minhash", "lsh", "ivf", "winnow", "simhash")
          .map(f => f -> new java.io.File(
            s"target/fleet_$f").getAbsolutePath).toMap
        (dirs.values.toSeq :+ root).foreach(graft.ops.Fs.wipe)
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val cents = VectorSearch.kmeansCentroids(
          VectorSearch.sampleVectors(emb, "vec_id", "embedding",
            n = 256, seed = 7),
          k = 8, iters = 5, seed = 7)
        // one batch of each family, by batch index b
        def apply(fam: String, b: Int): Unit = fam match {
          case "minhash" => StreamMinhashIndex.applyBatch(
            docs.where(pmod(col("doc_id"), lit(3)) === b), b.toLong,
            "doc_id", "text", 12, 2, dirs(fam))
          case "lsh" => StreamLshIndex.applyBatch(
            emb.where(pmod(col("vec_id"), lit(3)) === b), b.toLong,
            "vec_id", "embedding", 4, 4, 64, dirs(fam))
          case "ivf" => StreamIvfIndex.applyBatch(
            emb.where(pmod(col("vec_id"), lit(3)) === b), b.toLong,
            "vec_id", "embedding", cents, 2, dirs(fam))
          case "winnow" => StreamWinnowIndex.applyBatch(
            docs.where(pmod(col("doc_id"), lit(3)) === b), b.toLong,
            "doc_id", "text", dirs(fam))
          case "simhash" => StreamSimhashIndex.applyBatch(
            docs.where(pmod(col("doc_id"), lit(3)) === b), b.toLong,
            "doc_id", "text", dirs(fam))
        }
        def readStore(fam: String) = fam match {
          case "minhash" => StreamMinhashIndex.keys(s, dirs(fam))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
          case "lsh" => StreamLshIndex.buckets(s, dirs(fam))
            .groupBy(col("id")).agg(count(lit(1)).as("n"))
          case "ivf" => StreamIvfIndex.assign(s, dirs(fam))
            .groupBy(col("id")).agg(count(lit(1)).as("n"))
          case "winnow" => StreamWinnowIndex.fps(s, dirs(fam))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
          case "simhash" => StreamSimhashIndex.sigs(s, dirs(fam))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        }
        def fp(fam: String) = fam match {
          case "minhash" => StreamMinhashIndex.storeFingerprint(dirs(fam))
          case "lsh" => StreamLshIndex.storeFingerprint(dirs(fam))
          case "ivf" => StreamIvfIndex.storeFingerprint(dirs(fam))
          case "winnow" => StreamWinnowIndex.storeFingerprint(dirs(fam))
          case "simhash" => StreamSimhashIndex.storeFingerprint(dirs(fam))
        }
        val fams = Seq("minhash", "lsh", "ivf", "winnow", "simhash")
        val prev = s.conf.getOption(ArtifactStore.RootConf)
        val current =
          try {
            s.conf.set(ArtifactStore.RootConf, root)
            // the five family lifecycles are independent (disjoint
            // store dirs, distinct artifact names) — drive them
            // concurrently; each family's batch→build→append→build
            // order is preserved inside its task (guide §2.6, the
            // q397/processBatch fan-out idiom)
            graft.ops.Par.run(fams, fams.size) { fam =>
              Seq(0, 1).foreach(apply(fam, _))
              // built at the 2-batch address — goes STALE below.
              // With a root set, buildOrServe COMMITS the build before
              // returning (ensureCommitted writes eagerly), so the
              // count() these calls used to carry was one redundant
              // serve-read job per build — 10 jobs across the fleet
              ArtifactStore.buildOrServe(s, s"fleet_${fam}_rollup",
                fp(fam), "agg=n", s"${dirs(fam)}#$fam")(readStore(fam))
              apply(fam, 2) // the store moves on; rollup not re-served
              // a sibling name built NOW — current by construction
              ArtifactStore.buildOrServe(s, s"fleet_${fam}_fresh",
                fp(fam), "agg=n", s"${dirs(fam)}#$fam")(readStore(fam))
              fam -> fp(fam)
            }
          } finally prev match {
            case Some(r) => s.conf.set(ArtifactStore.RootConf, r)
            case None => s.conf.unset(ArtifactStore.RootConf)
          }
        val folds = fams.map(f => curFoldSql(f, dirs(f)))
          .mkString(",\n")
        val cases = fams.map(f =>
          s"WHEN '$f' THEN (SELECT fp FROM cur_$f)").mkString("\n    ")
        FleetStalenessOracle.sql = Some(
          s"""WITH $folds,
             |man AS (SELECT
             |    regexp_extract(name, 'fleet_([a-z]+)_', 1) AS store,
             |    name, fingerprint
             |  FROM read_json_auto('$root/*/*/*/manifest.json'))
             |SELECT store, name, fingerprint,
             |  CAST(fingerprint = CASE store
             |    $cases
             |    END AS BIGINT) AS is_current
             |FROM man ORDER BY name""".stripMargin)
        import s.implicits._
        val curDf = broadcast(current.toDF("store", "cur_fp"))
        s.read.schema("name STRING, fingerprint STRING")
          .json(s"$root/*/*/*/manifest.json")
          .select(regexp_extract(col("name"), "fleet_([a-z]+)_", 1)
            .as("store"), col("name"), col("fingerprint"))
          .join(curDf, "store")
          .select(col("store"), col("name"), col("fingerprint"),
            (col("fingerprint") === col("cur_fp")).cast("long")
              .as("is_current"))
          .orderBy("name")
      },
      None,
      Some(() => FleetStalenessOracle.sql)))
}
