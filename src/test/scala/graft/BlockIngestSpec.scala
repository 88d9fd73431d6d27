package graft

import graft.domain.{AccountLedger, Actors, OuiLedger}
import graft.ops.CommittedParquet
import graft.streaming.BlockIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Golden end-to-end ingest over the committed block fixtures: full
  * drain, idempotent replay, and the strict-order assertion.
  */
class BlockIngestSpec extends SparkSpec {
  import spark.implicits._

  private val streamDir = "/root/repo/fixtures/stream"

  test("golden ingest: fixtures -> blocks/transactions/actors/inventory") {
    val sink = Files.createTempDirectory("ingest").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    BlockIngest.run(spark, streamDir, sink, ckpt)

    val blocks = spark.read.parquet(s"$sink/blocks")
    val txns = spark.read.parquet(s"$sink/transactions")
    val actors = spark.read.parquet(s"$sink/transaction_actors")
    val inv = spark.read.parquet(s"$sink/actor_inventory")

    assert(BlockIngest.committedHeight(sink) === 60L)
    assert(blocks.count() === 60L)
    val expectedTxns = spark.read
      .parquet("/root/repo/fixtures/transactions.parquet")
    assert(txns.count() === expectedTxns.count())
    // actor rows must equal the batch operator over the same txns
    val expectedActors = Actors.transactionActors(expectedTxns)
    assert(actors.count() === expectedActors.count())
    assert(actors.select("actor", "actor_role", "transaction_hash")
      .except(expectedActors.select("actor", "actor_role", "transaction_hash"))
      .count() === 0L)
    // inventory: one row per distinct actor, counts add up
    assert(inv.count() ===
      expectedActors.select("actor").distinct().count())
    assert(inv.agg(sum("n_rows")).head().getLong(0) === expectedActors.count())
    val sample = inv.orderBy("actor").limit(1).collect().head
    assert(sample.getAs[Long]("first_block") <= sample.getAs[Long]("last_block"))

    // derived fact tables agree with the declared query operators
    val rewards = spark.read.parquet(s"$sink/rewards")
    val q36 = SparkEntry.queries("q36_rewards_rollup")(spark, "unused")
    assert(rewards.count() === q36.count())
    assert(rewards.agg(sum("amount")).head().getLong(0) ===
      q36.agg(sum("amount")).head().getLong(0))
    val burns = spark.read.parquet(s"$sink/dc_burns")
    val q35 = SparkEntry.queries("q35_dc_burns")(spark, "unused")
    assert(burns.count() === q35.count())
    assert(spark.read.parquet(s"$sink/packets").count() > 0)
    assert(spark.read.parquet(s"$sink/oracle_prices").count() > 0)

    // gateway_inventory: incremental merge == whole-corpus recompute,
    // and the coalesce rule held (owner from add_gateway survives a
    // later assert_location that only sets location)
    val gwInv = spark.read.parquet(s"$sink/gateway_inventory")
    val gwTxns = expectedTxns.filter(col("type").isin("add_gateway_v1",
      "gen_gateway_v1", "assert_location_v1", "assert_location_v2",
      "transfer_hotspot_v1", "transfer_hotspot_v2"))
    assert(gwInv.count() > 0)
    assert(gwInv.filter(col("last_owner").isNull).count() <
      gwInv.count(), "some gateways must have a resolved owner")
    val multiRow = gwInv.filter(col("n_rows") > 1).count()
    assert(multiRow > 0, "fixtures must exercise multi-txn gateways")
    assert(gwInv.agg(sum("n_rows")).head().getLong(0) ===
      gwTxns.filter(
        get_json_object(col("fields"), "$.gateway").isNotNull).count())

    // validator_inventory: lifecycle rows folded, statuses resolved
    val vInv = spark.read.parquet(s"$sink/validator_inventory")
    assert(vInv.count() > 0)
    assert(vInv.filter(col("last_status").isin("staked", "unstaked"))
      .count() === vInv.filter(col("last_status").isNotNull).count())
    assert(vInv.filter(col("last_heartbeat").isNotNull).count() > 0,
      "heartbeats must register")

    // account_inventory: the single-drain fold equals the one-shot
    // recompute (which q63 checks against the DuckDB oracle)
    val acctInv = graft.ops.Inventory.readBucketedState(spark,
      s"$sink/account_inventory")
    val acctExp = AccountLedger.inventory(expectedTxns)
    assert(acctInv.except(acctExp).count() === 0L)
    assert(acctExp.except(acctInv).count() === 0L)

    // oui_inventory: genuine LIST columns round-trip through parquet
    val ouiInv = spark.read.parquet(s"$sink/oui_inventory")
    assert(ouiInv.schema("addresses").dataType.simpleString ===
      "array<string>")
    assert(ouiInv.schema("subnets").dataType.simpleString ===
      "array<array<int>>")
    assert(ouiInv.count() > 0)

    // dirty sets: actor-derived keys + the CDC sidecar keys
    val dirty = spark.read.parquet(s"$sink/dirty_sets")
    val cdc7 = graft.fixtures.FixtureGen.cdcKeys(7L).get
    cdc7._1.foreach { acct =>
      assert(dirty.filter(col("block") === 7 && col("actor") === acct &&
        col("kind") === "account").count() === 1L,
        s"cdc account $acct missing from block-7 dirty set")
    }
    // snapshot manifest records the newest snapshot block (52 = 13*4)
    val snap = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sink/latest-snap.json")), "UTF-8")
    assert(snap.contains("\"height\": 52"))

    // replay the same stream from a fresh checkpoint: all heights are
    // already committed -> every table unchanged (idempotent)
    val ckpt2 = Files.createTempDirectory("ckpt2").toString
    BlockIngest.run(spark, streamDir, sink, ckpt2)
    assert(BlockIngest.committedHeight(sink) === 60L)
    assert(spark.read.parquet(s"$sink/blocks").count() === 60L)
    assert(spark.read.parquet(s"$sink/transactions").count() === txns.count())
    assert(spark.read.parquet(s"$sink/transaction_actors").count() === actors.count())
    assert(spark.read.parquet(s"$sink/actor_inventory")
      .agg(sum("n_rows")).head().getLong(0) === expectedActors.count())
  }

  test("account & oui inventories: 3-batch incremental fold == single-shot") {
    val sink = Files.createTempDirectory("ingest3b").toString
    val blocks = spark.read.schema(BlockIngest.blockSchema)
      .json(s"$streamDir/blocks.jsonl")
    Seq((1L, 20L), (21L, 40L), (41L, 60L)).foreach { case (lo, hi) =>
      BlockIngest.processBatch(spark,
        blocks.filter(col("height").between(lo, hi)), sink)
    }
    val txns = spark.read.parquet("/root/repo/fixtures/transactions.parquet")

    // accounts: additive balances + newest-wins nonces across batch
    // boundaries must equal the whole-corpus fold
    val acct = graft.ops.Inventory.readBucketedState(spark,
      s"$sink/account_inventory")
    val acctExp = AccountLedger.inventory(txns)
    assert(acct.count() === acctExp.count())
    assert(acct.except(acctExp).count() === 0L)
    assert(acctExp.except(acct).count() === 0L)
    // the nonce coalesce case is exercised: accounts whose nonce was set
    // in an earlier batch and not touched later keep it
    assert(acct.filter(col("nonce") > 0).count() > 0)
    assert(acct.filter(col("balance") =!= 0).count() > 0)

    // updated_at touch across batches: each actor-inventory row carries
    // the watermark time of the LAST batch that updated it (batch ends
    // at heights 20/40/60, block time = 1600000000 + h*60)
    val actorInv = spark.read.parquet(s"$sink/actor_inventory")
    val expTouch = timestamp_seconds(lit(1600000000L) +
      ceil(col("last_block") / lit(20.0)).cast("long") * 20L * 60L)
    assert(actorInv.filter(col("updated_at") =!= expTouch).count() === 0L,
      "updated_at must equal the touching batch's watermark time")
    assert(actorInv.select("updated_at").distinct().count() === 3L,
      "rows untouched by later batches keep their earlier updated_at")

    // ouis: subnet accumulation across batches (compare as JSON — the
    // nested lists aren't hashable for except on some planners)
    def canon(df: DataFrame): DataFrame =
      df.select(col("oui"), col("owner"), col("nonce"),
        to_json(col("addresses")).as("a"), to_json(col("subnets")).as("s"),
        col("first_block"), col("last_block"))
    val oui = graft.ops.Inventory.readBucketedState(spark,
      s"$sink/oui_inventory")
    val ouiExp = OuiLedger.inventory(txns)
    assert(canon(oui).except(canon(ouiExp)).count() === 0L)
    assert(canon(ouiExp).except(canon(oui)).count() === 0L)
    // every subnet allocation event (oui_v1 grant + request_subnet) must
    // land in exactly one inventory list — accumulation loses nothing
    val subnetEvents =
      txns.filter(col("type") === "oui_v1").count() +
        txns.filter(col("type") === "routing_v1" &&
          get_json_object(col("fields"), "$.action.action") ===
            "request_subnet").count()
    assert(oui.agg(sum(size(col("subnets")))).head().getLong(0) ===
      subnetEvents)

    // reward_scale guard (ref: be_db_gateway.erl:158-186): a CDC gateway
    // is dirty only when its carried scale CHANGED (odd fixture
    // occurrences) — even occurrences repeat the scale and are skipped
    // unless the block's own actors dirtied the gateway anyway. The
    // 3-batch split makes the guard chain across batch boundaries.
    import spark.implicits._
    val dirty = spark.read.parquet(s"$sink/dirty_sets")
      .withColumn("block", col("block").cast("long"))
    val gwRoles = Seq("gateway", "reward_gateway", "witness",
      "challenger", "challengee", "packet_receiver")
    val actorGw = Actors.transactionActors(txns)
      .filter(col("actor_role").isin(gwRoles.map(x => x: Any): _*))
      .select(col("block"), col("actor")).distinct()
      .as[(Long, String)].collect().toSet
    var skipsSeen = 0
    (7L to 56L by 7L).foreach { h =>
      graft.fixtures.FixtureGen.cdcScales(h).foreach { case (g, _) =>
        val occ = (7L to h by 7L).count(hh =>
          graft.fixtures.FixtureGen.cdcKeys(hh).exists(_._2.contains(g)))
        val present = dirty.filter(col("block") === h &&
          col("actor") === g && col("kind") === "gateway").count() == 1L
        if (occ % 2 == 1) assert(present, s"changed scale must process $g@$h")
        else if (!actorGw((h, g))) {
          assert(!present, s"unchanged scale must skip $g@$h")
          skipsSeen += 1
        }
      }
    }
    assert(skipsSeen > 0, "fixtures must exercise the guard's skip branch")
    // the scales log resolves to each gateway's newest carried scale
    val scales = spark.read.parquet(s"$sink/gateway_scales")
      .withColumn("block", col("block").cast("long"))
      .groupBy("actor").agg(max_by(col("scale"), col("block")).as("s"))
      .as[(String, Double)].collect().toMap
    (7L to 56L by 7L).foreach { h =>
      graft.fixtures.FixtureGen.cdcScales(h).foreach { case (g, sc) =>
        val lastH = (7L to 56L by 7L).filter(hh =>
          graft.fixtures.FixtureGen.cdcKeys(hh).exists(_._2.contains(g))).max
        if (h == lastH) assert(scales(g) === sc, s"stored scale for $g")
      }
    }
  }

  test("dirty-set guard survives a crash-replay (scales log is watermark-gated)") {
    // a crash AFTER writeDirtySets (scales log written) but BEFORE the
    // watermark commit must not change the replayed batch's dirty set:
    // the guard reads the log only up to the committed watermark
    val sink = Files.createTempDirectory("ingest_replay").toString
    val blocks = spark.read.schema(BlockIngest.blockSchema)
      .json(s"$streamDir/blocks.jsonl")
    Seq((1L, 40L), (41L, 60L)).foreach { case (lo, hi) =>
      BlockIngest.processBatch(spark,
        blocks.filter(col("height").between(lo, hi)), sink)
    }
    def batch3Dirty = spark.read.parquet(s"$sink/dirty_sets")
      .withColumn("block", col("block").cast("long"))
      .filter(col("block") > 40L && col("kind") === "gateway")
      .select("block", "actor")
      .as[(Long, String)].collect().toSet
    val before = batch3Dirty
    assert(before.nonEmpty)
    // simulate the crash: drop the last commit manifest (the commit
    // point), replay the last batch
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$sink/_commits/60.json"))
    assert(BlockIngest.committedHeight(sink) === 40L)
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(41L, 60L)), sink)
    assert(BlockIngest.committedHeight(sink) === 60L)
    assert(batch3Dirty === before,
      "replay must reproduce the identical dirty set, not drop guarded rows")
  }

  test("kill mid-commit: a manifest-resolving reader never sees a torn batch") {
    val sink = Files.createTempDirectory("ingest_acid").toString
    val blocks = spark.read.schema(BlockIngest.blockSchema)
      .json(s"$streamDir/blocks.jsonl")
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(1L, 40L)), sink)
    def committedAcct() = BlockIngest
      .readCommitted(spark, sink, "account_inventory")
      .drop("bucket", "merged_height")
    val blocksBefore = BlockIngest.readCommitted(spark, sink, "blocks").count()
    val txnsBefore = BlockIngest.readCommitted(spark, sink, "transactions").count()
    val acctBefore = committedAcct().orderBy("address").collect()
    assert(blocksBefore === 40L)

    // kill #1: after the fact tables, before inventories and commit
    intercept[IllegalStateException](BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(41L, 60L)), sink,
      crashAt = Some("after-facts")))
    // the torn files ARE on disk — a raw directory read sees them…
    assert(spark.read.parquet(s"$sink/blocks").count() === 60L)
    // …but the committed snapshot is intact, with no height filter in
    // the reader
    assert(BlockIngest.committedHeight(sink) === 40L)
    assert(BlockIngest.readCommitted(spark, sink, "blocks").count() ===
      blocksBefore)
    assert(BlockIngest.readCommitted(spark, sink, "transactions").count() ===
      txnsBefore)

    // kill #2: EVERY table written (inventories merged to 60), the
    // manifest rename never happened — inventory reads still resolve
    // the height-40 bucket versions
    intercept[IllegalStateException](BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(41L, 60L)), sink,
      crashAt = Some("before-commit")))
    assert(BlockIngest.committedHeight(sink) === 40L)
    assert(committedAcct().orderBy("address").collect() === acctBefore)

    // recovery: a plain replay completes the batch exactly once
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(41L, 60L)), sink)
    assert(BlockIngest.committedHeight(sink) === 60L)
    assert(BlockIngest.readCommitted(spark, sink, "blocks").count() === 60L)
    val txns = spark.read.parquet("/root/repo/fixtures/transactions.parquet")
    val acctExp = AccountLedger.inventory(txns)
    assert(committedAcct().except(acctExp).count() === 0L)
    assert(acctExp.except(committedAcct()).count() === 0L)
  }

  test("continuous follow mode picks up newly dropped block files") {
    import java.nio.file.Paths
    val base = Files.createTempDirectory("follow").toString
    val sdir = s"$base/stream"
    Files.createDirectories(Paths.get(sdir))
    val lines = Files.readAllLines(
      Paths.get("/root/repo/fixtures/stream/blocks.jsonl"))
    Files.write(Paths.get(s"$sdir/a.jsonl"),
      String.join("\n", lines.subList(0, 30)).getBytes("UTF-8"))
    val q = BlockIngest.run(spark, sdir, s"$base/sink", s"$base/ckpt",
      followIntervalMs = Some(200L), bucketBlocks = Some(8L),
      compactAfterSlices = 1)
    def await(h: Long): Boolean = {
      val deadline = System.currentTimeMillis() + 60000
      while (BlockIngest.committedHeight(s"$base/sink") < h &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      BlockIngest.committedHeight(s"$base/sink") >= h
    }
    try {
      assert(await(30L), "first drop must commit through height 30")
      // a new file lands while the follower is live — the reference's
      // continuous block-follow
      Files.write(Paths.get(s"$sdir/b.jsonl"),
        String.join("\n", lines.subList(30, 60)).getBytes("UTF-8"))
      assert(await(60L), "follower must ingest the new file to height 60")
      // auto-compaction (compactAfterSlices=1, i.e. fold any bucket
      // at >=2 slices) runs AFTER the commit that moved the
      // watermark, so poll for the folded state before stopping: the
      // bucket both drops touched (hb=3 spans blocks 24..31) must
      // collapse to one slice
      val txRoot = java.nio.file.Paths.get(s"$base/sink/transactions")
      def allOneSlice(): Boolean = {
        val hbs = graft.ops.Fs.ls(txRoot)
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("hb="))
        hbs.nonEmpty && hbs.forall(hb => graft.ops.Fs.ls(hb)
          .count(_.getFileName.toString.startsWith("slice=")) == 1)
      }
      val deadline = System.currentTimeMillis() + 60000
      while (!allOneSlice() && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(allOneSlice(),
        "auto-compaction must fold every bucket to one slice")
    } finally q.stop()
    // consistency after the fold: committed view intact, no debris
    BlockIngest.recoverFactCompaction(s"$base/sink")
    assert(spark.read.parquet(s"$base/sink/blocks").count() === 60L)
    assert(BlockIngest.readCommitted(spark, s"$base/sink", "blocks")
      .count() === 60L)
  }

  test("height gap aborts the batch (strict ordering)") {
    val sink = Files.createTempDirectory("ingest_gap").toString
    val batch = Seq((5L, 1000L, "h5", "h4", 1L, 1L, 1L))
      .toDF("height", "time", "block_hash", "prev_hash",
        "election_epoch", "epoch_start", "hbbft_round")
      .withColumn("transactions", typedLit(
        Seq.empty[(String, String, String)])
        .cast("array<struct<hash:string,type:string,fields:string>>"))
    val e = intercept[Exception](
      BlockIngest.processBatch(spark, batch, sink))
    assert(e.getMessage.contains("height gap"))
  }

  test("non-consecutive heights inside one batch abort") {
    val sink = Files.createTempDirectory("ingest_gap2").toString
    val batch = Seq(
        (1L, 1000L, "h1", "h0", 1L, 1L, 1L),
        (3L, 1002L, "h3", "h2", 1L, 1L, 1L))
      .toDF("height", "time", "block_hash", "prev_hash",
        "election_epoch", "epoch_start", "hbbft_round")
      .withColumn("transactions", typedLit(
        Seq.empty[(String, String, String)])
        .cast("array<struct<hash:string,type:string,fields:string>>"))
    val e = intercept[Exception](
      BlockIngest.processBatch(spark, batch, sink))
    assert(e.getMessage.contains("non-consecutive"))
  }

  test("orphan-file audit + vacuum: torn files above the watermark " +
    "are pending (untouched), unmanifested debris below it is orphan " +
    "(deleted), and every committed read — time travel included — is " +
    "byte-identical after the vacuum") {
    val sink = Files.createTempDirectory("ingest_vac").toString
    val blocks = spark.read.schema(BlockIngest.blockSchema)
      .json(s"$streamDir/blocks.jsonl")
    // two retained commits so readCommittedAt time-travels the window
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(1L, 40L)), sink,
      retainCommits = 2)
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(41L, 50L)), sink,
      retainCommits = 2)
    // torn LATER batch: facts for 51..60 land, no manifest
    intercept[IllegalStateException](BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(51L, 60L)), sink,
      crashAt = Some("after-facts"), retainCommits = 2))
    // manual debris in a COMMITTED leaf: a copied, unmanifested part
    // file (the crashed-vacuum / stray-writer class). Default bucket
    // width (1024): every fixture height shares hb=0; the first
    // batch's leaf is slice=40.
    val leaf1 = java.nio.file.Paths.get(s"$sink/blocks/hb=0/slice=40")
    val src = graft.ops.Fs.ls(leaf1)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val junk = leaf1.resolve("part-99999-planted-junk.parquet")
    java.nio.file.Files.copy(src, junk)

    val audit = BlockIngest.auditOrphans(sink)
    val byStatus = audit.groupBy(_._3).view.mapValues(_.map(_._1)).toMap
    assert(byStatus("orphan") ===
      Seq(s"blocks/hb=0/slice=40/${junk.getFileName}"),
      s"exactly the planted junk is orphan: ${byStatus.get("orphan")}")
    val pending = byStatus.getOrElse("pending", Seq.empty)
    assert(pending.nonEmpty && pending.forall(_.contains("slice=60/")),
      s"the torn 51..60 files (slice=60) are pending, nothing else: " +
        s"$pending")
    assert(byStatus("live").nonEmpty)

    def snap() = (
      BlockIngest.readCommitted(spark, sink, "blocks").count(),
      BlockIngest.readCommittedAt(spark, sink, "blocks", 40L).count(),
      BlockIngest.readCommitted(spark, sink, "account_inventory")
        .drop("bucket", "merged_height").orderBy("address").collect().toSeq)
    val before = snap()
    val deleted = BlockIngest.vacuumOrphans(sink)
    assert(deleted === byStatus("orphan"))
    assert(!java.nio.file.Files.exists(junk), "orphan must be deleted")
    assert(snap() === before,
      "committed snapshots must be byte-identical after the vacuum")
    // pending files survived — the replay completes the torn batch
    assert(spark.read.parquet(s"$sink/blocks").count() === 60L)
    BlockIngest.processBatch(spark,
      blocks.filter(col("height").between(51L, 60L)), sink,
      retainCommits = 2)
    assert(BlockIngest.committedHeight(sink) === 60L)
    // post-replay the store is fully clean: nothing orphan, nothing
    // pending (dynamic overwrite superseded the torn files in place)
    val after = BlockIngest.auditOrphans(sink)
    assert(after.forall(_._3 == "live"),
      s"non-live after replay: ${after.filter(_._3 != "live").take(5)}")
  }

  /** Blocks as the follower's JSON lines carry them. */
  private def jsonBlocks(lines: String*): DataFrame =
    spark.read.schema(BlockIngest.blockSchema).json(lines.toDS())

  private def committedStats(sink: String): Map[String, Long] =
    BlockIngest.readCommitted(spark, sink, "stats_inventory").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("value")).toMap

  test("a block without a transactions key ingests with zero transactions") {
    val sink = Files.createTempDirectory("ingest_notxns").toString
    BlockIngest.processBatch(spark, jsonBlocks(
      """{"height":1,"time":1000,"block_hash":"h1","prev_hash":"h0"}""",
      """{"height":2,"time":1060,"block_hash":"h2","prev_hash":"h1",""" +
        """"transactions":[{"hash":"t1","type":"poc_request_v1",""" +
        """"fields":{}},{"hash":"t2","type":"consensus_group_v1",""" +
        """"fields":{}}]}"""), sink)
    assert(BlockIngest.committedHeight(sink) === 2L)
    assert(BlockIngest.readCommitted(spark, sink, "blocks").count() === 2L)
    assert(BlockIngest.readCommitted(spark, sink, "transactions")
      .select("block").as[Long].collect().sorted.toSeq === Seq(2L, 2L))
    val stats = committedStats(sink)
    assert(stats("blocks") === 2L)
    assert(stats("transactions") === 2L)
    assert(stats("challenges") === 1L)
    assert(stats("consensus_groups") === 1L)
  }

  test("gateway_scales is written iff the batch carries a gateway scale") {
    val sink = Files.createTempDirectory("ingest_scales").toString
    def block(h: Long, cdc: String) =
      s"""{"height":$h,"time":${1000 + h},"block_hash":"h$h",""" +
        s""""prev_hash":"h${h - 1}","cdc_keys":$cdc,"transactions":[]}"""
    def scales(gs: (String, Double)*) = gs.map { case (g, s) =>
      s"""{"gateway":"$g","scale":$s}""" }.mkString("[", ",", "]")
    def leaves = CommittedParquet.dataFiles(Paths.get(s"$sink/gateway_scales"))
      .map(_.getParent.getFileName.toString).distinct.sorted
    def logged = spark.read.parquet(s"$sink/gateway_scales")
      .select(col("block").cast("long"), col("actor"), col("scale"))
      .as[(Long, String, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    def dirtyGateways(h: Long) = spark.read.parquet(s"$sink/dirty_sets")
      .filter(col("block") === h && col("kind") === "gateway")
      .select("actor").as[String].collect().sorted.toSeq
    // carries a scale: the log gets the batch's entry
    BlockIngest.processBatch(spark, jsonBlocks(
      block(1, s"""{"gateway_scales":${scales("g1" -> 0.5)}}""")), sink)
    assert(leaves === Seq("slice=1"))
    assert(logged === Seq((1L, "g1", 0.5)))
    // carries none (a plain CDC gateway, and a scale entry whose
    // gateway is null — not a carried scale): no log write
    BlockIngest.processBatch(spark, jsonBlocks(block(2,
      """{"gateways":["g9"],"gateway_scales":[{"gateway":null,"scale":1.0}]}""")),
      sink)
    assert(leaves === Seq("slice=1"))
    assert(logged === Seq((1L, "g1", 0.5)))
    assert(dirtyGateways(2) === Seq("g9"))
    // the guard still compares against the committed log: g1's
    // unchanged scale is skipped, g2's first scale is dirty
    BlockIngest.processBatch(spark, jsonBlocks(block(3,
      s"""{"gateway_scales":${scales("g1" -> 0.5, "g2" -> 0.7)}}""")), sink)
    assert(dirtyGateways(3) === Seq("g2"))
    BlockIngest.processBatch(spark, jsonBlocks(block(4,
      s"""{"gateway_scales":${scales("g1" -> 0.9)}}""")), sink)
    assert(dirtyGateways(4) === Seq("g1"))
    assert(leaves === Seq("slice=1", "slice=3", "slice=4"))
  }
}
