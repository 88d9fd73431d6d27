package graft.fixtures

import graft.functions.Codecs
import graft.ops.Fs
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import scala.collection.mutable
import scala.util.Random
import scala.util.chaining._

/** Deterministic block-fixture generator (FIXTURES.md §A).
  *
  * The reference has no test corpus (its CT suite is empty,
  * ref: test/ct/blockchain_etl_SUITE.erl:4), so we synthesize blocks
  * covering all 34 transaction types consumed by the per-block handlers
  * (ref: src/be_db_block.erl:159-215, be_db_txn_actor.erl:107-453,
  * be_txn.erl:7-126), with the edge cases those clauses branch on:
  * missing/empty payer fallbacks, update_routers actions, owner==new
  * owner transfers, empty state-channel summaries, duplicate actors,
  * shared witnesses, election blocks.
  *
  * Outputs under /root/repo/fixtures (committed, read-only inputs for
  * the domain queries and their DuckDB oracles):
  *   blocks.parquet        — block header rows
  *   transactions.parquet  — (block, hash, type, time, fields JSON)
  *   blocks.jsonl          — same content, one block per line with the
  *                           txn array inlined (ingest-driver stream input)
  *   ledger_*.parquet      — ledger sidecar snapshots (accounts,
  *                           gateways, validators)
  *   locations.parquet     — geocoder-stub output keyed by h3
  */
object FixtureGen {

  val FixtureDir = "/root/repo/fixtures"

  // -- tiny JSON builder (values here are alnum/base58/b64url, so
  //    escaping needs are minimal but handled anyway) --
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def jobj(fields: Seq[(String, String)]): String =
    fields.filter(_._2 != null).map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
  def jarr(items: Seq[String]): String = items.mkString("[", ",", "]")

  // -- deterministic key material --
  private def sha(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
  def addr(tag: String, i: Int): String =
    Codecs.base58Encode(sha(s"$tag:$i").take(20))
  def txnHash(i: Int): String =
    Codecs.base64UrlEncode(sha(s"txn:$i").take(24))
  def blockHash(h: Long): String =
    Codecs.base64UrlEncode(sha(s"block:$h").take(24))

  val accounts: IndexedSeq[String] = (0 until 30).map(addr("acct", _))
  val gateways: IndexedSeq[String] = (0 until 20).map(addr("gw", _))
  val validators: IndexedSeq[String] = (0 until 10).map(addr("val", _))
  val routers: IndexedSeq[String] = (0 until 8).map(addr("router", _))
  val oracles: IndexedSeq[String] = (0 until 4).map(addr("oracle", _))

  /** Valid-shape res-12 H3 cell (mode 1), digits seeded by i. */
  def h3Cell(rnd: Random): String = {
    var h = (1L << 59) | (12L << 52) | (rnd.nextInt(122).toLong << 45)
    (1 to 12).foreach(r => h |= rnd.nextInt(7).toLong << (45 - 3 * r))
    (13 to 15).foreach(r => h |= 0x7L << (45 - 3 * r))
    Codecs.h3ToString(h)
  }

  final case class Txn(block: Long, hash: String, typ: String, time: Long,
                       fields: String)

  // one generator per transaction type; rnd use keeps them varied but
  // the master seed keeps the corpus deterministic
  def genTxn(typ: String, rnd: Random): String = {
    def acct = accounts(rnd.nextInt(accounts.size))
    def gw = gateways(rnd.nextInt(gateways.size))
    def vld = validators(rnd.nextInt(validators.size))
    def num(n: Long) = n.toString
    typ match {
      case "coinbase_v1" | "security_coinbase_v1" | "dc_coinbase_v1" =>
        jobj(Seq("payee" -> jstr(acct), "amount" -> num(rnd.nextInt(100000) + 1)))
      case "payment_v1" =>
        val payer = acct
        // occasionally self-payment: duplicate (actor) pairs must dedup
        val payee = if (rnd.nextInt(5) == 0) payer else acct
        jobj(Seq("payer" -> jstr(payer), "payee" -> jstr(payee),
          "amount" -> num(rnd.nextInt(1000000) + 1), "nonce" -> num(rnd.nextInt(50)),
          "fee" -> num(rnd.nextInt(50000))))
      case "security_exchange_v1" =>
        jobj(Seq("payer" -> jstr(acct), "payee" -> jstr(acct),
          "amount" -> num(rnd.nextInt(1000000) + 1), "nonce" -> num(rnd.nextInt(50)),
          "fee" -> num(rnd.nextInt(50000))))
      case "payment_v2" =>
        val payer = acct
        val n = rnd.nextInt(4) + 1
        val payments = (0 until n).map { _ =>
          val payee = if (rnd.nextInt(6) == 0) payer else acct
          jobj(Seq("payee" -> jstr(payee), "amount" -> num(rnd.nextInt(500000) + 1)))
        }
        jobj(Seq("payer" -> jstr(payer), "payments" -> jarr(payments),
          "nonce" -> num(rnd.nextInt(50)), "fee" -> num(rnd.nextInt(50000))))
      case "add_gateway_v1" | "assert_location_v1" | "assert_location_v2" =>
        val owner = acct
        // payer variants: missing | empty | distinct — the clause's
        // undefined/<<>> fallback to owner (be_db_txn_actor.erl:148-186)
        val payer = rnd.nextInt(3) match {
          case 0 => null
          case 1 => jstr("")
          case _ => jstr(acct)
        }
        val base = Seq("gateway" -> jstr(gw), "owner" -> jstr(owner),
          "payer" -> payer, "staking_fee" -> num(rnd.nextInt(40000)),
          "fee" -> num(rnd.nextInt(50000)))
        val loc = if (typ != "add_gateway_v1")
          Seq("location" -> jstr(h3Cell(rnd)), "nonce" -> num(rnd.nextInt(20)),
            "gain" -> num(rnd.nextInt(80)), "elevation" -> num(rnd.nextInt(500)))
        else Seq.empty
        jobj(base ++ loc)
      case "create_htlc_v1" =>
        jobj(Seq("payer" -> jstr(acct), "payee" -> jstr(acct),
          "address" -> jstr(addr("htlc", rnd.nextInt(5))),
          "amount" -> num(rnd.nextInt(100000) + 1)))
      case "redeem_htlc_v1" =>
        jobj(Seq("payee" -> jstr(acct),
          "address" -> jstr(addr("htlc", rnd.nextInt(5)))))
      case "poc_request_v1" =>
        jobj(Seq("challenger" -> jstr(gw),
          "onion_key_hash" -> jstr(txnHash(rnd.nextInt(1000) + 90000))))
      case "poc_receipts_v1" | "poc_receipts_v2" =>
        val nPath = rnd.nextInt(3) + 1
        val sharedWitness = gw // may repeat across elements — dedup test
        val path = (0 until nPath).map { _ =>
          val nWit = rnd.nextInt(3)
          val wits = (0 until nWit).map(_ =>
            jobj(Seq("gateway" -> jstr(if (rnd.nextInt(3) == 0) sharedWitness else gw),
              "signal" -> num(-rnd.nextInt(120))))) :+
            jobj(Seq("gateway" -> jstr(sharedWitness), "signal" -> num(-50)))
          jobj(Seq("challengee" -> jstr(gw), "witnesses" -> jarr(wits)))
        }
        jobj(Seq("challenger" -> jstr(gw), "path" -> jarr(path)))
      case "rewards_v1" | "rewards_v2" =>
        val n = rnd.nextInt(5) + 2
        val rewards = (0 until n).map { _ =>
          val g = if (rnd.nextInt(3) == 0) null else jstr(gw)
          jobj(Seq("account" -> jstr(acct), "gateway" -> g,
            "amount" -> num(rnd.nextInt(200000) + 1),
            "type" -> jstr(Seq("poc_challengees", "poc_witnesses",
              "poc_challengers", "consensus", "securities")(rnd.nextInt(5)))))
        }
        val epochs = if (typ == "rewards_v2")
          Seq("start_epoch" -> num(rnd.nextInt(100) + 1),
            "end_epoch" -> num(rnd.nextInt(100) + 101))
        else Seq.empty
        jobj(epochs ++ Seq("rewards" -> jarr(rewards)))
      case "consensus_group_v1" =>
        val members = (0 until rnd.nextInt(4) + 3).map(_ => jstr(vld))
        jobj(Seq("members" -> jarr(members.distinct),
          "proof" -> jstr(txnHash(rnd.nextInt(1000) + 80000)),
          "height" -> num(rnd.nextInt(1000)), "delay" -> num(rnd.nextInt(10))))
      case "consensus_group_failure_v1" =>
        val members = (0 until rnd.nextInt(3) + 2).map(_ => jstr(vld)).distinct
        val failed = (0 until rnd.nextInt(2) + 1).map(_ => jstr(vld)).distinct
        jobj(Seq("members" -> jarr(members), "failed_members" -> jarr(failed),
          "height" -> num(rnd.nextInt(1000))))
      case "vars_v1" =>
        jobj(Seq("vars" -> jobj(Seq(
            "poc_version" -> num(rnd.nextInt(11) + 1),
            "reward_share" -> ("\"" + f"${rnd.nextDouble()}%.8f" + "\""))),
          "unsets" -> jarr(if (rnd.nextBoolean()) Seq(jstr("old_var")) else Seq.empty),
          "nonce" -> num(rnd.nextInt(100))))
      case "oui_v1" =>
        val nr = rnd.nextInt(3) + 1
        jobj(Seq("owner" -> jstr(acct), "payer" -> jstr(acct),
          "oui" -> num(rnd.nextInt(10) + 1),
          "addresses" -> jarr((0 until nr).map(_ => jstr(routers(rnd.nextInt(routers.size))))),
          "staking_fee" -> num(rnd.nextInt(40000)), "fee" -> num(rnd.nextInt(50000))))
      case "routing_v1" =>
        val action = rnd.nextInt(3) match {
          case 0 => jobj(Seq("action" -> jstr("update_routers"),
            "addresses" -> jarr((0 until rnd.nextInt(2) + 1)
              .map(_ => jstr(routers(rnd.nextInt(routers.size)))))))
          case 1 => jobj(Seq("action" -> jstr("new_xor"),
            "filter" -> jstr(txnHash(rnd.nextInt(1000) + 70000))))
          case _ => jobj(Seq("action" -> jstr("request_subnet"),
            "subnet_size" -> num(8 << rnd.nextInt(4))))
        }
        jobj(Seq("owner" -> jstr(acct), "oui" -> num(rnd.nextInt(10) + 1),
          "action" -> action, "staking_fee" -> num(rnd.nextInt(40000)),
          "fee" -> num(rnd.nextInt(50000)), "nonce" -> num(rnd.nextInt(20))))
      case "token_burn_v1" =>
        jobj(Seq("payer" -> jstr(acct), "payee" -> jstr(acct),
          "amount" -> num(rnd.nextInt(500000) + 1), "nonce" -> num(rnd.nextInt(50))))
      case "token_burn_exchange_rate_v1" =>
        jobj(Seq("rate" -> num(rnd.nextInt(100000) + 1)))
      case "state_channel_open_v1" =>
        jobj(Seq("owner" -> jstr(acct), "oui" -> num(rnd.nextInt(10) + 1),
          "nonce" -> num(rnd.nextInt(50)), "amount" -> num(rnd.nextInt(100000))))
      case "state_channel_close_v1" =>
        val owner = acct
        val closer = if (rnd.nextBoolean()) owner else acct
        val n = rnd.nextInt(4) // 0 = empty summaries (coalesce-to-[] case)
        val summaries = (0 until n).map { _ =>
          jobj(Seq("client" -> jstr(gw),
            "owner" -> (if (rnd.nextBoolean()) jstr(owner) else jstr(acct)),
            "num_packets" -> num(rnd.nextInt(10000)),
            "num_dcs" -> num(rnd.nextInt(5000)),
            "location" -> (if (rnd.nextBoolean()) jstr(h3Cell(rnd)) else null)))
        }
        jobj(Seq("closer" -> jstr(closer),
          "state_channel" -> jobj(Seq("owner" -> jstr(owner),
            "summaries" -> jarr(summaries)))))
      case "price_oracle_v1" =>
        jobj(Seq("public_key" -> jstr(oracles(rnd.nextInt(oracles.size))),
          "price" -> num(rnd.nextInt(100000000) + 1000000),
          "block_height" -> num(rnd.nextInt(1000))))
      case "gen_price_oracle_v1" =>
        jobj(Seq("price" -> num(rnd.nextInt(100000000) + 1000000)))
      case "gen_gateway_v1" =>
        jobj(Seq("gateway" -> jstr(gw), "owner" -> jstr(acct),
          "location" -> jstr(h3Cell(rnd)), "nonce" -> num(0)))
      case "gen_validator_v1" =>
        jobj(Seq("address" -> jstr(vld), "owner" -> jstr(acct),
          "stake" -> num(1000000000L)))
      case "transfer_hotspot_v1" =>
        jobj(Seq("gateway" -> jstr(gw), "seller" -> jstr(acct),
          "buyer" -> jstr(acct), "amount_to_seller" -> num(rnd.nextInt(100000))))
      case "transfer_hotspot_v2" =>
        jobj(Seq("gateway" -> jstr(gw), "owner" -> jstr(acct),
          "new_owner" -> jstr(acct), "nonce" -> num(rnd.nextInt(20))))
      case "stake_validator_v1" =>
        jobj(Seq("validator" -> jstr(vld), "owner" -> jstr(acct),
          "stake" -> num(1000000000L), "fee" -> num(rnd.nextInt(50000))))
      case "unstake_validator_v1" =>
        jobj(Seq("address" -> jstr(vld), "owner" -> jstr(acct),
          "stake_amount" -> num(1000000000L),
          "stake_release_height" -> num(rnd.nextInt(100000)),
          "fee" -> num(rnd.nextInt(50000))))
      case "transfer_validator_stake_v1" =>
        val oldOwner = acct
        // same-owner | empty new_owner | distinct — the Owners branch
        // (be_db_txn_actor.erl:411-425)
        val newOwner = rnd.nextInt(3) match {
          case 0 => oldOwner
          case 1 => ""
          case _ => acct
        }
        jobj(Seq("old_validator" -> jstr(vld), "new_validator" -> jstr(vld),
          "old_owner" -> jstr(oldOwner), "new_owner" -> jstr(newOwner),
          "stake_amount" -> num(1000000000L), "fee" -> num(rnd.nextInt(50000))))
      case "validator_heartbeat_v1" =>
        jobj(Seq("address" -> jstr(vld), "height" -> num(rnd.nextInt(100000)),
          "version" -> num(rnd.nextInt(20) + 1)))
      case "add_subnetwork_v1" =>
        jobj(Seq("subnetwork_key" -> jstr(addr("subnet", rnd.nextInt(3))),
          "reward_server_keys" -> jarr((0 until rnd.nextInt(2) + 1)
            .map(i => jstr(addr("rsrv", i))))))
      case "subnetwork_rewards_v1" =>
        jobj(Seq("rewards" -> jarr((0 until rnd.nextInt(3) + 1).map(_ =>
          jobj(Seq("reward_account" -> jstr(acct),
            "amount" -> num(rnd.nextInt(100000) + 1)))))))
      case "subnetwork_fund_v1" =>
        jobj(Seq("payer" -> jstr(acct), "amount" -> num(rnd.nextInt(100000) + 1)))
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
  }

  val AllTypes: Seq[String] = Seq(
    "coinbase_v1", "security_coinbase_v1", "dc_coinbase_v1", "payment_v1",
    "security_exchange_v1", "payment_v2", "add_gateway_v1",
    "assert_location_v1", "assert_location_v2", "create_htlc_v1",
    "redeem_htlc_v1", "poc_request_v1", "poc_receipts_v1", "poc_receipts_v2",
    "rewards_v1", "rewards_v2", "consensus_group_v1",
    "consensus_group_failure_v1", "vars_v1", "oui_v1", "routing_v1",
    "token_burn_v1", "token_burn_exchange_rate_v1", "state_channel_open_v1",
    "state_channel_close_v1", "price_oracle_v1", "gen_price_oracle_v1",
    "gen_gateway_v1", "gen_validator_v1", "transfer_hotspot_v1",
    "transfer_hotspot_v2", "stake_validator_v1", "unstake_validator_v1",
    "transfer_validator_stake_v1", "validator_heartbeat_v1",
    "add_subnetwork_v1", "subnetwork_rewards_v1", "subnetwork_fund_v1")

  /** Common txn mix — the high-volume types of a real chain, weighted. */
  private val CommonTypes: Seq[String] = Seq(
    "payment_v1", "payment_v2", "poc_request_v1", "poc_receipts_v1",
    "poc_receipts_v2", "rewards_v1", "state_channel_close_v1",
    "validator_heartbeat_v1", "token_burn_v1", "assert_location_v2")

  def generate(): (Seq[(Long, Long, String, String, Long, Long, Long, String)], Seq[Txn]) = {
    val rnd = new Random(42)
    val nBlocks = 60
    var txnId = 0
    val txns = mutable.ArrayBuffer.empty[Txn]
    // guarantee coverage: every type at least 3 times, spread over blocks
    val mandatory: Seq[String] = AllTypes ++ AllTypes ++ AllTypes
    val mandatoryByBlock = mandatory.zipWithIndex
      .groupMap { case (_, i) => (i % (nBlocks - 1)) + 1 } { case (t, _) => t }
    val blocks = (1L to nBlocks).map { h =>
      val time = 1600000000L + h * 60
      val elected = h % 10 == 3
      val base = mandatoryByBlock.getOrElse(h.toInt, Seq.empty) ++
        (if (elected) Seq("consensus_group_v1") else Seq.empty) ++
        (0 until rnd.nextInt(5) + 2).map(_ => CommonTypes(rnd.nextInt(CommonTypes.size)))
      base.foreach { typ =>
        txns += Txn(h, txnHash(txnId), typ, time, genTxn(typ, rnd))
        txnId += 1
      }
      // every 13th block carries a snapshot hash
      // (ref: src/be_db_block.erl:118-157)
      val snap = if (h % 13 == 0) blockHash(h + 100000) else null
      (h, time, blockHash(h), blockHash(h - 1), h / 10 + 1,
        (h / 10) * 10 + 3, rnd.nextInt(1000).toLong, snap)
    }
    (blocks, txns.toSeq)
  }

  /** Ledger-CDC "unhandled key" sidecar per block: keys changed by the
    * ledger without a block actor (ref: src/be_db_account.erl:236-247) —
    * every 7th block touches a couple of accounts/gateways/validators.
    */
  private val cdcKeysMemo =
    new scala.collection.concurrent.TrieMap[
      Long, Option[(Seq[String], Seq[String], Seq[String])]]()

  // memoized: cdcScales re-derives occurrence counts over all prior CDC
  // blocks, which would make generation quadratic in block count
  def cdcKeys(h: Long): Option[(Seq[String], Seq[String], Seq[String])] =
    cdcKeysMemo.getOrElseUpdate(h, computeCdcKeys(h))

  private def computeCdcKeys(
      h: Long): Option[(Seq[String], Seq[String], Seq[String])] =
    if (h % 7 != 0) None
    else {
      val r = new Random(h)
      val accts = Seq.fill(r.nextInt(2) + 1)(accounts(r.nextInt(accounts.size)))
        .distinct
      // gateways rotate through a small pool so the same gateway recurs
      // across CDC blocks — the reward_scale guard needs repeat
      // occurrences to exercise its skip branch
      val idx = (h / 7).toInt
      val gws = Seq(gateways(idx % 3), gateways(3 + idx % 2)).distinct
      val vals = Seq.fill(r.nextInt(2))(validators(r.nextInt(validators.size)))
        .distinct
      Some((accts, gws, vals))
    }

  /** Base reward scale per gateway — deterministic, 2-decimal values so
    * cross-representation equality is exact.
    */
  def scale0(gw: String): Double =
    (math.abs(gw.hashCode) % 90) / 100.0 + 0.05

  /** Ledger reward scales carried by the CDC sidecar: the gateway's
    * scale bumps on every ODD occurrence (1st, 3rd, …) of the gateway
    * in a CDC block and repeats unchanged on even occurrences — so the
    * reference's reward_scale guard (skip re-snapshot when the scale is
    * unchanged, src/be_db_gateway.erl:158-186) has both branches to
    * exercise.
    */
  def cdcScales(h: Long): Seq[(String, Double)] = cdcKeys(h) match {
    case None => Seq.empty
    case Some((_, gws, _)) => gws.map { g =>
      val occ = (7L to h by 7).count(hh => cdcKeys(hh).exists(_._2.contains(g)))
      g -> (scale0(g) + 0.01 * math.ceil(occ / 2.0))
    }
  }

  /** One fixture table: a single parquet file `<name>.parquet` under
    * [[FixtureDir]]. */
  private def save(name: String)(df: DataFrame): Unit =
    Fs.writer(df.coalesce(1)).mode(SaveMode.Overwrite)
      .parquet(s"$FixtureDir/$name.parquet")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (blocks, txns) = generate()

    blocks.toDF("height", "time", "block_hash", "prev_hash", "election_epoch",
        "epoch_start", "hbbft_round", "snapshot_hash")
      .pipe(save("blocks"))

    txns.map(t => (t.block, t.hash, t.typ, t.time, t.fields))
      .toDF("block", "hash", "type", "time", "fields")
      .pipe(save("transactions"))

    // blocks.jsonl — stream input for the ordered ingest driver
    val txnsByBlock = txns.groupBy(_.block)
    val lines = blocks.map {
      case (h, time, hash, prev, epoch, start, round, snap) =>
        val bt = txnsByBlock.getOrElse(h, Seq.empty).map(t =>
          jobj(Seq("hash" -> jstr(t.hash), "type" -> jstr(t.typ),
            "fields" -> t.fields)))
        val cdc = cdcKeys(h).map { case (as, gs, vs) =>
          jobj(Seq("accounts" -> jarr(as.map(jstr)),
            "gateways" -> jarr(gs.map(jstr)),
            "validators" -> jarr(vs.map(jstr)),
            "gateway_scales" -> jarr(cdcScales(h).map { case (g, sc) =>
              jobj(Seq("gateway" -> jstr(g), "scale" -> sc.toString))
            })))
        }.orNull
        jobj(Seq("height" -> h.toString, "time" -> time.toString,
          "block_hash" -> jstr(hash), "prev_hash" -> jstr(prev),
          "election_epoch" -> epoch.toString, "epoch_start" -> start.toString,
          "hbbft_round" -> round.toString,
          "snapshot_hash" -> (if (snap == null) null else jstr(snap)),
          "cdc_keys" -> cdc,
          "transactions" -> jarr(bt)))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$FixtureDir/stream"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$FixtureDir/stream/blocks.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))

    // ledger sidecars — state "as of" the fixture chain for the
    // enrichment joins (ref: src/be_db_account.erl:181-227 etc.)
    val rnd = new Random(7)
    accounts.map(a => (a, rnd.nextInt(1000000000).toLong,
        rnd.nextInt(100).toLong, rnd.nextInt(500000).toLong,
        rnd.nextInt(1000000).toLong))
      .toDF("address", "balance", "nonce", "dc_balance", "security_balance")
      .pipe(save("ledger_accounts"))

    val locRnd = new Random(11)
    val gwLocs = gateways.map(_ => h3Cell(locRnd))
    gateways.zip(gwLocs).zipWithIndex.map { case ((g, loc), i) =>
      (g, accounts(i % accounts.size), loc,
        Codecs.animalName(g), locRnd.nextInt(80).toLong,
        locRnd.nextInt(500).toLong,
        if (i % 7 == 0) "dataonly" else "full")
    }.toDF("address", "owner", "location", "name", "gain", "elevation", "mode")
      .pipe(save("ledger_gateways"))

    validators.zipWithIndex.map { case (v, i) =>
      (v, accounts((i * 3) % accounts.size), 1000000000L,
        Codecs.animalName(v), if (i % 4 == 0) "unstaked" else "staked")
    }.toDF("address", "owner", "stake", "name", "status")
      .pipe(save("ledger_validators"))

    // locations — deterministic fake geocodes keyed by h3 (geocoder
    // stub output, ref: src/be_db_geocoder.erl:194-225). The LAST THREE
    // gateway locations are left ungeocoded so the geocode-candidate
    // anti-join has work to find.
    val cities = Seq(("San Francisco", "SF", "California", "CA", "United States", "US"),
      ("Amsterdam", "AMS", "North Holland", "NH", "Netherlands", "NL"),
      ("Shenzhen", "SZ", "Guangdong", "GD", "China", "CN"),
      ("Lagos", "LOS", "Lagos State", "LA", "Nigeria", "NG"))
    gwLocs.distinct.dropRight(3).zipWithIndex.map { case (loc, i) =>
      val (lc, sc, ls, ss, lco, sco) = cities(i % cities.size)
      (loc, s"${100 + i} Main St", s"${100 + i} Main",
        lc, sc, ls, ss, lco, sco,
        37.0 + i * 0.01, -122.0 - i * 0.01)
    }.toDF("location", "long_street", "short_street", "long_city", "short_city",
        "long_state", "short_state", "long_country", "short_country", "lat", "lon")
      .pipe(save("locations"))

    // pending transactions — protobuf-decode stand-in: a fake binary
    // wire format with planted corrupt rows for the dead-letter path
    // (ref: src/be_db_pending_txn.erl:211-227)
    val pRnd = new Random(17)
    val pending = (0 until 40).map { i =>
      val created = 1600000000L + i * 7
      val data: Array[Byte] =
        if (i % 9 == 8) Array.fill[Byte](12)(pRnd.nextInt().toByte) // corrupt
        else {
          val typ = Seq("payment_v1", "payment_v2", "token_burn_v1")(i % 3)
          val payer = accounts(pRnd.nextInt(accounts.size))
          s"TXNPB;type=$typ;payer=$payer;nonce=${pRnd.nextInt(50)};"
            .getBytes("US-ASCII")
        }
      (i.toLong, created, data)
    }
    pending.toDF("pending_id", "created_at", "data")
      .pipe(save("pending_txns"))

    // peer-book sidecar — libp2p peer metadata stub
    // (ref: src/be_peer_status.erl:20-68); ~70% of validators have an
    // entry, with heights straggling behind the chain tip
    val pbRnd = new Random(19)
    validators.zipWithIndex.filter(_._2 % 3 != 2).map { case (v, i) =>
      (v, 60L - pbRnd.nextInt(80), // some peers lag beyond the window
        s"/ip4/10.0.${i}.1/tcp/2154", s"10.0.${i}.1:8080",
        s"1.${pbRnd.nextInt(10)}.${pbRnd.nextInt(5)}",
        1600000000L + pbRnd.nextInt(3600))
    }.toDF("address", "peer_height", "listen_addr", "grpc_addr",
        "release_version", "peer_time")
      .pipe(save("peerbook"))

    // media fixtures — deterministic fake containers for the multimodal
    // operators (see ops/Multimodal.scala): ASCII header + base64-ASCII
    // payload so both engines can parse the same bytes
    val mRnd = new Random(13)
    val basePayloads = scala.collection.mutable.Map.empty[Int, String]
    val media = (0 until 120).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      val (w, h, dur) = kind match {
        case "image" => (160 + mRnd.nextInt(8) * 160, 120 + mRnd.nextInt(8) * 120, 0L)
        case "audio" => (0, 0, 1000L + mRnd.nextInt(29) * 1000L)
        case _ => (320 + mRnd.nextInt(4) * 320, 240 + mRnd.nextInt(4) * 240,
          2000L + mRnd.nextInt(28) * 1000L)
      }
      val payloadLen = 100 + mRnd.nextInt(300)
      val fresh = java.util.Base64.getEncoder.encodeToString(
        Array.fill[Byte](payloadLen)(mRnd.nextInt().toByte))
      // media 90-119 are NEAR-DUPLICATES of media 0-29 (same kind —
      // 90 ≡ 0 mod 3): they reuse a long prefix of the earlier payload
      // (a re-encoded/trimmed copy of the same clip) with a fresh
      // tail, so segment-hash dedup has planted positives
      val payload =
        if (i >= 90) {
          val base = basePayloads(i - 90)
          val keep = (base.length * 3) / 4
          base.substring(0, keep) + fresh.substring(0, fresh.length / 4)
        } else {
          basePayloads(i) = fresh
          fresh
        }
      val header = s"FAKEMEDIA;kind=$kind;w=$w;h=$h;dur=$dur;codec=fake-$kind;|"
      (i.toLong, (i % 40).toLong, kind,
        (header + payload).getBytes("US-ASCII"))
    }
    media.toDF("media_id", "doc_id", "kind", "bytes")
      .pipe(save("media"))

    // raw_docs — paragraph-structured web-crawl stand-in for the
    // pipeline operators the word-soup `documents` table cannot
    // exercise: paragraphs separated by \n\n, a boilerplate sub-pool
    // repeated across documents (paragraph-level dedup), and
    // deterministic planted PII (emails, phone numbers, IPv4s) and
    // URLs (redaction + domain-blocklist filters). All content is
    // simple ASCII so the Java-regex (Spark) and RE2 (DuckDB) engines
    // agree on every pattern used against it.
    val rdWords = Seq("alpha", "beta", "gamma", "delta", "metric", "signal",
      "data", "model", "train", "token", "sample", "batch", "corpus",
      "filter", "shard", "query", "index", "vector", "graph", "node")
    def rdSentence(rnd: Random): String =
      (0 until (6 + rnd.nextInt(8))).map(_ =>
        rdWords(rnd.nextInt(rdWords.size))).mkString(" ")
    def rdParagraph(k: Int): String = {
      val rnd = new Random(1000 + k) // per-paragraph deterministic
      val sents = (0 until (2 + rnd.nextInt(3))).map(_ => rdSentence(rnd))
      val extras = mutable.Buffer[String]()
      if (k % 4 == 0) extras += s"contact user$k@example${k % 5}.com now"
      if (k % 5 == 1) extras += s"call +1-415-555-${1000 + k} today"
      if (k % 6 == 2)
        extras += s"host 10.${k % 256}.${(k * 7) % 256}.${(k * 13) % 256} up"
      if (k % 3 == 0)
        extras += s"see https://site${k % 17}.example.com/p$k " +
          s"and http://blog-${k % 9}.test.org/x$k"
      (sents ++ extras).mkString(" ")
    }
    val paraPool = (0 until 80).map(rdParagraph)
    // Per-doc crawl URL: 4 consecutive docs share a page (re-crawls of
    // the same URL under cosmetic variations — trailing slash, utm_*
    // tracking params, case-folded scheme/host + fragment), so URL
    // canonicalization maps them to one canonical form; d%16==10 keeps
    // a GENUINE non-tracking param (id=…) that must survive. Hosts are
    // drawn from 23 sites so per-domain doc counts (~8-9) exceed a
    // cap of 6 — the domain-quota operator has something to drop.
    def rdUrl(d: Int): String = {
      val page = d / 4
      val host = s"site${page % 23}.example.com"
      val base = s"https://$host/page$page"
      d % 4 match {
        case 0 => base
        case 1 => base + "/"
        case 2 =>
          if (d % 16 == 10) base + s"?id=$d&utm_ref=x"
          else base + s"?utm_source=feed&utm_campaign=w${d % 7}"
        case _ =>
          s"HTTPS://${host.toUpperCase(java.util.Locale.ROOT)}/page$page#sec$d"
      }
    }
    val rawDocs = (0 until 200).map { d =>
      val rnd = new Random(5000 + d)
      val n = 2 + rnd.nextInt(5)
      // ~30% of picks come from the 12-paragraph boilerplate pool, so
      // cross-document duplicate paragraphs are common (as in crawls)
      val picks = (0 until n).map { _ =>
        if (rnd.nextInt(10) < 3) rnd.nextInt(12) else rnd.nextInt(paraPool.size)
      }
      (d.toLong, Seq("web", "forum", "code", "news")(d % 4), rdUrl(d),
        picks.map(paraPool).mkString("\n\n"))
    }
    rawDocs.toDF("doc_id", "source", "url", "text")
      .pipe(save("raw_docs"))

    println(s"[fixtures] blocks=${blocks.size} txns=${txns.size} " +
      s"types=${txns.map(_.typ).distinct.size} media=${media.size} " +
      s"raw_docs=${rawDocs.size}")
    spark.stop()
  }
}
