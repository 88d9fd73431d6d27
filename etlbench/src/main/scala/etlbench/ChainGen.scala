package etlbench

import graft.fixtures.FixtureGen
import graft.fixtures.FixtureGen.{jarr, jobj, jstr}
import graft.functions.Codecs

import scala.util.Random

/** Seeded chain generator: blocks in the `BlockIngest.blockSchema` shape
  * (FIXTURES.md §A), one JSON object per block, as the follower's drop
  * directory holds them.
  *
  * Transaction bodies come from `FixtureGen.genTxn`, so every one of the
  * fixture's 38 types keeps its edge cases (payer fallbacks, self-pays,
  * empty summaries, shared witnesses). The fixture draws its actors from
  * 30 accounts, 20 gateways and 10 validators; here every fixture address
  * in a body is swapped for a skewed draw from a much larger universe,
  * consistently within one transaction (a self-pay stays a self-pay), so
  * the inventories grow across many buckets the way a real chain's do.
  *
  * Mix per non-empty block: one transaction of the type whose turn it is
  * (the 38 types in rotation, so any 38 consecutive non-empty blocks
  * cover them all), the rest 85% from the fixture's common types and 15%
  * from all types. The seed draws the bodies and their actors; the mix
  * (how many transactions of which types at each height) is the same for
  * every seed, so runs with different seeds write the same tables at the
  * same heights and their sizes compare like with like. Every 16th block is empty (at fixed heights, so every
  * seed puts the same number of them in a run); every 10th height carries
  * a consensus group, every 7th ledger CDC keys with gateway scales, every
  * 13th a snapshot hash.
  */
object ChainGen {

  /** `keys`: the universe addresses (accounts, gateways, validators) the
    * body names. */
  final case class Txn(hash: String, typ: String, fields: String,
                       keys: Set[String])
  final case class Block(height: Long, txns: IndexedSeq[Txn], json: String)
  /** A payment's payer: an actor of its transaction, role `payer`. */
  final case class Payer(block: Long, hash: String, actor: String)

  /** Universe sizes: accounts, gateways, validators. */
  private val Universe = Map("acct" -> 100000, "gw" -> 10000, "val" -> 1000)

  /** The fixture's weighted high-volume types (FixtureGen.CommonTypes). */
  val CommonTypes: IndexedSeq[String] = IndexedSeq(
    "payment_v1", "payment_v2", "poc_request_v1", "poc_receipts_v1",
    "poc_receipts_v2", "rewards_v1", "state_channel_close_v1",
    "validator_heartbeat_v1", "token_burn_v1", "assert_location_v2")
  val AllTypes: IndexedSeq[String] = FixtureGen.AllTypes.toIndexedSeq

  private def sha(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))

  /** Skewed index in [0, n): u³ puts about half the draws in the lowest
    * 12% of keys while every key stays reachable. */
  private def skewed(rnd: Random, n: Int): Int = {
    val u = rnd.nextDouble()
    math.min(n - 1, (u * u * u * n).toInt)
  }

  private final class Keys {
    private val cache = scala.collection.mutable.HashMap.empty[(String, Int), String]
    def draw(kind: String, rnd: Random): String = {
      val i = skewed(rnd, Universe(kind))
      cache.getOrElseUpdate((kind, i), FixtureGen.addr("bench-" + kind, i))
    }
  }

  private val fixtureKeys: Seq[(String, String)] =
    FixtureGen.accounts.map(_ -> "acct") ++
      FixtureGen.gateways.map(_ -> "gw") ++
      FixtureGen.validators.map(_ -> "val")

  /** Swap every fixture address in a body for a universe draw — the same
    * fixture address maps to the same draw within one transaction.
    * Returns the new body and the draws it names. */
  private def remap(fields: String, keys: Keys, rnd: Random)
      : (String, Set[String]) = {
    var out = fields
    val drawn = Set.newBuilder[String]
    fixtureKeys.foreach { case (a, kind) =>
      if (out.contains(a)) {
        val k = keys.draw(kind, rnd)
        drawn += k
        out = out.replace(a, k)
      }
    }
    (out, drawn.result())
  }

  /** `nBlocks` blocks at heights 1..nBlocks with about `txnsPerBlock`
    * transactions each (uniform in [0.8m, 1.2m]); the same arguments
    * always give the same chain. */
  def generate(seed: Long, nBlocks: Int, txnsPerBlock: Int): IndexedSeq[Block] = {
    val rnd = new Random(seed)
    val mix = new Random(MixSeed)
    val keys = new Keys
    var txnId = 0L
    var turn = 0
    (1 to nBlocks).map { hi =>
      val h = hi.toLong
      val time = 1600000000L + h * 60
      val empty = h % 16 == 0
      val types: Seq[String] =
        if (empty) Seq.empty
        else {
          val n = math.max(1,
            txnsPerBlock * 4 / 5 + mix.nextInt(txnsPerBlock * 2 / 5 + 1))
          val rot = AllTypes(turn % AllTypes.size)
          turn += 1
          val drawn = (1 until n).map(_ =>
            if (mix.nextInt(100) < 85) CommonTypes(mix.nextInt(CommonTypes.size))
            else AllTypes(mix.nextInt(AllTypes.size)))
          (rot +: drawn) ++
            (if (h % 10 == 3) Seq("consensus_group_v1") else Seq.empty)
        }
      val txns = types.map { typ =>
        val hash = Codecs.base64UrlEncode(sha(s"txn:$seed:$txnId").take(24))
        txnId += 1
        val (fields, drawn) = remap(FixtureGen.genTxn(typ, rnd), keys, rnd)
        Txn(hash, typ, fields, drawn)
      }.toIndexedSeq
      val cdc = if (h % 7 != 0) null else {
        val gws = Seq.fill(rnd.nextInt(3) + 1)(keys.draw("gw", rnd)).distinct
        jobj(Seq(
          "accounts" -> jarr(Seq.fill(rnd.nextInt(2) + 1)(
            jstr(keys.draw("acct", rnd))).distinct),
          "gateways" -> jarr(gws.map(jstr)),
          "validators" -> jarr(Seq.fill(rnd.nextInt(2))(
            jstr(keys.draw("val", rnd))).distinct),
          "gateway_scales" -> jarr(gws.map(g => jobj(Seq(
            "gateway" -> jstr(g),
            "scale" -> (rnd.nextInt(90) / 100.0 + 0.05).toString))))))
      }
      val hash = blockHash(seed, h)
      val json = jobj(Seq(
        "height" -> h.toString, "time" -> time.toString,
        "block_hash" -> jstr(hash), "prev_hash" -> jstr(blockHash(seed, h - 1)),
        "election_epoch" -> (h / 10 + 1).toString,
        "epoch_start" -> ((h / 10) * 10 + 3).toString,
        "hbbft_round" -> rnd.nextInt(1000).toString,
        "snapshot_hash" -> (if (h % 13 == 0) jstr(blockHash(seed, -h)) else null),
        "cdc_keys" -> cdc,
        "transactions" -> jarr(txns.map(t => jobj(Seq(
          "hash" -> jstr(t.hash), "type" -> jstr(t.typ),
          "fields" -> t.fields))))))
      Block(h, txns, json)
    }
  }

  /** Seeds the transaction mix, which no `--seed` changes. */
  private val MixSeed = 0x6d6978L

  private val PayerRe = "\"payer\":\"([^\"]+)\"".r

  /** The payers of the blocks' payments, in chain order — each is an
    * actor of its block (role `payer`), so a read about it has an
    * answer. */
  def payers(blocks: Seq[Block]): Iterator[Payer] =
    blocks.iterator.flatMap(b => b.txns.iterator.map(b.height -> _))
      .filter { case (_, t) => t.typ == "payment_v1" || t.typ == "payment_v2" }
      .flatMap { case (h, t) =>
        PayerRe.findFirstMatchIn(t.fields).map(m => Payer(h, t.hash, m.group(1)))
      }

  private def blockHash(seed: Long, h: Long): String =
    Codecs.base64UrlEncode(sha(s"block:$seed:$h").take(24))
}
