package etlbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import etlbench.Follower.{ActorRow, Answers}
import graft.ops.ArtifactStore
import graft.streaming.BlockIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The ingest output check, run after the timed region. Committed state
  * is read through `readCommitted` and compared with values derived from
  * the generated blocks — never with an earlier engine run:
  *
  *  - `heights`: the committed blocks are exactly 1..N, each once;
  *  - `transactions`: the multiset of (block, hash, type);
  *  - `stats`: the four `stats_inventory` counters;
  *  - `actors`: every committed `transaction_actors` row names a
  *    generated transaction of its block; each transaction's actors
  *    from the generator's universe are exactly the universe addresses
  *    its body names (a state-channel summary's `owner` aside: it is no
  *    actor of the close); every payment's payer has its `payer` row;
  *  - `derived`: row count and amount total of each derived fact table
  *    (rewards, packets, dc_burns, oracle_prices, gateway_scales),
  *    recomputed from the generated bodies by the tables' definitions;
  *  - `inventory`: every `actor_inventory` row equals the aggregate of
  *    committed `transaction_actors` (first/last block, row count) — its
  *    definition. `last_actor_role` (a tie-break inside one block) and
  *    the batch-time `updated_at` touch are left out;
  *  - one check per recorded read set: the type counts against the
  *    generated prefix; the lookup and activity answers against the
  *    committed `transaction_actors` rows at or below the read's height,
  *    and against the generator: once committed, the actor's payment is
  *    inside its lookup's block range and, when in the window, in its
  *    activity.
  *
  * File names, part counts and row order play no part.
  */
object IngestCheck {

  final case class Outcome(name: String, failure: Option[String])

  def run(spark: SparkSession, sink: String, chain: Seq[ChainGen.Block],
          reads: Seq[Answers], activityBlocks: Long): Seq[Outcome] = {
    import spark.implicits._
    def check(name: String)(body: => Option[String]): Outcome =
      Outcome(name, try body catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    def committed(t: String) = BlockIngest.readCommitted(spark, sink, t)
    val n = chain.size.toLong
    val txns = chain.flatMap(b => b.txns.map(t => (b.height, t.hash, t.typ)))

    val heights = check("heights") {
      val got = committed("blocks").select("height").as[Long].collect().sorted
      val want = chain.map(_.height).sorted
      if (got.toSeq == want) None
      else Some(s"${got.length} committed heights " +
        s"${got.headOption.getOrElse("-")}..${got.lastOption.getOrElse("-")}, " +
        s"expected 1..$n")
    }
    val transactions = check("transactions") {
      val got = committed("transactions")
        .select(col("block"), col("hash"), col("type"))
        .as[(Long, String, String)].collect()
      val gotBag = got.groupMapReduce(identity)(_ => 1)(_ + _)
      val wantBag = txns.groupMapReduce(identity)(_ => 1)(_ + _)
      if (gotBag == wantBag) None
      else Some(s"${got.length} committed transactions, expected " +
        s"${txns.size}; ${(gotBag.keySet diff wantBag.keySet).size} unexpected, " +
        s"${(wantBag.keySet diff gotBag.keySet).size} missing")
    }
    val stats = check("stats") {
      val got = committed("stats_inventory").select("name", "value")
        .as[(String, Long)].collect().toMap
      val want = Map(
        "blocks" -> n,
        "transactions" -> txns.size.toLong,
        "consensus_groups" -> txns.count(_._3 == "consensus_group_v1").toLong,
        "challenges" -> txns.count(_._3 == "poc_request_v1").toLong)
      val bad = want.filter { case (k, v) => !got.get(k).contains(v) }
      if (bad.isEmpty) None
      else Some(bad.map { case (k, v) => s"$k=${got.get(k)} expected $v" }
        .mkString(", "))
    }
    lazy val ta = committed("transaction_actors")
    // read inside the checks that use them, so a failed read fails them
    lazy val taRows = ta.select("block", "transaction_hash", "actor", "actor_role")
      .as[(Long, String, String, String)].collect().toSeq
    val actors = check("actors") {
      val byTxn = taRows.groupMap(r => (r._1, r._2))(_._3)
      val generated = chain.flatMap(b => b.txns.map(t => (b.height, t.hash) -> t))
      val universe = generated.flatMap(_._2.keys).toSet
      val stray = (byTxn.keySet diff generated.map(_._1).toSet).size
      val wrongSets = generated.count { case (k, t) =>
        byTxn.getOrElse(k, Seq.empty).toSet.intersect(universe) != actorKeys(t) }
      val rows = taRows.toSet
      val missingPayers = ChainGen.payers(chain)
        .count(p => !rows((p.block, p.hash, p.actor, "payer")))
      Seq(
        Option.when(stray > 0)(s"$stray transactions with actor rows were " +
          "never generated"),
        Option.when(wrongSets > 0)(s"$wrongSets of ${generated.size} " +
          "transactions have other actors than their bodies name"),
        Option.when(missingPayers > 0)(s"$missingPayers payments lack " +
          "their payer row")
      ).flatten.reduceOption(_ + "; " + _)
    }
    val derived = check("derived") {
      val want = derivedTotals(chain)
      val bad = DerivedTables.flatMap { case (t, total) =>
        val got =
          if (BlockIngest.factParts(spark, sink, t).isEmpty) (0L, 0L)
          else committed(t).selectExpr("count(1)",
              s"coalesce(sum(cast($total as bigint)), 0)")
            .as[(Long, Long)].head()
        Option.when(got != want(t))(s"$t (rows, $total) = $got expected ${want(t)}")
      }
      bad.reduceOption(_ + "; " + _)
    }
    val inventory = check("inventory") {
      val inv = committed("actor_inventory")
        .select("actor", "first_block", "last_block", "n_rows")
      val agg = ta.groupBy("actor").agg(min("block").as("first_block"),
        max("block").as("last_block"), count(lit(1)).as("n_rows"))
      val extra = inv.exceptAll(agg).count()
      val missing = agg.exceptAll(inv).count()
      if (extra == 0 && missing == 0) None
      else Some(s"actor_inventory: $extra rows differ from the actor " +
        s"aggregate, $missing aggregate rows have no match")
    }

    val readActors = reads.map(_.payer.actor).toSet
    lazy val actorRows: Map[String, Seq[ActorRow]] = taRows
      .filter(r => readActors(r._3))
      .groupMap(_._3)(r => ActorRow(r._1, r._2, r._4))
    val prefixTypes = {
      val byHeight = chain.sortBy(_.height).scanLeft(0L -> Map.empty[String, Long]) {
        case ((_, acc), b) => b.height -> b.txns.foldLeft(acc) { (m, t) =>
          m.updated(t.typ, m.getOrElse(t.typ, 0L) + 1) }
      }
      byHeight.toMap
    }
    val readChecks = reads.zipWithIndex.map { case (a, i) =>
      check(s"read.$i@${a.height}") {
        val p = a.payer
        val rows = actorRows.getOrElse(p.actor, Seq.empty)
          .filter(_.block <= a.height)
        val wantLookup =
          if (rows.isEmpty) None
          else Some((rows.map(_.block).min, rows.map(_.block).max,
            rows.size.toLong))
        val lo = a.height - activityBlocks + 1
        val wantActivity = rows.filter(_.block >= lo).sorted
        val wantTypes = prefixTypes.getOrElse(a.height, Map.empty)
        val paid = ActorRow(p.block, p.hash, "payer")
        val paidBy = p.block <= a.height
        Seq(
          Option.when(paidBy &&
              !a.lookup.exists(l => l._1 <= p.block && p.block <= l._2))(
            s"lookup ${a.lookup} misses the payment at ${p.block}"),
          Option.when(paidBy && p.block >= lo && !a.activity.contains(paid))(
            s"activity misses the payment at ${p.block}"),
          Option.when(a.lookup != wantLookup)(
            s"lookup ${a.lookup} expected $wantLookup"),
          Option.when(a.activity != wantActivity)(
            s"activity ${a.activity.size} rows expected ${wantActivity.size}"),
          Option.when(a.typeCounts != wantTypes)(
            s"type counts ${a.typeCounts.values.sum} txns expected " +
              s"${wantTypes.values.sum}")
        ).flatten.reduceOption(_ + "; " + _)
      }
    }
    Seq(heights, transactions, stats, actors, derived, inventory) ++ readChecks
  }

  private val Json = new ObjectMapper()

  /** The universe addresses a transaction's body names as actors: all of
    * them, except where they appear only as a state-channel summary's
    * `owner`. */
  private def actorKeys(t: ChainGen.Txn): Set[String] = {
    val named = Set.newBuilder[String]
    def walk(n: JsonNode, inSummaries: Boolean): Unit =
      if (n.isTextual) named += n.asText()
      else if (n.isArray) n.elements().forEachRemaining(walk(_, inSummaries))
      else n.fields().forEachRemaining { e =>
        if (!(inSummaries && e.getKey == "owner"))
          walk(e.getValue, e.getKey == "summaries")
      }
    walk(Json.readTree(t.fields), inSummaries = false)
    t.keys intersect named.result()
  }

  /** The derived fact tables and the column each one's total sums. */
  private val DerivedTables: Seq[(String, String)] = Seq(
    "rewards" -> "amount", "packets" -> "num_dcs", "dc_burns" -> "amount",
    "oracle_prices" -> "price", "gateway_scales" -> "round(scale * 100)")

  /** (rows, total) of each derived table, by its definition
    * (`BlockIngest.writeDerivedFacts`; `gateway_scales` logs every scale
    * a block's ledger CDC carries):
    *  - rewards: one row per (txn, account, gateway) reward entry;
    *  - packets: one row per (block, client) of state-channel summaries;
    *  - dc_burns: one staking burn per oui/add_gateway/assert_location/
    *    routing txn, one state-channel burn per (txn, client), one fee
    *    burn per txn with a positive fee and a payer or owner;
    *  - oracle_prices: one row per price submission. */
  private def derivedTotals(chain: Seq[ChainGen.Block]): Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    def add(t: String, rows: Long, total: Long): Unit = {
      val (r, v) = acc(t); acc(t) = (r + rows, v + total)
    }
    def long(n: JsonNode, k: String): Long = n.path(k).asLong(0L)
    def elems(n: JsonNode): Seq[JsonNode] = {
      val b = Seq.newBuilder[JsonNode]; n.elements().forEachRemaining(b += _); b.result()
    }
    def text(n: JsonNode, k: String): Option[String] =
      Option(n.get(k)).filter(_.isTextual).map(_.asText())
    val staking = Set("oui_v1", "add_gateway_v1", "assert_location_v1",
      "assert_location_v2", "routing_v1")
    for (b <- chain) {
      val clients = scala.collection.mutable.Set.empty[String]
      for (t <- b.txns) {
        val f = Json.readTree(t.fields)
        t.typ match {
          case "rewards_v1" | "rewards_v2" =>
            val rs = elems(f.path("rewards"))
            add("rewards", rs.map(r => (text(r, "account"), text(r, "gateway")))
              .distinct.size, rs.map(long(_, "amount")).sum)
          case "state_channel_close_v1" =>
            val sms = elems(f.path("state_channel").path("summaries"))
            clients ++= sms.flatMap(text(_, "client"))
            add("packets", 0, sms.map(long(_, "num_dcs")).sum)
            add("dc_burns", sms.flatMap(text(_, "client")).distinct.size,
              sms.map(long(_, "num_dcs")).sum)
          case "price_oracle_v1" =>
            add("oracle_prices", 1, long(f, "price"))
          case typ if staking(typ) =>
            add("dc_burns", 1, long(f, "staking_fee"))
          case _ =>
        }
        val payerOrOwner = text(f, "payer").filter(_.nonEmpty)
          .orElse(text(f, "owner"))
        if (long(f, "fee") > 0 && payerOrOwner.nonEmpty)
          add("dc_burns", 1, long(f, "fee"))
      }
      add("packets", clients.size, 0)
      val scales = elems(Json.readTree(b.json).path("cdc_keys")
        .path("gateway_scales"))
      add("gateway_scales", scales.size,
        scales.map(s => math.round(s.path("scale").asDouble() * 100)).sum)
    }
    DerivedTables.map { case (t, _) => t -> acc(t) }.toMap
  }

  /** Order-insensitive content digest of every non-empty committed
    * fact table — invariant under batch boundaries and compaction. */
  def factDigests(spark: SparkSession, sink: String): Map[String, String] =
    Seq("blocks", "transactions", "transaction_actors", "rewards", "packets",
      "dc_burns", "oracle_prices", "dirty_sets", "gateway_scales")
      .filter(t => BlockIngest.factParts(spark, sink, t).nonEmpty)
      .map(t => t -> ArtifactStore.combineParts(Seq(
        ArtifactStore.partFingerprint(
          BlockIngest.readFactCommitted(spark, sink, t)))))
      .toMap
}
