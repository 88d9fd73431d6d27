package graft

import graft.fixtures.FixtureGen
import graft.fixtures.FixtureGen.{jobj, jstr}
import graft.ops.Fs
import graft.streaming.BlockIngest

import java.nio.file.{Files, Paths}

/** The inventories' write fan-out: each store's bucket count follows
  * its state's size, so one backfill-sized commit into a fresh sink
  * writes ONE parquet file per inventory store — not one per hash slot
  * of a fixed bucket count. */
class InventoryFileCountSpec extends SparkSpec {
  import spark.implicits._

  test("a 32-block batch over ~1,000 actors writes one parquet file " +
    "per inventory store") {
    val rnd = new scala.util.Random(7)
    // every block: 32 payments to fresh payees (1,024 actors over the
    // batch) plus one transaction for each of the other inventories
    val blocks = (1L to 32L).map { h =>
      val payments = (0 until 32).map { i =>
        ("payment_v1", jobj(Seq("payer" -> jstr(s"payer${i % 4}"),
          "payee" -> jstr(s"payee_${h}_$i"), "amount" -> "5",
          "nonce" -> h.toString, "fee" -> "0")))
      }
      val others = Seq("add_gateway_v1", "assert_location_v2",
          "gen_validator_v1", "validator_heartbeat_v1", "oui_v1")
        .map(t => t -> FixtureGen.genTxn(t, rnd))
      val txns = (payments ++ others).zipWithIndex.map {
        case ((typ, fields), i) =>
          s"""{"hash":"t${h}_$i","type":"$typ","fields":$fields}"""
      }
      s"""{"height":$h,"time":${1000 + 60 * h},"block_hash":"h$h",""" +
        s""""prev_hash":"h${h - 1}","transactions":""" +
        txns.mkString("[", ",", "]}")
    }
    val sink = Files.createTempDirectory("inv_files").toString
    BlockIngest.processBatch(spark, spark.read
      .schema(BlockIngest.blockSchema).json(blocks.toDS()), sink)
    assert(BlockIngest.committedHeight(sink) === 32L)
    assert(BlockIngest.readCommitted(spark, sink, "actor_inventory")
      .count() > 1000L)
    val files = Seq("actor_inventory", "gateway_inventory",
      "validator_inventory", "account_inventory", "oui_inventory").map { t =>
      t -> Fs.walk(Paths.get(s"$sink/$t"))
        .count(_.getFileName.toString.endsWith(".parquet"))
    }
    assert(files.forall(_._2 == 1), files.mkString(", "))
  }
}
