package etlbench

import org.scalatest.funsuite.AnyFunSuite

class ChainGenSpec extends AnyFunSuite {

  private val chain = ChainGen.generate(seed = 7, nBlocks = 200, txnsPerBlock = 10)

  test("the same seed gives the same chain, another seed other bodies in the same mix") {
    assert(ChainGen.generate(7, 200, 10).map(_.json) == chain.map(_.json))
    val other = ChainGen.generate(8, 200, 10)
    assert(other.map(_.json) != chain.map(_.json))
    assert(other.map(_.txns.map(_.typ)) == chain.map(_.txns.map(_.typ)))
  }

  test("heights run 1..N and every type of the fixture is present") {
    assert(chain.map(_.height) == (1L to 200L))
    val types = chain.flatMap(_.txns.map(_.typ)).toSet
    assert(types == ChainGen.AllTypes.toSet)
    assert(types.size == 38)
  }

  test("common types dominate the mix and some blocks are empty") {
    val all = chain.flatMap(_.txns.map(_.typ))
    val common = all.count(ChainGen.CommonTypes.contains)
    assert(common.toDouble / all.size > 0.7)
    assert(chain.exists(_.txns.isEmpty))
    assert(chain.head.txns.nonEmpty && chain(15).txns.isEmpty)
    assert(chain.exists(_.json.contains("\"transactions\":[]")))
  }

  test("actors come from a large skewed universe, not the fixture's") {
    val fixture = (graft.fixtures.FixtureGen.accounts ++
      graft.fixtures.FixtureGen.gateways ++
      graft.fixtures.FixtureGen.validators).toSet
    val bodies = chain.flatMap(_.txns.map(_.fields))
    assert(!bodies.exists(b => fixture.exists(b.contains)))
    val accounts = (0 until 100000).iterator
      .map(graft.fixtures.FixtureGen.addr("bench-acct", _))
      .filter(a => bodies.exists(_.contains(a))).take(300).size
    assert(accounts >= 300)
  }

  test("block JSON parses against BlockIngest.blockSchema") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = spark.read.schema(graft.streaming.BlockIngest.blockSchema)
      .json(chain.take(40).map(_.json).toDS())
    val rows = df.selectExpr("height", "size(transactions)")
      .as[(Long, Int)].collect().toSeq
    assert(rows == chain.take(40).map(b => (b.height, b.txns.size)))
  }
}
