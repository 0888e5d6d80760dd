package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.BlockedKeys

/** The native Manku key kernel ([[BlockedKeys]]) against the column
  * expression it replaced: bit-identical keys at every array position,
  * null in → null out, and the `graft_blocked_keys` SQL surface. */
class BlockedKeysSpec extends SparkSpec {
  import spark.implicits._

  /** The column-algebra form the kernel replaced: one
    * shiftright/and/shiftleft/or tree per table key. */
  private def reference(fp: Column, bits: Int, blocks: Int, maxHamming: Int): Column = {
    val width = bits / blocks
    val mask = (1L << width) - 1
    def block(b: Int): Column = shiftright(fp, b * width).bitwiseAND(mask)
    array((0 until blocks).combinations(blocks - maxHamming).toSeq.map(c =>
      c.zipWithIndex
        .map { case (b, j) => shiftleft(block(b), j * width) }
        .reduce(_.bitwiseOR(_))): _*)
  }

  private val configs = Seq((64, 8, 3), (64, 8, 1), (64, 16, 3), (32, 4, 1), (32, 8, 2))

  private lazy val fingerprints: Seq[Long] = {
    val rng = new scala.util.Random(20261018L)
    Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(1000)(rng.nextLong())
  }

  test("native keys equal the column form bit for bit, positions included") {
    assert(fingerprints.count(_ < 0) > 400, "seeded randoms must set the sign bit")
    val fps = fingerprints.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
      .toDF("i", "fp")
    for ((bits, blocks, maxHamming) <- configs) {
      val got = fps.select($"i",
        BlockedKeys.blockedKeysNative($"fp", bits, blocks, maxHamming).as("native"),
        reference($"fp", bits, blocks, maxHamming).as("ref"))
        .collect()
      val tables = (0 until blocks).combinations(blocks - maxHamming).size
      assert(got.length == fingerprints.length)
      for (r <- got) {
        val native = r.getSeq[Long](1)
        assert(native.length == tables, (bits, blocks, maxHamming))
        assert(native == r.getSeq[Long](2),
          s"($bits,$blocks,$maxHamming) fp=${fingerprints(r.getLong(0).toInt)}")
      }
    }
  }

  test("interpreted evaluation equals codegen; null gives null; an int fingerprint widens") {
    val fps = (fingerprints.take(20).map(Option(_)) :+ None).toDF("fp")
    for ((bits, blocks, maxHamming) <- configs) {
      val keys = BlockedKeys.blockedKeysNative($"fp", bits, blocks, maxHamming)
      val codegen = fps.select(keys).collect().map(r => Option(r.getSeq[Long](0)))
      val interpreted = withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN",
        "spark.sql.codegen.wholeStage", "false") {
        fps.select(keys).collect().map(r => Option(r.getSeq[Long](0)))
      }
      assert(codegen.toSeq == interpreted.toSeq)
      assert(codegen.last.isEmpty && codegen.init.forall(_.nonEmpty))
    }
    assert(Seq(Option.empty[Long]).toDF("fp")
      .select(BlockedKeys.blockedKeysNative($"fp", 64, 8, 3).isNull).head.getBoolean(0))
    // an int fingerprint gives the column form's keys (32-bit configs)
    val ints = Seq(0, -1, Int.MinValue, Int.MaxValue, 0x5a5a5a5a).toDF("fp")
    for ((bits, blocks, maxHamming) <- configs.filter(_._1 == 32))
      ints.select(BlockedKeys.blockedKeysNative($"fp", bits, blocks, maxHamming),
        reference($"fp", bits, blocks, maxHamming)).collect()
        .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), (bits, blocks, r)))
  }

  test("graft_blocked_keys resolves through spark.sql with INT literal parameters") {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().withExtensions(new GraftExtensions()).getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    val fp = -6148914691236517206L // 0xAAAA_AAAA_AAAA_AAAA
    val row = s.sql(s"SELECT graft_blocked_keys(${fp}L, 64, 8, 3) AS k, " +
      "graft_blocked_keys(CAST(NULL AS BIGINT), 32, 4, 1) AS n").head
    val expected = Seq(fp).toDF("fp").select(reference($"fp", 64, 8, 3)).head.getSeq[Long](0)
    assert(row.getSeq[Long](0) == expected && expected.length == 56)
    assert(row.isNullAt(1))
    val e = intercept[Exception](
      s.sql("SELECT graft_blocked_keys(id, CAST(id AS INT), 8, 3) FROM range(2)").head)
    assert(e.getMessage.contains("INT literal") ||
      Option(e.getCause).exists(_.getMessage.contains("INT literal")))
    assert(s.sql("SELECT graft_blocked_keys(id, 64, 8, 3) FROM range(1)")
      .schema.head.dataType == org.apache.spark.sql.types.ArrayType(LongType, false))
  }

  private def withConf[T](kvs: String*)(body: => T): T = {
    val pairs = kvs.grouped(2).map(p => p(0) -> p(1)).toSeq
    val before = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
