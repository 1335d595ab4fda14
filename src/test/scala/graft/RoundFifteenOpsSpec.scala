package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15: the q82 rank-sum headroom contract.
  *
  * The single-rational z² numerator diff2²·3n(n−1)·1e6 reaches
  * ~1.9e5·n⁶ when the holdout arms fully separate (|diff2| = n0·n1),
  * which overflows decimal(38,0)/HUGEINT near n ≈ 2.9e5 customers —
  * the round-14 ADVICE finding. Past n = 200000 both dialects now
  * stage the reduction: (diff2² div n0n1)·3n(n−1)·1e6 div cubic,
  * good to n ≈ 1e8 with ≤ 3e6/n fx units of staging error. These
  * specs run the query AT a magnitude where the old form provably
  * overflows (BigInt-checked against the 38-digit ceiling) and pin
  * the staged result to an independent BigInt recomputation, plus the
  * n0/n1 = 0 single-arm guard.
  */
class RoundFifteenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q82 single-arm orders (n1 = 0) hit the guard, not a divide") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("graft-q82-onearm")
    // every custkey even → arm 1 is EMPTY
    val ord = Seq((1L, 0L), (2L, 2L), (3L, 2L), (4L, 40L))
      .toDF("o_orderkey", "o_custkey")
    TestIo.writeSingleFile(ord, dir, "orders")
    val r = SparkEntry.queries("q82_ranksum_test")(spark, dir).head()
    assert(r.getLong(0) === 3L, "n_control")
    assert(r.getLong(1) === 0L, "n_treatment")
    assert(r.getLong(5) === 0L, "rank_biserial_fx guards to 0")
    assert(r.getLong(6) === 0L, "z2_fx guards to 0")
  }

  test("q82 staged z² is correct at a magnitude where the single " +
    "rational overflows decimal(38,0)") {
    val s = spark
    import s.implicits._
    val n0 = 200000L // even custkeys: 1 order each
    val n1 = 200000L // odd custkeys: 2 orders each → full separation
    val n = n0 + n1  // 400000 > the 200000 staging threshold
    // one order per customer, plus a second for every odd customer
    val base = spark.range(n).select(col("id").as("o_orderkey"),
      col("id").as("o_custkey"))
    val extra = spark.range(n).filter(col("id") % 2 === 1)
      .select((col("id") + 1000000000L).as("o_orderkey"),
        col("id").as("o_custkey"))
    val dir = TempDirs.create("graft-q82-staged")
    TestIo.writeSingleFile(base.unionAll(extra), dir, "orders")

    // independent BigInt recomputation of the STAGED form
    val (bn0, bn1, bn) = (BigInt(n0), BigInt(n1), BigInt(n))
    val diff2 = bn0 * bn1 // full separation: u1_2 = 2·n0·n1
    val tie = (bn0.pow(3) - bn0) + (bn1.pow(3) - bn1)
    val cubic = bn.pow(3) - bn - tie
    val oldNumerator = diff2 * diff2 * 3 * bn * (bn - 1) * 1000000
    assert(oldNumerator > BigInt(10).pow(38),
      s"fixture must exceed the 38-digit ceiling, got $oldNumerator")
    val staged = (diff2 * diff2 / (bn0 * bn1)) * 3 * bn * (bn - 1) *
      1000000 / cubic
    val exact = oldNumerator / (bn0 * bn1 * cubic)
    assert((staged - exact).abs <= BigInt(3000000L / n) + 1,
      "staging error bound 3e6/n fx units")

    val r = SparkEntry.queries("q82_ranksum_test")(spark, dir).head()
    assert(r.getLong(0) === n0, "n_control")
    assert(r.getLong(1) === n1, "n_treatment")
    assert(r.getLong(2) === 2 * n0 * n1, "u1_doubled at full separation")
    assert(r.getLong(5) === 1000000L, "rank_biserial_fx = +1.0 fx")
    assert(BigInt(r.getLong(6)) === staged,
      "z2_fx matches the BigInt staged reduction")
  }
}
