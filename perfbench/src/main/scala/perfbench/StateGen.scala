package perfbench

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Seeded keyed state for the `state` workload. Every value is a
  * pure function of (seed, key index), so the expected aggregates are
  * closed-form sums over the generator and never touch the savepoint
  * layers. Doubles are multiples of 1/4 below 2^10, so their sums are
  * exact in any order.
  */
final case class StateGen(seed: Long, keys: Long) {
  import StateGen._

  def key(i: Long): String = s"user-$i"
  def count(i: Long): Long = mix(seed, i, 1) & 0xffff
  /** List length: a third of the keys have no list state. */
  def listLen(i: Long): Int = if (i % 3 == 0) 0 else 1 + (mix(seed, i, 2) % 12).toInt
  def listElem(i: Long, j: Int): Long = mix(seed, i, 100 + j) & 0xfffff
  def mapLen(i: Long): Int = (mix(seed, i, 3) % 7).toInt
  def mapEntry(i: Long, j: Int): (String, Double) = (s"f$j", (mix(seed, i, 200 + j) & 0xfff) / 4.0)
  /** `lookup` operator value for a Long key. */
  def rate(k: Long): Double = (mix(seed, k, 9) & 0x3ff) / 4.0
  /** Delta applied by the transform step to every fourth key. */
  def delta(i: Long): Long = if (i % 4 == 0) 1 + (mix(seed, i, 4) & 0xff) else 0L

  /** Closed-form aggregates each check compares with, computed on the
    * driver from the generator functions alone: (rows, sum, key CRC-32
    * sum) for the value state before and after the transform, (rows,
    * elements, element sum) for the list state, (entries, value sum) for
    * the map state, (rows, sum of value × list length) for the
    * value-list join and (rows, sum) for `lookup`.
    */
  def expected(lookupKeys: Long): Map[String, Seq[Any]] = {
    var sumV, sumT, keyCrc, lists, elems, elemSum, joinSum, entries = 0L
    var mapSum = 0.0
    val crc = new java.util.zip.CRC32()
    for (i <- 0L until keys) {
      val c = count(i)
      sumV += c
      sumT += c + delta(i)
      crc.reset()
      crc.update(key(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      keyCrc += crc.getValue
      val n = listLen(i)
      if (n > 0) {
        lists += 1; elems += n; joinSum += c * n
        for (j <- 0 until n) elemSum += listElem(i, j)
      }
      for (j <- 0 until mapLen(i)) { entries += 1; mapSum += mapEntry(i, j)._2 }
    }
    Map("count" -> Seq[Any](keys, sumV, keyCrc), "transformed" -> Seq[Any](keys, sumT, keyCrc),
      "events" -> Seq[Any](lists, elems, elemSum), "scores" -> Seq[Any](entries, mapSum),
      "join" -> Seq[Any](lists, joinSum), "rate" -> Seq[Any](lookupKeys, (0L until lookupKeys).map(rate).sum))
  }

  private def ids(spark: SparkSession): Dataset[Long] =
    spark.range(keys).as(Encoders.scalaLong)

  def counts(spark: SparkSession): Dataset[(String, Long)] = {
    val g = this
    ids(spark).map(i => (g.key(i), g.count(i)))(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
  }

  def lists(spark: SparkSession): Dataset[(String, Seq[Long])] = {
    val g = this
    import spark.implicits._
    ids(spark).filter((i: Long) => g.listLen(i) > 0)
      .map(i => (g.key(i), (0 until g.listLen(i)).map(j => g.listElem(i, j)): Seq[Long]))
  }

  def maps(spark: SparkSession): Dataset[(String, String, Double)] = {
    val g = this
    ids(spark).flatMap(i => (0 until g.mapLen(i)).map { j =>
      val (mk, v) = g.mapEntry(i, j); (g.key(i), mk, v)
    })(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaDouble))
  }

  def deltas(spark: SparkSession): Dataset[(String, Long)] = {
    val g = this
    ids(spark).filter((i: Long) => g.delta(i) > 0)
      .map(i => (g.key(i), g.delta(i)))(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
  }
}

object StateGen {
  /** splitmix64 of (seed, index, salt): non-negative. */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
}
