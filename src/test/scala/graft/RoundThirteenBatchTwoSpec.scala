package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 batch-2 laws: count-min over-count structure (batch q77 and
  * its streaming kappa twin st30), Nelson–Aalen conservation and
  * telescoping risk sets (q78), the Benford panel's exactness (q79),
  * the personalized-restart recursion on a planted graph (g16), and the
  * stubbed-decode VAD segment structure on planted clips (m12).
  */
class RoundThirteenBatchTwoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The packed (user, day) sketch keys of the sf corpus — the driver-
    * side mirror of [[graft.relational.RelationalQueries4.cmKeyed]].
    */
  private def cmKeys(): Array[Long] =
    Catalog.t(spark, sf, "events")
      .filter(col("user_id").isNotNull)
      .select(expr("(user_id % 1000003) * 100003L + datediff(to_date(ts)," +
        " DATE '1970-01-01')"))
      .collect().map(_.getLong(0))

  test("q77: estimates only over-count, probes are the true heavy set") {
    val rows = SparkEntry.queries("q77_countmin_sketch")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val exact = cmKeys().groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    rows.foreach { r =>
      val k = r.getAs[Long]("user_id") % 1000003L * 100003L +
        r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
      val en = r.getAs[Long]("exact_n")
      val est = r.getAs[Long]("cm_est")
      assert(exact(k) == en, s"key $k: exact_n $en is not the true count")
      assert(est >= en, s"key $k: count-min under-counted ($est < $en)")
      assert(r.getAs[Long]("over_n") == est - en)
    }
    // the probe deck carries the true max frequency (the full tie-break
    // involves user/day order; the max is order-free)
    assert(rows.map(_.getAs[Long]("exact_n")).max == exact.values.max)
  }

  test("q77: the grid recounts exactly from first principles, and " +
    "collisions are real at gate scale") {
    // mirror of RelationalQueries4's CmA/CmB family — drift in either
    // side fails here before the cross-engine gate ever runs
    val A = Array(984123457L, 573259391L, 367191221L, 192910123L)
    val B = Array(12289L, 524287L, 8191L, 131071L)
    def bucket(k: Long, r: Int): Long =
      ((((k % 1000003L) * A(r) + B(r)) % 1000003L) % 64L + 64L) % 64L
    val keys = cmKeys()
    // the keyspace must well exceed the grid width, or the sketch is
    // vacuously exact and the min-of-rows machinery untested
    assert(keys.distinct.length > 6 * 64,
      s"only ${keys.distinct.length} distinct keys — sketch is vacuous")
    val grid = collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    keys.foreach(k => (0 until 4).foreach(r =>
      grid((r, bucket(k, r))) += 1L))
    val out = SparkEntry.queries("q77_countmin_sketch")(spark, sf).collect()
    out.foreach { row =>
      val k = row.getAs[Long]("user_id") % 1000003L * 100003L +
        row.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
      val want = (0 until 4).map(r => grid((r, bucket(k, r)))).min
      assert(row.getAs[Long]("cm_est") == want,
        s"key $k: sketch min ${row.getAs[Long]("cm_est")} != $want")
    }
    // at this keyspace-to-width ratio at least one probe over-counts
    assert(out.map(_.getAs[Long]("over_n")).max > 0L,
      "no probe over-counted — the collision regime is not exercised")
  }

  test("count-min buckets stay in [0, width) for NEGATIVE packed keys " +
    "— the ≤depth×width state bound is unconditional") {
    // a negative user id survives cmKeyed's packing as a negative key;
    // truncated % alone would emit negative buckets and silently widen
    // the grid to up to 4× its stated size (round-13 advice item)
    val probes = Seq(Long.MinValue + 7L, -987654321987L, -1000003L, -1L,
      0L, 1L, 999999999999L)
    probes.foreach { k =>
      graft.relational.RelationalQueries4.cmBucketsScala(k).foreach { b =>
        assert(b >= 0L && b < 64L, s"key $k: bucket $b escapes [0, 64)")
      }
    }
  }

  test("st30 equals q77 cell-for-cell (kappa: the streaming grid IS " +
    "the batch grid)") {
    val batch = SparkEntry.queries("q77_countmin_sketch")(spark, sf)
      .collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("st30_stream_countmin")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(batch == stream)
  }

  test("q78: every order contributes one duration; risk sets " +
    "telescope; the cumulative hazard is the exact prefix sum") {
    val out = SparkEntry.queries("q78_survival_hazard")(spark, sf)
      .orderBy(col("dur_days")).collect()
    assert(out.nonEmpty)
    val nOrders = Catalog.t(spark, sf, "orders").count()
    val nCust = Catalog.t(spark, sf, "orders")
      .select(col("o_custkey")).distinct().count()
    // observed events = orders − customers (each customer's last order
    // is censored, every other order sees a next one)
    assert(out.map(_.getAs[Long]("n_events")).sum == nOrders - nCust)
    // the first risk set is at most the total duration count, and the
    // sets shrink by at least the events consumed at each step
    assert(out.head.getAs[Long]("n_risk") <= nOrders)
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") <=
          a.getAs[Long]("n_risk") - a.getAs[Long]("n_events"),
          s"risk set did not telescope at dur ${b.getAs[Long]("dur_days")}")
      case _ => ()
    }
    var acc = 0L
    out.foreach { r =>
      acc += r.getAs[Long]("hazard_fx")
      assert(r.getAs[Long]("cum_hazard_fx") == acc)
    }
  }

  test("q79: all nine digits present, counts conserve, shares and the " +
    "Benford table are exact fixed point") {
    val out = SparkEntry.queries("q79_benford_audit")(spark, sf)
      .orderBy(col("digit")).collect()
    assert(out.map(_.getAs[Long]("digit")).toSeq == (1L to 9L))
    val nOrders = Catalog.t(spark, sf, "orders").count()
    assert(out.map(_.getAs[Long]("n_obs")).sum == nOrders)
    val obsSum = out.map(_.getAs[Long]("obs_fx")).sum
    assert(obsSum <= 1000000000L && obsSum > 1000000000L - 9,
      s"floor-rounded shares should sum to 1e9 minus <9: $obsSum")
    // Σ floor(log10(1+1/d)·1e9) — a constant of the op
    assert(out.map(_.getAs[Long]("exp_fx")).sum == 999999996L)
    out.foreach(r => assert(r.getAs[Long]("dev_fx") ==
      math.abs(r.getAs[Long]("obs_fx") - r.getAs[Long]("exp_fx"))))
  }

  test("g16: the integer restart recursion reproduces exactly on a " +
    "planted path with one seed") {
    val sqlc = spark
    import sqlc.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id") // path 0-1-2, isolated 3
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val scale = 1000000L
    val iters = 5
    val got = graft.llm.GraphAlgs
      .personalizedPageRank(nodes, edges, seeds, iters, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference recursion with the same floor arithmetic
    val deg = Map(0L -> 1L, 1L -> 2L, 2L -> 1L)
    val base = Map(0L -> (15L * scale) / 100L).withDefaultValue(0L)
    var v = Map(0L -> scale, 1L -> 0L, 2L -> 0L, 3L -> 0L)
    for (_ <- 1 to iters) {
      val in = Map(
        0L -> v(1L) / deg(1L),
        1L -> (v(0L) / deg(0L) + v(2L) / deg(2L)),
        2L -> v(1L) / deg(1L),
        3L -> 0L)
      v = v.keys.map(k => k -> (base(k) + (85L * in(k)) / 100L)).toMap
    }
    assert(got == v)
    // the isolated non-seed holds exactly zero (no restart, no inflow);
    // everything on the seed's path holds positive mass. (No ordering
    // claim between path nodes: with a degree-1 seed the walk's parity
    // legitimately parks more mass on the middle node some iterations.)
    assert(got(0L) > 0L && got(1L) > 0L && got(2L) > 0L && got(3L) == 0L)
  }

  test("g16: empty seed set yields all-zero mass, not a crash") {
    val sqlc = spark
    import sqlc.implicits._
    val nodes = Seq(0L, 1L).toDF("id")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    val seeds = Seq.empty[Long].toDF("id")
    val got = graft.llm.GraphAlgs
      .personalizedPageRank(nodes, edges, seeds, 3, 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L))
  }

  test("q80: counts conserve the user population and z² recounts " +
    "exactly in big-integer arithmetic") {
    val r = SparkEntry.queries("q80_holdout_lift")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val n0 = row.getAs[Long]("n_control")
    val c0 = row.getAs[Long]("conv_control")
    val n1 = row.getAs[Long]("n_treatment")
    val c1 = row.getAs[Long]("conv_treatment")
    val users = Catalog.t(spark, sf, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct().count()
    assert(n0 + n1 == users)
    assert(c0 <= n0 && c1 <= n1 && c0 + c1 > 0)
    assert(row.getAs[Long]("rate_control_fx") == c0 * 1000000L / n0)
    assert(row.getAs[Long]("lift_fx") ==
      c1 * 1000000L / n1 - c0 * 1000000L / n0)
    val (bn0, bc0, bn1, bc1) =
      (BigInt(n0), BigInt(c0), BigInt(n1), BigInt(c1))
    val df = bc1 * bn0 - bc0 * bn1
    val den = bn0 * bn1 * (bc0 + bc1) * (bn0 + bn1 - bc0 - bc1)
    val want = if (den == 0) BigInt(0)
    else df * df * (bn0 + bn1) * 1000000 / den
    assert(BigInt(row.getAs[Long]("z2_fx")) == want)
  }

  test("p29: allocation sums exactly to the budget, respects the cap, " +
    "and matches the iterative water-filling fixpoint") {
    val out = SparkEntry.queries("p29_capped_mix")(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("toks"), r.getAs[Long]("capped"),
          r.getAs[Long]("alloc"))).toMap
    val budget = 100000L
    val cap = budget / 20
    assert(out.values.map(_._3).sum == budget,
      "allocation does not conserve the budget")
    assert(out.values.forall(_._3 <= cap), "a source exceeds the cap")
    // independent reference: the ITERATIVE fixpoint (cap, redistribute,
    // repeat) — the closed-form prefix rule must land on the same set
    val toks = out.map { case (s, (t, _, _)) => s -> t }
    var capped = Set.empty[String]
    var changed = true
    while (changed) {
      val r = budget - capped.size * cap
      val trest = toks.collect {
        case (s, t) if !capped(s) => t }.map(BigInt(_)).sum
      val newly = toks.keys.filter(s => !capped(s) &&
        BigInt(toks(s)) * r > BigInt(cap) * trest).toSet
      changed = newly.nonEmpty
      capped ++= newly
    }
    assert(out.filter(_._2._2 == 1L).keySet == capped,
      "capped set differs from the iterative fixpoint")
    // uncapped allocations are Hamilton over the remaining budget
    val r = budget - capped.size * cap
    val trest = toks.collect { case (s, t) if !capped(s) => t }.sum
    val base = toks.collect { case (s, t) if !capped(s) =>
      s -> (r * t / trest, r * t % trest) }.toMap
    val leftover = r - base.values.map(_._1).sum
    val extras = base.toSeq.sortBy { case (s, (_, rem)) => (-rem, s) }
      .take(leftover.toInt).map(_._1).toSet
    base.foreach { case (s, (b, _)) =>
      val want = b + (if (extras(s)) 1L else 0L)
      assert(out(s)._3 == want, s"$s: alloc ${out(s)._3} != $want")
    }
    // the cap binds on this corpus — otherwise the op gates nothing
    assert(capped.nonEmpty && capped.size < toks.size,
      "cap must bind on some but not all sources at gate scale")
  }

  test("q81: the Theil-Sen trend recounts exactly from first " +
    "principles (pairwise slopes, lower medians)") {
    val dg = Catalog.t(spark, sf, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"), col("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = dg.groupBy(_._1)
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s(((s.length + 1) / 2) - 1)
    }
    val want = byType.map { case (t, rows) =>
      val days = rows.map(r => (r._2, r._3)).sortBy(_._1)
      val slopes = for {
        i <- days.indices; j <- (i + 1) until days.length
      } yield ((days(j)._2 - days(i)._2) * 1000000L) /
        (days(j)._1 - days(i)._1)
      if (slopes.isEmpty) t -> (days.length.toLong, 0L, None, None)
      else {
        val m = lowerMedian(slopes)
        val b = lowerMedian(days.map { case (x, y) => y * 1000000L - m * x })
        t -> (days.length.toLong, slopes.length.toLong, Some(m), Some(b))
      }
    }
    val got = SparkEntry.queries("q81_theilsen_trend")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"),
          Option(r.get(r.fieldIndex("slope_fx"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("intercept_fx")))
            .map(_.asInstanceOf[Long]))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (t, w) =>
      assert(got(t) == w, s"$t: ${got(t)} != $w")
    }
    // n_pairs is the day-grain law: span choose 2
    got.foreach { case (_, (nd, np, _, _)) =>
      assert(np == nd * (nd - 1) / 2)
    }
  }

  test("m12: planted clips segment exactly (active runs, counts, " +
    "wrong-modality exclusion)") {
    val sqlc = spark
    import sqlc.implicits._
    val dir = TempDirs.create("m12fix")
    val docs = Seq(
      // frames: [32 spaces = 131072 active][32 a's = 32 idle][active]
      (2L, " " * 32 + "a" * 32 + " " * 32, "en", "src", 96L),
      // frames: [active][active][5 a's = 5 idle] — one run of 2
      (6L, " " * 64 + "aaaaa", "en", "src", 69L),
      // one short idle frame: energy (98-96)^2 * 2 = 8
      (10L, "bb", "en", "src", 2L),
      // not in the wav slice (doc_id % 4 != 2): must not appear
      (1L, " " * 32, "en", "src", 32L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("m12_audio_vad")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_frames"), r.getAs[Long]("n_active"),
          r.getAs[Long]("n_segments"), r.getAs[Long]("longest_run")))
      .toMap
    assert(out == Map(
      2L -> ((3L, 2L, 2L, 1L)),
      6L -> ((3L, 2L, 1L, 2L)),
      10L -> ((1L, 0L, 0L, 0L))))
  }
}
