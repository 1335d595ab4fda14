package graft

import graft.llm.{Dedup, Pipeline, TextAnalysis}
import graft.relational.ScaleOps

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed cases for the round-6 operators: the distributed
  * prefix sum, incremental (cross-corpus) dedup, DSIR importance
  * weighting, and token-budget selection.
  */
class RoundSixOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("globalPrefixSum: matches the single-reducer cumsum on a total order") {
    // duplicate values force the tiebreak column to carry the ordering;
    // 8 partitions over 1000 rows exercises range boundaries + offsets
    val rows = (0 until 1000).map(i => (i.toLong, (i % 7 + 1).toLong))
    val df = rows.toDF("id", "v")
    val got = ScaleOps.globalPrefixSum(df,
        order = Seq(col("v").desc, col("id").asc),
        valueCol = col("v"), outCol = "cum", partitions = 8)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    val expected = rows.sortBy { case (id, v) => (-v, id) }
      .scanLeft((-1L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
      .drop(1).toMap
    assert(got === expected)
  }

  test("globalPrefixSum: survives partitions > rows and rejects clashes") {
    val df = Seq((1L, 10L), (2L, 5L)).toDF("id", "v")
    val got = ScaleOps.globalPrefixSum(df, Seq(col("id").asc), col("v"),
        "cum", partitions = 16)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 10L, 2L -> 15L))
    val bad = df.withColumnRenamed("v", "__graft_pid")
    val e = intercept[IllegalArgumentException] {
      ScaleOps.globalPrefixSum(bad, Seq(col("id")), col("id"), "cum")
    }
    assert(e.getMessage.contains("__graft_pid"))
  }

  test("globalPrefixSum: plan has no single-partition exchange") {
    val df = (0 until 100).map(i => (i.toLong, 1L)).toDF("id", "v")
    val out = ScaleOps.globalPrefixSum(df, Seq(col("id").asc), col("v"), "cum",
      partitions = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global window leaked into the plan:\n$plan")
  }

  test("incrementalDedup: prefix-fingerprint hit carries the canonical corpus id") {
    val mk = (id: Long, words: Seq[String]) => (id, words.mkString(" "))
    val shared = (1 to 10).map(i => s"w$i") // identical 10-word prefix
    val corpus = Seq(
      mk(7L, shared ++ Seq("corpus", "tail")),
      mk(3L, shared ++ Seq("other", "ending")), // canonical: min id 3
      mk(9L, Seq("completely", "different", "text"))
    ).toDF("doc_id", "text")
    val batch = Seq(
      mk(100L, shared ++ Seq("new", "suffix")), // dup (prefix collides)
      mk(101L, Seq("fresh", "content", "here")) // new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch)
      .select("doc_id", "dup_in_corpus", "corpus_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got(100L) === ((true, 3L)))
    assert(got(101L) === ((false, -1L)))
  }

  test("dsirWeights: bucket masses on a single shared word") {
    // one distinct word -> one bucket: per-occurrence target mass is the
    // en-doc occurrence count (2), raw mass the corpus count (3)
    val docs = Seq(
      (1L, "a a", "en"),
      (2L, "a", "de")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.dsirWeights(docs, targetLang = "en")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) === ((2L, 4L, 6L, 4.0 / 6.0)))
    assert(got(2L) === ((1L, 2L, 3L, 2.0 / 3.0)))
  }

  test("perceptualNearDups: pigeonhole finds hamming<=1 pairs, rejects radius>1") {
    import graft.llm.Multimodal
    // inject a codec whose checksum IS the pHash we want per doc
    val fixed = new Multimodal.MediaCodec {
      def decode(r: Multimodal.MediaRow): Multimodal.MediaFeatures =
        Multimodal.MediaFeatures(r.doc_id, r.format, 0L, 0, 0, 0,
          checksum = r.doc_id match {
            case 1L => 0x00FFL // vs doc 2: hamming 1 (bit 0)
            case 2L => 0x00FEL
            case 3L => 0x0F00L // vs 1/2: hamming >1 but shares hi half 0x00? no: hi=0x0F
            case _  => 0xAAAAL
          })
    }
    val media = Seq(
      (1L, "png", Array[Byte](1)), (2L, "png", Array[Byte](2)),
      (3L, "png", Array[Byte](3)), (4L, "png", Array[Byte](4))
    ).toDF("doc_id", "format", "payload")
    val got = Multimodal.perceptualNearDups(media, fixed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 1)))
    val e = intercept[IllegalArgumentException] {
      Multimodal.perceptualNearDups(media, fixed, maxHamming = 2)
    }
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("tokenBudgetSelect: longest-first until the budget is spent") {
    val docs = Seq(
      (1L, "a b c d e", "en", 9L),   // 5 tokens, longest
      (2L, "a b c", "en", 5L),       // 3 tokens, second
      (3L, "a b", "en", 3L)          // 2 tokens, would exceed budget 8
    ).toDF("doc_id", "text", "lang", "n_chars")
    val kept = Pipeline.tokenBudgetSelect(docs, budget = 8L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(kept === Map(1L -> 5L, 2L -> 8L))
  }

  test("kmeansppSeed: spreads across separated directions, min-id tie-breaks") {
    import graft.llm.Clustering
    // three tight direction clusters; seed 1 = min id (10, cluster A);
    // the next two must come from the OTHER clusters before any
    // within-cluster vector repeats
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)), (11L, Array(0.99f, 0.01f, 0.0f)),
      (20L, Array(0.0f, 1.0f, 0.0f)), (21L, Array(0.0f, 0.99f, 0.01f)),
      (30L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val seeds = Clustering.kmeansppSeed(vecs, k = 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(seeds.head === 10L)
    assert(seeds.toSet.intersect(Set(20L, 21L)).size === 1)
    assert(seeds.contains(30L))
  }

  test("epochShuffle: each epoch is a full permutation with distinct orders") {
    val docs = (0 until 50).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val out = Pipeline.epochShuffle(docs, epochs = 2)
      .select("epoch", "doc_id", "pos")
      .as[(Int, Long, Long)].collect()
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet === Set(0, 1))
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq === (1L to 50L)) // exact 1..n ranks
      assert(rows.map(_._2).toSet.size === 50)            // every doc once
    }
    val order0 = byEpoch(0).sortBy(_._3).map(_._2).toSeq
    val order1 = byEpoch(1).sortBy(_._3).map(_._2).toSeq
    assert(order0 !== order1, "epochs must permute differently")
  }

  test("metadata-only rescale: allowed without keyed files, rejected with them") {
    import graft.core.codec.Codecs.LongCodec
    import graft.state.{BackendStates, Savepoints}
    def tmp() = TempDirs.create("graft-rescale")
    // keyed op: parallelism change without rows must fail loudly
    val keyed = Savepoints
      .writer(spark, Savepoints.bootstrap("k-op", 2, 128), "k-op")
      .withKeyCodec(LongCodec)
      .createNewValueState("Count", Seq((1L, 2L), (3L, 4L)).toDS(), LongCodec)
      .writeAll(tmp())
    val e = intercept[IllegalArgumentException] {
      Savepoints.writer(spark, Savepoints.load(keyed.basePath), "k-op")
        .withParallelism(4, 256).writeAll(tmp())
    }
    assert(e.getMessage.contains("no rows were supplied"))
    // non-keyed-only op: the same metadata-only rescale succeeds
    val nk = Savepoints
      .writer(spark, Savepoints.bootstrap("n-op", 2, 128), "n-op")
      .transformNonKeyedState((i, b) =>
        BackendStates.withListState(b, "xs", Seq(i.toLong))(LongCodec))
      .writeAll(tmp())
    val rescaled = Savepoints
      .writer(spark, Savepoints.load(nk.basePath), "n-op")
      .withParallelism(4, 128).writeAll(tmp())
    val op = Savepoints.load(rescaled.basePath).operator("n-op")
    val all = (0 until 4)
      .flatMap(i => BackendStates.listState[Long](op.nonKeyed(i), "xs")(LongCodec))
    assert(all.sorted === Seq(0L, 1L))
  }

  test("perplexityTiers: terciles split 6 docs per lang as 2/2/2") {
    import graft.llm.TextAnalysis
    val docs = (1 to 6).map(i =>
      (i.toLong, (s"w$i " * (i + 1)).trim, "en")).toDF("doc_id", "text", "lang")
    val tiers = TextAnalysis.perplexityTiers(docs)
      .select("tier", "n_docs").as[(Int, Long)].collect().toMap
    assert(tiers === Map(0 -> 2L, 1 -> 2L, 2 -> 2L))
  }
}
