package graft

import graft.core.codec.{ByteWriter, Codecs, KeyGroups}
import graft.core.codec.Codecs.LongCodec
import graft.core.meta.{StateKind, StateMeta}
import graft.llm.{Clustering, Pipeline, TextAnalysis}
import graft.state.{KeyedStateRow, Savepoints, StateMaintenance}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed cases for the round-5 operators: semantic dedup,
  * k-means training, z-order layout, the hashed linear classifier, and
  * TTL state expiry.
  */
class RoundFiveOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("semDedup: drops the higher-id near-duplicate within a cluster only") {
    val cent = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f))
    ).toDF("cid", "embedding")
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)),    // cluster 0, kept (lowest id)
      (11L, Array(0.99f, 0.01f)),  // cluster 0, cos ~ 1 vs 10 -> dropped
      (12L, Array(0.0f, 1.0f)),    // cluster 1, kept
      (13L, Array(0.6f, -0.8f))    // cluster 0, far from 10/11 -> kept
    ).toDF("vec_id", "embedding")
    val got = Clustering.semDedup(vecs, cent, tau = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(10L) === ((0L, false)))
    assert(got(11L) === ((0L, true)))
    assert(got(12L) === ((1L, false)))
    assert(got(13L) === ((0L, false)))
  }

  test("kmeansTrain: one round equals kmeansStep; separable data is a fixed point") {
    val cent = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f))
    ).toDF("cid", "embedding")
    val vecs = Seq(
      (10L, Array(0.9f, 0.1f)),
      (11L, Array(0.8f, -0.2f)),
      (12L, Array(0.1f, 0.7f)),
      (13L, Array(-0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows(Clustering.kmeansTrain(vecs, cent, 1)) ===
      rows(Clustering.kmeansStep(vecs,
        cent.select(col("cid"), col("embedding")))))
    // well-separated direction clusters: round-1 means re-assign the
    // same members, so further rounds return identical means
    assert(rows(Clustering.kmeansTrain(vecs, cent, 2)) ===
      rows(Clustering.kmeansTrain(vecs, cent, 3)))
  }

  test("zorderLayout: corner points get the hand-computed Morton keys") {
    // unit-square corners; 16-bit quantization puts them at 0 / 65535,
    // so the interleaved keys are 0, 0x55555555, 0xAAAAAAAA, 0xFFFFFFFF
    val df = Seq(
      (1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 0.0, 1.0), (4L, 1.0, 1.0)
    ).toDF("id", "x", "y")
    val got = Pipeline.zorderLayout(df, col("x"), col("y"), col("id"), 4)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(6), r.getLong(7)))
      .toMap
    // ntile over zkey order: file 1 = z 0 (0,0), file 2 = 0x55555555
    // (x=max), file 3 = 0xAAAAAAAA (y=max), file 4 = 0xFFFFFFFF
    assert(got(1) === ((1L, 0L, 0L)))
    assert(got(2) === ((1L, 0x55555555L, 0x55555555L)))
    assert(got(3) === ((1L, 0xAAAAAAAAL, 0xAAAAAAAAL)))
    assert(got(4) === ((1L, 0xFFFFFFFFL, 0xFFFFFFFFL)))
  }

  test("hashClassifier: score is the sum of per-word bucket weights") {
    graft.functions.GraftFunctions.register(spark)
    def poly(w: String): Long =
      w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 4294967291L)
    def wt(w: String): Long = (((poly(w) % 64) * 2654435761L) % 1001L) - 500L
    val docs = Seq((7L, "alpha beta gamma")).toDF("doc_id", "text")
    val r = TextAnalysis.hashClassifier(docs).collect().head
    val expected = Seq("alpha", "beta", "gamma").map(wt).sum
    assert(r.getLong(1) === 3L)
    assert(r.getLong(2) === expected)
    assert(r.getBoolean(3) === (expected >= 0))
  }

  test("heldOutBigramScore: Laplace-smoothed probs over the even-id model") {
    // train docs (even ids): "a b a b", "b a" -> counts (a,b)=2, (b,a)=2,
    // tot(a)=2, tot(b)=2, V={a,b}=2. p(seen)=(2+1)/(2+2)=0.75,
    // p(unseen after b)=(0+1)/(2+2)=0.25
    val docs = Seq(
      (0L, "a b a b"), (1L, "a b c"), (2L, "b a"), (3L, "x")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.heldOutBigramScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(0L) === ((3L, 0L, 2250000000L))) // 3 x 0.75
    assert(got(1L) === ((2L, 1L, 1000000000L))) // 0.75 + 0.25
    assert(got(2L) === ((1L, 0L, 750000000L)))
    assert(got(3L) === ((0L, 0L, 0L))) // single-word doc: no bigrams
  }

  test("vocabGrowth: per-bucket new words and cumulative curves") {
    val docs = Seq(
      (0L, "a b"), (1L, "b c"), (2L, "c d"), (3L, "a e")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, buckets = 2).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(0) === ((2L, 4L, 3L, 3L, 4L))) // a, b, c first seen here
    assert(got(1) === ((2L, 4L, 2L, 5L, 8L))) // d, e new; vocab 5 of 8 tokens
  }

  test("softDedup: inverse-cluster-size weights, singletons keep full weight") {
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L))
      .toDF("doc_id", "cluster_id")
    val got = llm.Dedup.softDedup(labels)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 3333333L))) // 1e7 div 3
    assert(got(2L) === ((3L, 3333333L)))
    assert(got(4L) === ((1L, 10000000L))) // singleton: weight 1.0
  }

  test("leakageSafeSplit: whole cluster shares one split, thresholds respected") {
    def h32(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def expectedSplit(cid: Long): String = {
      val h = h32(cid)
      if (h < (0.8 * 4294967296.0).toLong) "train"
      else if (h < (0.9 * 4294967296.0).toLong) "val" else "test"
    }
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L))
      .toDF("doc_id", "cluster_id")
    val got = llm.Dedup.leakageSafeSplit(labels)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(got(1L)._2 === got(2L)._2) // same cluster -> same split, always
    got.values.foreach { case (cid, split) =>
      assert(split === expectedSplit(cid))
    }
  }

  test("filteredCosineTopK: candidates outside the query label never rank") {
    graft.functions.GraftFunctions.register(spark)
    val q = Seq((100L, 1, Array(1.0f, 0.0f))).toDF("query_id", "label", "embedding")
    val c = Seq(
      (10L, 1, Array(1.0f, 0.0f)),   // label match, cos 1
      (11L, 2, Array(1.0f, 0.0f)),   // perfect cosine but WRONG label
      (12L, 1, Array(0.0f, 1.0f))    // label match, cos 0
    ).toDF("neighbor_id", "label", "embedding")
    val got = llm.Similarity.filteredCosineTopK(q, c, k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(4)))
    assert(got.toSet === Set((10L, 1), (12L, 2))) // 11 filtered out
  }

  test("bpeMerges: frequency-weighted pairs, merges build on merges") {
    // "aa" x2 + "ab" x1: round 1 learns (a,a) with weight 2, the
    // rewrite turns "a a" into "aa", so round 2's only pair is (a,b);
    // round 3 has no pairs left and learns nothing
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, rounds = 3)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got === Seq((1, "a", "a", 2L), (2, "a", "b", 1L)))
  }

  test("bpeEncode: per-doc token counts shrink with the learned merges") {
    // one merge round learns (a,b) cnt 4 -> 'ab' 1 token, 'abc' 2
    val docs = Seq((1L, "ab ab abc"), (2L, "abc cd"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: ab(1) + ab(1) + abc(ab,c -> 2) = 3 words, 4 bpe tokens
    // doc 2: abc(2) + cd(c,d -> 2) = 2 words, 4 bpe tokens
    assert(got === Map(1L -> ((3L, 4L)), 2L -> ((2L, 4L))))
  }

  test("repetitionMetrics: hand-computed fractions, single-word doc " +
    "bigram frac 0") {
    val docs = Seq(
      (1L, "a a a b"),  // 4 words, 2 distinct; top word a=3; bigrams: aa,aa,ab -> top 2/3
      (2L, "x"))        // single word: no bigrams
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) === ((4L, 0.5, 0.75, 2.0 / 3.0)))
    assert(got(2L) === ((1L, 1.0, 1.0, 0.0)))
  }

  test("graft_ws_tokens kernel equals size(split) on edge cases incl. " +
    "multi-byte unicode") {
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq("", "a", "a b", "a  b", " a b ", "é € 漢 😀", "😀😀 x")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = rows.selectExpr("doc_id", "graft_ws_tokens(text) AS k",
      "cast(size(split(text, ' ')) as bigint) AS ref").collect()
    got.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"mismatch on doc ${r.getLong(0)}"))
  }

  test("vocabGrowth buckets sparse non-zero-based ids into [0, buckets)") {
    val docs = Seq((1000L, "a b"), (5000L, "b c"), (999999L, "c d"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, buckets = 4).collect()
    assert(got.map(_.getInt(0)).forall(b => b >= 0 && b < 4), got.mkString(";"))
    assert(got.map(_.getLong(1)).sum === 3L) // every doc lands in a bucket
  }

  test("bpeMerges is boundary-aware: a learned pair never fuses across " +
    "symbol boundaries") {
    // round 1 learns (a,b) cnt 5 -> 'abc' becomes [ab, c]; round 2
    // learns (b,c) cnt 3 from the 'bc' words — a raw-string replace of
    // 'b c' would corrupt [ab, c] (rendered 'ab c') into the never-
    // counted symbol 'abc'; the true fold leaves it for round 3, which
    // learns (ab, c) cnt 2
    val docs = Seq((1L, "ab ab ab abc abc bc bc bc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "b", 5L), (2, "b", "c", 3L),
      (3, "ab", "c", 2L)))
  }

  test("MediaCodec SPI: an injected codec replaces the stub in m02/m04 " +
    "pipelines") {
    import llm.Multimodal
    import llm.Multimodal.{MediaFeatures, MediaRow}
    // a fake "real" codec: pretends every payload decodes to a fixed
    // 640x480 image with n_frames = payload length (distinguishable
    // from the stub's checksum-derived dims on every row)
    object FakeCodec extends Multimodal.MediaCodec {
      def decode(r: MediaRow): MediaFeatures =
        MediaFeatures(r.doc_id, r.format, r.payload.length.toLong,
          640, 480, r.payload.length, 42L)
    }
    val media = Seq(
      (1L, "png", Array.fill[Byte](5)(1)),
      (2L, "mp4", Array.fill[Byte](9)(1)),
      (3L, "wav", Array.fill[Byte](8)(1))
    ).toDF("doc_id", "format", "payload")
    val feats = Multimodal.decodeFeatures(media, FakeCodec)
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(feats === Map(1L -> ((640, 480, 5)), 2L -> ((640, 480, 9)),
      3L -> ((640, 480, 8))))
    // m04 dispatch consumes the injected codec's dims: 480*32/640 = 24
    val resized = Multimodal.modalityResize(media, FakeCodec)
      .collect().map(r => r.getString(1) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5)))).toMap
    assert(resized("png") === ((32, 24, 0L, 0)))
    assert(resized("wav") === ((0, 0, 2L, 0)))   // 8 bytes / 4 samples
    assert(resized("mp4") === ((0, 0, 0L, 3)))   // frames 9 -> thumbs 1+(8/4)
    // m03 frame sampling strides the injected frame count
    val frames = Multimodal.frameSample(media, FakeCodec)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(frames === Set((2L, 0), (2L, 4), (2L, 8)))
    // and the default remains the stub (gate parity unchanged)
    val stub = Multimodal.decodeFeatures(media)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(stub.values.forall(w => w >= 64 && w < 128))
  }

  test("mediaShards: greedy byte-budget cut, items never split") {
    // sizes 5,5,5 with cap 8: bytes-before 0,5,10 -> shards 0,0,1
    val media = Seq(
      (1L, "png", Array.fill[Byte](5)(1)),
      (2L, "png", Array.fill[Byte](5)(1)),
      (3L, "png", Array.fill[Byte](5)(1)),
      (4L, "wav", Array.fill[Byte](3)(1))
    ).toDF("doc_id", "format", "payload")
    val got = llm.Multimodal.mediaShards(media, cap = 8L)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("png", 0)) === ((2L, 10L, 1L, 2L)))
    assert(got(("png", 1)) === ((1L, 5L, 3L, 3L)))
    assert(got(("wav", 0)) === ((1L, 3L, 4L, 4L)))
  }

  test("validate localizes corrupted rows to their state (detection side " +
    "of sp14)") {
    val maxPar = 128
    def goodRow(k: Long, v: Long): KeyedStateRow = {
      val w = new ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(k, maxPar), maxPar)
      LongCodec.write(w, k)
      w.writeByte(0) // void namespace
      KeyedStateRow("Count", w.toBytes, LongCodec.toBytes(v))
    }
    // two corruptions: a value too short for the declared long codec,
    // and key bytes with TRAILING GARBAGE after the namespace
    val shortValue = goodRow(101L, 5L).copy(valueBytes = Array[Byte](1, 2, 3))
    val trailingKey = {
      val g = goodRow(102L, 6L)
      g.copy(keyAndNamespaceBytes = g.keyAndNamespaceBytes ++ Array[Byte](9))
    }
    val rows = Seq(goodRow(1L, 10L), goodRow(2L, 20L), shortValue, trailingKey)
    val meta = Savepoints
      .writer(spark, Savepoints.bootstrap("corrupt-op", 2, maxPar), "corrupt-op")
      .withKeyCodec(LongCodec)
      .defineState(StateMeta("Count", StateKind.Value, "long"))
      .addKeyedStateRows(rows.toDS())
      .writeAll(TempDirs.create("graft-validate") + "/sp")
    val rep = StateMaintenance.validate(spark, Savepoints.load(meta.basePath),
      "corrupt-op").collect()
    assert(rep.length === 1)
    val r = rep.head
    assert(r.getString(0) === "Count")
    assert(r.getLong(1) === 4L)  // n_rows
    assert(r.getLong(3) === 2L, r.toString)  // ok_rows
    assert(r.getLong(4) === 2L, r.toString)  // bad_rows
  }

  test("expireTtl: keeps only entries stamped at/after the cutoff") {
    val maxPar = 128
    def row(key: Long, ts: Long, v: Long): KeyedStateRow = {
      val w = new ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, maxPar), maxPar)
      LongCodec.write(w, key)
      Codecs.VoidNamespaceCodec.write(w, ())
      val vw = new ByteWriter()
      LongCodec.write(vw, ts)
      LongCodec.write(vw, v)
      KeyedStateRow("Count", w.toBytes, vw.toBytes)
    }
    def tmp(p: String) = TempDirs.create(p)
    val rows = Seq(row(1L, 100L, 11L), row(2L, 200L, 22L), row(3L, 150L, 33L))
    val meta1 = Savepoints
      .writer(spark, Savepoints.bootstrap("ttl-spec", 2, maxPar), "ttl-spec")
      .withKeyCodec(LongCodec)
      .defineState(StateMeta("Count", StateKind.Value, "ttl<long>"))
      .addKeyedStateRows(rows.toDS())
      .writeAll(tmp("graft-ttl-spec-a"))
    val meta2 = StateMaintenance.expireTtl(
      spark, meta1, "ttl-spec", "Count", cutoffMs = 150L, tmp("graft-ttl-spec-b"))
    val got = Savepoints.reader(spark, meta2, "ttl-spec")
      .readValueStates[Long, Long]("Count")
      .collect().toMap
    assert(got === Map(2L -> 22L, 3L -> 33L)) // key 1 (ts 100) expired
  }
}
