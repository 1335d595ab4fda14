package graft.llm

import graft.{Catalog, Layout, Materialize, QueryDef}
import graft.Materialize.SessionMemo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats.{Actual, Severed}

/** Text-analysis operators for LLM data pipelines over the `documents`
  * table: language ID (stopword n-gram heuristic), quality scoring,
  * token counting, and document fingerprinting. All four are scan →
  * narrow map → (optional) aggregation pipelines: no shuffle except the
  * per-doc groupBy in the fingerprint, so they scale linearly with input
  * splits at 100 TB.
  */
object TextAnalysis {
  import TextExprs._

  def all: Seq[QueryDef] = Seq(

    // Language ID: count stopword hits per language, deterministic argmax.
    QueryDef(
      "t01_lang_id",
      Some {
        val scores = stopwords
          .map { case (l, ws) => s"${duckStopHits(ws)} AS s_$l" }
          .mkString(",\n    ")
        s"""WITH d AS (SELECT doc_id, lang, $duckWords AS w FROM documents),
           |sc AS (SELECT doc_id, lang,
           |    $scores
           |  FROM d)
           |SELECT doc_id, lang, $predLangCase AS pred_lang,
           |  (lang = $predLangCase) AS is_correct
           |FROM sc""".stripMargin
      },
      (s, d) => langId(Catalog.t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          (col("lang") === col("pred_lang")).as("is_correct"))),

    // Quality scoring: length/stopword/alpha ratios + composite score.
    QueryDef(
      "t02_quality_score",
      Some {
        val en = stopwords.toMap.apply("en")
        s"""WITH d AS (SELECT doc_id, $duckWords AS w, text FROM documents)
           |SELECT doc_id,
           |  cast(len(w) as bigint) AS n_words,
           |  cast(length(text) as bigint) AS n_chars,
           |  cast(length(replace(text, ' ', '')) as double)
           |    / greatest(len(w), 1) AS avg_word_len,
           |  cast(${duckStopHits(en)} as double) / greatest(len(w), 1) AS stop_ratio,
           |  (cast(${duckStopHits(en)} as double) / greatest(len(w), 1)) * 0.5
           |    + least(cast(len(w) as double) / 100, 1.0) * 0.5 AS quality_score,
           |  (len(w) >= 5 AND len(w) <= 2000) AS len_ok
           |FROM d""".stripMargin
      },
      (s, d) => qualityScore(Catalog.t(s, d, "documents"))),

    // Token counting: whitespace, BPE-ish regex, and bytes/4 estimate.
    QueryDef(
      "t03_token_stats",
      Some("""SELECT doc_id,
             |  cast(len(string_split(text, ' ')) as bigint) AS ws_tokens,
             |  cast(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) as bigint) AS re_tokens,
             |  cast(ceil(strlen(text) / 4.0) as bigint) AS est_bpe_tokens
             |FROM documents""".stripMargin),
      (s, d) => tokenStats(Catalog.t(s, d, "documents"))),

    // Fingerprint: min-sampled md5 over 3-word shingles (minhash-style
    // signature + 1/16 mod-sample size); drops docs with <3 words, both
    // engines alike.
    QueryDef(
      "t04_fingerprint",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |s AS (SELECT doc_id, unnest($duckShingles) AS sh FROM d)
              |SELECT doc_id,
              |  min(md5(sh)) AS fp_min,
              |  count(DISTINCT sh) AS n_shingles,
              |  count(DISTINCT CASE WHEN substring(md5(sh), 1, 1) = '0'
              |                      THEN sh END) AS n_sampled
              |FROM s GROUP BY doc_id""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(sparkShingles)).as("sh"))
        // dedup once, then PLAIN aggregation: the previous two
        // countDistincts with different filters planned an Expand that
        // tripled the exploded shingle rows (min/count over the
        // distinct set are value-identical)
        .distinct()
        .groupBy(col("doc_id"))
        .agg(
          min(md5(col("sh").cast("binary"))).as("fp_min"),
          count(lit(1)).as("n_shingles"),
          sum(when(expr("substring(md5(cast(sh as binary)), 1, 1) = '0'"), 1L)
            .otherwise(0L)).as("n_sampled"))),

    // Rolling-hash fingerprint: polynomial hash over each 3-word shingle
    // (the codegen'd PolyHash32 kernel), mod-16 sampled — winnowing-style
    // content signature with bounded size per document.
    QueryDef(
      "t05_rolling_fingerprint",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |s AS (SELECT doc_id, unnest($duckShingles) AS sh FROM d),
              |h AS (SELECT doc_id, ${duckWordHash("sh")} AS h FROM s)
              |SELECT doc_id,
              |  cast(sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END) as bigint) AS n_sampled,
              |  min(h) AS min_hash, max(h) AS max_hash
              |FROM h GROUP BY doc_id""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Catalog.t(s, d, "documents")
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), explode(expr(sparkShingles)).as("sh"))
          .select(col("doc_id"), expr("graft_polyhash32(sh)").as("h"))
          .groupBy(col("doc_id"))
          .agg(
            sum(when(expr("h % 16 = 0"), 1).otherwise(0)).cast("long").as("n_sampled"),
            min(col("h")).as("min_hash"),
            max(col("h")).as("max_hash"))
      }),

    // Repetition filter (RefinedWeb-style): share of the most frequent
    // word bigram among all bigrams — high ratio = boilerplate/looped
    // text that LLM corpora drop.
    QueryDef(
      "t06_repetition",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |b AS (SELECT doc_id, unnest(list_transform(
              |    range(1, greatest(len(w), 1)),
              |    i -> w[i] || ' ' || w[i + 1])) AS bg FROM d),
              |c AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2),
              |m AS (SELECT doc_id, max(n) AS max_n,
              |    cast(sum(n) as bigint) AS total_n FROM c GROUP BY doc_id)
              |SELECT doc_id, max_n, total_n,
              |  cast(max_n as double) / total_n AS rep_ratio,
              |  (cast(max_n as double) / total_n > 0.2) AS is_repetitive
              |FROM m""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) " +
            "ELSE cast(array() as array<string>) END")).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("max_n"), sum(col("n")).as("total_n"))
        .select(col("doc_id"), col("max_n"), col("total_n"),
          expr("cast(max_n as double) / total_n").as("rep_ratio"),
          expr("cast(max_n as double) / total_n > 0.2").as("is_repetitive"))),

    // Scrubbing: digit-run redaction (the PII-scrub pipeline shape).
    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics.
    QueryDef(
      "t07_scrub",
      Some("""SELECT doc_id,
             |  regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS scrubbed,
             |  cast(len(regexp_extract_all(text, '[0-9]+')) as bigint) AS n_number_runs
             |FROM documents""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents").select(
        col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("scrubbed"),
        expr("cast(size(regexp_extract_all(text, '[0-9]+', 0)) as bigint)")
          .as("n_number_runs"))),

    // Vocabulary building: corpus-level token frequencies, top 50.
    QueryDef(
      "t08_vocab_topk",
      Some(s"""WITH d AS (SELECT $duckWords AS w FROM documents),
              |t AS (SELECT unnest(w) AS word FROM d)
              |SELECT word, count(*) AS freq FROM t GROUP BY word
              |ORDER BY freq DESC, word ASC LIMIT 50""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word").asc)
        .limit(50)),

    // KMV distinct-count sketch per language via the native
    // TypedImperativeAggregate ([[graft.functions.KMinValues]]): k
    // smallest distinct word hashes + the standard (k-1)*range/kthMin
    // estimator, checked against exact SQL on the same hashes.
    QueryDef(
      "t09_kmv_sketch",
      Some(s"""WITH d AS (SELECT lang, $duckWords AS w FROM documents),
              |h AS (SELECT lang, ${duckWordHash("x.word")} AS h FROM
              |  (SELECT lang, unnest(w) AS word FROM d) x),
              |g AS (SELECT lang, list_sort(list_distinct(list(h))) AS hs,
              |    count(DISTINCT h) AS n_distinct FROM h GROUP BY lang)
              |SELECT lang, cast(n_distinct as bigint) AS n_distinct,
              |  hs[1] AS min_hash,
              |  hs[least(16, len(hs))] AS kth_min,
              |  CASE WHEN len(hs) >= 16
              |    THEN (15 * 4294967291) // hs[16]
              |    ELSE cast(n_distinct as bigint) END AS ndv_est
              |FROM g""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Catalog.t(s, d, "documents")
          .withColumn("word", explode(split(col("text"), " ")))
          .select(col("lang"), expr("graft_polyhash32(word)").as("h"))
          .groupBy(col("lang"))
          .agg(expr("graft_kmin(h, 16)").as("hs"),
            countDistinct(col("h")).as("n_distinct"))
          .select(col("lang"), col("n_distinct"),
            expr("element_at(hs, 1)").as("min_hash"),
            expr("element_at(hs, least(16, size(hs)))").as("kth_min"),
            expr("CASE WHEN size(hs) >= 16 " +
              "THEN (15 * 4294967291L) div element_at(hs, 16) " +
              "ELSE n_distinct END").as("ndv_est"))
      }),

    // TF-IDF-style term salience: top-3 terms per doc by tf * (N/df).
    // The idf proxy is the plain rarity ratio N/df — one IEEE division
    // and one multiply in a fixed order, so scores are bit-identical
    // across engines (ln() is libm-dependent and is deliberately
    // avoided). Two shuffles at scale: (doc, word) count and word df;
    // the per-doc top-k is a bounded window.
    QueryDef(
      "t10_tfidf",
      Some(s"""WITH wx AS (SELECT doc_id, unnest($duckWords) AS word FROM documents),
              |tf AS (SELECT doc_id, word, count(*) AS tf FROM wx GROUP BY 1, 2),
              |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT count(DISTINCT doc_id) AS nd FROM wx),
              |sc AS (SELECT doc_id, word, cast(tf as bigint) AS tf,
              |    cast(tf as double) * (cast(nd as double) / cast(df as double))
              |      AS score
              |  FROM tf JOIN df USING (word), n),
              |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, word ASC) AS rn FROM sc)
              |SELECT doc_id, word, tf, score, cast(rn as int) AS rn
              |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wx = Catalog.t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val tf = wx.groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        // N from the un-exploded table (split() never yields 0 tokens on
        // non-null text, so this equals countDistinct over wx — without a
        // second explode). The isNotNull filter keeps the equivalence
        // even for a corpus with NULL text, which explode() would drop.
        val n = Catalog.t(s, d, "documents")
          .filter(col("text").isNotNull)
          .agg(countDistinct(col("doc_id")).as("nd"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word").asc)
        tf.join(df, "word").crossJoin(broadcast(n))
          .withColumn("score", expr(
            "cast(tf as double) * (cast(nd as double) / cast(df as double))"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("doc_id", "word", "tf", "score", "rn")
      }),

    // Bigram language model: count word->next transitions corpus-wide,
    // keep the argmax next word per head with its conditional
    // probability. Narrow map (adjacent-pair explode) + one shuffle.
    QueryDef(
      "t11_bigram_lm",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |bg AS (SELECT unnest(list_transform(range(1, len(w)),
              |    i -> {'w1': w[i], 'w2': w[i + 1]}), recursive := true) FROM d),
              |c AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
              |tot AS (SELECT w1, sum(cnt) AS tot FROM c GROUP BY 1),
              |r AS (SELECT c.w1, c.w2, cast(cnt as bigint) AS cnt,
              |    cast(cnt as double) / cast(tot as double) AS p,
              |    row_number() OVER (PARTITION BY c.w1
              |      ORDER BY cnt DESC, w2 ASC) AS rn
              |  FROM c JOIN tot USING (w1))
              |SELECT w1, w2, cnt, p FROM r WHERE rn = 1""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bg = Catalog.t(s, d, "documents")
          .withColumn("w", split(col("text"), " "))
          // sequence(1, 0) DESCENDS in Spark, so single-word docs need an
          // explicit empty branch (DuckDB's range(1, 1) is just empty)
          .select(explode(expr(
            "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
              "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2)) " +
              "ELSE cast(array() as array<struct<w1: string, w2: string>>) END"))
            .as("b"))
          .select(col("b.w1"), col("b.w2"))
        val c = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        val tot = c.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
        val w = Window.partitionBy(col("w1"))
          .orderBy(col("cnt").desc, col("w2").asc)
        c.join(tot, "w1")
          .withColumn("p", expr("cast(cnt as double) / cast(tot as double)"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("w1", "w2", "cnt", "p")
      }),

    // Character-trigram profile: the top 5 trigrams per language — the
    // character-level signal a language-ID model trains on. Narrow
    // explode + one shuffle; the per-lang top-k is a bounded window.
    QueryDef(
      "t12_char_ngrams",
      Some("""WITH tg AS (SELECT lang,
             |    unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
             |      i -> substring(text, cast(i as int), 3))) AS tri
             |  FROM documents),
             |c AS (SELECT lang, tri, count(*) AS cnt FROM tg GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY lang
             |    ORDER BY cnt DESC, tri ASC) AS rn FROM c)
             |SELECT lang, tri, cnt, cast(rn as int) AS rn
             |FROM r WHERE rn <= 5""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("tri").asc)
        // the trigram explode+aggregate is this query's entire cost:
        // spread the narrow (lang, text) projection first
        Layout.spread(Catalog.t(s, d, "documents").select(col("lang"), col("text")))
          // sequence(1, 0) DESCENDS in Spark — guard texts under 3 chars
          .select(col("lang"), explode(expr(
            "CASE WHEN length(text) >= 3 THEN transform(" +
              "sequence(1, length(text) - 2), i -> substring(text, i, 3)) " +
              "ELSE cast(array() as array<string>) END")).as("tri"))
          .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("lang", "tri", "cnt", "rn")
      }),

    // Hashing-trick linear scorer (fastText-style quality classifier):
    // each word hashes into one of HashDim buckets, each bucket carries
    // a fixed integer weight, and a document's score is the mean bucket
    // weight of its words. The model here is a stand-in (deterministic
    // weights from the bucket id) — the OPERATOR is the point: feature
    // hashing + linear scoring is how classifier filters run at corpus
    // scale without a vocabulary. Spark side is a pure narrow map (the
    // fold runs inside the scan via higher-order aggregate — no explode,
    // no shuffle); integer score_fx keeps the sum exact cross-engine.
    QueryDef(
      "t14_hash_classifier",
      Some {
        val wt = s"((((${duckWordHash("x")}) % $HashDim) * $WeightMul) " +
          s"% $WeightMod) - $WeightOff"
        s"""WITH w AS (SELECT doc_id, unnest($duckWords) AS x FROM documents),
           |g AS (SELECT doc_id, cast(sum($wt) as bigint) AS score_fx,
           |    count(*) AS n_words FROM w GROUP BY doc_id)
           |SELECT doc_id, n_words, score_fx,
           |  (cast(score_fx as double)
           |    / (cast($WeightOff as double) * cast(n_words as double)))
           |    >= cast(0 as double) AS keep
           |FROM g""".stripMargin
      },
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        hashClassifier(Catalog.t(s, d, "documents"))
      }),

    // Held-out bigram-LM scoring ("perplexity filter"): train a
    // Laplace-smoothed bigram model on half the corpus, score EVERY doc
    // by its bigram probabilities under that model — the classic
    // LM-based quality filter (docs scoring far from the corpus LM are
    // boilerplate or noise). Fixed-point prob sums keep the result
    // cross-engine exact; n_unseen counts out-of-model bigrams.
    QueryDef(
      "t15_perplexity",
      Some(s"""WITH $perplexityCtes
              |SELECT doc_id, n_bigrams, n_unseen, score_fx FROM px""".stripMargin),
      (s, d) => heldOutBigramScore(Catalog.t(s, d, "documents"))),

    // CCNet-style perplexity tiers: per language, docs split into
    // head/middle/tail terciles by LM score rank — the bucketing CCNet
    // uses to keep the well-modeled third and discard boilerplate. The
    // tier boundary is exact integer rank math over the t15 scores, so
    // the report is engine-identical.
    QueryDef(
      "t23_perplexity_tiers",
      Some(s"""WITH $perplexityCtes,
              |l AS (SELECT px.doc_id, d3.lang, score_fx FROM px
              |  JOIN documents d3 ON px.doc_id = d3.doc_id),
              |r AS (SELECT doc_id, lang, score_fx,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY score_fx DESC, doc_id) AS rn,
              |    count(*) OVER (PARTITION BY lang) AS n FROM l)
              |SELECT lang, cast((rn - 1) * 3 // n as int) AS tier,
              |  count(*) AS n_docs, min(score_fx) AS min_fx,
              |  max(score_fx) AS max_fx
              |FROM r GROUP BY 1, 2""".stripMargin),
      (s, d) => perplexityTiers(Catalog.t(s, d, "documents"))),

    // Heavy-hitter sketch over the corpus word stream via the native
    // Misra-Gries TypedImperativeAggregate (graft_mg): map-side partial
    // sketches of <= m counters merge with the PODS'12 subtract rule, so
    // the shuffle carries m counters per mapper, never the term stream.
    // m=64 >= the corpus vocabulary, so the sketch is exact here and the
    // oracle is plain frequency counting; the approximation regime
    // (m < distinct, undercount <= n/(m+1)) is spec-checked instead.
    QueryDef(
      "t24_heavy_hitters",
      Some(s"""WITH d AS (SELECT $duckWords AS w FROM documents),
              |t AS (SELECT unnest(w) AS term FROM d)
              |SELECT term, count(*) AS cnt FROM t GROUP BY term
              |ORDER BY cnt DESC, term ASC LIMIT 10""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Catalog.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .agg(expr("graft_mg(term, 64)").as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.term").as("term"), col("e.cnt").as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(10)
      }),

    // Character-entropy quality signal (low = boilerplate/repetition,
    // high = encoding noise): Shannon entropy over per-doc char
    // frequencies in fixed-point micro-bits. Cross-engine float
    // discipline: both engines fold b*log2(b) over the SAME
    // ascending-sorted count array (Spark `aggregate` HOF vs DuckDB
    // list_reduce), so the IEEE operation sequence is identical —
    // never an unordered SUM over libm outputs.
    QueryDef(
      "t25_char_entropy",
      Some("""WITH w AS (SELECT doc_id, unnest(list_transform(
             |    range(1, length(text) + 1), i -> text[i])) AS ch
             |  FROM documents),
             |g AS (SELECT doc_id, ch, count(*) AS c FROM w GROUP BY 1, 2),
             |a AS (SELECT doc_id, list_sort(list(c)) AS arr, sum(c) AS n
             |  FROM g GROUP BY doc_id)
             |SELECT doc_id, cast(n AS bigint) AS n_chars_obs,
             |  cast(round(1000000 * (log2(cast(n AS double)) -
             |    list_reduce(list_prepend(cast(0 AS double),
             |      list_transform(arr, x -> cast(x AS double))),
             |      (acc, b) -> acc + b * log2(b)) / cast(n AS double)))
             |    AS bigint) AS ent_fx
             |FROM a""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "") // Java zero-width split artifacts
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("c"))).as("arr"),
          sum(col("c")).as("n"))
        .select(col("doc_id"),
          col("n").cast("long").as("n_chars_obs"),
          expr("""cast(round(1000000 * (log2(cast(n as double)) -
                 |  aggregate(arr, cast(0 as double),
                 |    (acc, x) -> acc + cast(x as double) * log2(cast(x as double)))
                 |  / cast(n as double))) as bigint)""".stripMargin)
            .as("ent_fx"))),

    // BPE tokenizer training: BpeRounds merge rounds over the corpus
    // vocabulary — each round counts adjacent symbol pairs (weighted by
    // word frequency), adopts the most frequent pair as a merge, and
    // rewrites the vocabulary. The oracle unrolls the same rounds in
    // SQL, so the learned merge table is cross-engine exact.
    QueryDef(
      "t17_bpe_merges",
      Some(bpeOracle),
      (s, d) => mergesToDF(s, bpeShared(s, d)._1)),

    // BPE APPLICATION: the corpus tokenized with the t17-trained model —
    // per-doc whitespace vs BPE token counts (the number every data
    // pipeline budget runs on). The trained segmentation is joined back
    // to the corpus words keyed on `word`; the oracle re-runs the same
    // training rounds in SQL and the same join.
    QueryDef(
      "t18_bpe_encode",
      Some(bpeEncodeOracle),
      (s, d) => bpeEncodeWith(Catalog.t(s, d, "documents"),
        bpeShared(s, d)._2)),

    // Repetition-based quality metrics (the Gopher-rule family adapted
    // to the line-less corpus): per-doc distinct-word ratio, top-word
    // fraction and top-bigram fraction — the signals that catch
    // boilerplate and degenerate repetition before training. Every
    // stage is a narrow explode + per-doc keyed aggregation.
    QueryDef(
      "t19_repetition",
      Some(repetitionOracle),
      (s, d) => repetitionMetrics(Catalog.t(s, d, "documents"))),

    // Heaps'-law vocabulary growth: split the corpus into 10 doc-id
    // deciles and report per-decile token counts, NEW distinct words
    // (first appearance), and the cumulative vocabulary curve. The
    // whole computation is integer-exact; the only windows run over the
    // 10 bucket rows.
    QueryDef(
      "t16_heaps_law",
      Some(s"""WITH n AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
              |    FROM documents),
              |d AS (SELECT doc_id,
              |    cast((doc_id - lo) * 10 // (hi - lo + 1) as int) AS bucket,
              |    $duckWords AS w FROM documents, n),
              |words AS (SELECT bucket, unnest(w) AS x FROM d),
              |toks AS (SELECT bucket, count(*) AS n_tokens FROM words GROUP BY 1),
              |fw AS (SELECT x, min(bucket) AS bucket FROM words GROUP BY 1),
              |nw AS (SELECT bucket, count(*) AS new_words FROM fw GROUP BY 1),
              |db AS (SELECT bucket, count(*) AS n_docs FROM d GROUP BY 1)
              |SELECT db.bucket, n_docs, n_tokens,
              |  cast(coalesce(new_words, 0) as bigint) AS new_words,
              |  cast(sum(coalesce(new_words, 0)) OVER (ORDER BY db.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS vocab_cum,
              |  cast(sum(n_tokens) OVER (ORDER BY db.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS tokens_cum
              |FROM db JOIN toks USING (bucket) LEFT JOIN nw USING (bucket)""".stripMargin),
      (s, d) => vocabGrowth(Catalog.t(s, d, "documents"))),

    // DSIR-style importance weights: how target-domain-like is each doc,
    // scored over hashed unigram features (the data-selection weighting
    // of Xie et al.'s DSIR, with exact integer bucket masses instead of
    // log-ratios so the gate stays bit-deterministic). Bucket table is
    // HashDim rows by construction -> inlined as literals, so scoring is
    // a pure narrow map (no join, no shuffle) — the same inline-model
    // pattern as pqEncode/assignCells.
    QueryDef(
      "t20_importance_weights",
      Some {
        val b = s"cast((${duckWordHash("x")}) % $HashDim as int)"
        s"""WITH w AS (SELECT doc_id, lang, unnest($duckWords) AS x
           |  FROM documents),
           |bk AS (SELECT doc_id, lang, $b AS bucket FROM w),
           |st AS (SELECT bucket, count(*) AS r_cnt,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt
           |  FROM bk GROUP BY bucket),
           |doc AS (SELECT bk.doc_id, count(*) AS n_words,
           |    cast(sum(t_cnt) as bigint) AS target_mass,
           |    cast(sum(r_cnt) as bigint) AS raw_mass
           |  FROM bk JOIN st USING (bucket) GROUP BY bk.doc_id)
           |SELECT doc_id, n_words, target_mass, raw_mass,
           |  cast(target_mass as double) / cast(raw_mass as double)
           |    AS importance
           |FROM doc""".stripMargin
      },
      (s, d) => dsirWeights(Catalog.t(s, d, "documents"), targetLang = "en")),

    // PMI-style collocation mining: adjacent-word pairs scored by lift
    // = P(w1,w2) / (P(w1) P(w2)), the classic corpus-linguistics
    // signal for multiword expressions. No logs — the ratio itself is
    // one shared double formula over exact integer counts, so the
    // top-20 (lift, w1, w2) ordering is engine-identical. Count
    // aggregates are map-side partial; the min-count floor bounds the
    // join fan-in.
    QueryDef(
      "t21_pmi_collocations",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS ww FROM documents),
              |u AS (SELECT unnest(ww) AS x FROM d),
              |uc AS (SELECT x, count(*) AS c FROM u GROUP BY x),
              |bg AS (SELECT unnest(list_transform(range(1, len(ww)),
              |    k -> {'w1': ww[k], 'w2': ww[k + 1]}), recursive := true)
              |  FROM d),
              |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
              |  HAVING count(*) >= $PmiMinCount),
              |t AS (SELECT (SELECT cast(sum(c) as bigint) FROM uc) AS nu,
              |    (SELECT count(*) FROM bg) AS nb)
              |SELECT w1, w2, c12, a.c AS c1, b.c AS c2,
              |  (cast(c12 as double) * cast(nu as double) * cast(nu as double))
              |    / (cast(a.c as double) * cast(b.c as double)
              |       * cast(nb as double)) AS lift
              |FROM bc JOIN uc a ON a.x = w1 JOIN uc b ON b.x = w2, t
              |ORDER BY lift DESC, w1, w2 LIMIT $PmiTopK""".stripMargin),
      (s, d) => pmiCollocations(Catalog.t(s, d, "documents"))),

    // Classifier threshold sweep: the t14 hashed linear scorer evaluated
    // against a deterministic gold label (lang = 'en') at five decision
    // thresholds — confusion counts plus precision/recall, the
    // calibration report a quality-filter rollout reads before picking
    // its cut. Exact integer counts; thresholds are integer percents so
    // neither engine touches decimal literals.
    QueryDef(
      "t22_classifier_eval",
      Some {
        val wt = s"((((${duckWordHash("x")}) % $HashDim) * $WeightMul) " +
          s"% $WeightMod) - $WeightOff"
        s"""WITH w AS (SELECT doc_id, unnest($duckWords) AS x FROM documents),
           |sc AS (SELECT doc_id, cast(sum($wt) as bigint) AS score_fx,
           |    count(*) AS n_words FROM w GROUP BY doc_id),
           |s2 AS (SELECT d.doc_id,
           |    cast(score_fx as double)
           |      / (cast($WeightOff as double) * cast(n_words as double)) AS s,
           |    d.lang = 'en' AS gold
           |  FROM sc JOIN documents d USING (doc_id)),
           |t AS (SELECT unnest([$EvalThresholds]) AS thr_pct),
           |x AS (SELECT thr_pct,
           |    sum(CASE WHEN s * cast(100 as double) >= cast(thr_pct as double)
           |        AND gold THEN 1 ELSE 0 END) AS tp,
           |    sum(CASE WHEN s * cast(100 as double) >= cast(thr_pct as double)
           |        AND NOT gold THEN 1 ELSE 0 END) AS fp,
           |    sum(CASE WHEN s * cast(100 as double) < cast(thr_pct as double)
           |        AND gold THEN 1 ELSE 0 END) AS fn,
           |    sum(CASE WHEN s * cast(100 as double) < cast(thr_pct as double)
           |        AND NOT gold THEN 1 ELSE 0 END) AS tn
           |  FROM s2, t GROUP BY thr_pct)
           |SELECT cast(thr_pct as int) AS thr_pct, cast(tp as bigint) AS tp,
           |  cast(fp as bigint) AS fp, cast(fn as bigint) AS fn,
           |  cast(tn as bigint) AS tn,
           |  CASE WHEN tp + fp = 0 THEN NULL
           |    ELSE cast(tp as double) / cast(tp + fp as double) END AS prec,
           |  CASE WHEN tp + fn = 0 THEN NULL
           |    ELSE cast(tp as double) / cast(tp + fn as double) END AS rec
           |FROM x""".stripMargin
      },
      (s, d) => classifierEval(Catalog.t(s, d, "documents"))),

    // ------------------------------------------------------- readability
    // Deterministic Flesch-style reading ease per document. Sentence,
    // word, and syllable counts are pure regex counts (syllables ≈ vowel
    // groups — the standard cheap proxy); the closed-form score is the
    // SAME double expression text in both engines (identical IEEE op
    // sequence), reported fixed-point. Narrow per-row map: zero shuffle.
    QueryDef(
      "t26_readability",
      Some("""WITH c AS (SELECT doc_id,
             |    len(regexp_extract_all(text, '\S+')) AS n_words,
             |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             |    len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syll
             |  FROM documents)
             |SELECT doc_id, cast(n_words as bigint) AS n_words,
             |  cast(n_sents as bigint) AS n_sents,
             |  cast(n_syll as bigint) AS n_syll,
             |  CASE WHEN n_words = 0 THEN NULL
             |    ELSE cast(round(1000 * (cast(206835 as double) / 1000
             |      - cast(1015 as double) / 1000
             |        * (cast(n_words as double) / cast(n_sents as double))
             |      - cast(846 as double) / 10
             |        * (cast(n_syll as double) / cast(n_words as double))))
             |      as bigint) END AS flesch_fx
             |FROM c""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, '\\\\S+', 0))").as("n_words"),
          expr("greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)")
            .as("n_sents"),
          expr("size(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0))")
            .as("n_syll"))
        .select(col("doc_id"),
          col("n_words").cast("long").as("n_words"),
          col("n_sents").cast("long").as("n_sents"),
          col("n_syll").cast("long").as("n_syll"),
          expr("""CASE WHEN n_words = 0 THEN NULL
                 |  ELSE cast(round(1000 * (cast(206835 as double) / 1000
                 |    - cast(1015 as double) / 1000
                 |      * (cast(n_words as double) / cast(n_sents as double))
                 |    - cast(846 as double) / 10
                 |      * (cast(n_syll as double) / cast(n_words as double))))
                 |    as bigint) END""".stripMargin).as("flesch_fx"))),

    // ------------------------------------------------ code-vs-prose gate
    // Symbol-density heuristic a curation pipeline uses to route
    // documents to a code or prose pile: structural-symbol and digit
    // densities per 1000 chars, integer-exact, with an integer threshold
    // verdict. Narrow per-row map: zero shuffle, fully codegen.
    QueryDef(
      "t27_code_prose",
      Some("""SELECT doc_id,
             |  cast(len(regexp_extract_all(text, '[{}();=<>\[\]#]')) as bigint)
             |    AS n_sym,
             |  cast(len(regexp_extract_all(text, '[0-9]')) as bigint) AS n_digit,
             |  cast(len(regexp_extract_all(text, '[{}();=<>\[\]#]')) * 1000
             |    // greatest(length(text), 1) as bigint) AS sym_per_k,
             |  (len(regexp_extract_all(text, '[{}();=<>\[\]#]')) * 1000
             |    >= 15 * greatest(length(text), 1)) AS is_code
             |FROM documents""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, '[{}();=<>\\\\[\\\\]#]', 0))")
            .cast("long").as("n_sym"),
          expr("size(regexp_extract_all(text, '[0-9]', 0))")
            .cast("long").as("n_digit"),
          expr("length(text)").as("len"))
        .select(col("doc_id"), col("n_sym"), col("n_digit"),
          expr("cast(n_sym * 1000 div greatest(len, 1) as bigint)")
            .as("sym_per_k"),
          expr("n_sym * 1000 >= 15 * greatest(len, 1)").as("is_code"))),

    // --------------------------------------------- unicode script profile
    // Character-class census per document (ASCII letters / digits /
    // whitespace / other-ASCII / non-ASCII) plus a fixed-point ASCII
    // ratio — the standard pre-filter for language routing and mojibake
    // detection. Counts are codepoint-exact for BMP text (the regex
    // classes are identical in Java and RE2). Zero shuffle.
    QueryDef(
      "t28_unicode_profile",
      Some("""WITH c AS (SELECT doc_id,
             |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             |    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
             |    len(regexp_extract_all(text, '\s')) AS n_space,
             |    len(regexp_extract_all(text, '[^\x00-\x7F]')) AS n_nonascii,
             |    length(text) AS n FROM documents)
             |SELECT doc_id, cast(n_alpha as bigint) AS n_alpha,
             |  cast(n_digit as bigint) AS n_digit,
             |  cast(n_space as bigint) AS n_space,
             |  cast(n - n_alpha - n_digit - n_space - n_nonascii as bigint)
             |    AS n_other_ascii,
             |  cast(n_nonascii as bigint) AS n_nonascii,
             |  cast(1000000 - n_nonascii * 1000000 // greatest(n, 1) as bigint)
             |    AS ascii_ratio_fx
             |FROM c""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, '[A-Za-z]', 0))").as("n_alpha"),
          expr("size(regexp_extract_all(text, '[0-9]', 0))").as("n_digit"),
          expr("size(regexp_extract_all(text, '\\\\s', 0))").as("n_space"),
          expr("size(regexp_extract_all(text, '[^\\\\x00-\\\\x7F]', 0))")
            .as("n_nonascii"),
          expr("length(text)").as("n"))
        .select(col("doc_id"),
          col("n_alpha").cast("long").as("n_alpha"),
          col("n_digit").cast("long").as("n_digit"),
          col("n_space").cast("long").as("n_space"),
          expr("cast(n - n_alpha - n_digit - n_space - n_nonascii as bigint)")
            .as("n_other_ascii"),
          col("n_nonascii").cast("long").as("n_nonascii"),
          expr("cast(1000000 - n_nonascii * 1000000 div greatest(n, 1) as bigint)")
            .as("ascii_ratio_fx"))),

    // ------------------------------------------------- Zipf power-law fit
    // Least-squares slope of log2(freq) vs log2(rank) over the top-256
    // vocabulary — the standard corpus-health check (natural text sits
    // near slope -1; templated/spammy corpora deviate). Numeric
    // discipline: log2 values round to millilog BIGINT fixed point, the
    // five regression sums are EXACT integers (all < 2^53, so even the
    // final double closed form is exact until the one division) — no
    // order-of-summation drift, per q40's moments rule. The global
    // ranking window runs on the 256 survivors of a top-k, never the
    // full vocabulary.
    QueryDef(
      "t29_zipf_slope",
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS x FROM documents),
             |f AS (SELECT x, count(*) AS c FROM w GROUP BY x),
             |top AS (SELECT x, c FROM f ORDER BY c DESC, x ASC LIMIT 256),
             |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, x ASC) AS rk
             |  FROM top),
             |t AS (SELECT cast(round(log2(cast(rk as double)) * 1000) as bigint) AS fx,
             |    cast(round(log2(cast(c as double)) * 1000) as bigint) AS fy
             |  FROM r),
             |s AS (SELECT count(*) AS n, sum(fx) AS sx, sum(fy) AS sy,
             |    sum(fx * fx) AS sxx, sum(fx * fy) AS sxy FROM t)
             |SELECT cast(n as bigint) AS n_words,
             |  (cast(n as double) * cast(sxy as double)
             |      - cast(sx as double) * cast(sy as double))
             |    / (cast(n as double) * cast(sxx as double)
             |      - cast(sx as double) * cast(sx as double)) AS slope
             |FROM s""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val top = Catalog.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("x").asc).limit(256)
        top
          .withColumn("rk", row_number().over(
            Window.orderBy(col("c").desc, col("x").asc)))
          .select(
            expr("cast(round(log2(cast(rk as double)) * 1000) as bigint)").as("fx"),
            expr("cast(round(log2(cast(c as double)) * 1000) as bigint)").as("fy"))
          .agg(count(lit(1)).as("n"), sum(col("fx")).as("sx"),
            sum(col("fy")).as("sy"),
            sum(expr("fx * fx")).as("sxx"), sum(expr("fx * fy")).as("sxy"))
          .select(col("n").cast("long").as("n_words"),
            expr("""(cast(n as double) * cast(sxy as double)
                   |    - cast(sx as double) * cast(sy as double))
                   |  / (cast(n as double) * cast(sxx as double)
                   |    - cast(sx as double) * cast(sx as double))""".stripMargin)
              .as("slope"))
      }),

    // Feature hashing (the "hashing trick", Weinberger et al. 2009):
    // bag-of-words folded into a fixed 64-dim signed feature space —
    // bucket from the shared polyhash, sign from an independent bit of
    // the same hash so collisions cancel in expectation. Aggregated here
    // per language (the hashed class prototype a lightweight classifier
    // trains on); per-doc vectors are the same map without the rollup.
    // Pure narrow explode + one map-side-combinable groupBy — the
    // fixed-width representation needs no vocabulary broadcast at all,
    // which is the whole point at 100 TB: no dictionary, no OOV, no
    // driver state.
    QueryDef(
      "t30_feature_hashing",
      Some {
        val h = duckWordHash("x")
        s"""WITH w AS (SELECT lang, unnest($duckWords) AS x FROM documents),
           |b AS (SELECT lang, cast(($h) % $HashDim as int) AS bucket,
           |    CASE WHEN (($h) // $HashDim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
           |  FROM w)
           |SELECT lang, bucket, cast(count(*) as bigint) AS n_tokens,
           |  cast(sum(sgn) as bigint) AS net_weight
           |FROM b GROUP BY lang, bucket""".stripMargin
      },
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Catalog.t(s, d, "documents")
          .withColumn("w", expr(sparkWords))
          .select(col("lang"), explode(col("w")).as("x"))
          .select(col("lang"),
            expr(s"cast((graft_polyhash32(x)) % $HashDim as int)").as("bucket"),
            expr(s"CASE WHEN ((graft_polyhash32(x)) div $HashDim) % 2 = 0" +
              " THEN 1 ELSE -1 END").as("sgn"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("sgn")).cast("long").as("net_weight"))
      }),

    // Term burstiness: variance-to-mean ratio (index of dispersion) of
    // per-document counts for the top-32 corpus terms. VMR ~ 1 means
    // Poisson scatter (function words); VMR >> 1 means the term clumps
    // into few documents (topical/template words) — the corpus-
    // linguistics signal that separates grammar from content, and the
    // feature that catches template spam a frequency rank alone misses.
    // Moments are exact integers (zero-docs contribute nothing to s/ss
    // but DO enter N); products run decimal(38,0)/int128 so the single
    // division is the only float op. Two keyed aggregates + a bounded
    // top-32.
    QueryDef(
      "t31_burstiness",
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS x
             |  FROM documents),
             |pd AS (SELECT x, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
             |tot AS (SELECT x, cast(sum(c) as bigint) AS s,
             |    cast(sum(c * c) as bigint) AS ss,
             |    cast(count(*) as bigint) AS nd
             |  FROM pd GROUP BY x),
             |top AS (SELECT * FROM tot ORDER BY s DESC, x ASC LIMIT 32),
             |n AS (SELECT count(*) AS nn FROM documents)
             |SELECT x AS word, s AS total, nd AS n_docs_with,
             |  cast(cast(nn as hugeint) * ss - cast(s as hugeint) * s
             |      as double)
             |    / cast(cast(nn as hugeint) * s as double) AS vmr
             |FROM top, n""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
        val tot = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("x"))
          .groupBy(col("x"), col("doc_id")).agg(count(lit(1)).as("c"))
          .groupBy(col("x"))
          .agg(sum(col("c")).as("s"), sum(col("c") * col("c")).as("ss"),
            count(lit(1)).as("nd"))
        val top = tot.orderBy(col("s").desc, col("x").asc).limit(32)
        val n = docs.agg(count(lit(1)).as("nn"))
        top.crossJoin(broadcast(n))
          .select(col("x").as("word"), col("s").as("total"),
            col("nd").as("n_docs_with"),
            expr("""cast(cast(nn as decimal(38,0)) * ss
                   |    - cast(s as decimal(38,0)) * s as double)
                   |  / cast(cast(nn as decimal(38,0)) * s as double)"""
              .stripMargin).as("vmr"))
      }),

    // BM25 retrieval: the ranking function behind every lexical search
    // stack (Robertson-Sparck Jones IDF, Okapi tf saturation, document
    // length normalization; k1=1.2, b=0.75), scoring a fixed 3-term
    // query against the corpus and returning the top 10. The 100 TB
    // shape: the term filter runs BEFORE the (doc, term) shuffle so the
    // exploded relation shrinks to matching postings immediately; df and
    // the corpus length stats are tiny broadcast dims; per-term partial
    // scores pivot into fixed columns so the final sum is one ordered
    // expression (float determinism — no order-dependent double sum);
    // the global top-10 is a TakeOrdered, never a full sort. t10's
    // TF-IDF is the raw weighting; this is the production scorer built
    // on it.
    QueryDef(
      "t32_bm25",
      Some {
        val terms = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
        val pivot = Bm25Terms.map(t =>
          s"max(CASE WHEN x = '$t' THEN s END) AS s_$t").mkString(",\n    ")
        val scoreSum = Bm25Terms
          .map(t => s"coalesce(s_$t, cast(0 as double))").mkString(" + ")
        s"""WITH dl AS (SELECT doc_id, cast(len($duckWords) as bigint) AS dl
           |  FROM documents),
           |st AS (SELECT cast(sum(dl) as bigint) AS sum_dl,
           |    cast(count(*) as bigint) AS n FROM dl),
           |w AS (SELECT doc_id, unnest($duckWords) AS x FROM documents),
           |tf AS (SELECT doc_id, x, cast(count(*) as bigint) AS tf FROM w
           |  WHERE x IN $terms GROUP BY 1, 2),
           |df AS (SELECT x, cast(count(*) as bigint) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT doc_id, x,
           |    ln(1 + (cast(n - df as double) + 0.5)
           |        / (cast(df as double) + 0.5))
           |      * (cast(tf as double) * 2.2)
           |      / (cast(tf as double) + 1.2 * (0.25 + 0.75
           |          * (cast(dl as double)
           |             / (cast(sum_dl as double) / cast(n as double))))) AS s
           |  FROM tf JOIN df USING (x) JOIN dl USING (doc_id), st),
           |p AS (SELECT doc_id,
           |    $pivot
           |  FROM sc GROUP BY doc_id),
           |r AS (SELECT doc_id, ${Bm25Terms.map(t => s"s_$t").mkString(", ")},
           |    $scoreSum AS score FROM p)
           |SELECT doc_id, ${Bm25Terms.map(t => s"s_$t").mkString(", ")}, score,
           |  cast(row_number() OVER (ORDER BY score DESC, doc_id ASC) as int)
           |    AS rank
           |FROM r ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
      },
      (s, d) => bm25TopK(Catalog.t(s, d, "documents"), Bm25Terms, 10)),

    // Kneser-Ney smoothed bigram LM (absolute discount D = 0.75 with
    // continuation-probability backoff) — the estimator that actually
    // ships in n-gram LMs, vs t11's raw MLE: the backoff weights rare
    // continuations by HOW MANY contexts a word follows, not how often.
    // Per head word, the argmax next word under P_KN with its exact
    // count evidence. Every statistic is an integer count (bigram
    // counts, left/right continuation type counts, total bigram types);
    // the probability is one fixed per-row double expression, so
    // cross-engine determinism holds without fixed-point. Scale shape:
    // the bigram count relation is built once with map-side combine;
    // tot/right-types are w1-keyed re-aggregates of it, left-types is
    // w2-keyed, total types is a 1-row broadcast — two keyed shuffles
    // total, no window until the 1-per-head argmax.
    QueryDef(
      "t33_kneser_ney",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |bg AS (SELECT unnest(list_transform(range(1, len(w)),
              |    i -> {'w1': w[i], 'w2': w[i + 1]}), recursive := true) FROM d),
              |c AS (SELECT w1, w2, cast(count(*) as bigint) AS cnt
              |  FROM bg GROUP BY 1, 2),
              |tot AS (SELECT w1, cast(sum(cnt) as bigint) AS tot,
              |    cast(count(*) as bigint) AS rtypes FROM c GROUP BY 1),
              |lt AS (SELECT w2, cast(count(*) as bigint) AS ltypes
              |  FROM c GROUP BY 1),
              |tt AS (SELECT cast(count(*) as bigint) AS ttypes FROM c),
              |p AS (SELECT c.w1, c.w2, cnt,
              |    greatest(cast(cnt as double) - 0.75, 0) / cast(tot as double)
              |      + (0.75 * cast(rtypes as double) / cast(tot as double))
              |        * (cast(ltypes as double) / cast(ttypes as double))
              |      AS p_kn
              |  FROM c JOIN tot USING (w1) JOIN lt USING (w2), tt),
              |r AS (SELECT w1, w2, cnt, p_kn,
              |    row_number() OVER (PARTITION BY w1
              |      ORDER BY p_kn DESC, w2 ASC) AS rn FROM p)
              |SELECT w1, w2, cnt, p_kn FROM r WHERE rn = 1""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bg = Catalog.t(s, d, "documents")
          .withColumn("w", split(col("text"), " "))
          .select(explode(expr(
            "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
              "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2)) " +
              "ELSE cast(array() as array<struct<w1: string, w2: string>>) END"))
            .as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c = bg.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cnt"))
        val tot = c.groupBy(col("w1"))
          .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("rtypes"))
        val lt = c.groupBy(col("w2")).agg(count(lit(1)).as("ltypes"))
        val tt = c.agg(count(lit(1)).as("ttypes"))
        val w = Window.partitionBy(col("w1"))
          .orderBy(col("p_kn").desc, col("w2").asc)
        c.join(tot, "w1").join(lt, "w2").crossJoin(broadcast(tt))
          .withColumn("p_kn", expr(
            """greatest(cast(cnt as double) - 0.75, 0) / cast(tot as double)
              |  + (0.75 * cast(rtypes as double) / cast(tot as double))
              |    * (cast(ltypes as double) / cast(ttypes as double))"""
              .stripMargin))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("w1", "w2", "cnt", "p_kn")
      }),

    // TextRank keyword extraction (t34): weighted PageRank over the
    // per-language word co-occurrence graph (adjacent-word edges,
    // symmetrized, weight = co-occurrence count), fixed 3 damped
    // iterations in exact integer fixed point, top-10 keywords per
    // language — the unsupervised keyword report (Mihalcea & Tarau
    // '04) a corpus card leads with. Implementation and scale notes in
    // [[textRankKeywords]]; the oracle unrolls the same integer
    // recursion in a recursive CTE (g01's discipline).
    QueryDef("t34_textrank", Some(textRankOracle),
      (s, d) => textRankKeywords(Catalog.t(s, d, "documents"),
        TrIters, TrTopK)),

    // Lexical-density profile (t35): per (lang, source) stratum —
    // token mass, vocabulary, hapax legomena (words occurring once in
    // the stratum) with their share of the vocabulary, and mean word
    // length; the corpus-health panel read next to t16's Heaps curve
    // and t29's Zipf slope (a crawl slice whose hapax share collapses
    // is template spam; one whose mean word length spikes is
    // concatenation garbage). All integer fixed point. Two keyed
    // shuffles: the corpus-sized (lang, source, word) count with
    // map-side partials, then a stratum-count-sized rollup.
    QueryDef(
      "t35_lexical_profile",
      Some(s"""WITH tok AS (SELECT lang, source, unnest($duckWords) AS word
              |  FROM documents),
              |wc AS (SELECT lang, source, word, count(*) AS cnt
              |  FROM tok GROUP BY 1, 2, 3),
              |g AS (SELECT lang, source,
              |    cast(sum(cnt) as bigint) AS n_tokens,
              |    cast(count(*) as bigint) AS vocab,
              |    cast(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) as bigint)
              |      AS hapax,
              |    cast(sum(cnt * strlen(word)) as bigint) AS chars
              |  FROM wc GROUP BY 1, 2)
              |SELECT lang, source, n_tokens, vocab, hapax,
              |  cast(hapax * 1000000 // vocab as bigint) AS hapax_share_fx,
              |  cast(chars * 1000000 // n_tokens as bigint) AS mean_wlen_fx
              |FROM g""".stripMargin),
      (s, d) => {
        val wc = Catalog.t(s, d, "documents")
          .select(col("lang"), col("source"),
            explode(split(col("text"), " ")).as("word"))
          .groupBy(col("lang"), col("source"), col("word"))
          .agg(count(lit(1)).as("cnt"))
        wc.groupBy(col("lang"), col("source"))
          .agg(sum(col("cnt")).as("n_tokens"),
            count(lit(1)).as("vocab"),
            sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(col("cnt") * length(col("word"))).as("chars"))
          .select(col("lang"), col("source"), col("n_tokens"), col("vocab"),
            col("hapax"),
            expr("cast(hapax * 1000000 div vocab as bigint)")
              .as("hapax_share_fx"),
            expr("cast(chars * 1000000 div n_tokens as bigint)")
              .as("mean_wlen_fx"))
      }),

    // Held-out Kneser–Ney perplexity (t36): train t33's KN bigram
    // estimator on 90% of the corpus (doc_id % 10 != 9), price the
    // held-out 10% per language as mean negative log-likelihood — the
    // model-selection metric that actually decides between smoothing
    // schemes (t15 prices the MLE; this prices the estimator that
    // ships). Unseen-history bigrams (w1 not in training, or zero
    // continuation mass) are counted, not scored — the same exclusion
    // contract as t15's n_unseen. Per-bigram NLL rounds to fx BEFORE
    // the sum (order-free integer mean, the magnitude-envelope rule).
    // Two keyed train shuffles + three left joins from the (small)
    // eval side; the type total rides a 1-row broadcast.
    QueryDef(
      "t36_kn_heldout",
      Some(s"""WITH d AS (SELECT doc_id, lang, $duckWords AS w FROM documents),
              |tb AS (SELECT unnest(list_transform(range(1, len(w)),
              |    i -> {'w1': w[i], 'w2': w[i + 1]}), recursive := true)
              |  FROM d WHERE doc_id % 10 != 9),
              |c AS (SELECT w1, w2, cast(count(*) as bigint) AS cnt
              |  FROM tb GROUP BY 1, 2),
              |tot AS (SELECT w1, cast(sum(cnt) as bigint) AS tot,
              |    cast(count(*) as bigint) AS rtypes FROM c GROUP BY 1),
              |lt AS (SELECT w2, cast(count(*) as bigint) AS ltypes
              |  FROM c GROUP BY 1),
              |tt AS (SELECT cast(count(*) as bigint) AS ttypes FROM c),
              |eb AS (SELECT lang, unnest(list_transform(range(1, len(w)),
              |    i -> {'w1': w[i], 'w2': w[i + 1]}), recursive := true)
              |  FROM d WHERE doc_id % 10 = 9),
              |p AS (SELECT eb.lang,
              |    CASE WHEN tot.w1 IS NULL THEN NULL
              |         WHEN lt.w2 IS NULL AND c.cnt IS NULL THEN NULL
              |         ELSE greatest(cast(coalesce(c.cnt, 0) as double) - 0.75,
              |             cast(0 as double)) / cast(tot.tot as double)
              |           + (0.75 * cast(tot.rtypes as double)
              |               / cast(tot.tot as double))
              |             * (cast(coalesce(lt.ltypes, 0) as double)
              |               / cast(tt.ttypes as double))
              |    END AS p
              |  FROM eb
              |  LEFT JOIN c ON eb.w1 = c.w1 AND eb.w2 = c.w2
              |  LEFT JOIN tot ON eb.w1 = tot.w1
              |  LEFT JOIN lt ON eb.w2 = lt.w2
              |  CROSS JOIN tt)
              |SELECT lang,
              |  cast(count(CASE WHEN p IS NOT NULL THEN 1 END) as bigint)
              |    AS n_bigrams,
              |  cast(count(CASE WHEN p IS NULL THEN 1 END) as bigint)
              |    AS n_unseen,
              |  cast(sum(CASE WHEN p IS NOT NULL
              |      THEN cast(round(-ln(p) * 1000000) as bigint) END)
              |    // greatest(count(CASE WHEN p IS NOT NULL THEN 1 END), 1)
              |    as bigint) AS mean_nll_fx
              |FROM p GROUP BY 1""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
          .withColumn("w", split(col("text"), " "))
        def bigrams(df: DataFrame, keep: Column*): DataFrame = df
          .select(keep :+ explode(expr(
            "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
              "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2)) " +
              "ELSE cast(array() as array<struct<w1: string, w2: string>>) END"))
            .as("b"): _*)
          .select(keep :+ col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)
        val c = bigrams(docs.filter(col("doc_id") % 10 =!= 9))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        val tot = c.groupBy(col("w1"))
          .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("rtypes"))
        val lt = c.groupBy(col("w2")).agg(count(lit(1)).as("ltypes"))
        val tt = c.agg(count(lit(1)).as("ttypes"))
        bigrams(docs.filter(col("doc_id") % 10 === 9), col("lang"))
          .join(c, Seq("w1", "w2"), "left")
          .join(tot, Seq("w1"), "left")
          .join(lt, Seq("w2"), "left")
          .crossJoin(broadcast(tt))
          .withColumn("p", expr(
            """CASE WHEN tot IS NULL THEN NULL
              |     WHEN ltypes IS NULL AND cnt IS NULL THEN NULL
              |     ELSE greatest(cast(coalesce(cnt, 0) as double) - 0.75,
              |         cast(0 as double)) / cast(tot as double)
              |       + (0.75 * cast(rtypes as double) / cast(tot as double))
              |         * (cast(coalesce(ltypes, 0) as double)
              |           / cast(ttypes as double))
              |END""".stripMargin))
          .groupBy(col("lang"))
          .agg(
            count(when(col("p").isNotNull, 1)).as("n_bigrams"),
            count(when(col("p").isNull, 1)).as("n_unseen"),
            expr("""cast(sum(CASE WHEN p IS NOT NULL
                   |    THEN cast(round(-ln(p) * 1000000) as bigint) END)
                   |  div greatest(count(CASE WHEN p IS NOT NULL THEN 1 END), 1)
                   |  as bigint)""".stripMargin).as("mean_nll_fx"))
      }),

    // Tokenizer fertility (t37): BPE tokens per whitespace word, per
    // language, under t17's trained segmentation — the multilingual
    // tokenizer-fairness metric (a language whose fertility is 2× pays
    // 2× the context budget for the same text; mixes and packing
    // should price that in). Every corpus word is in the trained
    // vocabulary by construction (BPE trains from the full corpus
    // vocab), so the join is total; fertility is an exact integer
    // ratio. One vocab-keyed join + a 5-row rollup on top of the
    // memoized BPE training pass.
    QueryDef(
      "t37_tokenizer_fertility",
      Some(s"""WITH $bpeCtes,
              |v AS (SELECT replace(repr, ' ', '') AS word,
              |    cast(len(string_split(repr, ' ')) as bigint) AS n_syms
              |  FROM r$BpeRounds),
              |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word
              |  FROM documents),
              |dwf AS (SELECT lang, word FROM dw WHERE length(word) >= 1)
              |SELECT lang, count(*) AS n_words,
              |  cast(sum(n_syms) as bigint) AS n_bpe_tokens,
              |  cast(sum(n_syms) * 1000000 // count(*) as bigint)
              |    AS fertility_fx
              |FROM dwf JOIN v USING (word)
              |GROUP BY lang""".stripMargin),
      (s, d) => {
        val vocab = bpeShared(s, d)._2.select(col("word"),
          expr("cast(size(split(repr, ' ')) as bigint)").as("n_syms"))
        fertilityBody(s, d, vocab)
      }),

    // Language-ID confusion matrix (t39): t01's stopword classifier
    // evaluated against the ground-truth lang column as a full
    // (actual, predicted) matrix with per-actual row shares — the
    // error-ANATOMY report t01's per-doc is_correct flag can't give
    // (which languages bleed into which). Narrow per-doc scoring (zero
    // Exchange — t01's shape), one <=25-row rollup, one window over
    // that rollup.
    QueryDef(
      "t39_lang_confusion",
      Some {
        val scores = stopwords
          .map { case (l, ws) => s"${duckStopHits(ws)} AS s_$l" }
          .mkString(",\n    ")
        s"""WITH d AS (SELECT doc_id, lang, $duckWords AS w FROM documents),
           |sc AS (SELECT doc_id, lang,
           |    $scores
           |  FROM d),
           |p AS (SELECT lang, $predLangCase AS pred_lang FROM sc),
           |m AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
           |t AS (SELECT lang, cast(sum(n) as bigint) AS n_actual
           |  FROM m GROUP BY 1)
           |SELECT m.lang, m.pred_lang, m.n,
           |  cast(n * 1000000 // n_actual as bigint) AS row_share_fx,
           |  (m.lang = m.pred_lang) AS is_diag
           |FROM m JOIN t ON m.lang = t.lang""".stripMargin
      },
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wa = Window.partitionBy(col("lang"))
        langId(Catalog.t(s, d, "documents"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .withColumn("n_actual", sum(col("n")).over(wa))
          .select(col("lang"), col("pred_lang"), col("n"),
            expr("cast(n * 1000000 div n_actual as bigint)")
              .as("row_share_fx"),
            (col("lang") === col("pred_lang")).as("is_diag"))
      }),

    // Vocabulary coverage / OOV rate (t40): per language, the token
    // mass of the held-out split (doc_id % 10 == 9, t36's split) whose
    // WORD never occurs in the training split — the coverage report
    // that decides whether a word-level vocabulary (or a tokenizer's
    // special-token budget) transfers to fresh data. One distinct over
    // the train vocabulary (corpus-sized shuffle with map-side
    // partials), one left-anti-shaped join from the (small) eval
    // token stream, 5-row rollup.
    QueryDef(
      "t40_oov_rate",
      Some(s"""WITH tr AS (SELECT DISTINCT unnest($duckWords) AS word
              |  FROM documents WHERE doc_id % 10 != 9),
              |ev AS (SELECT lang, unnest($duckWords) AS word
              |  FROM documents WHERE doc_id % 10 = 9),
              |j AS (SELECT ev.lang, ev.word,
              |    CASE WHEN tr.word IS NULL THEN 1 ELSE 0 END AS oov
              |  FROM ev LEFT JOIN tr ON ev.word = tr.word)
              |SELECT lang, count(*) AS n_tokens,
              |  cast(sum(oov) as bigint) AS n_oov,
              |  cast(sum(oov) * 1000000 // count(*) as bigint) AS oov_fx
              |FROM j GROUP BY 1""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
        val train = docs.filter(col("doc_id") % 10 =!= 9)
          .select(explode(split(col("text"), " ")).as("word")).distinct()
          .withColumn("seen", lit(1))
        docs.filter(col("doc_id") % 10 === 9)
          .select(col("lang"), explode(split(col("text"), " ")).as("word"))
          .join(train, Seq("word"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("lang"), col("n_tokens"), col("n_oov"),
            expr("cast(n_oov * 1000000 div n_tokens as bigint)")
              .as("oov_fx"))
      }),

    // Cross-source vocabulary overlap — the corpus-diversity diagnostic
    // a mixture designer reads before weighting sources: pairwise
    // Jaccard of the DISTINCT token vocabularies, computed through an
    // inverted token→source index self-join, never a source×source
    // cartesian over raw text. Per token the join fan-out is bounded by
    // the number of sources carrying it (≤ |sources| — the source list,
    // not the corpus, is the small dimension), so candidate mass is
    // Σ_token n_sources(token)², independent of document count; the
    // per-source vocabulary sizes arrive as a broadcast dimension.
    // Exact integer ppm; pairs ordered src_a < src_b once.
    QueryDef(
      "t41_source_vocab_overlap",
      Some("""WITH v AS (SELECT DISTINCT source,
             |    unnest(string_split(text, ' ')) AS w FROM documents),
             |n AS (SELECT source, count(*) AS nv FROM v GROUP BY 1),
             |x AS (SELECT a.source AS src_a, b.source AS src_b,
             |    count(*) AS inter
             |  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b, cast(inter as bigint) AS n_shared,
             |  cast(inter * 1000000 // (na.nv + nb.nv - inter) as bigint)
             |    AS jaccard_ppm
             |FROM x JOIN n na ON na.source = x.src_a
             |JOIN n nb ON nb.source = x.src_b""".stripMargin),
      (s, d) => {
        val v = Catalog.t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .distinct()
        val n = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
        val pairs = v.as("a")
          .join(v.as("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(broadcast(n.select(col("source").as("src_a"),
            col("nv").as("nva"))), Seq("src_a"))
          .join(broadcast(n.select(col("source").as("src_b"),
            col("nv").as("nvb"))), Seq("src_b"))
          .select(col("src_a"), col("src_b"),
            col("inter").cast("long").as("n_shared"),
            expr("cast(inter * 1000000 div (nva + nvb - inter) as bigint)")
              .as("jaccard_ppm"))
      }),

    // RAKE keyword extraction (t42) — corpus-level keyphrase mining:
    // candidate phrases are maximal stopword-free token runs (the
    // classic RAKE segmentation over the en stopword list); each word
    // scores deg/freq (degree = summed length of phrases it appears
    // in), each phrase scores the sum of its words — all in exact
    // integer fixed-point (deg*1e6 div freq), so the ranking is
    // bit-deterministic. The report is the global top-20 by
    // (score desc, phrase asc): Spark plans the ordered limit as
    // TakeOrdered (per-partition top-k + merge), never a full sort.
    // Distinct from d27 (which mines VERBATIM high-support 5-grams);
    // RAKE finds salient phrases that may occur once.
    QueryDef(
      "t42_rake_keywords",
      Some {
        val sw = TextExprs.stopwords.toMap.apply("en")
          .map(w => s"'$w'").mkString(", ")
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           |  FROM documents),
           |tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i,
           |    unnest(w) AS word FROM d),
           |f AS (SELECT doc_id, i, word,
           |    list_contains([$sw], word) AS stop FROM tok),
           |g AS (SELECT doc_id, i, word, stop,
           |    count(*) FILTER (WHERE stop) OVER (PARTITION BY doc_id
           |      ORDER BY i ROWS UNBOUNDED PRECEDING) AS pid FROM f),
           |ph AS (SELECT doc_id, pid, i, word FROM g WHERE NOT stop),
           |m AS (SELECT doc_id, pid, i, word,
           |    count(*) OVER (PARTITION BY doc_id, pid) AS plen FROM ph),
           |ws AS (SELECT word,
           |    cast(sum(plen) as bigint) * 1000000
           |      // cast(count(*) as bigint) AS wscore_fx FROM m GROUP BY 1),
           |ps AS (SELECT m.doc_id, m.pid,
           |    string_agg(m.word, ' ' ORDER BY m.i) AS phrase,
           |    cast(count(*) as bigint) AS n_words,
           |    cast(sum(ws.wscore_fx) as bigint) AS score_fx
           |  FROM m JOIN ws ON m.word = ws.word GROUP BY 1, 2),
           |ag AS (SELECT phrase, max(n_words) AS n_words,
           |    cast(count(*) as bigint) AS freq, max(score_fx) AS score_fx
           |  FROM ps GROUP BY 1),
           |r AS (SELECT *, row_number() OVER (ORDER BY score_fx DESC,
           |    phrase ASC) AS rank FROM ag)
           |SELECT phrase, n_words, freq, score_fx, cast(rank as int) AS rank
           |FROM r WHERE rank <= 20""".stripMargin
      },
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sw = TextExprs.stopwords.toMap.apply("en")
        val swLit = sw.map(w => s"'$w'").mkString("array(", ", ", ")")
        val tok = Catalog.t(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .select(col("doc_id"), (col("pos") + 1).as("i"),
            col("col").as("word"))
          .withColumn("stop", expr(s"array_contains($swLit, word)"))
        // phrase id = stop-delimiter count before this token (running
        // count over the doc-keyed window); members are non-stop tokens
        val wPid = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val members = tok
          .withColumn("pid",
            sum(when(col("stop"), 1L).otherwise(0L)).over(wPid))
          .filter(!col("stop"))
          .select(col("doc_id"), col("pid"), col("i"), col("word"))
        val wLen = Window.partitionBy(col("doc_id"), col("pid"))
        val m = members.withColumn("plen", count(lit(1)).over(wLen))
        val wordScores = m.groupBy(col("word"))
          .agg(expr("cast(sum(plen) as bigint) * 1000000" +
            " div cast(count(*) as bigint)").as("wscore_fx"))
        val phrases = m.join(wordScores, Seq("word"))
          .groupBy(col("doc_id"), col("pid"))
          .agg(array_join(transform(
              array_sort(collect_list(struct(col("i"), col("word")))),
              x => x.getField("word")), " ").as("phrase"),
            count(lit(1)).as("n_words"),
            sum(col("wscore_fx")).cast("long").as("score_fx"))
        val agg = phrases.groupBy(col("phrase"))
          .agg(max(col("n_words")).as("n_words"),
            count(lit(1)).as("freq"),
            max(col("score_fx")).as("score_fx"))
        // global top-20: ordered limit -> TakeOrdered, then ranks over
        // the 20-row report
        val top = agg
          .orderBy(col("score_fx").desc, col("phrase").asc).limit(20)
        top.withColumn("rank", row_number().over(
            Window.orderBy(col("score_fx").desc, col("phrase").asc)))
          .select("phrase", "n_words", "freq", "score_fx", "rank")
      }),

    // t43: classifier CALIBRATION (reliability diagram) — the ML-ops
    // check a data-quality filter needs before its scores gate a 100 TB
    // corpus: does a high score actually mean mostly-positive docs? The
    // score is EXACTLY p25's quality_fx (the number the retention sweep
    // prunes on — the score whose calibration matters), the label is
    // lang = 'en'; docs bucket into the same deciles p25 sweeps and
    // each decile reports predicted (mean score, rescaled to ppm-of-max
    // 1e6) vs observed (positive rate in ppm) plus the |gap| — all
    // integer fixed-point, so both engines agree bit-for-bit. ONE
    // map-side-combinable shuffle over ≤10 bucket keys; per-doc scoring
    // runs inside the scan stage. Expected calibration error =
    // Σ n_docs·gap_ppm / N over these rows — the per-decile rows stay
    // the primitive.
    QueryDef(
      "t43_score_calibration",
      Some("""WITH d AS (SELECT lang, string_split(text, ' ') AS w
             |  FROM documents),
             |q AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             |    (len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
             |       * 1000000 // greatest(len(w), 1)) // 2
             |      + least(len(w), 200) * 2500 AS quality_fx FROM d),
             |b AS (SELECT least(quality_fx // 100000, 9) AS bucket,
             |    pos, quality_fx FROM q)
             |SELECT bucket, count(*) AS n_docs,
             |  cast(sum(pos) as bigint) AS n_pos,
             |  cast(sum(pos) as bigint) * 1000000 // count(*) AS pos_rate_ppm,
             |  cast(sum(quality_fx) as bigint) // count(*) AS avg_score_fx,
             |  abs(cast(sum(quality_fx) as bigint) // count(*)
             |    - cast(sum(pos) as bigint) * 1000000 // count(*)) AS gap_fx
             |FROM b GROUP BY bucket""".stripMargin),
      (s, d) => {
        val scored = Catalog.t(s, d, "documents")
          .select(col("lang"), split(col("text"), " ").as("w"))
          .select(
            when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
            expr("(cast(size(filter(w, x -> x rlike '^[a-z]+$'))" +
              " as bigint) * 1000000 div greatest(size(w), 1)) div 2" +
              " + cast(least(size(w), 200) as bigint) * 2500")
              .as("quality_fx"))
        scored
          .groupBy(least(expr("quality_fx div 100000"), lit(9L)).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("pos")).as("n_pos"),
            expr("sum(pos) * 1000000 div count(*)").as("pos_rate_ppm"),
            expr("sum(quality_fx) div count(*)").as("avg_score_fx"),
            expr("abs(sum(quality_fx) div count(*)" +
              " - sum(pos) * 1000000 div count(*))").as("gap_fx"))
      }),

    // t44: BPE MERGE-CANDIDATE RANKING — the diagnostic view of the
    // single step t17's trainer iterates. t17 trains the model (4
    // rounds, winner merged into the symbol table each round) and
    // emits only the 4 winning merges; t44 exposes what a tokenizer
    // engineer actually inspects before accepting a vocab: the top-20
    // candidate table of one step WITH counts — runner-ups and
    // margins, the "was the winner a landslide or a coin flip" signal.
    // Counts run over token OCCURRENCES (char-level first iteration,
    // one symbol = one codepoint). Shape: scan → word
    // explode → pair explode (both narrow) → ONE map-side-combinable
    // groupBy count → TakeOrdered top-20 (per-partition heaps, never a
    // global sort); the rank window runs AFTER the limit, on ≤ 20 rows.
    // Pairs slice by CODEPOINT in both engines (substring/substr), so
    // supplementary-plane text pairs identically cross-engine.
    QueryDef(
      "t44_bpe_merge_step",
      Some("""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
             |t AS (SELECT unnest(w) AS word FROM d),
             |i AS (SELECT word, unnest(range(1, length(word))) AS i
             |  FROM t WHERE length(word) >= 2),
             |p AS (SELECT substr(word, cast(i as int), 2) AS pair FROM i),
             |c AS (SELECT pair, count(*) AS freq FROM p GROUP BY pair
             |  ORDER BY freq DESC, pair ASC LIMIT 20)
             |SELECT pair, freq,
             |  cast(row_number() OVER (ORDER BY freq DESC, pair ASC)
             |    as bigint) AS rank
             |FROM c""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = Catalog.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          // sequence(1, 0) DESCENDS in Spark — the >= 2 guard is load-
          // bearing, not cosmetic
          .filter(expr("char_length(word) >= 2"))
          .select(explode(expr(
            "transform(sequence(1, char_length(word) - 1)," +
              " i -> substring(word, i, 2))")).as("pair"))
        pairs.groupBy(col("pair")).agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("pair").asc).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("freq").desc, col("pair").asc))
            .cast("long"))
      }),

    // ----------------------------- repeated-n-gram loop detector (t45)
    // Degenerate-repetition signal: model-generated (or scraper-glitch)
    // text loops — the same word 5-gram recurring many times inside ONE
    // document. Per doc (with at least one 5-gram): total 5-gram count,
    // the max single 5-gram's occurrence count, and their fixed-point
    // ratio — the "loop score" a curation sweep thresholds on (natural
    // text sits near 1/n5; a stuck generation approaches 1). Scale: the
    // gram explode is a narrow map (5x token mass), then ONE map-side-
    // combinable two-level groupBy keyed by doc — no window over the
    // gram stream, no join, nothing corpus-crossing but the keyed agg.
    // Parity: space tokenization (the t-family contract), 1-based
    // slices on both engines, integer fixed-point division.
    QueryDef(
      "t45_repetition_loops",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |n AS (SELECT doc_id, w, len(w) - 4 AS n5 FROM d
             |  WHERE len(w) >= 5),
             |g AS (SELECT doc_id, n5,
             |    array_to_string(w[i:i+4], ' ') AS gram
             |  FROM (SELECT doc_id, n5, w,
             |    unnest(range(1, cast(n5 + 1 as bigint))) AS i FROM n)),
             |c AS (SELECT doc_id, n5, gram, count(*) AS cnt
             |  FROM g GROUP BY 1, 2, 3),
             |m AS (SELECT doc_id, n5, max(cnt) AS max_gram_count
             |  FROM c GROUP BY 1, 2)
             |SELECT doc_id, cast(n5 as bigint) AS n_grams,
             |  cast(max_gram_count as bigint) AS max_gram_count,
             |  cast(max_gram_count * 1000000 // n5 as bigint) AS loop_fx
             |FROM m""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .withColumn("n5", expr("size(w) - 4"))
          .filter(col("n5") >= 1)
        docs
          .select(col("doc_id"), col("n5"), explode(expr(
            "transform(sequence(1, size(w) - 4)," +
              " i -> concat_ws(' ', slice(w, i, 5)))")).as("gram"))
          .groupBy(col("doc_id"), col("n5"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"), col("n5"))
          .agg(max(col("cnt")).as("max_gram_count"))
          .select(col("doc_id"), col("n5").cast("long").as("n_grams"),
            col("max_gram_count").cast("long").as("max_gram_count"),
            expr("cast(max_gram_count * 1000000 div n5 as bigint)")
              .as("loop_fx"))
      }),

    // t46: per-source vocabulary DRIFT — total-variation distance
    // between each source's word-frequency distribution and the
    // corpus's, over the fixed top-50 vocabulary (t08's deterministic
    // head). The corpus-mix monitor: a source whose head-word usage
    // diverges is changing register/domain even when its vocab SET
    // (t41's Jaccard) looks stable. TV over a fixed small vocab stays
    // INTEGER-exact: TV = Σ|o·T − c·S| / (2·S·T), and the zero-count
    // words a source lacks fold in algebraically (Σ_{o=0} c·S =
    // S·T − Σ_{o>0} c·S) — so no source×vocab grid, no BNLJ, just two
    // keyed aggregates and a 50-row broadcast join. int64 headroom:
    // |o·T − c·S| ≤ 2·S·T ~ 10¹² at sf0.1; sums stay < 10¹⁵.
    QueryDef(
      "t46_source_vocab_drift",
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word
             |  FROM documents),
             |vocab AS (SELECT word, cast(count(*) as bigint) AS c
             |  FROM t GROUP BY word ORDER BY c DESC, word ASC LIMIT 50),
             |tot AS (SELECT cast(sum(c) as bigint) AS tt FROM vocab),
             |sw AS (SELECT source, word FROM (SELECT source,
             |    unnest(string_split(text, ' ')) AS word FROM documents)),
             |o AS (SELECT source, word, cast(count(*) as bigint) AS o
             |  FROM sw JOIN vocab USING (word) GROUP BY 1, 2),
             |ssum AS (SELECT source, cast(sum(o) as bigint) AS ss
             |  FROM o GROUP BY 1),
             |agg AS (SELECT o.source,
             |    cast(sum(abs(o * tt - c * ss)) as bigint) AS seen_num,
             |    cast(sum(c * ss) as bigint) AS seen_cs
             |  FROM o JOIN vocab USING (word)
             |    JOIN ssum ON ssum.source = o.source, tot
             |  GROUP BY o.source),
             |src AS (SELECT DISTINCT source FROM documents)
             |SELECT src.source,
             |  cast(coalesce(ss, 0) as bigint) AS n_vocab_hits,
             |  cast(CASE WHEN coalesce(ss, 0) = 0 THEN 1000000
             |    ELSE (seen_num + (ss * tt - seen_cs)) * 1000000
             |      // (2 * ss * tt) END as bigint) AS tv_fx
             |FROM src LEFT JOIN agg ON agg.source = src.source
             |  LEFT JOIN ssum ON ssum.source = src.source, tot""".stripMargin),
      (s, d) => {
        val words = Catalog.t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
        val vocab = words.groupBy(col("word"))
          .agg(count(lit(1)).cast("long").as("c"))
          .orderBy(col("c").desc, col("word").asc).limit(50)
        val tot = vocab.agg(sum(col("c")).as("tt"))
        val o = words.join(broadcast(vocab), "word")
          .groupBy(col("source"), col("word"))
          .agg(count(lit(1)).cast("long").as("o"), first(col("c")).as("c"))
        val perSource = o.groupBy(col("source"))
          .agg(sum(col("o")).as("ss"), collect_list(struct(col("o"),
            col("c"))).as("oc"))
          .crossJoin(broadcast(tot))
          .withColumn("seen_num", expr(
            "aggregate(oc, 0L, (a, x) -> a + abs(x.o * tt - x.c * ss))"))
          .withColumn("seen_cs", expr(
            "aggregate(oc, 0L, (a, x) -> a + x.c * ss)"))
        // every source appears: one whose docs contain NO top-50 word
        // is maximally drifted (TV = 1.0), not silently absent — the
        // round-13 review caught the inner join dropping exactly the
        // most-diverged sources
        val sources = Catalog.t(s, d, "documents")
          .select(col("source")).distinct()
        sources.join(perSource.select(col("source"),
            col("ss"), col("seen_num"), col("seen_cs"), col("tt")),
            Seq("source"), "left")
          .select(col("source"),
            coalesce(col("ss"), lit(0L)).cast("long").as("n_vocab_hits"),
            expr("cast(CASE WHEN coalesce(ss, 0L) = 0 THEN 1000000" +
              " ELSE (seen_num + (ss * tt - seen_cs)) * 1000000" +
              " div (2 * ss * tt) END as bigint)").as("tv_fx"))
      })
  )

  private def fertilityBody(s: SparkSession, d: String,
      vocab: DataFrame): DataFrame = {
        Catalog.t(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) >= 1)
          .join(vocab, "word")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_syms")).as("n_bpe_tokens"))
          .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
            expr("cast(n_bpe_tokens * 1000000 div n_words as bigint)")
              .as("fertility_fx"))
  }

  /** The fixed retrieval query for the t32 gate (all three terms occur
    * in the synthetic vocabulary).
    */
  private[llm] val Bm25Terms = Seq("spark", "window", "merge")

  /** BM25 top-k over a `documents(doc_id, text)` relation for a fixed
    * term set. k1 = 1.2, b = 0.75; IDF = ln(1 + (N - df + .5)/(df + .5)).
    * Per-term partial scores pivot into one column per term and the
    * final score adds them in FIXED textual order, so the only float
    * operations are per-row expressions both engines evaluate
    * identically — no order-dependent double aggregation anywhere.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val st = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("x"))
      .filter(col("x").isin(terms: _*))
      .groupBy(col("doc_id"), col("x")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("x")).agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(df), "x").join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("s", expr(
        """ln(1 + (cast(n - df as double) + 0.5)
          |    / (cast(df as double) + 0.5))
          |  * (cast(tf as double) * 2.2)
          |  / (cast(tf as double) + 1.2 * (0.25 + 0.75
          |      * (cast(dl as double)
          |         / (cast(sum_dl as double) / cast(n as double)))))"""
          .stripMargin))
    val perTerm = terms.map(t =>
      max(when(col("x") === t, col("s"))).as(s"s_$t"))
    val pivoted = sc.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", expr(terms
        .map(t => s"coalesce(s_$t, cast(0 as double))").mkString(" + ")))
    val top = pivoted
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id") +: terms.map(t => col(s"s_$t")) :+
        col("score") :+ col("rank"): _*)
  }

  /** The t15 scoring chain through `px` (per-doc bigram-LM fixed-point
    * scores, zero-filled for short docs) — shared by the t15 oracle and
    * the t23 tier report.
    */
  private def perplexityCtes: String =
    s"""d AS (SELECT doc_id, $duckWords AS w FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |    i -> {'w1': w[i], 'w2': w[i + 1]}), recursive := true) FROM d),
       |c AS (SELECT w1, w2, count(*) AS cnt FROM bg
       |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |tot AS (SELECT w1, cast(sum(cnt) as bigint) AS tot FROM c GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM
       |  (SELECT DISTINCT unnest(w) AS x FROM d WHERE doc_id % 2 = 0)),
       |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
       |    cast(sum(CASE WHEN c.cnt IS NULL THEN 1 ELSE 0 END) as bigint) AS n_unseen,
       |    cast(sum(cast(round((cast(coalesce(c.cnt, 0) + 1 as double)
       |      / cast(coalesce(tot.tot, 0) + v.v as double)) * $PplFx) as bigint))
       |      as bigint) AS score_fx
       |  FROM bg LEFT JOIN c ON bg.w1 = c.w1 AND bg.w2 = c.w2
       |  LEFT JOIN tot ON bg.w1 = tot.w1 CROSS JOIN v
       |  GROUP BY bg.doc_id),
       |px AS (SELECT d2.doc_id,
       |    cast(coalesce(n_bigrams, 0) as bigint) AS n_bigrams,
       |    cast(coalesce(n_unseen, 0) as bigint) AS n_unseen,
       |    cast(coalesce(score_fx, 0) as bigint) AS score_fx
       |  FROM documents d2 LEFT JOIN sc ON d2.doc_id = sc.doc_id)""".stripMargin

  /** Per-language perplexity terciles over the t15 scores (see t23):
    * one rank window per language (group-bounded), exact integer tier
    * math, and a tiny (lang, tier) report aggregate.
    */
  def perplexityTiers(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = heldOutBigramScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score_fx").desc, col("doc_id").asc)
    val cw = Window.partitionBy(col("lang"))
    scored
      .select(col("doc_id"), col("lang"), col("score_fx"),
        row_number().over(w).as("rn"), count(lit(1)).over(cw).as("n"))
      .withColumn("tier", expr("cast((rn - 1) * 3 div n as int)"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"), min(col("score_fx")).as("min_fx"),
        max(col("score_fx")).as("max_fx"))
  }

  private val EvalThresholds = "-20, -10, 0, 10, 20"

  /** Threshold sweep of the t14 scorer vs the `lang = 'en'` gold label:
    * one narrow scoring pass (the t14 in-scan fold), then a 5-way
    * threshold explode and ONE confusion aggregate — map-side partial,
    * output rows = thresholds. Precision/recall guard their zero
    * denominators with the same CASE in both engines.
    */
  def classifierEval(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val scored = hashClassifier(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"),
        expr(s"cast(score_fx as double) / (cast($WeightOff as double)" +
          " * cast(n_words as double))").as("s"),
        (col("lang") === "en").as("gold"))
    scored
      .withColumn("thr_pct", explode(expr(s"array($EvalThresholds)")))
      .groupBy(col("thr_pct"))
      .agg(
        sum(expr("CASE WHEN s * cast(100 as double) >= cast(thr_pct as double)" +
          " AND gold THEN 1 ELSE 0 END")).as("tp"),
        sum(expr("CASE WHEN s * cast(100 as double) >= cast(thr_pct as double)" +
          " AND NOT gold THEN 1 ELSE 0 END")).as("fp"),
        sum(expr("CASE WHEN s * cast(100 as double) < cast(thr_pct as double)" +
          " AND gold THEN 1 ELSE 0 END")).as("fn"),
        sum(expr("CASE WHEN s * cast(100 as double) < cast(thr_pct as double)" +
          " AND NOT gold THEN 1 ELSE 0 END")).as("tn"))
      .select(col("thr_pct").cast("int").as("thr_pct"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN NULL" +
          " ELSE cast(tp as double) / cast(tp + fp as double) END").as("prec"),
        expr("CASE WHEN tp + fn = 0 THEN NULL" +
          " ELSE cast(tp as double) / cast(tp + fn as double) END").as("rec"))
  }

  private val PmiMinCount = 5L
  private val PmiTopK = 20

  /** Top-k adjacent-word collocations by PMI lift. The unigram/bigram
    * count tables are map-side-combinable aggregates; the two count
    * joins key on single words (AQE broadcasts the filtered bigram
    * side when small); the global totals ride a broadcast 1-row cross
    * join. Top-k is a deterministic (lift, w1, w2) order + limit.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = PmiMinCount,
      k: Int = PmiTopK): DataFrame = {
    val words = docs.withColumn("w", split(col("text"), " "))
    val uni = words.select(explode(col("w")).as("x"))
      .groupBy("x").agg(count(lit(1)).as("c"))
    val bg = words.select(explode(expr(sparkBigrams)).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val totals = uni.agg(sum(col("c")).as("nu"))
      .crossJoin(bg.agg(count(lit(1)).as("nb")))
    bc.join(uni.select(col("x").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("x").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("lift", expr(
        "(cast(c12 as double) * cast(nu as double) * cast(nu as double))" +
          " / (cast(c1 as double) * cast(c2 as double) * cast(nb as double))"))
      .orderBy(col("lift").desc, col("w1"), col("w2")).limit(k)
      .select("w1", "w2", "c12", "c1", "c2", "lift")
  }

  // Hashed-classifier model constants: bucket count and the
  // multiplicative stand-in weights (Knuth constant spreads bucket ->
  // weight; integer range [-WeightOff, WeightMod - 1 - WeightOff]).
  private val HashDim = 64
  private val WeightMul = 2654435761L
  private val WeightMod = 1001L
  private val WeightOff = 500L

  /** Appends `(n_words, score_fx, keep)` — the hashed linear-model
    * score — to a docs table, entirely inside the scan stage.
    */
  def hashClassifier(docs: DataFrame): DataFrame = {
    val wt = s"((((graft_polyhash32(x)) % $HashDim) * $WeightMul) " +
      s"% $WeightMod) - $WeightOff"
    docs
      .withColumn("w", expr(sparkWords))
      .withColumn("n_words", expr("cast(size(w) as bigint)"))
      .withColumn("score_fx", expr(
        s"aggregate(w, cast(0 as bigint), (a, x) -> a + ($wt))"))
      .select(col("doc_id"), col("n_words"), col("score_fx"),
        expr(s"(cast(score_fx as double) / (cast($WeightOff as double) " +
          "* cast(n_words as double))) >= cast(0 as double)").as("keep"))
  }

  /** DSIR-style importance weights vs a target domain (docs whose `lang`
    * equals `targetLang`): per-bucket occurrence masses over hashed
    * unigrams, then a per-doc score
    * `importance = target_mass / raw_mass` — the resampling weight a
    * data-selection pass feeds to [[Pipeline]]'s samplers.
    *
    * The bucket model is bounded at [[HashDim]] rows, so it collects to
    * the driver and inlines into the scoring expression as array
    * literals: pass 1 is one map-side-combinable aggregate, pass 2 a
    * pure narrow map — nothing shuffles at corpus width, which is what
    * lets this run as a cheap pre-filter over 100 TB.
    */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame,
      targetLang: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val bucket = s"cast((graft_polyhash32(x)) % $HashDim as int)"
    val stats = docs.withColumn("w", expr(sparkWords))
      .select(col("lang"), explode(col("w")).as("x"))
      .select(col("lang"), expr(bucket).as("bucket"))
      .groupBy("bucket").agg(
        count(lit(1)).as("r_cnt"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_cnt"))
      .collect() // <= HashDim rows by construction — driver-safe
    val tArr = Array.fill(HashDim)(0L)
    val rArr = Array.fill(HashDim)(0L)
    stats.foreach { r =>
      val i = r.getInt(0); rArr(i) = r.getLong(1); tArr(i) = r.getLong(2)
    }
    def lit64(a: Array[Long]) = s"array(${a.map(v => s"${v}L").mkString(", ")})"
    docs.withColumn("w", expr(sparkWords))
      .select(col("doc_id"),
        expr("cast(size(w) as bigint)").as("n_words"),
        expr(s"aggregate(w, cast(0 as bigint), " +
          s"(a, x) -> a + element_at(${lit64(tArr)}, ($bucket) + 1))")
          .as("target_mass"),
        expr(s"aggregate(w, cast(0 as bigint), " +
          s"(a, x) -> a + element_at(${lit64(rArr)}, ($bucket) + 1))")
          .as("raw_mass"))
      .withColumn("importance",
        expr("cast(target_mass as double) / cast(raw_mass as double)"))
  }

  // ------------------------------------------- public pipeline surface
  //
  // DataFrame-in / DataFrame-out text-curation operators over a `docs`
  // table with (doc_id: bigint, text: string) — thin, shuffle-free
  // narrow maps the gate queries above bind to the driver corpus.

  /** Stopword-profile language ID: appends `pred_lang` to the input —
    * a pure narrow map (no join, no shuffle), so it composes into scans
    * for free.
    */
  def langId(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // internal score-column names are shared with the oracle SQL builder
    // and cannot be prefixed away — fail fast on collisions instead of
    // silently clobbering (or ambiguous-reference crashing on) them
    val internal = "w" +: stopwords.map("s_" + _._1) :+ "pred_lang"
    val clash = docs.columns.toSeq.intersect(internal)
    require(clash.isEmpty,
      s"langId uses internal columns ${clash.mkString(", ")} — rename them in the input")
    val scores = stopwords.map { case (l, ws) =>
      expr(sparkStopHits(ws)).as(s"s_$l")
    }
    docs.withColumn("w", split(col("text"), " "))
      .select(Seq(col("*")) ++ scores: _*)
      .withColumn("pred_lang", expr(predLangCase))
      .drop(Seq("w") ++ stopwords.map("s_" + _._1): _*)
  }

  /** Length/stopword/alpha ratios + composite quality score. */
  def qualityScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val en = stopwords.toMap.apply("en")
    docs.withColumn("w", split(col("text"), " "))
      .select(
        col("doc_id"),
        expr("cast(size(w) as bigint)").as("n_words"),
        expr("cast(length(text) as bigint)").as("n_chars"),
        expr("cast(length(replace(text, ' ', '')) as double) / greatest(size(w), 1)")
          .as("avg_word_len"),
        expr(s"cast(${sparkStopHits(en)} as double) / greatest(size(w), 1)")
          .as("stop_ratio"),
        expr(s"(cast(${sparkStopHits(en)} as double) / greatest(size(w), 1)) * 0.5" +
          " + least(cast(size(w) as double) / 100, 1.0) * 0.5").as("quality_score"),
        expr("size(w) >= 5 AND size(w) <= 2000").as("len_ok"))
  }

  /** Token counts: whitespace, BPE-ish regex, and bytes/4 estimate. */
  def tokenStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // ws_tokens runs as the codegen'd byte-scan kernel — identical
    // semantics to size(split(text, ' ')) (spaces + 1, empties kept)
    // with no token-array materialization (WhitespaceTokenCount)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      expr("graft_ws_tokens(text)").as("ws_tokens"),
      expr("cast(size(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)) as bigint)")
        .as("re_tokens"),
      expr("cast(ceil(octet_length(text) / 4.0) as bigint)").as("est_bpe_tokens"))
  }

  /** Fixed-point scale for bigram probabilities: p in (0, 1], so
    * round(p * 1e9) sums stay far below 2^63 at any corpus size.
    */
  private val PplFx = 1000000000L

  /** BPE merge rounds learned by the t17 gate (enough that later
    * merges build on earlier ones — multi-char tokens appear).
    */
  private val BpeRounds = 4

  /** BPE tokenizer training: `rounds` merge rounds over the corpus.
    * The vocabulary is `(word, freq)` (one shuffle); each word starts
    * as its space-separated character sequence. A round counts adjacent
    * symbol pairs weighted by word frequency, adopts the top pair
    * (count desc, then lexicographic — fully deterministic), and
    * rewrites every word's SPLIT SYMBOL SEQUENCE by greedy
    * non-overlapping left-to-right merge — a boundary-aware fold over
    * the symbol array, NOT a raw-string replace (a plain
    * `replace(repr, 'w1 w2', 'w1w2')` can match across symbol
    * boundaries once multi-char symbols exist: symbols `[ab, c]`
    * render as `'ab c'` and a learned pair `(b, c)` would fuse a pair
    * that was never counted). Returns the learned merge table
    * `(round, lhs, rhs, cnt)`.
    *
    * Scale: the corpus collapses to its distinct-word vocabulary ONCE;
    * every round is a narrow pair-explode over vocabulary rows + one
    * partial-aggregated count. Only the single winning pair per round
    * reaches the driver — the same model-artifact collect a
    * distributed BPE trainer (e.g. the original sentencepiece-style
    * map-reduce formulation) performs.
    */
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame =
    mergesToDF(docs.sparkSession, Materialize.scoped(m => bpeTrain(m, docs, rounds)._1))

  private def mergesToDF(s: SparkSession,
      out: Seq[(Int, String, String, Long)]): DataFrame = {
    import s.implicits._
    s.createDataset(out).toDF("round", "lhs", "rhs", "cnt")
      .select(col("round").cast("int").as("round"), col("lhs"), col("rhs"),
        col("cnt"))
  }

  // One shared BPE training per (session, data dir) for the t17/t18
  // gates — the minhash memo discipline: train once, read the merge
  // table AND tokenize with the segmented vocabulary from the same
  // checkpointed result. A fresh session replaces the entry.
  private val bpeMemo =
    new SessionMemo[(Seq[(Int, String, String, Long)], DataFrame)]

  private def bpeShared(s: SparkSession, d: String):
      (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMemo(s, d)(Materialize.scoped { m =>
      val (merges, reprs) = bpeTrain(m, Catalog.t(s, d, "documents"), BpeRounds)
      (merges, m.pin(reprs, Actual))
    })

  /** BPE trainer core: returns the merge list and the FINAL segmented
    * vocabulary `(word, freq, repr)`, cached in `m` (each round's
    * vocabulary is released once the next one is materialized). Shared
    * by [[bpeMerges]] (the merge table) and [[bpeEncode]] (corpus
    * tokenization with the trained segmentation).
    */
  private def bpeTrain(m: Materialize.Scope, docs: DataFrame, rounds: Int):
      (Seq[(Int, String, String, Long)], DataFrame) = {
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var reprs = m.cache(words.select(col("word"), col("freq"), expr(
      "concat_ws(' ', transform(sequence(1, length(word)), " +
        "i -> substring(word, i, 1)))").as("repr")))
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to rounds) {
      val pairs = reprs.withColumn("w", split(col("repr"), " "))
        .select(col("freq"), explode(expr(sparkBigrams)).as("b"))
        .select(col("freq"), col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2")).agg(sum(col("freq")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, rt, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        out += ((r, l, rt, c))
        // true BPE merge: fold left-to-right over the symbol array,
        // merging (prev, x) = (w1, w2) pairs non-overlapping (a merged
        // symbol never re-pairs within the same round — prev resets).
        // Fast path: symbols never contain spaces, so the PADDED
        // substring ' w1 w2 ' can only match at symbol boundaries —
        // an exact adjacency DETECTOR (the boundary bug was only ever
        // in replace, which consumes shared spaces) — and words
        // without the pair skip the fold entirely (the vast majority
        // every round).
        val pad = q(" " + l + " " + rt + " ")
        val next = m.cache(reprs.withColumn("repr", expr(
          s"""IF(NOT contains(concat(' ', repr, ' '), $pad), repr,
             |  concat_ws(' ', aggregate(
             |  split(repr, ' '),
             |  named_struct('acc', cast(array() as array<string>),
             |    'prev', cast(null as string)),
             |  (s, x) -> IF(s.prev = ${q(l)} AND x = ${q(rt)},
             |    named_struct('acc', array_append(s.acc, ${q(l + rt)}),
             |      'prev', cast(null as string)),
             |    named_struct('acc',
             |      IF(s.prev IS NULL, s.acc, array_append(s.acc, s.prev)),
             |      'prev', x)),
             |  s -> IF(s.prev IS NULL, s.acc, array_append(s.acc, s.prev)))))"""
            .stripMargin)))
        next.count() // materialize before releasing the parent round
        m.release(reprs)
        reprs = next
      }
    }
    (out.toSeq, reprs)
  }

  /** Public API: tokenize the corpus with a BPE model trained on it —
    * `rounds` merge rounds, then each doc's words join the segmented
    * vocabulary for per-doc counts `(doc_id, n_words, n_bpe_tokens)`.
    *
    * Scale: the vocabulary is corpus-distinct words (small relative to
    * the corpus); the tokenize join keys on `word` and AQE broadcasts
    * the vocab when it fits — no all-pairs, no global window.
    */
  def bpeEncode(docs: DataFrame, rounds: Int): DataFrame = Materialize.scoped { m =>
    m.pin(bpeEncodeWith(docs, bpeTrain(m, docs, rounds)._2), Actual)
  }

  /** Tokenize `docs` against an already-trained segmented vocabulary
    * `reprs` (`word, freq, repr`). Does NOT own `reprs`' lifecycle.
    */
  private def bpeEncodeWith(docs: DataFrame, reprs: DataFrame): DataFrame = {
    val vocab = reprs.select(col("word"),
      expr("cast(size(split(repr, ' ')) as bigint)").as("n_syms"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
  }

  private def bpeCtes: String = {
    // the per-round rewrite mirrors the Spark fold's TRUE-BPE greedy
    // merge with window functions (DuckDB 1.0 list_reduce cannot thread
    // a struct accumulator): candidate positions -> runs of consecutive
    // candidates -> take alternating positions within each run (greedy
    // non-overlap) -> emit merged symbol at taken positions, drop the
    // consumed follower, reassemble in position order
    val rounds = (1 to BpeRounds).map { i =>
      s"""p$i AS (SELECT w1, w2, cast(sum(freq) as bigint) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(ww)),
         |      k -> {'w1': ww[k], 'w2': ww[k + 1]}), recursive := true)
         |    FROM (SELECT freq, string_split(repr, ' ') AS ww FROM r${i - 1}))
         |  GROUP BY 1, 2),
         |t$i AS (SELECT $i AS round, w1, w2, cnt FROM p$i
         |  ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1),
         |s$i AS (SELECT freq, repr AS orepr, string_split(repr, ' ') AS ww,
         |    unnest(range(1, len(string_split(repr, ' ')) + 1)) AS j
         |  FROM r${i - 1}),
         |c$i AS (SELECT freq, orepr, ww, j,
         |    CASE WHEN j < len(ww) AND ww[j] = t.w1 AND ww[j + 1] = t.w2
         |      THEN 1 ELSE 0 END AS cand
         |  FROM s$i, t$i t),
         |g$i AS (SELECT *, CASE WHEN cand = 1 THEN j - row_number()
         |    OVER (PARTITION BY orepr, cand ORDER BY j) END AS grp FROM c$i),
         |tk$i AS (SELECT *, CASE WHEN cand = 1 AND (row_number()
         |    OVER (PARTITION BY orepr, grp ORDER BY j) % 2) = 1
         |    THEN 1 ELSE 0 END AS taken FROM g$i),
         |fin$i AS (SELECT freq, orepr, j,
         |    CASE WHEN taken = 1 THEN t.w1 || t.w2
         |      WHEN coalesce(lag(taken) OVER (PARTITION BY orepr ORDER BY j), 0) = 1
         |      THEN NULL ELSE ww[j] END AS sym
         |  FROM tk$i, t$i t),
         |r$i AS (SELECT freq, array_to_string(list(sym ORDER BY j)
         |      FILTER (sym IS NOT NULL), ' ') AS repr
         |  FROM fin$i GROUP BY freq, orepr)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, cast(count(*) as bigint) AS freq FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) >= 1 GROUP BY word),
       |r0 AS (SELECT freq, array_to_string(list_transform(range(1, length(word) + 1),
       |    i -> substring(word, i, 1)), ' ') AS repr FROM w),
       |$rounds""".stripMargin
  }

  private def bpeOracle: String = {
    val un = (1 to BpeRounds)
      .map(i => s"SELECT round, w1 AS lhs, w2 AS rhs, cnt FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeCtes
       |$un""".stripMargin
  }

  /** t18 oracle: the final round's segmented vocabulary (word
    * reconstructs as the symbol concat) joined back to the corpus words
    * — per-doc whitespace and BPE token counts.
    */
  private def bpeEncodeOracle: String =
    s"""WITH $bpeCtes,
       |v AS (SELECT replace(repr, ' ', '') AS word,
       |    cast(len(string_split(repr, ' ')) as bigint) AS n_syms
       |  FROM r$BpeRounds),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |dwf AS (SELECT doc_id, word FROM dw WHERE length(word) >= 1)
       |SELECT doc_id, count(*) AS n_words,
       |  cast(sum(n_syms) as bigint) AS n_bpe_tokens
       |FROM dwf JOIN v USING (word)
       |GROUP BY doc_id""".stripMargin

  /** Per-doc repetition metrics over `(doc_id, text)`: `n_words`,
    * `distinct_ratio` (distinct / total words), `top_word_frac` (most
    * frequent word's share) and `top_bigram_frac` (most frequent
    * adjacent bigram's share; 0.0 for single-word docs). High top-*
    * fractions flag boilerplate / degenerate repetition — the
    * Gopher-style pre-training filters. Docs with no words are absent
    * (nothing to measure).
    *
    * Scale: narrow explodes + aggregations keyed by doc_id (and the
    * in-doc word/bigram) — no global window, no join wider than the
    * per-doc aggregate rows.
    */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("x"))
      .filter(length(col("x")) >= 1)
    val wa = words.groupBy(col("doc_id"), col("x"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_w"))
    val ba = docs.withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(sparkBigrams)).as("b"))
      .groupBy(col("doc_id"), col("b.w1"), col("b.w2"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("tot_b"), max(col("n")).as("top_b"))
    wa.join(ba, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        expr("cast(n_distinct as double) / cast(n_words as double)")
          .as("distinct_ratio"),
        expr("cast(top_w as double) / cast(n_words as double)")
          .as("top_word_frac"),
        expr("coalesce(cast(top_b as double) / cast(tot_b as double), " +
          "cast(0 as double))").as("top_bigram_frac"))
  }

  private def repetitionOracle: String =
    s"""WITH dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS x
       |  FROM documents),
       |dwf AS (SELECT doc_id, x FROM dw WHERE length(x) >= 1),
       |wc AS (SELECT doc_id, x, count(*) AS n FROM dwf GROUP BY 1, 2),
       |wa AS (SELECT doc_id, cast(sum(n) as bigint) AS n_words,
       |    count(*) AS n_distinct, max(n) AS top_w FROM wc GROUP BY 1),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ww)),
       |    k -> {'w1': ww[k], 'w2': ww[k + 1]}), recursive := true)
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ww FROM documents)),
       |bc AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
       |ba AS (SELECT doc_id, sum(n) AS tot_b, max(n) AS top_b FROM bc GROUP BY 1)
       |SELECT wa.doc_id, wa.n_words,
       |  cast(n_distinct as double) / cast(n_words as double) AS distinct_ratio,
       |  cast(top_w as double) / cast(n_words as double) AS top_word_frac,
       |  coalesce(cast(top_b as double) / cast(tot_b as double),
       |    cast(0 as double)) AS top_bigram_frac
       |FROM wa LEFT JOIN ba USING (doc_id)""".stripMargin

  /** Adjacent-word bigrams of the space-split `text` column, guarded for
    * single-word docs (Spark's `sequence(1, 0)` DESCENDS — t11 note).
    */
  private val sparkBigrams: String =
    "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
      "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2)) " +
      "ELSE cast(array() as array<struct<w1: string, w2: string>>) END"

  /** Held-out bigram-LM scoring: trains a Laplace-smoothed bigram model
    * on docs with `doc_id % 2 = 0` and scores every doc as
    * `score_fx = sum(round(p(w2|w1) * 1e9))` with
    * `p = (cnt + 1) / (tot + V)` (V = training vocabulary size). Returns
    * `(doc_id, n_bigrams, n_unseen, score_fx)`; docs with fewer than two
    * words score 0.
    *
    * Scale: bigram explode is a narrow map; the model join is keyed by
    * (w1, w2) against a vocabulary-sized count table (AQE broadcasts it
    * when small); V rides along as a broadcast 1-row cross join. Exact
    * integer/IEEE primitives keep partial-agg order irrelevant.
    */
  def heldOutBigramScore(docs: DataFrame): DataFrame = {
    val bg = docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(sparkBigrams)).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val train = bg.filter(col("doc_id") % 2 === 0)
    val c = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
    val tot = c.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
    // distinct-then-count instead of count(DISTINCT): no Expand (q25 note)
    val v = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(split(col("text"), " ")).as("x"))
      .distinct().agg(count(lit(1)).as("v"))
    val scored = bg
      .join(c, Seq("w1", "w2"), "left")
      .join(tot, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(expr(s"cast(round((cast(coalesce(cnt, 0) + 1 as double) " +
          s"/ cast(coalesce(tot, 0) + v as double)) * $PplFx) as bigint)"))
          .as("score_fx"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("score_fx"), lit(0L)).as("score_fx"))
  }

  /** Heaps'-law vocabulary growth over `buckets` doc-id slices: per
    * bucket, doc/token counts, words first seen there, and cumulative
    * vocabulary/token curves. Buckets are range-normalized —
    * `(doc_id - min_id) * buckets div (max_id - min_id + 1)` — so ANY
    * id distribution (sparse, non-zero-based) lands in [0, buckets);
    * for dense 0-based ids this is exactly `doc_id * buckets div N`.
    * Rank-based bucketing (row_number/ntile) would give perfectly even
    * slices but needs a GLOBAL single-partition window — a scale
    * killer; range normalization keeps every corpus-sized stage a
    * narrow map or keyed aggregation (heavily clustered ids give
    * uneven slices — an accepted trade, the curve stays a valid
    * id-ordered growth profile). The only window runs over the
    * `buckets` result rows.
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.agg(count(lit(1)).as("nd"),
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val d = docs.crossJoin(broadcast(n))
      .withColumn("bucket",
        expr(s"cast((doc_id - lo) * $buckets div (hi - lo + 1) as int)"))
    val words = d.select(col("bucket"),
      explode(split(col("text"), " ")).as("x"))
    val toks = words.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val nw = words.groupBy(col("x")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_words"))
    val db = d.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    db.join(toks, Seq("bucket"))
      .join(nw, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
      .withColumn("vocab_cum", sum(col("new_words")).over(w))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(w))
  }

  // ------------------------------------------------ TextRank (t34)

  /** TextRank fixed point scale, iteration count, report width. Integer
    * envelope: node mass is bounded by TrScale (1e9) and edge weights
    * by the corpus bigram count, so `val * wgt` stays under 2^62 up to
    * ~1e9 co-occurrences of a single pair; past that, pre-scale the
    * weights (they only enter as a ratio to wdeg).
    */
  private[llm] val TrScale = 1000000000L
  private[llm] val TrIters = 3
  private[llm] val TrTopK = 10

  /** TextRank keyword extraction over `documents(lang, text)`: build
    * the per-language co-occurrence graph (adjacent word pairs,
    * symmetrized, weighted by count, self-pairs dropped), run `iters`
    * damped weighted-PageRank rounds in exact integer arithmetic
    * (d=0.85; S ← base + 85%·Σ (S(u)·w(u,v) div wdeg(u))), report the
    * top-k words per language by final rank.
    *
    * Scale: the only |corpus|-sized work is the bigram explode + ONE
    * (lang, w1, w2) count shuffle with map-side partials — everything
    * after runs on vocabulary-sized relations. The weighted degree is
    * loop-invariant and baked onto the edge list once (g01's
    * discipline); each round is one edge join + a keyed partial-agg
    * sum, eagerly checkpointed so the iteration lineage stays flat.
    * Every quantity is an integer (floor divisions mirror the oracle's
    * `//`), so ranks are bit-identical across engines and retries.
    */
  def textRankKeywords(docs: DataFrame, iters: Int, k: Int): DataFrame =
    Materialize.scoped { m =>
    import org.apache.spark.sql.expressions.Window
    val bg = docs
      .withColumn("w", split(col("text"), " "))
      // sequence(1, 0) DESCENDS in Spark — guard single-word docs
      .select(col("lang"), explode(expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2)) " +
          "ELSE cast(array() as array<struct<w1: string, w2: string>>) END"))
        .as("b"))
      .select(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val bp = bg.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val e0 = bp.select(col("lang"), col("w1").as("u"), col("w2").as("v"),
        col("cnt"))
      .union(bp.select(col("lang"), col("w2").as("u"), col("w1").as("v"),
        col("cnt")))
      .groupBy(col("lang"), col("u"), col("v")).agg(sum(col("cnt")).as("wgt"))
    val wdeg = e0.groupBy(col("lang"), col("u")).agg(sum(col("wgt")).as("wdeg"))
    // the iteration truncates through the graftshim with severed
    // stats (inherited ones would compound across rounds), so the loop
    // carries the graph family's explicit broadcast/co-partition
    // discipline instead of leaning on stats-based auto-broadcast
    // (t34 is swept by StatsInvarianceSpec like the g-family).
    val p = Layout.parallelism(docs.sparkSession)
    val e = m.pin(e0.join(wdeg, Seq("lang", "u")), Severed)
    val nv = wdeg.groupBy(col("lang")).agg(count(lit(1)).as("nv"))
    val nodes = m.pin(
      wdeg.select(col("lang"), col("u"))
      .join(nv, "lang")
      .withColumn("init", expr(s"$TrScale div nv"))
      .withColumn("base", expr("(15 * init) div 100")),
      Severed)
    val nWords = nodes.count()
    val small = nWords <= Layout.DefaultBroadcastMaxNodes
    var tr = nodes.select(col("lang"), col("u"), col("init").as("val"))
    for (it <- 1 to iters) {
      val trIn =
        if (small) broadcast(tr)
        else tr.repartition(p, col("lang"), col("u"))
      val contrib = trIn.join(e, Seq("lang", "u"))
        .groupBy(col("lang"), col("v"))
        .agg(sum(expr("(val * wgt) div wdeg")).as("msum"))
      val contribIn =
        if (small) broadcast(contrib) else contrib
      val prev = tr
      tr = m.pin(nodes
        .select(col("lang"), col("u"), col("base"))
        .join(contribIn.withColumnRenamed("v", "u"), Seq("lang", "u"), "left")
        .select(col("lang"), col("u"),
          (col("base") + expr("(85 * coalesce(msum, 0L)) div 100"))
            .as("val")),
        Severed)
      if (it > 1) m.release(prev)
    }
    val wtop = Window.partitionBy(col("lang"))
      .orderBy(col("val").desc, col("u").asc)
    tr.withColumn("rn", row_number().over(wtop)).filter(col("rn") <= k)
      .select(col("lang"), col("u").as("word"), col("val").as("rank_fx"),
        col("rn").cast("int").as("rn"))
  }

  private def textRankOracle: String =
    s"""WITH RECURSIVE d AS (SELECT lang, $duckWords AS w FROM documents),
       |bg AS (SELECT lang, unnest(list_transform(range(1, len(w)),
       |    i -> {'w1': w[i], 'w2': w[i + 1]}), recursive := true) FROM d),
       |bp AS (SELECT lang, w1, w2, count(*) AS cnt FROM bg
       |  WHERE w1 <> w2 GROUP BY 1, 2, 3),
       |e AS (SELECT lang, u, v, cast(sum(cnt) as bigint) AS wgt FROM (
       |    SELECT lang, w1 AS u, w2 AS v, cnt FROM bp
       |    UNION ALL SELECT lang, w2, w1, cnt FROM bp) x GROUP BY 1, 2, 3),
       |wd AS (SELECT lang, u, cast(sum(wgt) as bigint) AS wdeg
       |  FROM e GROUP BY 1, 2),
       |n AS (SELECT lang, cast(count(*) as bigint) AS nv FROM wd GROUP BY 1),
       |tr(iter, lang, node, val) AS (
       |  SELECT 0, wd.lang, wd.u, $TrScale // n.nv
       |  FROM wd JOIN n ON wd.lang = n.lang
       |  UNION ALL
       |  SELECT t.iter + 1, e.lang, e.v,
       |    (15 * ($TrScale // n.nv)) // 100
       |      + (85 * sum((t.val * e.wgt) // wd.wdeg)) // 100
       |  FROM tr t
       |  JOIN e ON t.lang = e.lang AND t.node = e.u
       |  JOIN wd ON wd.lang = e.lang AND wd.u = e.u
       |  JOIN n ON n.lang = e.lang
       |  WHERE t.iter < $TrIters
       |  GROUP BY t.iter, e.lang, e.v, n.nv),
       |r AS (SELECT lang, node AS word, val,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY val DESC, node ASC) AS rn
       |  FROM tr WHERE iter = $TrIters)
       |SELECT lang, word, cast(val as bigint) AS rank_fx, cast(rn as int) AS rn
       |FROM r WHERE rn <= $TrTopK""".stripMargin
}
