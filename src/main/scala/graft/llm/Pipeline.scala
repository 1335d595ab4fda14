package graft.llm

import graft.{Catalog, QueryDef}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-pipeline assembly operators over `documents`: sequence
  * packing into fixed token budgets, benchmark-contamination detection,
  * and language-balanced sampling — the steps between "clean corpus"
  * and "training batches". All DuckDB-oracle-checked.
  *
  * Scale notes (100 TB stance):
  *  - packing: one window per shard key (here `lang`); a real run
  *    shards by (corpus shard, lang) so each cumulative sum is bounded
  *    by shard size, keeping windows memory-safe and parallel. The
  *    concatenate-and-chunk semantics (GPT-style pretraining packing)
  *    need only a running sum — no global sort across shards.
  *  - contamination: inverted-index equi-join keyed by shingle; the
  *    benchmark side is orders of magnitude smaller and broadcasts.
  *    Never all-pairs.
  *  - balanced sampling: per-language top-k by a deterministic hash
  *    order — at scale, pre-filter with a hash threshold (q32's trick)
  *    so the window only ranks ~k rows per language.
  */
object Pipeline {
  import TextExprs._

  private val TokenBudget = 10000L // p12 global selection budget
  private val PackBudget = 512  // tokens per packed training sequence
  // p28's candidate budgets (the sequence-length sweep grid)
  private val PackSweep = Seq(512L, 1024L, 2048L, 4096L)
  private val BalancedK = 50    // docs per language
  private[graft] val EvalMod = 97 // doc_id % EvalMod == 0 -> benchmark set
  private val CurationK = 40    // docs per language after curation

  def all: Seq[QueryDef] = Seq(

    // Preference-pair mining (p22): DPO/RLHF-style (chosen, rejected)
    // document pairs — within each (lang, power-of-2 length bucket),
    // rank docs by a deterministic quality proxy (type-token ratio in
    // fixed point) and pair the k-th best with the k-th worst, keeping
    // only pairs with a strictly positive margin. Matching on length
    // bucket keeps the preference signal about QUALITY, not length
    // (the classic DPO confound). One (lang, bucket) Exchange feeds
    // both rankings; the pairing is a co-partitioned equi-join on
    // (lang, bucket, k) — no cross join anywhere.
    QueryDef(
      "p22_preference_pairs",
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |    cast(len($duckWords) as bigint) AS n_tokens,
              |    cast(len(list_distinct($duckWords)) * 1000000
              |      // len($duckWords) as bigint) AS score_fx
              |  FROM documents),
              |b AS (SELECT *, cast(length(bin(greatest(n_tokens, 1))) - 1
              |    as int) AS bucket FROM d),
              |r AS (SELECT *,
              |    row_number() OVER (PARTITION BY lang, bucket
              |      ORDER BY score_fx DESC, doc_id ASC) AS rn_best,
              |    row_number() OVER (PARTITION BY lang, bucket
              |      ORDER BY score_fx ASC, doc_id DESC) AS rn_worst,
              |    count(*) OVER (PARTITION BY lang, bucket) AS n
              |  FROM b)
              |SELECT c.lang, c.bucket, cast(c.rn_best as bigint) AS pair_k,
              |  c.doc_id AS chosen_id, j.doc_id AS rejected_id,
              |  c.score_fx - j.score_fx AS margin_fx
              |FROM r c JOIN r j ON c.lang = j.lang AND c.bucket = j.bucket
              |  AND c.rn_best = j.rn_worst
              |WHERE c.rn_best <= c.n // 2
              |  AND c.score_fx > j.score_fx""".stripMargin),
      (s, d) => preferencePairs(Catalog.t(s, d, "documents"))),

    // Post-dedup mix card (p24): the training mix AFTER d09's exact
    // keep-best dedup — per (lang, source): raw docs, kept docs (this
    // stratum's keep-best winners), kept token mass, the stratum's
    // share of the DEDUPED corpus, and its duplicate rate. The two
    // numbers every mix decision actually needs side by side: a
    // stratum whose dup_rate is high contributes far less post-dedup
    // than its raw size suggests (the classic over-weighting bug when
    // mixes are planned on raw counts). One md5-keyed window Exchange
    // (d09's shape) + one stratum rollup + a 1-row total broadcast.
    QueryDef(
      "p24_post_dedup_mix",
      Some("""WITH g AS (SELECT lang, source, doc_id, n_chars,
             |    len(string_split(text, ' ')) AS n_tokens,
             |    md5(text) AS th FROM documents),
             |r AS (SELECT *, row_number() OVER (PARTITION BY th
             |    ORDER BY n_chars DESC, doc_id ASC) AS rn FROM g),
             |k AS (SELECT lang, source, count(*) AS n_raw,
             |    cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) as bigint)
             |      AS n_kept,
             |    cast(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END)
             |      as bigint) AS tokens_kept
             |  FROM r GROUP BY 1, 2),
             |t AS (SELECT cast(sum(tokens_kept) as bigint) AS total FROM k)
             |SELECT lang, source, n_raw, n_kept, tokens_kept,
             |  cast(tokens_kept * 1000000 // total as bigint)
             |    AS kept_share_fx,
             |  cast((n_raw - n_kept) * 1000000 // n_raw as bigint)
             |    AS dup_rate_fx
             |FROM k, t""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("th"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        val k = Catalog.t(s, d, "documents")
          .select(col("lang"), col("source"), col("doc_id"), col("n_chars"),
            expr("size(split(text, ' '))").as("n_tokens"),
            md5(col("text").cast("binary")).as("th"))
          .withColumn("rn", row_number().over(w))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_raw"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") === 1, col("n_tokens")).otherwise(0L))
              .cast("long").as("tokens_kept"))
        val total = k.agg(sum(col("tokens_kept")).as("total"))
        k.crossJoin(broadcast(total))
          .select(col("lang"), col("source"), col("n_raw"), col("n_kept"),
            col("tokens_kept"),
            expr("cast(tokens_kept * 1000000 div total as bigint)")
              .as("kept_share_fx"),
            expr("cast((n_raw - n_kept) * 1000000 div n_raw as bigint)")
              .as("dup_rate_fx"))
      }),

    // GPT-style concatenate-and-chunk packing: within each language
    // shard, documents concatenate in doc_id order and slice into
    // PackBudget-token windows; each doc reports its bin, offset, and
    // whether it straddles a bin boundary.
    QueryDef(
      "p01_pack_sequences",
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |    cast(len(string_split(text, ' ')) as bigint) AS n_tokens
              |  FROM documents),
              |c AS (SELECT doc_id, lang, n_tokens,
              |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              |  FROM d)
              |SELECT doc_id, lang, n_tokens,
              |  cast(cum // $PackBudget as bigint) AS bin_id,
              |  cast(cum % $PackBudget as bigint) AS bin_offset,
              |  ((cum + n_tokens - 1) // $PackBudget) > (cum // $PackBudget)
              |    AS spans_boundary
              |FROM c""".stripMargin),
      (s, d) => packSequences(Catalog.t(s, d, "documents"), PackBudget,
        shardCol = col("lang"), orderCol = col("doc_id"),
        tokensCol = expr(s"cast(size($sparkWords) as bigint)"))),

    // Benchmark contamination: training docs sharing any 3-word
    // shingle with the (deterministic) held-out set, with the count of
    // distinct shared shingles — the pre-training hygiene check.
    QueryDef(
      "d11_contamination",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |s AS (SELECT DISTINCT doc_id, unnest($duckShingles) AS sh FROM d),
              |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % $EvalMod = 0),
              |tr AS (SELECT doc_id, sh FROM s WHERE doc_id % $EvalMod <> 0)
              |SELECT doc_id, count(*) AS n_shared_shingles
              |FROM tr JOIN ev USING (sh)
              |GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
        contamination(docs.filter(col("doc_id") % EvalMod =!= 0),
          docs.filter(col("doc_id") % EvalMod === 0))
      }),

    // The composed curation pipeline — quality gate, contamination
    // removal, balanced sampling, sequence packing — in ONE dataflow:
    // the "clean corpus to training batches" path, every stage an
    // already-verified operator, the composition itself hash-checked.
    QueryDef(
      "p03_curation_pipeline",
      Some(s"""WITH d AS (SELECT doc_id, lang, $duckWords AS w FROM documents),
              |s AS (SELECT DISTINCT doc_id, unnest($duckShingles) AS sh FROM d),
              |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % $EvalMod = 0),
              |bad AS (SELECT DISTINCT s.doc_id FROM s JOIN ev USING (sh)
              |  WHERE s.doc_id % $EvalMod <> 0),
              |clean AS (SELECT doc_id, lang, w FROM d
              |  WHERE len(w) BETWEEN 5 AND 2000 AND doc_id % $EvalMod <> 0
              |    AND doc_id NOT IN (SELECT doc_id FROM bad)),
              |samp AS (SELECT doc_id, lang, w,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY md5(cast(doc_id as varchar)), doc_id) AS pick
              |  FROM clean),
              |keep AS (SELECT doc_id, lang, cast(pick as bigint) AS pick,
              |    cast(len(w) as bigint) AS n_tokens
              |  FROM samp WHERE pick <= $CurationK),
              |c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY lang
              |    ORDER BY doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              |  FROM keep)
              |SELECT doc_id, lang, pick, n_tokens,
              |  cast(cum // $PackBudget as bigint) AS bin_id
              |FROM c""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
        val train = docs.filter(col("doc_id") % EvalMod =!= 0)
        val eval0 = docs.filter(col("doc_id") % EvalMod === 0)
        val quality = train.withColumn("w", expr(sparkWords))
          .filter(expr("size(w) BETWEEN 5 AND 2000"))
        val bad = contamination(train, eval0).select("doc_id")
        // pinned: `clean` feeds the sampler AND the token projection,
        // `samp` feeds the packer AND the final pick join — unpinned,
        // the shingle-explode contamination anti-join would re-execute
        // per consumer
        val clean = quality.join(bad, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        val samp = balancedSample(clean, col("lang"), CurationK)
          .localCheckpoint(true)
        val withTokens = samp.join(
          clean.select(col("doc_id"),
            expr("cast(size(w) as bigint)").as("toks")), "doc_id")
        packSequences(withTokens, PackBudget, col("lang"), col("doc_id"),
          col("toks"))
          .join(samp.select("doc_id", "pick"), "doc_id")
          .select(col("doc_id"), col("lang"), col("pick"), col("n_tokens"),
            col("bin_id"))
      }),

    // Language-balanced sample: exactly k docs per language in a
    // deterministic md5 order — the mix-balancing step of a multi-
    // lingual training run.
    QueryDef(
      "p02_lang_balanced",
      Some(s"""SELECT doc_id, lang, pick FROM (
              |  SELECT doc_id, lang,
              |    cast(row_number() OVER (PARTITION BY lang
              |      ORDER BY md5(cast(doc_id as varchar)), doc_id) as bigint) AS pick
              |  FROM documents) x
              |WHERE pick <= $BalancedK""".stripMargin),
      (s, d) => balancedSample(Catalog.t(s, d, "documents"),
        col("lang"), BalancedK)),

    shardManifestDef,

    // Corpus-novelty score: the fraction of a doc's distinct shingles
    // whose FIRST corpus occurrence (min doc_id) is that doc — the
    // "does this doc add anything new" curation signal. Inverted-index
    // shape: one shuffle keyed by shingle, one keyed by doc.
    QueryDef(
      "t13_shingle_novelty",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |s AS (SELECT DISTINCT doc_id, unnest($duckShingles) AS sh FROM d),
              |f AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh)
              |SELECT doc_id,
              |  count(*) AS n_shingles,
              |  cast(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) as bigint)
              |    AS n_novel,
              |  cast(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) as double)
              |    / cast(count(*) as double) AS novelty
              |FROM s JOIN f USING (sh)
              |GROUP BY doc_id""".stripMargin),
      (s, d) => shingleNovelty(Catalog.t(s, d, "documents"))),

    // Stratified hash sampling: per-stratum keep rates applied by a
    // deterministic md5 threshold — the mix-weighting step that scales
    // to any N as a pure narrow map (no shuffle, no count pass).
    QueryDef(
      "p05_stratified_sample",
      Some {
        val cases = StratRates.zipWithIndex.map { case (r, i) =>
          s"WHEN $i THEN ${threshold(r)}"
        }.mkString(" ")
        s"""SELECT doc_id, source FROM (
           |  SELECT doc_id, source,
           |    cast(('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))
           |         as bigint) AS h,
           |    CASE cast(substring(source, 4) as int) % ${StratRates.length}
           |      $cases END AS thr
           |  FROM documents) x
           |WHERE h < thr""".stripMargin
      },
      (s, d) => stratifiedSample(Catalog.t(s, d, "documents"),
        col("source"), expr(s"cast(substring(source, 4) as int) % ${StratRates.length}"),
        StratRates)),

    // Token-mix allocation: apportion a fixed training-token budget
    // across sources proportionally to their token counts, by the
    // integer largest-remainder (Hamilton) method — deterministic,
    // sums exactly to the budget, no floats anywhere.
    QueryDef(
      "p06_mix_allocation",
      Some(s"""WITH tok AS (SELECT source,
              |    cast(sum(len(string_split(text, ' '))) as bigint) AS toks
              |  FROM documents GROUP BY source),
              |tot AS (SELECT cast(sum(toks) as bigint) AS total FROM tok),
              |base AS (SELECT source, toks,
              |    ($MixBudget * toks) // total AS base_alloc,
              |    ($MixBudget * toks) % total AS rem
              |  FROM tok, tot),
              |ranked AS (SELECT *,
              |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rr,
              |    $MixBudget - cast(sum(base_alloc) OVER () as bigint) AS leftover
              |  FROM base)
              |SELECT source, toks, cast(base_alloc as bigint) +
              |  CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc
              |FROM ranked""".stripMargin),
      (s, d) => mixAllocation(Catalog.t(s, d, "documents"), col("source"),
        expr(s"cast(size($sparkWords) as bigint)"), MixBudget)),

    // Temperature-weighted mixture (T = 0.5): source weights
    // proportional to sqrt(token total) — the standard multilingual /
    // multi-source rebalance that upsamples the tail relative to raw
    // proportions. sqrt is correctly-rounded IEEE in both engines and
    // the weight is snapped to fixed-point BEFORE apportionment, so the
    // largest-remainder allocation stays integer-exact cross-engine.
    QueryDef(
      "p11_temperature_mix",
      Some(s"""WITH tok AS (SELECT source,
              |    cast(sum(len(string_split(text, ' '))) as bigint) AS toks
              |  FROM documents GROUP BY source),
              |wt AS (SELECT source, toks,
              |    cast(floor(sqrt(toks) * $TempFx) as bigint) AS w_fx FROM tok),
              |tot AS (SELECT cast(sum(w_fx) as bigint) AS total FROM wt),
              |base AS (SELECT source, toks, w_fx,
              |    ($MixBudget * w_fx) // total AS base_alloc,
              |    ($MixBudget * w_fx) % total AS rem
              |  FROM wt, tot),
              |ranked AS (SELECT *,
              |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rr,
              |    $MixBudget - cast(sum(base_alloc) OVER () as bigint) AS leftover
              |  FROM base)
              |SELECT source, toks, w_fx, cast(base_alloc as bigint) +
              |  CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc
              |FROM ranked""".stripMargin),
      (s, d) => temperatureMix(Catalog.t(s, d, "documents"), col("source"),
        expr(s"cast(size($sparkWords) as bigint)"), MixBudget)),

    // Z-order file layout: quantize two filter dimensions to 16 bits,
    // interleave into a Morton key, and carve the key order into files;
    // the per-file min/max envelope is the data-skipping index a lake
    // writer (Delta OPTIMIZE ZORDER, Iceberg sort orders) would persist.
    // Narrow maps + one bounded window; the oracle shares the generated
    // quantize/interleave arithmetic so the two engines cannot drift.
    QueryDef(
      "p07_zorder_layout",
      Some {
        val qx = quantExpr("x", "minx", "maxx")
        val qy = quantExpr("y", "miny", "maxy")
        s"""WITH st AS (SELECT cast(min(value) as double) AS minx,
           |    cast(max(value) as double) AS maxx,
           |    cast(min(user_id) as double) AS miny,
           |    cast(max(user_id) as double) AS maxy FROM events),
           |q AS (SELECT event_id AS id, cast(value as double) AS x,
           |    cast(user_id as double) AS y, st.* FROM events, st),
           |z AS (SELECT id, x, y, $qx AS zx, $qy AS zy FROM q),
           |k AS (SELECT id, x, y,
           |    ${interleaveExpr("zx", "zy", duck = true)} AS zkey FROM z),
           |f AS (SELECT *, cast(ntile($ZFiles) OVER (ORDER BY zkey, id) as int)
           |    AS file_id FROM k)
           |SELECT file_id, count(*) AS n_rows,
           |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
           |  min(zkey) AS min_z, max(zkey) AS max_z
           |FROM f GROUP BY file_id""".stripMargin
      },
      (s, d) => {
        val e = Catalog.t(s, d, "events")
        zorderLayout(e, col("value"), col("user_id"), col("event_id"), ZFiles)
      }),

    // Curriculum ordering: rank docs easy->hard within each source
    // (n_chars as the difficulty proxy), slice every source's ranking
    // into the same number of stages, and emit the (stage, source,
    // rank) curriculum key — training reads stages in order, sources
    // stay interleaved within a stage. All windows partition by source.
    QueryDef(
      "p08_curriculum",
      Some(s"""WITH r AS (SELECT doc_id, source, n_chars,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY n_chars ASC, doc_id ASC) AS drank,
              |    count(*) OVER (PARTITION BY source) AS n_src
              |  FROM documents)
              |SELECT doc_id, source, cast(drank as bigint) AS drank,
              |  cast(((drank - 1) * $CurrStages) // n_src as int) AS stage
              |FROM r""".stripMargin),
      (s, d) => curriculumOrder(Catalog.t(s, d, "documents"),
        col("source"), col("n_chars"), CurrStages)),

    // Repeat-factor upsampling: every source carries a (possibly
    // fractional) epoch weight; docs emit floor(w) copies plus one more
    // when their md5 hash lands under the fractional threshold —
    // deterministic expected-value-correct upsampling with no RNG
    // state. The explode is a narrow map.
    QueryDef(
      "p09_repeat_upsample",
      Some {
        val baseCases = RepeatWeights.zipWithIndex.map { case (w, i) =>
          s"WHEN $i THEN ${w.toLong}"
        }.mkString(" ")
        val thrCases = RepeatWeights.zipWithIndex.map { case (w, i) =>
          s"WHEN $i THEN ${threshold(w - w.toLong)}"
        }.mkString(" ")
        s"""WITH x AS (SELECT doc_id, source,
           |    cast(substring(source, 4) as int) % ${RepeatWeights.length} AS si,
           |    cast(('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))
           |         as bigint) AS h
           |  FROM documents),
           |n AS (SELECT doc_id, source,
           |    (CASE si $baseCases END)
           |      + (CASE WHEN h < (CASE si $thrCases END) THEN 1 ELSE 0 END)
           |      AS n_copies
           |  FROM x)
           |SELECT doc_id, source, cast(unnest(range(1, n_copies + 1)) as bigint)
           |  AS copy FROM n""".stripMargin
      },
      (s, d) => repeatUpsample(Catalog.t(s, d, "documents"), col("source"),
        expr(s"cast(substring(source, 4) as int) % ${RepeatWeights.length}"),
        RepeatWeights)),

    // Token-budget selection: take the highest-priority documents (here
    // longest-first) until a global token budget is spent. The running
    // total runs through ScaleOps.globalPrefixSum — range-partitioned
    // two-phase scan — NOT a global `sum() OVER (ORDER BY ...)`, which
    // Catalyst plans as a single-task window; the oracle states exactly
    // that single-reducer form, so the gate proves the distributed scan
    // computes the identical inclusive totals.
    QueryDef(
      "p12_token_budget",
      Some(s"""WITH d AS (SELECT doc_id, lang, n_chars,
              |    cast(len($duckWords) as bigint) AS n_tokens FROM documents),
              |c AS (SELECT *, sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM d)
              |SELECT doc_id, lang, n_chars, n_tokens,
              |  cast(cum as bigint) AS cum_tokens
              |FROM c WHERE cum <= $TokenBudget""".stripMargin),
      (s, d) => tokenBudgetSelect(Catalog.t(s, d, "documents"), TokenBudget)),

    // Deterministic per-epoch global shuffle: every epoch orders the
    // corpus by md5(epoch || '-' || doc_id) — reproducible, seedable,
    // and different each epoch, which is exactly what a training run
    // wants from its data order. The global position comes from
    // globalPrefixSum over a count-of-ones (rank without a
    // single-reducer window; the oracle states the window form), with
    // per-epoch positions recovered by subtracting the epoch offset.
    QueryDef(
      "p13_epoch_shuffle",
      Some(s"""WITH e AS (SELECT doc_id, unnest(range(0, $ShuffleEpochs))
              |    AS epoch FROM documents),
              |o AS (SELECT epoch, doc_id,
              |    md5(epoch || '-' || doc_id) AS ord FROM e),
              |r AS (SELECT epoch, doc_id, row_number() OVER (
              |    PARTITION BY epoch ORDER BY ord, doc_id) AS pos FROM o)
              |SELECT cast(epoch as int) AS epoch, doc_id,
              |  cast(pos as bigint) AS pos FROM r""".stripMargin),
      (s, d) => epochShuffle(Catalog.t(s, d, "documents"), ShuffleEpochs)),

    // Weighted sampling WITHOUT replacement, proportional to document
    // size (Efraimidis-Spirakis exponential race): each doc draws a
    // deterministic uniform u from md5(doc_id) (48-bit prefix), races
    // with key ln(u)/w, and the n largest keys win. One narrow map +
    // TakeOrdered (per-partition top-n, driver merges n*P candidate
    // rows) — no global sort, no shuffle of the corpus at any width.
    QueryDef(
      "p14_weighted_sample",
      Some(s"""WITH pri AS (SELECT doc_id, lang, source, n_chars,
              |    ln((${duckHexFold48("md5(cast(doc_id AS varchar))")} + 1)
              |       / 281474976710656.0) / n_chars AS k
              |  FROM documents)
              |SELECT doc_id, lang, source, n_chars FROM pri
              |ORDER BY k DESC LIMIT $SampleN""".stripMargin),
      (s, d) => weightedSample(
        Catalog.t(s, d, "documents").select("doc_id", "lang", "source", "n_chars"),
        col("doc_id"), col("n_chars"), SampleN)),

    // Sliding-window document chunking for context-window preparation:
    // token spans of width ChunkTok advancing by StrideTok (overlap =
    // ChunkTok - StrideTok), final chunk clamped to the doc end. Pure
    // narrow map + explode — no shuffle at any corpus size; chunk
    // counts derive from closed-form integer math shared verbatim with
    // the oracle.
    QueryDef(
      "p15_chunk_stride",
      Some(s"""WITH d AS (SELECT doc_id,
              |    len(string_split(text, ' ')) AS n FROM documents),
              |c AS (SELECT doc_id, n, unnest(range(0,
              |    CASE WHEN n <= $ChunkTok THEN 1
              |    ELSE (n - $ChunkTok + $StrideTok - 1) // $StrideTok + 1
              |    END)) AS k FROM d)
              |SELECT doc_id, cast(k AS int) AS chunk_idx,
              |  cast(k * $StrideTok AS bigint) AS tok_start,
              |  cast(least(k * $StrideTok + $ChunkTok, n) AS bigint) AS tok_end
              |FROM c""".stripMargin),
      (s, d) => chunkByStride(Catalog.t(s, d, "documents"),
        col("doc_id"), split(col("text"), " "), ChunkTok, StrideTok)),

    // Sequence-length profile: docs and token mass bucketed by
    // power-of-two token count — the corpus histogram every packing /
    // truncation decision (p01's budget, p15's chunk width) is read
    // against. Exact integer math; one narrow map + one 20-ish-row
    // aggregate, nothing at corpus width.
    QueryDef(
      "p16_length_profile",
      Some("""WITH t AS (SELECT len(string_split(text, ' ')) AS n
             |  FROM documents),
             |b AS (SELECT n, cast(length(bin(n)) - 1 AS int) AS bucket FROM t)
             |SELECT bucket,
             |  cast(power(2, bucket) AS bigint) AS bucket_lo,
             |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tok_mass
             |FROM b GROUP BY bucket""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        // floor(log2(n)) via binary-string length: exact integer math
        // in both engines, no libm boundary risk at powers of two
        .withColumn("bucket", expr("cast(length(bin(n)) - 1 as int)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("tok_mass"))
        .select(col("bucket"),
          expr("cast(pow(2, bucket) as bigint)").as("bucket_lo"),
          col("n_docs"), col("tok_mass"))),

    // ------------------------------------------------ dataset card (p17)
    // The per-source summary a curated corpus publishes alongside its
    // shards: document/token counts, language spread with the dominant
    // language (deterministic mode), the DISCRETE median document length,
    // and the short-doc rate in fixed-point. One hash shuffle on
    // `source` for the counts; the mode and median are per-source window
    // picks over the SAME shuffled layout, then two broadcast-sized
    // joins stitch the card together (|sources| rows).
    QueryDef(
      "p17_dataset_card",
      Some("""WITH t AS (SELECT source, lang,
             |    len(string_split(text, ' ')) AS n, doc_id FROM documents),
             |base AS (SELECT source, count(*) AS n_docs,
             |    cast(sum(n) as bigint) AS n_tokens,
             |    count(DISTINCT lang) AS n_langs,
             |    cast(sum(CASE WHEN n < 50 THEN 1 ELSE 0 END) * 1000000
             |      // count(*) as bigint) AS short_rate_fx
             |  FROM t GROUP BY source),
             |lc AS (SELECT source, lang, count(*) AS c FROM t GROUP BY 1, 2),
             |tops AS (SELECT source, lang AS top_lang FROM (SELECT source, lang,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY c DESC, lang) AS rn FROM lc) x WHERE rn = 1),
             |med AS (SELECT source, n AS median_len FROM (SELECT source, n,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY n, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY source) AS cnt FROM t) x
             |  WHERE rn = (cnt + 1) // 2)
             |SELECT base.source, cast(n_docs as bigint) AS n_docs, n_tokens,
             |  cast(n_langs as bigint) AS n_langs, top_lang,
             |  cast(median_len as bigint) AS median_len, short_rate_fx
             |FROM base JOIN tops ON base.source = tops.source
             |JOIN med ON base.source = med.source""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = Catalog.t(s, d, "documents")
          .select(col("source"), col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n"))
        val base = t.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          expr("cast(sum(CASE WHEN n < 50 THEN 1 ELSE 0 END) * 1000000 " +
            "div count(*) as bigint)").as("short_rate_fx"))
        val tops = t.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
            .orderBy(col("c").desc, col("lang"))))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"))
        val med = t
          .select(col("source"), col("n"),
            row_number().over(Window.partitionBy(col("source"))
              .orderBy(col("n"), col("doc_id"))).as("rn"),
            count(lit(1)).over(Window.partitionBy(col("source"))).as("cnt"))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("source"), col("n").as("median_len"))
        base.join(tops, Seq("source")).join(med, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_langs"), col("top_lang"),
            col("median_len"), col("short_rate_fx"))
      }),

    // -------------------------------- decontaminated mix assembly (p18)
    // The end-to-end assembly composition: drop every train document
    // that shares a 3-word shingle with the benchmark split (d11's
    // gate), then recompute the per-source largest-remainder token
    // allocation (p06's scheme) over the CLEAN corpus — with the
    // per-source casualty count alongside, so the mix owner sees what
    // decontamination cost each source. Same broadcast-shingle-set and
    // bounded-groups scale contracts as the two parents.
    QueryDef(
      "p18_decontaminated_mix",
      Some(s"""WITH d AS (SELECT doc_id, $duckWords AS w FROM documents),
              |s AS (SELECT DISTINCT doc_id, unnest($duckShingles) AS sh FROM d),
              |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % $EvalMod = 0),
              |bad AS (SELECT DISTINCT tr.doc_id FROM
              |  (SELECT doc_id, sh FROM s WHERE doc_id % $EvalMod <> 0) tr
              |  JOIN ev USING (sh)),
              |clean AS (SELECT * FROM documents
              |  WHERE doc_id % $EvalMod <> 0
              |    AND doc_id NOT IN (SELECT doc_id FROM bad)),
              |tok AS (SELECT source,
              |    cast(sum(len(string_split(text, ' '))) as bigint) AS clean_toks
              |  FROM clean GROUP BY source),
              |tot AS (SELECT cast(sum(clean_toks) as bigint) AS total FROM tok),
              |base AS (SELECT source, clean_toks,
              |    ($MixBudget * clean_toks) // total AS base_alloc,
              |    ($MixBudget * clean_toks) % total AS rem
              |  FROM tok, tot),
              |ranked AS (SELECT *,
              |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rr,
              |    $MixBudget - cast(sum(base_alloc) OVER () as bigint) AS leftover
              |  FROM base),
              |drp AS (SELECT source, count(*) AS n_dropped
              |  FROM documents JOIN bad USING (doc_id) GROUP BY source)
              |SELECT r.source, clean_toks,
              |  cast(base_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
              |    as bigint) AS alloc,
              |  cast(coalesce(n_dropped, 0) as bigint) AS n_dropped
              |FROM ranked r LEFT JOIN drp ON r.source = drp.source""".stripMargin),
      (s, d) => {
        val docs = Catalog.t(s, d, "documents")
        val train = docs.filter(col("doc_id") % EvalMod =!= 0)
        val eval0 = docs.filter(col("doc_id") % EvalMod === 0)
        val bad = contamination(train, eval0).select("doc_id")
        val clean = train.join(bad, Seq("doc_id"), "left_anti")
        val dropped = train.join(bad, Seq("doc_id"), "left_semi")
          .groupBy(col("source")).agg(count(lit(1)).as("n_dropped"))
        mixAllocation(clean, col("source"),
            size(split(col("text"), " ")).cast("long"), MixBudget)
          .withColumnRenamed("toks", "clean_toks")
          .join(dropped, Seq("source"), "left")
          .select(col("source"), col("clean_toks"), col("alloc"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      }),

    // --------------------------------- deterministic interleave (p19)
    // The training-order interleave a data loader consumes: documents
    // shuffle WITHIN each source by a reproducible hash, and the global
    // order round-robins across sources — computed CLOSED-FORM as
    // `rank_within_source * n_sources + source_index`, so there is NO
    // global sort/window anywhere: one per-source window (keyed
    // shuffle) and two broadcast-sized joins. An epoch of 100 TB gets
    // a total order without any operator ever seeing the total order.
    QueryDef(
      "p19_interleave_order",
      Some("""WITH srcs AS (SELECT source,
             |    row_number() OVER (ORDER BY source) - 1 AS src_idx
             |  FROM (SELECT DISTINCT source FROM documents)),
             |n AS (SELECT count(*) AS n_src FROM srcs),
             |r AS (SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(cast(doc_id as varchar)), doc_id) - 1 AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.source,
             |  cast(rk * n_src + src_idx as bigint) AS position
             |FROM r JOIN srcs ON r.source = srcs.source, n""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Catalog.t(s, d, "documents")
        val srcs = boundedGroups(docs.select(col("source")).distinct()
            .groupBy(col("source")).agg(count(lit(1)).as("one")), "interleave")
          .withColumn("src_idx",
            row_number().over(Window.orderBy(col("source"))) - 1)
          .select(col("source"), col("src_idx"))
        val nSrc = srcs.groupBy().agg(count(lit(1)).as("n_src"))
        docs
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))) - 1)
          .join(broadcast(srcs), Seq("source"))
          .crossJoin(broadcast(nSrc))
          .select(col("doc_id"), col("source"),
            expr("cast(rk * n_src + src_idx as bigint)").as("position"))
      }),

    // ------------------------------- padding efficiency report (p20)
    // Length-bucketed batching: docs group into next-power-of-two token
    // buckets (floor 16 — the minimum sequence length a trainer pads
    // to), batches of 32 sequences assemble within a bucket, and every
    // slot pads to the bucket cap. The report says what fraction of the
    // padded token grid is real data per bucket — the number that
    // decides whether to add bucket boundaries or re-chunk. Next-pow2
    // runs on binary-string length (exact integers, no libm boundary
    // risk at powers of two — p16's idiom); one narrow map + one
    // bucket-count-sized aggregate, no window anywhere.
    QueryDef(
      "p20_padding_efficiency",
      Some(s"""WITH t AS (SELECT len(string_split(text, ' ')) AS n
             |  FROM documents),
             |b AS (SELECT n, greatest(16,
             |    cast(power(2, length(bin(n - 1))) as bigint)) AS cap FROM t),
             |g AS (SELECT cap, count(*) AS n_docs,
             |    cast(sum(n) as bigint) AS tok_sum FROM b GROUP BY cap)
             |SELECT cap AS bucket_cap, cast(n_docs as bigint) AS n_docs,
             |  tok_sum,
             |  cast((n_docs + $PadBatch - 1) // $PadBatch as bigint) AS n_batches,
             |  cast(((n_docs + $PadBatch - 1) // $PadBatch) * $PadBatch * cap
             |    as bigint) AS padded_tokens,
             |  cast(tok_sum * 1000000
             |    // (((n_docs + $PadBatch - 1) // $PadBatch) * $PadBatch * cap)
             |    as bigint) AS efficiency_fx
             |FROM g""".stripMargin),
      (s, d) => Catalog.t(s, d, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .withColumn("cap",
          expr("greatest(16L, cast(pow(2, length(bin(n - 1))) as bigint))"))
        .groupBy(col("cap"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_sum"))
        .select(col("cap").as("bucket_cap"), col("n_docs"), col("tok_sum"),
          expr(s"cast((n_docs + $PadBatch - 1) div $PadBatch as bigint)")
            .as("n_batches"),
          expr(s"cast(((n_docs + $PadBatch - 1) div $PadBatch) * $PadBatch" +
            " * cap as bigint)").as("padded_tokens"),
          expr(s"cast(tok_sum * 1000000 div (((n_docs + $PadBatch - 1)" +
            s" div $PadBatch) * $PadBatch * cap) as bigint)")
            .as("efficiency_fx"))),

    // ----------------------------- loader worker assignment (p21)
    // p19's deterministic global order dealt round-robin to 8 loader
    // workers, rolled up per worker: document/token mass and the
    // dominant-source share. The check a multi-worker training job runs
    // before an epoch — a worker that got a source-skewed or
    // token-heavy slice stalls every synchronous step. Round-robin over
    // the interleaved order is balanced BY CONSTRUCTION; this report
    // proves it (and would flag any future interleave regression).
    QueryDef(
      "p21_loader_shards",
      Some(s"""WITH srcs AS (SELECT source,
             |    row_number() OVER (ORDER BY source) - 1 AS src_idx
             |  FROM (SELECT DISTINCT source FROM documents)),
             |n AS (SELECT count(*) AS n_src FROM srcs),
             |r AS (SELECT doc_id, source,
             |    cast(len(string_split(text, ' ')) as bigint) AS toks,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(cast(doc_id as varchar)), doc_id) - 1 AS rk
             |  FROM documents),
             |p AS (SELECT r.source, toks,
             |    cast((rk * n_src + src_idx) % $LoaderWorkers as int) AS worker
             |  FROM r JOIN srcs ON r.source = srcs.source, n),
             |g AS (SELECT worker, count(*) AS n_docs,
             |    cast(sum(toks) as bigint) AS n_tokens FROM p GROUP BY worker),
             |sb AS (SELECT worker, source, count(*) AS c FROM p GROUP BY 1, 2),
             |dom AS (SELECT worker, source AS top_source, c FROM (SELECT *,
             |    row_number() OVER (PARTITION BY worker
             |      ORDER BY c DESC, source ASC) AS rn FROM sb) x WHERE rn = 1)
             |SELECT g.worker, cast(n_docs as bigint) AS n_docs, n_tokens,
             |  top_source,
             |  cast(dom.c * 1000000 // n_docs as bigint) AS top_source_share_fx
             |FROM g JOIN dom ON g.worker = dom.worker""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Catalog.t(s, d, "documents")
        val srcs = boundedGroups(docs.select(col("source")).distinct()
            .groupBy(col("source")).agg(count(lit(1)).as("one")), "loader")
          .withColumn("src_idx",
            row_number().over(Window.orderBy(col("source"))) - 1)
          .select(col("source"), col("src_idx"))
        val nSrc = srcs.groupBy().agg(count(lit(1)).as("n_src"))
        val p = docs
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))) - 1)
          .join(broadcast(srcs), Seq("source"))
          .crossJoin(broadcast(nSrc))
          .select(col("source"), col("toks"),
            expr(s"cast((rk * n_src + src_idx) % $LoaderWorkers as int)")
              .as("worker"))
        val g = p.groupBy(col("worker"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        val dom = p.groupBy(col("worker"), col("source"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("worker"))
              .orderBy(col("c").desc, col("source").asc)))
          .filter(col("rn") === 1)
          .select(col("worker"), col("source").as("top_source"), col("c"))
        g.join(dom, Seq("worker"))
          .select(col("worker"), col("n_docs"), col("n_tokens"),
            col("top_source"),
            expr("cast(c * 1000000 div n_docs as bigint)")
              .as("top_source_share_fx"))
      }),

    // p25: quality-threshold retention sweep — "how much of the corpus
    // (docs AND token mass) survives each quality cutoff", the curve a
    // curation run reads before picking its filter threshold (the
    // quality-filter twin of d22's LSH-banding sweep). The per-doc
    // score is INTEGER fixed-point (alpha-token ppm halved + capped
    // length bonus, max 1e6), so bucketing and the threshold compare
    // are exact in both engines; the sweep itself is one groupBy into
    // <= 11 score buckets plus a suffix-sum over that 11-row report —
    // the corpus is scanned ONCE no matter how many thresholds the
    // sweep reports (never docs x thresholds).
    QueryDef(
      "p25_quality_prune_sweep",
      Some("""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
             |s AS (SELECT len(w) AS n_words, len(list_filter(w,
             |    x -> regexp_full_match(x, '[a-z]+'))) AS n_alpha FROM d),
             |q AS (SELECT n_words, (n_alpha * 1000000
             |      // greatest(n_words, 1)) // 2
             |    + least(n_words, 200) * 2500 AS quality_fx FROM s),
             |b AS (SELECT least(quality_fx // 100000, 10) AS bucket,
             |    count(*) AS n_docs, sum(n_words) AS n_tokens
             |  FROM q GROUP BY 1),
             |t AS (SELECT unnest(range(0, 11)) AS bucket),
             |j AS (SELECT t.bucket, coalesce(b.n_docs, 0) AS n_docs,
             |    coalesce(b.n_tokens, 0) AS n_tokens
             |  FROM t LEFT JOIN b USING (bucket)),
             |c AS (SELECT bucket,
             |    sum(n_docs) OVER (ORDER BY bucket DESC
             |      ROWS UNBOUNDED PRECEDING) AS kept_docs,
             |    sum(n_tokens) OVER (ORDER BY bucket DESC
             |      ROWS UNBOUNDED PRECEDING) AS kept_tokens,
             |    sum(n_docs) OVER () AS td, sum(n_tokens) OVER () AS tt
             |  FROM j)
             |SELECT cast(bucket * 100000 as bigint) AS threshold_fx,
             |  cast(kept_docs as bigint) AS n_docs_kept,
             |  cast(kept_tokens as bigint) AS n_tokens_kept,
             |  cast(kept_docs * 1000000 // greatest(td, 1) as bigint)
             |    AS doc_share_ppm,
             |  cast(kept_tokens * 1000000 // greatest(tt, 1) as bigint)
             |    AS token_share_ppm
             |FROM c""".stripMargin),
      (s, d) => {
        val scored = Catalog.t(s, d, "documents")
          .select(split(col("text"), " ").as("w"))
          .select(size(col("w")).as("n_words"),
            size(filter(col("w"), x => x.rlike("^[a-z]+$"))).as("n_alpha"))
          .select(col("n_words"),
            expr("(cast(n_alpha as bigint) * 1000000" +
              " div greatest(n_words, 1)) div 2" +
              " + cast(least(n_words, 200) as bigint) * 2500")
              .as("quality_fx"))
        val buckets = scored
          .groupBy(least(expr("quality_fx div 100000"), lit(10))
            .as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_tokens"))
        val grid = scored.sparkSession.range(0, 11)
          .select(col("id").as("bucket"))
        val joined = grid.join(buckets, Seq("bucket"), "left")
          .na.fill(0L, Seq("n_docs", "n_tokens"))
        // suffix sums over the 11-row report — bounded window math
        val wSfx = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        joined
          .withColumn("kept_docs", sum(col("n_docs")).over(wSfx))
          .withColumn("kept_tokens", sum(col("n_tokens")).over(wSfx))
          .withColumn("td", sum(col("n_docs")).over(wAll))
          .withColumn("tt", sum(col("n_tokens")).over(wAll))
          .select(expr("cast(bucket * 100000 as bigint)").as("threshold_fx"),
            col("kept_docs").cast("long").as("n_docs_kept"),
            col("kept_tokens").cast("long").as("n_tokens_kept"),
            expr("cast(kept_docs * 1000000 div greatest(td, 1) as bigint)")
              .as("doc_share_ppm"),
            expr("cast(kept_tokens * 1000000 div greatest(tt, 1) as bigint)")
              .as("token_share_ppm"))
      }),

    // p26: corpus VERSION DIFF — training-data governance: what changed
    // between dataset release v_old and v_new, at document granularity,
    // by CONTENT hash (not mtime or row identity). The two versions are
    // derived deterministically from the documents table (v_old drops
    // the "later-added" set doc_id ≡ 3 mod 17; v_new drops the removed
    // set ≡ 7 mod 17 and revises the text of ≡ 2 mod 13), so the oracle
    // can rebuild both sides exactly. The diff itself is the operative
    // shape: ONE keyed full-outer join of two narrow (doc_id,
    // content_hash) relations — hashes are computed inside each scan
    // (the codegen'd graft_bytehash32 kernel: a BYTE-exact UTF-8 fold,
    // because whole-document text routinely carries supplementary-plane
    // characters that a UTF-16 char fold and the oracle's codepoint
    // fold hash differently), document text never crosses the shuffle,
    // and at 100 TB the join is one co-partitioned exchange on doc_id.
    // Status classes: added / removed / changed / unchanged.
    QueryDef(
      "p26_corpus_version_diff",
      Some(s"""WITH o AS (SELECT doc_id, 1 AS in_old,
              |    ${TextExprs.duckByteHash("text")} AS old_hash
              |  FROM documents WHERE doc_id % 17 <> 3),
              |n AS (SELECT doc_id, 1 AS in_new, ${TextExprs.duckByteHash(
                 "(CASE WHEN doc_id % 13 = 2 THEN text || ' [rev2]' ELSE text END)")}
              |    AS new_hash
              |  FROM documents WHERE doc_id % 17 <> 7)
              |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              |  old_hash, new_hash,
              |  CASE WHEN in_old IS NULL THEN 'added'
              |    WHEN in_new IS NULL THEN 'removed'
              |    WHEN old_hash IS DISTINCT FROM new_hash THEN 'changed'
              |    ELSE 'unchanged' END AS status
              |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Catalog.t(s, d, "documents")
          .select(col("doc_id"), col("text"))
        // presence flags, NOT hash nullness, decide added/removed: a
        // NULL text hashes to NULL on a side it IS present in, and the
        // change test is null-safe — presence and content are
        // independent signals (the oracle mirrors with in_old/in_new +
        // IS DISTINCT FROM)
        val old = docs.filter(col("doc_id") % 17 =!= 3)
          .select(col("doc_id"), lit(1).as("in_old"),
            expr("graft_bytehash32(text)").as("old_hash"))
        val nw = docs.filter(col("doc_id") % 17 =!= 7)
          .select(col("doc_id"), lit(1).as("in_new"), expr(
            "graft_bytehash32(CASE WHEN doc_id % 13 = 2" +
              " THEN concat(text, ' [rev2]') ELSE text END)").as("new_hash"))
        old.join(nw, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("old_hash"), col("new_hash"),
            when(col("in_old").isNull, "added")
              .when(col("in_new").isNull, "removed")
              .when(!(col("old_hash") <=> col("new_hash")), "changed")
              .otherwise("unchanged").as("status"))
      }),

    // p28: pack-budget sweep — the "pick the sequence length" knob,
    // answered from data: for each candidate budget, the number of
    // concat-and-chunk bins per p01 shard is pure arithmetic on the
    // shard's token total (ceil(total/budget)), so the whole sweep is
    // ONE keyed token aggregate + a 4-row budget explode — p01's
    // packing never actually runs per budget. Reports bins, waste
    // (the final partial bin per shard), and fill efficiency per
    // budget. Scale: the explode multiplies the SHARD table (one row
    // per lang), never the corpus.
    QueryDef(
      "p28_pack_budget_sweep",
      Some(s"""WITH sh AS (SELECT lang,
              |    cast(sum(len($duckWords)) as bigint) AS toks
              |  FROM documents GROUP BY lang),
              |b AS (SELECT unnest([${PackSweep.mkString(", ")}]) AS budget),
              |x AS (SELECT budget, toks,
              |    (toks + budget - 1) // budget AS n_bins FROM sh, b)
              |SELECT cast(budget as bigint) AS budget,
              |  cast(count(*) as bigint) AS n_shards,
              |  cast(sum(n_bins) as bigint) AS n_bins,
              |  cast(sum(toks) as bigint) AS total_tokens,
              |  cast(sum(n_bins) * budget - sum(toks) as bigint)
              |    AS waste_tokens,
              |  cast(CASE WHEN sum(n_bins) = 0 THEN 0
              |    ELSE sum(toks) * 1000000 // (sum(n_bins) * budget) END
              |    as bigint) AS efficiency_fx
              |FROM x GROUP BY budget""".stripMargin),
      (s, d) => {
        val sh = Catalog.t(s, d, "documents")
          .groupBy(col("lang"))
          .agg(sum(expr(s"cast(size($sparkWords) as bigint)")).as("toks"))
        sh.select(col("toks"), explode(expr(
            s"array(${PackSweep.map(_ + "L").mkString(", ")})")).as("budget"))
          .withColumn("n_bins", expr("(toks + budget - 1) div budget"))
          .groupBy(col("budget"))
          .agg(count(lit(1)).as("n_shards"), sum(col("n_bins")).as("n_bins"),
            sum(col("toks")).as("total_tokens"))
          // decimal(38,0) intermediates (the c13 discipline): the
          // corpus-global numerator total_tokens * 1e6 wraps int64 past
          // ~9.2e12 tokens (~37 TB of text) while the DuckDB oracle's
          // HUGEINT stays exact — the widened product keeps both
          // engines exact to ~10^32; results are <= 1e6 / < budget*
          // shards, so the final bigint casts are safe at any scale
          .select(col("budget").cast("long").as("budget"),
            col("n_shards").cast("long").as("n_shards"),
            col("n_bins").cast("long").as("n_bins"),
            col("total_tokens").cast("long").as("total_tokens"),
            expr("cast(cast(n_bins as decimal(38,0)) * budget" +
              " - total_tokens as bigint)").as("waste_tokens"),
            expr("cast(CASE WHEN n_bins = 0 THEN 0 ELSE" +
              " (cast(total_tokens as decimal(38,0)) * 1000000)" +
              " div (cast(n_bins as decimal(38,0)) * budget) END" +
              " as bigint)").as("efficiency_fx"))
      }),

    // p29: CAPPED mix allocation — p06's proportional apportionment
    // under an anti-domination policy: no source may exceed 5% of the
    // budget (the C4/Pile-style cap that stops one crawl swamping the
    // mix); freed mass redistributes proportionally among the others.
    // This is exact integer WATER-FILLING, solved in closed form
    // instead of iterating: sources sort by token mass desc, the
    // capped set is always a prefix, and row j is capped iff
    // (B − (j−1)·C)·t_j > C·(T − P_{j−1}) (cross-multiplied — no
    // division, no floats). k* = the longest true prefix; the k*
    // capped sources take C each and the remainder apportions
    // Hamilton-style (p06's machinery) over the rest, so the total is
    // exactly B. Products ride decimal(38,0)/HUGEINT (the p28
    // discipline — B·t wraps int64 near ~9e13 corpus tokens). Windows
    // run on source grain, bounded by [[MaxMixGroups]].
    QueryDef(
      "p29_capped_mix",
      Some(s"""WITH tok AS (SELECT source,
              |    cast(sum(len(string_split(text, ' '))) as bigint) AS toks
              |  FROM documents GROUP BY source),
              |tot AS (SELECT cast(sum(toks) as bigint) AS total FROM tok),
              |r AS (SELECT source, toks, total,
              |    row_number() OVER (ORDER BY toks DESC, source ASC) AS j,
              |    coalesce(sum(toks) OVER (ORDER BY toks DESC, source ASC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS pfx
              |  FROM tok, tot),
              |c AS (SELECT *, CASE WHEN
              |      (cast($MixBudget as HUGEINT) - (j - 1) * $CapAlloc)
              |        * toks
              |      > $CapAlloc * (cast(total as HUGEINT) - pfx)
              |    THEN 1 ELSE 0 END AS condi FROM r),
              |p AS (SELECT *, min(condi) OVER (ORDER BY j
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS prefok FROM c),
              |k AS (SELECT *, cast(sum(prefok) OVER () as bigint)
              |      AS kstar FROM p),
              |t2 AS (SELECT *, cast(sum(CASE WHEN j > kstar THEN toks
              |      ELSE 0 END) OVER () as bigint) AS trest FROM k),
              |cap AS (SELECT source, toks, 1 AS capped,
              |    cast($CapAlloc as bigint) AS alloc FROM t2
              |  WHERE j <= kstar),
              |u0 AS (SELECT source, toks,
              |    $MixBudget - kstar * $CapAlloc AS rbudget, trest
              |  FROM t2 WHERE j > kstar),
              |u1 AS (SELECT *,
              |    CASE WHEN trest = 0 THEN 0 ELSE
              |      cast((cast(rbudget as HUGEINT) * toks) // trest
              |        as bigint) END AS base_alloc,
              |    CASE WHEN trest = 0 THEN 0 ELSE
              |      cast((cast(rbudget as HUGEINT) * toks) % trest
              |        as bigint) END AS rem
              |  FROM u0),
              |u2 AS (SELECT *,
              |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rr,
              |    rbudget - cast(sum(base_alloc) OVER () as bigint)
              |      AS leftover
              |  FROM u1),
              |unc AS (SELECT source, toks, 0 AS capped,
              |    base_alloc + CASE WHEN trest > 0 AND rr <= leftover
              |      THEN 1 ELSE 0 END AS alloc FROM u2)
              |SELECT source, toks, cast(capped as bigint) AS capped,
              |  cast(alloc as bigint) AS alloc
              |FROM (SELECT * FROM cap UNION ALL SELECT * FROM unc)
              |  z""".stripMargin),
      (s, d) => cappedMix(Catalog.t(s, d, "documents"), col("source"),
        expr(s"cast(size($sparkWords) as bigint)"), MixBudget, CapAlloc))
  )

  /** p20 batch size (sequences per padded batch). */
  private val PadBatch = 32

  /** p21 data-loader worker count. */
  private val LoaderWorkers = 8

  private val ShuffleEpochs = 2
  private val SampleN = 100
  private val ChunkTok = 32  // p15 window width (tokens)
  private val StrideTok = 24 // p15 advance; overlap = ChunkTok - StrideTok

  /** 48-bit integer from the first 12 hex chars of `x` (a DuckDB md5
    * varchar) — the oracle mirror of Spark's `conv(substring(md5, 1, 12),
    * 16, 10)`.
    */
  private def duckHexFold48(x: String): String =
    s"list_reduce(list_prepend(cast(0 as bigint), " +
      s"list_transform(range(1, 13), i -> " +
      s"cast(strpos('0123456789abcdef', ($x)[i]) - 1 as bigint))), " +
      s"(a, b) -> a * 16 + b)"

  /** Efraimidis-Spirakis A-Res sample of `n` rows proportional to
    * `weight` (integral, > 0), deterministic via the md5-seeded uniform.
    * u is exact in both engines ((h+1)/2^48 with h < 2^48: the add and
    * the power-of-two divide are exact IEEE ops); only the final `ln`
    * leans on cross-engine libm parity, and the selected rows (not the
    * keys) are what's compared. Rows with weight <= 0 never win (their
    * key underflows to -inf), matching the ES precondition.
    */
  /** (id, chunk_idx, tok_start, tok_end) spans of `chunk` tokens every
    * `stride` tokens over `tokens` (an array column); the last span
    * clamps to the token count. Shuffle-free: chunk counts are
    * closed-form (`ceil((n-chunk)/stride)+1`), so this is select +
    * explode inside the scan stage.
    */
  def chunkByStride(docs: DataFrame, idCol: Column, tokens: Column,
      chunk: Int, stride: Int): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    docs.select(idCol.as("doc_id"), size(tokens).cast("long").as("n"))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), expr(
          s"CASE WHEN n <= $chunk THEN 0 " +
            s"ELSE (n - $chunk + $stride - 1) div $stride END"))).as("k"))
      .select(col("doc_id"),
        col("k").cast("int").as("chunk_idx"),
        (col("k") * stride).as("tok_start"),
        least(col("k") * stride + chunk, col("n")).as("tok_end"))
  }

  def weightedSample(docs: DataFrame, idCol: Column, weight: Column,
      n: Int): DataFrame = {
    val h = expr(s"cast(conv(substring(md5(cast(${idCol.toString} as string)), 1, 12), " +
      "16, 10) as bigint)")
    val u = (h + lit(1L)).cast("double") / lit(281474976710656.0) // 2^48
    docs.withColumn("__es_key", log(u) / weight.cast("double"))
      .orderBy(desc("__es_key")).limit(n)
      .drop("__es_key")
  }

  /** Reproducible per-epoch corpus order (see p13). One row per
    * (epoch, doc); the rank runs as ONE globalPrefixSum over the total
    * (epoch, md5, doc_id) order — scale-safe for any corpus — and the
    * per-epoch position subtracts `epoch * corpus_size`, valid because
    * every epoch permutes the identical doc set.
    */
  def epochShuffle(docs: DataFrame, epochs: Int): DataFrame = {
    val o = docs.select(col("doc_id"))
      .withColumn("epoch", explode(expr(s"sequence(0, ${epochs - 1})")))
      .withColumn("ord",
        md5(concat_ws("-", col("epoch"), col("doc_id")).cast("binary")))
    // corpus size falls out of the prefix sum's own partition totals
    // (total = epochs * n) — no separate count() scan
    val (summed, total) = graft.relational.ScaleOps.globalPrefixSumWithTotal(o,
      order = Seq(col("epoch").asc, col("ord").asc, col("doc_id").asc),
      valueCol = lit(1L), outCol = "cum")
    val n = total / epochs
    summed.select(col("epoch").cast("int").as("epoch"), col("doc_id"),
      (col("cum") - col("epoch").cast("long") * n).as("pos"))
  }

  /** Longest-first document selection under a global token budget: an
    * inclusive corpus-wide running token total in (n_chars desc, doc_id)
    * order via [[graft.relational.ScaleOps.globalPrefixSum]] — the
    * range-partitioned two-phase scan — then keep rows whose running
    * total fits. The priority order is a parameter of the prefix sum in
    * spirit; the gate pins the longest-first policy.
    */
  def tokenBudgetSelect(docs: DataFrame, budget: Long): DataFrame =
    graft.relational.ScaleOps.globalPrefixSum(
        docs.select(col("doc_id"), col("lang"), col("n_chars"),
          expr(s"cast(size($sparkWords) as bigint)").as("n_tokens")),
        order = Seq(col("n_chars").desc, col("doc_id").asc),
        valueCol = col("n_tokens"),
        outCol = "cum_tokens")
      .filter(col("cum_tokens") <= budget)

  private val StratRates = Seq(0.05, 0.15, 0.4, 0.8)
  private val MixBudget = 100000L
  private val CurrStages = 4
  private val RepeatWeights = Seq(0.5, 1.0, 1.5, 2.25, 3.0)

  /** md5-hash threshold for a keep-rate in [0,1] over the first 8 hex
    * chars (32-bit space) — identical integer in both engines.
    */
  private def threshold(rate: Double): Long = (rate * 4294967296.0).toLong

  // Deterministic shard manifest: docs assign to N training shards by
  // md5 hash (stable under any partitioning / re-run); the manifest
  // reports per-shard doc and token totals — the export step after
  // curation. One map + one N-row aggregation; at 100 TB the
  // assignment column feeds partitionBy(shard_id) writes directly.
  private val NumShards = 8

  private def shardManifestDef = QueryDef(
    "p04_shard_manifest",
    Some(s"""WITH a AS (SELECT doc_id,
            |    cast(('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))
            |         as bigint) % $NumShards AS shard_id,
            |    cast(len(string_split(text, ' ')) as bigint) AS n_tokens
            |  FROM documents)
            |SELECT shard_id, count(*) AS n_docs,
            |  cast(sum(n_tokens) as bigint) AS total_tokens,
            |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
            |FROM a GROUP BY shard_id""".stripMargin),
    (s, d) => shardManifest(Catalog.t(s, d, "documents"), NumShards,
      expr(s"cast(size($sparkWords) as bigint)")))

  /** Deterministic hash shard assignment + per-shard manifest. The
    * shard id is the first 8 hex chars of md5(doc_id) mod `n` — both
    * engines parse the same hex substring, so assignment is stable
    * across engines and re-runs (engine-native hash() functions are
    * not cross-engine reproducible).
    */
  def shardManifest(docs: DataFrame, n: Int, tokensCol: Column): DataFrame =
    docs
      .withColumn("shard_id",
        expr(s"conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
          .cast("long") % n)
      .withColumn("n_tokens", tokensCol)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  // ----------------------------------------------------- z-order layout

  private val ZBits = 16
  private val ZFiles = 64

  /** Quantize a double in [min, max] to `ZBits` bits. Pure SQL text that
    * parses identically in Spark and DuckDB (floor/CASE/cast/arithmetic
    * only), so quantization cannot drift between engine and oracle.
    */
  private def quantExpr(v: String, mn: String, mx: String): String = {
    val top = (1L << ZBits) - 1
    s"cast(floor(CASE WHEN $mx > $mn THEN (($v - $mn) / ($mx - $mn)) " +
      s"* cast($top as double) ELSE cast(0 as double) END) as bigint)"
  }

  /** Morton bit-interleave of two `ZBits`-bit codes: x takes even bits,
    * y odd bits. Generated per dialect (Spark spells shifts as
    * functions, DuckDB as operators) from the SAME bit positions.
    */
  private def interleaveExpr(zx: String, zy: String, duck: Boolean): String =
    (0 until ZBits).map { i =>
      if (duck)
        s"((($zx >> $i) & 1) << ${2 * i}) + ((($zy >> $i) & 1) << ${2 * i + 1})"
      else
        s"shiftleft(shiftright($zx, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright($zy, $i) & 1, ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  /** Z-order (Morton) file layout over two filter dimensions: quantize
    * each dim to 16 bits against its global min/max, interleave into a
    * 32-bit z-key, carve z-key order into `nFiles` files, and report
    * each file's min/max envelope in both dims — the skipping index a
    * lake writer persists. A z-ordered layout bounds BOTH dims per
    * file, so a predicate on either dim prunes ~sqrt-fraction of files
    * instead of scanning everything (the win over sorting by one dim).
    *
    * Scale: the stats pass is one tiny aggregate (or free from catalog
    * column stats); quantize + interleave are narrow codegen'd maps.
    * The gate uses `ntile` over the total z-key order for bit-exact
    * file assignment; a 100 TB writer swaps that single global window
    * for `repartitionByRange(nFiles, zkey)` + `sortWithinPartitions`
    * (sampled range boundaries — same envelopes, no total order).
    */
  def zorderLayout(df: DataFrame, xCol: Column, yCol: Column,
      idCol: Column, nFiles: Int): DataFrame = {
    val stats = df.agg(
      min(xCol).cast("double").as("minx"), max(xCol).cast("double").as("maxx"),
      min(yCol).cast("double").as("miny"), max(yCol).cast("double").as("maxy"))
    df.select(xCol.cast("double").as("x"), yCol.cast("double").as("y"),
        idCol.as("id"))
      .crossJoin(broadcast(stats))
      .withColumn("zx", expr(quantExpr("x", "minx", "maxx")))
      .withColumn("zy", expr(quantExpr("y", "miny", "maxy")))
      .withColumn("zkey", expr(interleaveExpr("zx", "zy", duck = false)))
      .withColumn("file_id",
        ntile(nFiles).over(Window.orderBy(col("zkey"), col("id"))))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        min(col("zkey")).as("min_z"), max(col("zkey")).as("max_z"))
  }

  // ------------------------------------------------------- public API

  /** Concatenate-and-chunk sequence packing: within each `shardCol`
    * partition, rows concatenate in `orderCol` order and slice into
    * `budget`-token bins. Returns the input keys plus `n_tokens`,
    * `bin_id`, `bin_offset`, `spans_boundary`.
    */
  def packSequences(docs: DataFrame, budget: Long, shardCol: Column,
      orderCol: Column, tokensCol: Column): DataFrame = {
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tokens", tokensCol)
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), shardCol, col("n_tokens"),
        expr(s"cum div $budget").as("bin_id"),
        (col("cum") % budget).as("bin_offset"),
        (expr(s"(cum + n_tokens - 1) div $budget") >
          expr(s"cum div $budget")).as("spans_boundary"))
  }

  /** Contamination check: `train` docs sharing any 3-word shingle with
    * `eval` docs, with distinct-shared-shingle counts. The eval
    * shingle set is the (small) broadcast side of one equi-join keyed
    * by shingle — candidate generation is inverted-index, not
    * all-pairs.
    */
  def contamination(train: DataFrame, eval0: DataFrame): DataFrame = {
    def shingled(df: DataFrame): DataFrame = df
      .withColumn("w", expr(sparkWords))
      .select(col("doc_id"), explode(expr(sparkShingles)).as("sh"))
      .distinct()
    val evalShingles = shingled(eval0).select("sh").distinct()
    shingled(train)
      .join(broadcast(evalShingles), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Corpus-novelty per doc: distinct 3-word shingles, how many first
    * occur (min doc_id) in that doc, and their ratio. Docs with <3
    * words have no shingles and are absent (same as the oracle).
    */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("w", expr(sparkWords))
      .select(col("doc_id"), explode(expr(sparkShingles)).as("sh"))
      .distinct()
    val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** Stratified deterministic sample: row kept iff the 32-bit md5 hash
    * of its doc_id is under the keep-rate threshold of its stratum
    * (`stratumIdx` must evaluate to 0..rates.length-1). A pure narrow
    * map — assignment is stable under any partitioning or re-run.
    */
  def stratifiedSample(docs: DataFrame, byCol: Column, stratumIdx: Column,
      rates: Seq[Double]): DataFrame = {
    val thr = element_at(
      array(rates.map(r => lit(threshold(r))): _*), stratumIdx + 1)
    docs
      .withColumn("h",
        expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
          .cast("long"))
      .filter(col("h") < thr)
      .select(col("doc_id"), byCol)
  }

  /** Largest-remainder apportionment of `budget` tokens across groups
    * proportional to their token totals: every group gets
    * `budget * toks // total`, and the leftover units go to the
    * largest remainders (ties -> group asc). Integer-exact, sums to
    * `budget`. The agg is two-phase; the window runs over one row per
    * group (the grouping cardinality, tiny by construction).
    */
  def mixAllocation(docs: DataFrame, byCol: Column, tokensCol: Column,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = boundedGroups(docs.withColumn("n_tokens", tokensCol)
      .groupBy(byCol).agg(sum(col("n_tokens")).as("toks")), "mixAllocation")
    val wAll = Window.partitionBy()
    val ranked = tok
      .withColumn("total", sum(col("toks")).over(wAll))
      .withColumn("base_alloc", expr(s"($budget * toks) div total"))
      .withColumn("rem", expr(s"($budget * toks) % total"))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, byCol.asc_nulls_last)))
      .withColumn("leftover", lit(budget) - sum(col("base_alloc")).over(wAll))
    ranked.select(byCol, col("toks"),
      (col("base_alloc") +
        when(col("rr") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
  }

  /** p29's closed-form integer water-filling: allocate `budget` over
    * groups proportionally to `tokensCol` mass, but no group above
    * `cap`; freed mass redistributes among the uncapped (see the p29
    * QueryDef comment for the prefix characterization). Returns
    * `(by, toks, capped, alloc)` with Σalloc = budget exactly. Two
    * degenerate caller-policy cases allocate SHORT of the budget
    * rather than fail or misallocate, surfaced by the conservation
    * law: every group capped with n·cap < budget, and a remaining
    * uncapped set whose token mass is zero (nothing to apportion
    * over — those groups get 0, never a divide-by-zero).
    */
  def cappedMix(docs: DataFrame, byCol: Column, tokensCol: Column,
      budget: Long, cap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = boundedGroups(docs.withColumn("n_tokens", tokensCol)
      .groupBy(byCol).agg(sum(col("n_tokens")).as("toks")), "cappedMix")
    val wAll = Window.partitionBy()
    // asc_nulls_last: Spark's plain asc sorts NULL group keys FIRST
    // while DuckDB's default is NULLS LAST — on a toks tie a NULL key
    // would take a different rank per engine, flipping capped-set
    // membership at the kstar boundary (round-13 review)
    val ord = Window.orderBy(col("toks").desc, byCol.asc_nulls_last)
    val enriched = tok
      .withColumn("j", row_number().over(ord))
      .withColumn("total", sum(col("toks")).over(wAll))
      .withColumn("pfx", coalesce(sum(col("toks"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("condi", when(
        expr(s"(cast($budget as decimal(38,0)) - (j - 1) * $cap) * toks" +
          s" > $cap * (cast(total as decimal(38,0)) - pfx)"), 1L)
        .otherwise(0L))
      .withColumn("prefok", min(col("condi"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("kstar", sum(col("prefok")).over(wAll))
      .withColumn("trest", sum(when(col("j") > col("kstar"), col("toks"))
        .otherwise(0L)).over(wAll))
    val capped = enriched.filter(col("j") <= col("kstar"))
      .select(byCol, col("toks"), lit(1L).as("capped"),
        lit(cap).as("alloc"))
    // trest = 0 guard: when every positive-token group is capped and
    // only zero-token groups remain uncapped, the Hamilton pass has
    // no mass to apportion over — allocate them 0 instead of dividing
    // by zero (Spark ANSI throws, DuckDB // returns NULL — a
    // cross-engine split; round-13 review)
    val unc = enriched.filter(col("j") > col("kstar"))
      .withColumn("rbudget", lit(budget) - col("kstar") * cap)
      .withColumn("base_alloc", expr(
        "CASE WHEN trest = 0 THEN 0L ELSE cast((cast(rbudget as" +
          " decimal(38,0)) * toks) div trest as bigint) END"))
      .withColumn("rem", expr(
        "CASE WHEN trest = 0 THEN 0L ELSE cast((cast(rbudget as" +
          " decimal(38,0)) * toks) % trest as bigint) END"))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, byCol.asc_nulls_last)))
      .withColumn("leftover",
        col("rbudget") - sum(col("base_alloc")).over(wAll))
      .select(byCol, col("toks"), lit(0L).as("capped"),
        (col("base_alloc") +
          when(col("trest") > 0 && col("rr") <= col("leftover"), 1L)
            .otherwise(0L))
          .as("alloc"))
    capped.unionByName(unc)
  }

  /** p29's per-source ceiling: 5% of the budget — low enough to BIND
    * on the test corpus's near-uniform ~4–6% source shares (an
    * unbinding cap would gate nothing; the t46 vacuity lesson), high
    * enough that n·cap = budget exactly at 20 sources, exercising the
    * all-but-equal redistribution edge.
    */
  private[graft] val CapAlloc = MixBudget / 20

  /** The mix apportionments run UNPARTITIONED windows over one row per
    * group — fine by construction (mix groups are sources/domains, a
    * handful), but the contract is enforced, not assumed (the
    * MaxInlineCentroids discipline): the grouped aggregate is pinned
    * with `localCheckpoint`, counted, and rejected above this bound
    * before any single-partition window touches it.
    */
  private[graft] val MaxMixGroups = 65536L

  private def boundedGroups(tok: DataFrame, what: String): DataFrame = {
    val pinned = tok.localCheckpoint(true)
    val n = pinned.count()
    require(n <= MaxMixGroups,
      s"$what produced $n groups, above MaxMixGroups=$MaxMixGroups — its " +
        "largest-remainder window is single-partition by design and only " +
        "safe for bounded group counts; pre-aggregate the group key " +
        "(e.g. source, not doc) or shard the mix")
    pinned
  }

  /** Fixed-point scale for temperature weights: sqrt(toks) * 1e6
    * floored — enough precision that distinct source sizes never
    * collide, small enough that budget * w_fx stays far below 2^63.
    */
  private val TempFx = 1000000L

  /** Temperature-weighted token-budget apportionment (T = 0.5):
    * group weights proportional to `sqrt(token total)` instead of the
    * raw totals, flattening the source distribution (the multilingual
    * rebalance of mT5/XLM-R-style training mixes). The sqrt is snapped
    * to fixed-point before the largest-remainder split, so the result
    * is integer-exact and engine-independent; same window discipline
    * as [[mixAllocation]] (one row per group).
    */
  def temperatureMix(docs: DataFrame, byCol: Column, tokensCol: Column,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = boundedGroups(docs.withColumn("n_tokens", tokensCol)
      .groupBy(byCol).agg(sum(col("n_tokens")).as("toks")), "temperatureMix")
    val wAll = Window.partitionBy()
    tok
      .withColumn("w_fx", expr(s"cast(floor(sqrt(toks) * $TempFx) as bigint)"))
      .withColumn("total", sum(col("w_fx")).over(wAll))
      .withColumn("base_alloc", expr(s"($budget * w_fx) div total"))
      .withColumn("rem", expr(s"($budget * w_fx) % total"))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, byCol.asc_nulls_last)))
      .withColumn("leftover", lit(budget) - sum(col("base_alloc")).over(wAll))
      .select(byCol, col("toks"), col("w_fx"),
        (col("base_alloc") +
          when(col("rr") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
  }

  /** Curriculum ordering: per-`byCol` difficulty rank (easy->hard by
    * `difficulty` asc, doc_id tie-break) and the stage slice
    * `(rank - 1) * stages div groupCount`. Training consumes stages in
    * ascending order; because every group is cut into the SAME number
    * of stages, groups stay proportionally interleaved inside each
    * stage. Windows partition by group — parallel at any corpus size
    * (at 100 TB the group key is (source, shard) so no single window
    * exceeds a shard).
    */
  def curriculumOrder(docs: DataFrame, byCol: Column, difficulty: Column,
      stages: Int): DataFrame = {
    val w = Window.partitionBy(byCol).orderBy(difficulty.asc, col("doc_id").asc)
    docs
      .withColumn("drank", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(byCol)))
      .select(col("doc_id"), byCol, col("drank"),
        expr(s"cast((drank - 1) * $stages div n_src as int)").as("stage"))
  }

  /** Repeat-factor upsampling: `weightIdx` (0-based into `weights`)
    * picks each row's epoch weight w; the row emits `floor(w)` copies
    * plus one extra when its 32-bit md5 hash falls under the
    * fractional-part threshold. Deterministic (no RNG state), exact in
    * expectation, and a pure narrow map — rows never shuffle, the
    * explode multiplies in place.
    */
  def repeatUpsample(docs: DataFrame, byCol: Column, weightIdx: Column,
      weights: Seq[Double]): DataFrame = {
    val base = array(weights.map(w => lit(w.toLong)): _*)
    val thr = array(weights.map(w => lit(threshold(w - w.toLong))): _*)
    docs
      .withColumn("h",
        expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
          .cast("long"))
      .withColumn("n_copies",
        element_at(base, weightIdx + 1) +
          when(col("h") < element_at(thr, weightIdx + 1), 1L).otherwise(0L))
      // sequence(1, 0) DESCENDS in Spark — zero-copy rows need the guard
      .withColumn("copy", explode(expr(
        "CASE WHEN n_copies >= 1 THEN sequence(cast(1 as bigint), n_copies) " +
          "ELSE cast(array() as array<bigint>) END")))
      .select(col("doc_id"), byCol, col("copy"))
  }

  /** Exactly `k` rows per `byCol` group, picked in deterministic
    * md5(doc_id) order. Output adds the 1-based `pick` rank.
    */
  def balancedSample(docs: DataFrame, byCol: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(byCol)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter(col("pick") <= k)
      .select(col("doc_id"), byCol, col("pick"))
  }

  // ------------------------------------ preference pairs (p22)

  /** Mine (chosen, rejected) preference pairs from `documents(doc_id,
    * lang, text)`: quality proxy = fixed-point type-token ratio,
    * stratified by (lang, ⌊log2(tokens)⌋ bucket), k-th best paired
    * with k-th worst inside each stratum, zero-margin pairs dropped.
    *
    * Scale: the per-doc score is a narrow map; ONE (lang, bucket)
    * Exchange carries both row_number rankings and the stratum count
    * (three windows over the same partitioning — Spark plans one
    * Exchange plus re-sorts); the best↔worst pairing is an equi-join
    * on (lang, bucket, k) between two row-number slices of the SAME
    * shuffled relation, so it stays co-partitioned. Strata are
    * |lang|·|buckets| — skew-free by construction since buckets are
    * log-scaled.
    */
  def preferencePairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs
      .select(col("doc_id"), col("lang"),
        expr(s"cast(size($sparkWords) as bigint)").as("n_tokens"),
        expr(s"cast(size(array_distinct($sparkWords)) * 1000000 " +
          s"div size($sparkWords) as bigint)").as("score_fx"))
      .withColumn("bucket",
        expr("cast(length(bin(greatest(n_tokens, 1))) - 1 as int)"))
    val wb = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("score_fx").desc, col("doc_id").asc)
    val ww = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("score_fx").asc, col("doc_id").desc)
    val wc = Window.partitionBy(col("lang"), col("bucket"))
    val r = scored
      .withColumn("rn_best", row_number().over(wb))
      .withColumn("rn_worst", row_number().over(ww))
      .withColumn("n", count(lit(1)).over(wc))
    val chosen = r.select(col("lang"), col("bucket"),
      col("rn_best").as("k"), col("doc_id").as("chosen_id"),
      col("score_fx").as("cs"), col("n"))
    val rejected = r.select(col("lang"), col("bucket"),
      col("rn_worst").as("k"), col("doc_id").as("rejected_id"),
      col("score_fx").as("rs"))
    chosen.join(rejected, Seq("lang", "bucket", "k"))
      .filter(col("k") <= expr("n div 2") && col("cs") > col("rs"))
      .select(col("lang"), col("bucket"), col("k").cast("long").as("pair_k"),
        col("chosen_id"), col("rejected_id"),
        (col("cs") - col("rs")).as("margin_fx"))
  }
}
