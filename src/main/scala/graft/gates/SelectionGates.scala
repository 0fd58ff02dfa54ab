package graft.gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Importance, Packing, Splits, TextAnalysis}

/** Data selection: LM and importance scoring, BM25, quality cuts,
  * deterministic sampling, shuffles, mixtures, packing and batching.
  */
private[graft] object SelectionGates {

  /** The DSIR feature stream: every unigram and bigram of each document,
    * with its source. Defines `t`, `uni` and `bi` (doc_id, source, g).
    */
  private val ImportanceGramsCtes =
    """t AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), uni AS (
      |  SELECT doc_id, source, unnest(w) AS g FROM t
      |), bi AS (
      |  SELECT doc_id, source,
      |         unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g
      |  FROM t WHERE len(w) >= 2
      |)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- Deterministic stratified sampling (md5 oracle family) --------
    Gate("q_sample_stratified", (s, dir) => {
      Splits.stratifiedSampleMd5(Tables.documents(s, dir), "doc_id", "lang",
          Seq("en" -> 0.5, "de" -> 0.25, "zh" -> 0.125), salt = "s2")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      """WITH u AS (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5('s2' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           / 1152921504606846976.0 AS u
        |  FROM documents
        |)
        |SELECT doc_id, lang FROM u
        |WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
        |                    WHEN 'zh' THEN 0.125 ELSE 0.0 END
        |ORDER BY doc_id""".stripMargin),

    // ---- Sequence packing into token-budget bins (global prefix sum) --
    Gate("q_pack_sequences", (s, dir) => {
      Packing.packSequences(Tables.documents(s, dir), "doc_id", "text", 512L)
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tokens, sum(tokens) OVER (ORDER BY doc_id) AS cum FROM t
        |)
        |SELECT doc_id, tokens, CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin),

    // ---- Packed training rows: bin members concatenated in id order ---
    Gate("q_pack_text", (s, dir) => {
      Packing.packedText(Tables.documents(s, dir), "doc_id", "text", 512L)
        .orderBy("bin")
    },
      """WITH t AS (
        |  SELECT doc_id, text,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text, tokens, sum(tokens) OVER (ORDER BY doc_id) AS cum FROM t
        |)
        |SELECT CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS bin,
        |       count(*) AS n_docs,
        |       CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |       string_agg(text, ' ' ORDER BY doc_id) AS packed_text
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin),

    // ---- Bigram-LM familiarity: avg corpus MLE conditional probability
    //      of each doc's bigrams (perplexity-proxy quality filter; exact
    //      long/long divisions quantized to 1e-12 longs -> order-free
    //      integer sums; ln cross-entropy twin spec-pinned) ------------
    Gate("q_lm_score", (s, dir) => {
      TextAnalysis.lmFamiliarity(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
      // bigrams via the 2-slice comprehension (duplicates KEPT — each
      // occurrence is scored); c1 folds from the bigram table so the
      // conditionals sum to 1 per w1; p = one BIGINT/BIGINT double
      // division, floored to 1e-12 longs, summed as integers
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS s
        |  FROM w
        |), c2 AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS c2 FROM g GROUP BY s
        |), c1 AS (
        |  SELECT string_split(s, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
        |  FROM c2 GROUP BY 1
        |), sc AS (
        |  SELECT g.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_bigrams,
        |         sum(CAST(floor(
        |           (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000000000.0 + 0.5) AS BIGINT)) AS sq
        |  FROM g
        |  JOIN c2 USING (s)
        |  JOIN c1 ON string_split(g.s, ' ')[1] = c1.w1
        |  GROUP BY g.doc_id
        |)
        |SELECT doc_id, n_bigrams,
        |       (CAST(sq AS DOUBLE) / n_bigrams) / 1000000000000.0 AS lm_score
        |FROM sc ORDER BY doc_id""".stripMargin),

    // ---- LM cross-entropy (textbook log form): avg ln p(w2|w1) per
    //      doc. Gate-able because the ln is the PLATFORM libm
    //      (PlatformLn — Spark's builtin log() is StrictMath/fdlibm,
    //      which disagrees with the oracle's glibc ln on ~6% of inputs;
    //      Math.log on 0.06%, 1 ulp) and the 1e-9 quantum absorbs the
    //      residue. Terms quantized BEFORE the integer sum, like
    //      q_lm_score ---------------------------------------------------
    Gate("q_lm_xent", (s, dir) => {
      TextAnalysis.lmFamiliarity(Tables.documents(s, dir), "doc_id", "text",
          logForm = true)
        .orderBy("doc_id")
    },
      // cross-entropy twin: ln of the SAME exact division, 1e-9 quantum
      // (platform-libm parity — see PlatformLn)
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS s
        |  FROM w
        |), c2 AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS c2 FROM g GROUP BY s
        |), c1 AS (
        |  SELECT string_split(s, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
        |  FROM c2 GROUP BY 1
        |), sc AS (
        |  SELECT g.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_bigrams,
        |         sum(CAST(floor(
        |           ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)) AS sq
        |  FROM g
        |  JOIN c2 USING (s)
        |  JOIN c1 ON string_split(g.s, ' ')[1] = c1.w1
        |  GROUP BY g.doc_id
        |)
        |SELECT doc_id, n_bigrams,
        |       (CAST(sq AS DOUBLE) / n_bigrams) / 1000000000.0 AS lm_score
        |FROM sc ORDER BY doc_id""".stripMargin),

    // ---- DSIR-style importance weighting (data selection): hashed
    //      unigram+bigram buckets, target-vs-raw Laplace bucket models,
    //      per-doc Σ count·(q12(p_t)−q12(p_r)) — exact integer sums,
    //      md5 bucket family for the oracle (xxhash64 prod twin
    //      spec-pinned); model ≤ 4096 rows -> broadcast lookup ---------
    Gate("q_importance", (s, dir) => {
      Importance.importanceWeight(Tables.documents(s, dir), "doc_id", "text",
          org.apache.spark.sql.functions.col("source") === "src0",
          buckets = 4096, md5Family = true)
        .orderBy("doc_id")
    },
      // hashed unigram+bigram buckets (lower-60-bit md5 mod 4096 — the
      // established md5 bridge), target/raw Laplace bucket models over the
      // fixed bucket space, per-probability 1e-12 quantization BEFORE the
      // subtraction — integer sums term for term with the Spark side
      s"""WITH $ImportanceGramsCtes, feats AS (
         |  SELECT doc_id, source = 'src0' AS tgt,
         |         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4096 AS f
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
         |), counts AS (
         |  SELECT f,
         |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |         CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |  FROM feats GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM counts
         |), lm AS (
         |  SELECT f,
         |    CAST(floor((CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
         |               * 1000000000000.0 + 0.5) AS BIGINT)
         |    - CAST(floor((CAST(cr + 1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE))
         |               * 1000000000000.0 + 0.5) AS BIGINT) AS dq
         |  FROM counts CROSS JOIN tot
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       (CAST(sum(dq) AS DOUBLE) / count(*)) / 1000000000000.0 AS imp_score
         |FROM feats JOIN lm USING (f)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),

    // ---- DSIR's actual log-ratio form: Σ count·(ln p_t − ln p_r) —
    //      platform-libm ln + 1e-9 quantum (the PlatformLn recipe) ------
    Gate("q_importance_log", (s, dir) => {
      Importance.importanceWeight(Tables.documents(s, dir), "doc_id", "text",
          org.apache.spark.sql.functions.col("source") === "src0",
          buckets = 4096, logForm = true, md5Family = true)
        .orderBy("doc_id")
    },
      // DSIR's actual log-ratio: dq = floor((ln pt - ln pr)*1e9 + 0.5) —
      // platform-libm ln parity (PlatformLn), 1e-9 quantum absorbs the
      // residual 1-ulp disagreements
      s"""WITH $ImportanceGramsCtes, feats AS (
         |  SELECT doc_id, source = 'src0' AS tgt,
         |         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4096 AS f
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
         |), counts AS (
         |  SELECT f,
         |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |         CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |  FROM feats GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM counts
         |), lm AS (
         |  SELECT f,
         |    CAST(floor(
         |      (ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
         |       - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE)))
         |      * 1000000000.0 + 0.5) AS BIGINT) AS dq
         |  FROM counts CROSS JOIN tot
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       (CAST(sum(dq) AS DOUBLE) / count(*)) / 1000000000.0 AS imp_score
         |FROM feats JOIN lm USING (f)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),

    // ---- Fused importance scoring of a HELD-OUT slice against a
    //      standing model (the incremental/streaming seat): model
    //      trained on even doc_ids in-JVM (dense 4096-long array,
    //      unseen buckets pre-smoothed), odd doc_ids scored by ONE
    //      map-only expression — exercises the unseen-bucket default
    //      the relational form never hits --------------------------
    Gate("q_importance_score", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val even = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
      val model = Importance.trainModel(even, "doc_id", "text",
        org.apache.spark.sql.functions.col("source") === "src0",
        buckets = 4096, md5Family = true)
      Importance.scoreWith(
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
          "doc_id", "text", model, md5Family = true)
        .orderBy("doc_id")
    },
      // the q_importance model arithmetic trained on EVEN doc_ids only;
      // odd-doc features LEFT JOIN the observed buckets with the smoothed
      // c=0 default (dq0) where the model never saw the bucket — the same
      // dense-array semantics as trainModel/ImportanceScore
      s"""WITH $ImportanceGramsCtes, feats AS (
         |  SELECT doc_id, source,
         |         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4096 AS f
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
         |), counts AS (
         |  SELECT f,
         |         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |         CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |  FROM feats WHERE doc_id % 2 = 0 GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM counts
         |), lm AS (
         |  SELECT f,
         |    CAST(floor((CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
         |               * 1000000000000.0 + 0.5) AS BIGINT)
         |    - CAST(floor((CAST(cr + 1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE))
         |               * 1000000000000.0 + 0.5) AS BIGINT) AS dq
         |  FROM counts CROSS JOIN tot
         |), d0 AS (
         |  SELECT
         |    CAST(floor((CAST(1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
         |               * 1000000000000.0 + 0.5) AS BIGINT)
         |    - CAST(floor((CAST(1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE))
         |               * 1000000000000.0 + 0.5) AS BIGINT) AS dq0
         |  FROM tot
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       (CAST(sum(COALESCE(lm.dq, d0.dq0)) AS DOUBLE) / count(*))
         |         / 1000000000000.0 AS imp_score
         |FROM feats LEFT JOIN lm USING (f) CROSS JOIN d0
         |WHERE doc_id % 2 = 1
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),

    // ---- BM25 lexical retrieval: top-15 docs for a bag-of-words probe
    //      query (rational-idf gate form; binary-exact k1/b so constant
    //      folding agrees; per-term contributions quantized to 1e-9
    //      longs -> order-independent integer score sums; log-idf
    //      production twin spec-pinned in TextAnalysisSpec) ------------
    Gate("q_bm25", (s, dir) => {
      TextAnalysis.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "join", "window", "vector"), topK = 15)
    },
      // same expression SHAPE as the Spark side, term for term: rational
      // idf ((n-df+0.5)/(df+0.5)), binary-exact k1=1.25/b=0.75 (so the
      // folded constants 2.25/0.25 are identical bits), per-term
      // contributions floored to 1e-9 longs and summed as integers
      """WITH dl AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dl
        |), tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
        |  ) WHERE t IN ('spark', 'join', 'window', 'vector')
        |  GROUP BY doc_id, t
        |), dfreq AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
        |), sc AS (
        |  SELECT tf.doc_id,
        |    sum(CAST(floor(
        |      ((n - df + 0.5) / (df + 0.5))
        |      * ((tf * (1.25 + 1.0)) / (tf + 1.25 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS score_q
        |  FROM tf JOIN dfreq USING (t) JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY tf.doc_id
        |)
        |SELECT CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank,
        |       doc_id, CAST(score_q AS DOUBLE) / 1000000000.0 AS score
        |FROM sc ORDER BY score_q DESC, doc_id LIMIT 15""".stripMargin),

    // ---- BM25, textbook log-idf form: idf = ln(1 + rational). Same
    //      platform-libm + quantized-integer-sum recipe as q_lm_xent ----
    Gate("q_bm25_log", (s, dir) => {
      TextAnalysis.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "join", "window", "vector"), topK = 15, idfLog = true)
    },
      // log-idf twin: idf = ln(1 + rational), identical evaluation order
      // (platform-libm parity — see PlatformLn); same 1e-9 quantum
      """WITH dl AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dl
        |), tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
        |  ) WHERE t IN ('spark', 'join', 'window', 'vector')
        |  GROUP BY doc_id, t
        |), dfreq AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
        |), sc AS (
        |  SELECT tf.doc_id,
        |    sum(CAST(floor(
        |      ln(((n - df + 0.5) / (df + 0.5)) + 1.0)
        |      * ((tf * (1.25 + 1.0)) / (tf + 1.25 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS score_q
        |  FROM tf JOIN dfreq USING (t) JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY tf.doc_id
        |)
        |SELECT CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank,
        |       doc_id, CAST(score_q AS DOUBLE) / 1000000000.0 AS score
        |FROM sc ORDER BY score_q DESC, doc_id LIMIT 15""".stripMargin),

    // ---- Adaptive quality cut: docs at/above the corpus-mean BPE token
    //      count (integer metric -> exact cross-engine mean; the
    //      approx-quantile production variant is spec-covered)
    Gate("q_quality_cut", (s, dir) => {
      TextAnalysis.cutByMeanOf(
          TextAnalysis.docStats(Tables.documents(s, dir), "doc_id", "text"),
          "n_bpe_tokens")
        .select("doc_id", "n_bpe_tokens", "quality")
        .orderBy("doc_id")
    },
      // integer metric -> the mean is an exact long sum + one double
      // division in both engines (order-independent, unlike a double sum)
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS n_bpe_tokens,
        |    CAST(len(list_filter(toks, t -> t IN
        |      ('the','a','an','of','and','to','in','is','on','for','with'))) AS BIGINT) AS n_stopwords,
        |    CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?''"]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio
        |  FROM w
        |), q AS (
        |  SELECT doc_id, n_bpe_tokens,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (1.0 - punct_ratio) * 0.2
        |      + (1.0 - digit_ratio) * 0.2
        |      + least((CAST(n_stopwords AS DOUBLE) / n_tokens) * 4.0, 1.0) * 0.2 AS quality
        |  FROM s
        |)
        |SELECT doc_id, n_bpe_tokens, quality FROM q
        |WHERE CAST(n_bpe_tokens AS DOUBLE) >=
        |      (SELECT CAST(sum(n_bpe_tokens) AS DOUBLE) / count(*) FROM q)
        |ORDER BY doc_id""".stripMargin),

    // ---- Adaptive quality cut, EXACT-quantile form: keep the top
    //      (1-q) fraction by global (metric, id) rank — the same
    //      two-phase prefix scan as q_rank_norm, so no single-task sort;
    //      floor(q·n) is one double op on both engines ------------------
    Gate("q_quality_cut_quantile", (s, dir) => {
      Splits.cutByQuantileExact(
          TextAnalysis.docStats(Tables.documents(s, dir), "doc_id", "text")
            .select("doc_id", "n_bpe_tokens"),
          "doc_id", "n_bpe_tokens", q = 0.8)
        .orderBy("doc_id")
    },
      // exact rank cut: row_number over (metric, doc_id) — the id
      // tie-break makes the kept count exact even on a plateaued metric;
      // floor(0.8·n) is the same single double op the engine computes
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS n_bpe_tokens
        |  FROM documents
        |)
        |SELECT doc_id, n_bpe_tokens FROM (
        |  SELECT doc_id, n_bpe_tokens,
        |         row_number() OVER (ORDER BY n_bpe_tokens, doc_id) - 1 AS pos,
        |         count(*) OVER () AS n
        |  FROM s
        |) WHERE pos >= floor(0.8 * n)
        |ORDER BY doc_id""".stripMargin),

    // ---- Per-GROUP exact-quantile cut: each source keeps ITS OWN top
    //      20% by (metric, id) rank — one corpus prefix scan on the
    //      length-prefixed (group, metric, id) key, groups-sized offsets,
    //      no per-group sort (the percentile-sketch per-group form stays
    //      spec-covered; this is its exact oracle-checkable twin) --------
    Gate("q_quality_cut_pergroup", (s, dir) => {
      val stats = TextAnalysis.docStats(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "n_bpe_tokens")
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      Splits.cutByQuantileExactPerGroup(
          stats, "doc_id", "source", "n_bpe_tokens", q = 0.8)
        .select("doc_id", "source", "n_bpe_tokens")
        .orderBy("doc_id")
    },
      // per-group: the same rank rule partitioned by source
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS n_bpe_tokens
        |  FROM documents
        |)
        |SELECT doc_id, source, n_bpe_tokens FROM (
        |  SELECT doc_id, source, n_bpe_tokens,
        |         row_number() OVER (
        |           PARTITION BY source ORDER BY n_bpe_tokens, doc_id) - 1 AS pos,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM s
        |) WHERE pos >= floor(0.8 * n)
        |ORDER BY doc_id""".stripMargin),

    // ---- Rank normalization: metric -> [0,1] by global position in
    //      (metric, id) order, via the two-phase distributed scan (the
    //      quantile-normalize step before cross-source score mixing) ---
    Gate("q_rank_norm", (s, dir) => {
      Splits.rankNormalize(
          Tables.documents(s, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars")
        .orderBy("doc_id")
    },
      // row_number (not percent_rank): ties order by doc_id — the same
      // unique total order the distributed scan produces
      """SELECT doc_id, n_chars,
        |       CASE WHEN (SELECT count(*) FROM documents) = 1 THEN 0.0
        |            ELSE CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS DOUBLE)
        |                 / ((SELECT count(*) FROM documents) - 1)
        |       END AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- Quality-weighted sampling: per-decile keep rates over the
    //      rank-normalized metric (upsample-the-best mixture move;
    //      rankNormalize ∘ md5 keep-hash composition) ------------------
    Gate("q_quality_sample", (s, dir) => {
      Splits.qualityWeightedSampleMd5(
          Tables.documents(s, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars",
          Seq(0.05, 0.1, 0.15, 0.2, 0.3, 0.4, 0.5, 0.7, 0.9, 1.0),
          salt = "qs")
        .select("doc_id", "n_chars", "pct_rank")
        .orderBy("doc_id")
    },
      // pct_rank as in q_rank_norm; decile = least(floor(pct*10), 9);
      // keep-hash u as in q_split_hash — all three idioms verbatim
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN (SELECT count(*) FROM documents) = 1 THEN 0.0
        |              ELSE CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS DOUBLE)
        |                   / ((SELECT count(*) FROM documents) - 1)
        |         END AS pct_rank
        |  FROM documents
        |), d AS (
        |  SELECT *, least(CAST(floor(pct_rank * 10) AS INTEGER), 9) AS dec,
        |         CAST('0x' || substr(md5('qs' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           / 1152921504606846976.0 AS u
        |  FROM r
        |)
        |SELECT doc_id, n_chars, pct_rank
        |FROM d
        |WHERE u < CASE dec
        |  WHEN 0 THEN 0.05 WHEN 1 THEN 0.1 WHEN 2 THEN 0.15
        |  WHEN 3 THEN 0.2 WHEN 4 THEN 0.3 WHEN 5 THEN 0.4
        |  WHEN 6 THEN 0.5 WHEN 7 THEN 0.7 WHEN 8 THEN 0.9 ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin),

    // ---- Deterministic corpus shuffle: global training-order positions
    //      by hash-of-id, via the two-phase parallel prefix scan (md5
    //      oracle family; xxhash64 production twin bridged in SplitsSpec)
    Gate("q_shuffle_order", (s, dir) => {
      Splits.shuffleOrderMd5(Tables.documents(s, dir), "doc_id", salt = "s3")
        .select("doc_id", "pos")
        .orderBy("pos")
    },
      """SELECT doc_id,
        |       row_number() OVER (
        |         ORDER BY substr(md5('s3' || CAST(doc_id AS VARCHAR)), 1, 15), doc_id) - 1 AS pos
        |FROM documents ORDER BY pos""".stripMargin),

    // ---- Data-mixture resampling: cut each source to hit the target
    //      token-mass proportions (exact long token sums -> rates; md5
    //      oracle family) ---------------------------------------------
    Gate("q_mixture_sample", (s, dir) => {
      Splits.mixtureSampleMd5(Tables.documents(s, dir), "doc_id", "source", "text",
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), salt = "mx")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // rate(s) = least(1, target * M / tokens(s)), M = min tokens/target;
      // token totals are exact BIGINT sums, so both engines compute the
      // same rates from the same doubles in the same operation order
      """WITH t AS (
        |  SELECT source, CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tk
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, CAST(tgt AS DOUBLE) AS tgt
        |  FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) AS v(source, tgt)
        |), r AS (
        |  SELECT t.source,
        |         least(1.0, tgt * (SELECT min(CAST(tk AS DOUBLE) / tgt) FROM t JOIN w USING (source))
        |                      / CAST(tk AS DOUBLE)) AS rate
        |  FROM t JOIN w USING (source)
        |)
        |SELECT doc_id, source FROM documents d JOIN r USING (source)
        |WHERE CAST('0x' || substr(md5('mx' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        / 1152921504606846976.0 < rate
        |ORDER BY doc_id""".stripMargin),

    // ---- Deterministic replication (UP-sampling): per-stratum rates
    //      above 1 emit floor(rate) copies + a hash-drawn extra, each
    //      tagged with its 0-based epoch — map-only, no shuffle --------
    Gate("q_replicate", (s, dir) => {
      Splits.replicateSampleMd5(Tables.documents(s, dir), "doc_id", "source",
          Seq("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25), salt = "rep")
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    },
      // replicas = floor(rate) + (u < rate - floor(rate)); the frac
      // subtraction is one IEEE op, floor is exact, so both engines draw
      // the same replica count; epochs unnest from range(0, n)
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                     WHEN 'src2' THEN 0.25 ELSE 0.0 END AS rate,
        |         CAST('0x' || substr(md5('rep' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           / 1152921504606846976.0 AS u
        |  FROM documents
        |), nn AS (
        |  SELECT doc_id, source,
        |         CAST(floor(rate) AS BIGINT)
        |           + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n
        |  FROM d
        |)
        |SELECT doc_id, source, unnest(range(0, n)) AS epoch
        |FROM nn WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin),

    // ---- Exact-size deterministic sample: the n hash-smallest ids,
    //      via the distributed prefix scan (no driver-merge top-k) ----
    Gate("q_sample_exact", (s, dir) => {
      Splits.sampleExactMd5(
          Tables.documents(s, dir).select("doc_id", "source"),
          "doc_id", n = 100L, salt = "se1")
        .select("doc_id", "source", "pos")
        .orderBy("pos")
    },
      // the q_shuffle_order position idiom + a WHERE on the position
      """SELECT doc_id, source, pos FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (
        |           ORDER BY substr(md5('se1' || CAST(doc_id AS VARCHAR)), 1, 15),
        |                    doc_id) - 1 AS pos
        |  FROM documents
        |) WHERE pos < 100
        |ORDER BY pos""".stripMargin),

    // ---- Deterministic per-group cap (the web-pipeline "domain cap"):
    //      keep at most k docs per source by (salt, id) hash order ----
    Gate("q_domain_cap", (s, dir) => {
      Splits.capPerGroupMd5(
          Tables.documents(s, dir).select("doc_id", "source"),
          "doc_id", "source", k = 10, salt = "dc")
        .orderBy("doc_id")
    },
      // hash-order row_number per group — the padded-hex concat key orders
      // exactly like (md5 prefix, doc_id) for non-negative ids
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY substr(md5('dc' || CAST(doc_id AS VARCHAR)), 1, 15),
        |                    doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin),

    // ---- Epoch-aware shuffle: training-order positions over an
    //      UP-sampled corpus — hash covers (id, epoch) so replicas
    //      scatter independently instead of landing adjacent ----------
    Gate("q_shuffle_epochs", (s, dir) => {
      val up = Splits.replicateSampleMd5(Tables.documents(s, dir), "doc_id", "source",
        Seq("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25), salt = "rep")
      Splits.shuffleOrderEpochsMd5(up, "doc_id", "epoch", salt = "se")
        .select("doc_id", "epoch", "pos")
        .orderBy("pos")
    },
      // the q_replicate replication verbatim, then positions by
      // row_number over (md5(salt || id || ':' || epoch), id, epoch) —
      // the epoch-aware twin of the q_shuffle_order idiom
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                     WHEN 'src2' THEN 0.25 ELSE 0.0 END AS rate,
        |         CAST('0x' || substr(md5('rep' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           / 1152921504606846976.0 AS u
        |  FROM documents
        |), nn AS (
        |  SELECT doc_id,
        |         CAST(floor(rate) AS BIGINT)
        |           + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n
        |  FROM d
        |), r AS (
        |  SELECT doc_id, unnest(range(0, n)) AS epoch FROM nn WHERE n > 0
        |)
        |SELECT doc_id, epoch,
        |       row_number() OVER (
        |         ORDER BY substr(md5('se' || CAST(doc_id AS VARCHAR) || ':'
        |                          || CAST(epoch AS VARCHAR)), 1, 15),
        |                  doc_id, epoch) - 1 AS pos
        |FROM r ORDER BY pos""".stripMargin),

    // ---- Mixture UP-sampling: token-budget-derived rates — sources
    //      over their target thin (keep-hash), sources under it
    //      replicate (deterministic epochs); exact long token totals ->
    //      bit-identical rates on both engines ------------------------
    Gate("q_mixture_up", (s, dir) => {
      Splits.mixtureResampleMd5(Tables.documents(s, dir), "doc_id", "source", "text",
          Seq("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1),
          budgetFactor = 1.0, salt = "mu")
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    },
      // rate(s) = tgt * factor * T / tokens(s) with T the exact BIGINT
      // token total over targeted sources; same left-assoc op order as the
      // Spark side, then the q_replicate replica/epoch idiom verbatim
      """WITH t AS (
        |  SELECT source, CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tk
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, CAST(tgt AS DOUBLE) AS tgt
        |  FROM (VALUES ('src0', 0.6), ('src1', 0.3), ('src2', 0.1)) AS v(source, tgt)
        |), tw AS (
        |  SELECT t.source, tk, tgt FROM t JOIN w USING (source)
        |), r AS (
        |  SELECT source,
        |         tgt * 1.0 * CAST((SELECT CAST(sum(tk) AS BIGINT) FROM tw) AS DOUBLE)
        |             / CAST(tk AS DOUBLE) AS rate
        |  FROM tw
        |), d AS (
        |  SELECT doc_id, dd.source, rate,
        |         CAST('0x' || substr(md5('mu' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           / 1152921504606846976.0 AS u
        |  FROM documents dd JOIN r USING (source)
        |), nn AS (
        |  SELECT doc_id, source,
        |         CAST(floor(rate) AS BIGINT)
        |           + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n
        |  FROM d
        |)
        |SELECT doc_id, source, unnest(range(0, n)) AS epoch
        |FROM nn WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin),

    // ---- Temperature-flattened mixture (p^α multilingual sampling,
    //      α = 1/2): targets DERIVED from token mass as exact integer
    //      sqrt — large sources down-weighted toward small ones; rates
    //      bit-identical on both engines (isqrt is exact, rate is the
    //      same short IEEE expression as q_mixture_sample) -------------
    Gate("q_mixture_temp", (s, dir) => {
      Splits.temperatureSampleMd5(Tables.documents(s, dir), "doc_id", "source", "text",
          salt = "tp")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // targets = exact integer sqrt of the per-source token mass
      // (floor(sqrt) corrected one step either side — exact BIGINT on both
      // engines), then the q_mixture_sample rate/filter idiom verbatim
      """WITH t0 AS (
        |  SELECT source, CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tk
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT * FROM t0 WHERE tk > 0
        |), iq AS (
        |  SELECT source, tk,
        |         s0 - CASE WHEN s0 * s0 > tk THEN 1 ELSE 0 END
        |            + CASE WHEN (s0 + 1) * (s0 + 1) <= tk THEN 1 ELSE 0 END AS w
        |  FROM (SELECT source, tk,
        |               CAST(floor(sqrt(CAST(tk AS DOUBLE))) AS BIGINT) AS s0 FROM t)
        |), r AS (
        |  SELECT source,
        |         least(1.0, CAST(w AS DOUBLE)
        |                      * (SELECT min(CAST(tk AS DOUBLE) / CAST(w AS DOUBLE)) FROM iq)
        |                      / CAST(tk AS DOUBLE)) AS rate
        |  FROM iq
        |)
        |SELECT doc_id, source FROM documents d JOIN r USING (source)
        |WHERE CAST('0x' || substr(md5('tp' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        / 1152921504606846976.0 < rate
        |ORDER BY doc_id""".stripMargin),

    // ---- Token-budget sampling per source: documents taken in hash
    //      order until each source's cumulative tokens reach the budget
    //      (boundary-straddling doc included — the packing bin rule).
    //      One corpus prefix scan on the (group, hash, id) key ----------
    Gate("q_mixture_token_budget", (s, dir) => {
      Splits.sampleByTokenBudgetPerGroup(
          Tables.documents(s, dir).select("doc_id", "source", "text"),
          "doc_id", "source", "text", budgetTokens = 500L,
          salt = "tb", md5Family = true)
        .select("doc_id", "source", "tokens", "tokens_before")
        .orderBy("doc_id")
    },
      // token budget: per-source running token sum in (md5 hash, id)
      // order; kept iff the tokens BEFORE the doc are under the budget
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tk,
        |    substr(md5('tb' || CAST(doc_id AS VARCHAR)), 1, 15) AS hx
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, source, tk,
        |    sum(tk) OVER (PARTITION BY source ORDER BY hx, doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, tk AS tokens,
        |  CAST(cum - tk AS BIGINT) AS tokens_before
        |FROM w WHERE cum - tk < 500
        |ORDER BY doc_id""".stripMargin),

    // ---- General-α temperature flattening, α = 1/4: weight =
    //      isqrt(isqrt(t)) — exact BIGINT on both engines, so the
    //      quarter-power family carries oracle evidence (the pow()-double
    //      general form remains spec-pinned) -----------------------------
    Gate("q_mixture_temp_a25", (s, dir) => {
      Splits.temperatureSampleQuarters(Tables.documents(s, dir),
          "doc_id", "source", "text", quarters = 1, salt = "tq", md5Family = true)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // α = 1/4: weight = isqrt(isqrt(tk)) — the exact-integer-sqrt idiom
      // applied twice, then the rate/filter idiom verbatim (salt 'tq')
      """WITH t0 AS (
        |  SELECT source, CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tk
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT * FROM t0 WHERE tk > 0
        |), iq1 AS (
        |  SELECT source, tk,
        |         s0 - CASE WHEN s0 * s0 > tk THEN 1 ELSE 0 END
        |            + CASE WHEN (s0 + 1) * (s0 + 1) <= tk THEN 1 ELSE 0 END AS w1
        |  FROM (SELECT source, tk,
        |               CAST(floor(sqrt(CAST(tk AS DOUBLE))) AS BIGINT) AS s0 FROM t)
        |), iq AS (
        |  SELECT source, tk,
        |         s1 - CASE WHEN s1 * s1 > w1 THEN 1 ELSE 0 END
        |            + CASE WHEN (s1 + 1) * (s1 + 1) <= w1 THEN 1 ELSE 0 END AS w
        |  FROM (SELECT source, tk, w1,
        |               CAST(floor(sqrt(CAST(w1 AS DOUBLE))) AS BIGINT) AS s1 FROM iq1)
        |), r AS (
        |  SELECT source,
        |         least(1.0, CAST(w AS DOUBLE)
        |                      * (SELECT min(CAST(tk AS DOUBLE) / CAST(w AS DOUBLE)) FROM iq)
        |                      / CAST(tk AS DOUBLE)) AS rate
        |  FROM iq
        |)
        |SELECT doc_id, source FROM documents d JOIN r USING (source)
        |WHERE CAST('0x' || substr(md5('tq' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        / 1152921504606846976.0 < rate
        |ORDER BY doc_id""".stripMargin),

    // ---- Length-bucketed batching (group_by_length): bucket =
    //      floor(log2(tokens)) via exact binary-string length, hash-order
    //      numbering within bucket, batches of 8 ------------------------
    Gate("q_length_batches", (s, dir) => {
      Splits.lengthBucketBatches(
          Tables.documents(s, dir).select("doc_id", "text"),
          "doc_id", "text", batchSize = 8, salt = "lb", md5Family = true)
        .orderBy("doc_id")
    },
      // length buckets: floor(log2(tk)) = length(binary string) - 1 (exact
      // integers, no float log); within-bucket numbering by (md5 hash, id)
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tk,
        |    substr(md5('lb' || CAST(doc_id AS VARCHAR)), 1, 15) AS hx
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, tk,
        |    CAST(length(bin(tk)) - 1 AS INTEGER) AS bucket, hx
        |  FROM t
        |), r AS (
        |  SELECT doc_id, tk, bucket,
        |    CAST(row_number() OVER (
        |      PARTITION BY bucket ORDER BY hx, doc_id) - 1 AS BIGINT) AS batch_pos
        |  FROM b
        |)
        |SELECT doc_id, tk AS tokens, bucket, batch_pos,
        |  CAST(batch_pos // 8 AS BIGINT) AS batch_id
        |FROM r ORDER BY doc_id""".stripMargin),

    // ---- Context-window chunking: overlapping token shards, map-only --
    Gate("q_chunk_docs", (s, dir) => {
      Packing.chunkDocs(Tables.documents(s, dir), "doc_id", "text", 32, 24)
        .orderBy("doc_id", "chunk_id")
    },
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), c AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM w
        |), e AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, CASE WHEN n > 32
        |                              THEN (n - 32 + 24 - 1) // 24
        |                              ELSE 0 END + 1)) AS chunk_id
        |  FROM c
        |)
        |SELECT doc_id, chunk_id,
        |       CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin)
  )
}
