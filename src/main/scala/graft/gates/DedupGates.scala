package graft.gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Dedup, Splits}

/** Deduplication and decontamination: exact, n-gram, MinHash, SimHash and
  * winnowing near-dup families, components and canonical survivors,
  * leakage-safe splits and benchmark decontamination.
  */
private[graft] object DedupGates {

  /** Each document's distinct word trigrams: `t` (doc_id, g). */
  private val TrigramSetsCte =
    """t AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS g
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
      |)""".stripMargin

  /** Shared by q_decontaminate and q_decontaminate_hybrid — the hybrid
    * path is output-identical to the exact form by construction.
    */
  private val DecontaminateOracle: String =
    s"""WITH $TrigramSetsCte, tr AS (
       |  SELECT doc_id, unnest(g) AS s FROM t WHERE doc_id % 10 <> 0
       |), be AS (
       |  SELECT doc_id AS bid, unnest(g) AS s FROM t WHERE doc_id % 10 = 0
       |)
       |SELECT tr.doc_id, count(DISTINCT s) AS n_ngrams, count(DISTINCT bid) AS n_bench_docs
       |FROM tr JOIN be USING (s)
       |GROUP BY tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin

  /** Shared winnowing replay chain (q_winnow + q_winnow_pairs): trigram
    * md5-60 hashes, one row per w=4 window position, rightmost-minimum
    * selection via the composite HUGEINT (h, -pos) key. Ends defining
    * `e` (doc_id, pos, h), `gc` (doc_id, ng) and `fp` (doc_id, sel).
    */
  private val WinnowChainCte: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] AS g
      |  FROM t WHERE len(w) >= 3
      |), e AS (
      |  SELECT doc_id, unnest(range(1, len(g) + 1)) AS pos,
      |         ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT AS h
      |  FROM sh
      |), gc AS (
      |  SELECT doc_id, count(*) AS ng FROM e GROUP BY doc_id
      |), wp AS (
      |  SELECT doc_id, unnest(range(1, greatest(ng - 3, 1) + 1)) AS p FROM gc
      |), win AS (
      |  SELECT wp.doc_id, wp.p,
      |    arg_min(e.pos, e.h::HUGEINT * 4294967296 + (4294967295 - e.pos)) AS sel
      |  FROM wp JOIN e ON e.doc_id = wp.doc_id
      |    AND e.pos >= wp.p AND e.pos < wp.p + 4
      |  GROUP BY wp.doc_id, wp.p
      |), fp AS (
      |  SELECT DISTINCT doc_id, sel FROM win
      |)""".stripMargin

  /** Shared CTE chain computing md5-family MinHash signatures and band
    * keys (the q_dedup_minhash construction through `banded`) — reused
    * by the incremental-probe oracle so the two stay bit-identical.
    * Ends defining `sig` (doc_id, sg list) and `banded` (doc_id, b, bh).
    */
  private val MinhashBandedCte: String = {
    // base = lower-60-bit md5 of the shingle, plane hash =
    // (base * A_p) mod 2^60 (HUGEINT product — 2^60 divides 2^64, so it
    // equals Java's wrap-multiply masked to 60 bits), signature =
    // per-plane min, band key = the band's 4 minhashes joined with ','
    val mults = graft.functions.MinHashSignatureMd5.multipliers(64)
    val planeValues = mults.zipWithIndex
      .map { case (a, p) => s"($p, $a)" }
      .mkString(",\n")
    s"""t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] AS g
       |  FROM t WHERE len(w) >= 3
       |), e AS (
       |  SELECT doc_id, ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT AS base
       |  FROM sh
       |), planes AS (
       |  SELECT * FROM (VALUES
       |$planeValues
       |  ) AS pl(p, a)
       |), ph AS (
       |  SELECT doc_id, p,
       |         min(CAST((base::HUGEINT * a) % 1152921504606846976 AS BIGINT)) AS mh
       |  FROM e, planes GROUP BY doc_id, p
       |), sig AS (
       |  SELECT doc_id, list(mh ORDER BY p) AS sg FROM ph GROUP BY doc_id
       |), banded AS (
       |  SELECT doc_id, b,
       |         array_to_string(sg[b*4+1:b*4+4], ',') AS bh
       |  FROM sig, (SELECT unnest(range(0, 16)) AS b)
       |)""".stripMargin
  }

  /** The q_simhash construction: md5-60 token hashes and the signed
    * per-bit vote. Ends defining `bits` (doc_id, b, s); the fingerprint
    * sets bit b where s > 0.
    */
  private val SimhashBitsCte =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
      |), h AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
      |), bits AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, (SELECT unnest(range(60)) AS b)
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Shared CTE chain computing the SimHash near-dup pairs (the
    * q_simhash_pairs construction) — reused by the cluster/canonical
    * oracles so the three stay bit-identical. Ends defining `pairs`
    * (id_a < id_b, hamming <= 3).
    */
  private val SimhashPairsCte =
    s"""$SimhashBitsCte, fp AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |)""".stripMargin

  /** Connected components of the undirected `pairs` (id_a, id_b) by
    * recursive-CTE reachability (under WITH RECURSIVE): defines `edges`
    * (u, v) and `reach` (id, r); min(r) per id is the component, the
    * engine's large-star/small-star fixpoint.
    */
  private[gates] val ReachCtes =
    """edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION
      |  SELECT id_b, id_a FROM pairs
      |), reach(id, r) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id
      |)""".stripMargin

  /** Positional trigram index of the span gates (parallel unnests zip
    * position and gram). Defines `t` (doc_id, w) and `pos` (doc_id, p, g).
    */
  private val TrigramPosCtes =
    """t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), pos AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(w) - 1)) AS p,
      |    unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS g
      |  FROM t
      |)""".stripMargin

  /** Shared-trigram counts of every doc pair (grams in over 500 docs cut,
    * as the engine's maxDf): `sz` (doc_id, n) and `p` (id_a, id_b, shared).
    */
  private val NgramPairsCtes =
    s"""$TrigramSetsCte, e0 AS (
       |  SELECT doc_id, unnest(g) AS s FROM t
       |), df AS (
       |  SELECT s FROM e0 GROUP BY s HAVING count(*) <= 500
       |), e AS (
       |  SELECT e0.doc_id, e0.s FROM e0 JOIN df USING (s)
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id
       |), p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- Winnowing document fingerprints (Schleimer et al. 2003, the
    //      MOSS algorithm): rightmost-minimum selection over a w=4
    //      window of trigram md5-60 hashes — positioned fingerprints
    //      with the guaranteed-detection property (any shared run of
    //      n+w−1 = 6 words shares a fingerprint). One fused map-only
    //      pass (monotonic deque); the oracle replays window selection
    //      relationally (arg_min(pos, [h, -pos]) per window) -------------
    Gate("q_winnow", (s, dir) => {
      import graft.functions.WinnowFingerprint
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          WinnowFingerprint(col("text"), 3, 4).as("__f"))
        .select(
          col("doc_id"),
          col("__f.n_grams").as("n_grams"),
          col("__f.n_fp").as("n_fp"),
          md5(col("__f.fp_stream")).as("fp_md5"))
        .orderBy("doc_id")
    },
      // winnowing fingerprints replayed relationally: trigram md5-60 hashes
      // (the MinhashBandedCte idiom), one row per window position, rightmost
      // minimum via arg_min(pos, [h, -pos]), DISTINCT selected pairs; G < w
      // collapses to one window (greatest(ng-3, 1)); no-gram docs → md5('')
      s"""$WinnowChainCte
         |, fps AS (
         |  SELECT f.doc_id, count(*) AS n_fp,
         |         string_agg(e.h || ':' || f.sel, ' ' ORDER BY f.sel) AS stream
         |  FROM fp f JOIN e ON e.doc_id = f.doc_id AND e.pos = f.sel
         |  GROUP BY f.doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(gc.ng, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(fps.n_fp, 0) AS BIGINT) AS n_fp,
         |  md5(coalesce(fps.stream, '')) AS fp_md5
         |FROM documents d
         |LEFT JOIN gc ON d.doc_id = gc.doc_id
         |LEFT JOIN fps ON d.doc_id = fps.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // ---- Winnowing candidate pairs (the MOSS detector end-to-end):
    //      docs sharing >= 2 selected fingerprint hashes, hot cut at
    //      df > 500 (the boilerplate fingerprints — same lever as
    //      q_dedup_ngram), overlap over kept-fingerprint set sizes.
    //      Rides the shared inverted-list pair engine: the fingerprint
    //      index is ~w x smaller than the shingle miners' ----------------
    Gate("q_winnow_pairs", (s, dir) => {
      Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, w = 4, minShared = 2L, maxDf = Some(500L))
        .orderBy("id_a", "id_b")
    },
      // winnow candidate pairs: DISTINCT selected fingerprint hashes per
      // doc, hot cut (df > 500 dropped — the boilerplate fingerprints), a
      // doc-pair join on shared hashes, shared >= 2, overlap over the
      // kept-fingerprint sizes — exactly Dedup.winnowPairs' arithmetic
      s"""$WinnowChainCte
         |, fph AS (
         |  SELECT DISTINCT f.doc_id, e.h
         |  FROM fp f JOIN e ON e.doc_id = f.doc_id AND e.pos = f.sel
         |), dfs AS (
         |  SELECT h, count(*) AS df FROM fph GROUP BY h
         |), kept AS (
         |  SELECT fph.doc_id, fph.h FROM fph JOIN dfs USING (h) WHERE df <= 500
         |), ksz AS (
         |  SELECT doc_id, count(*) AS nk FROM kept GROUP BY doc_id
         |), pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(count(*) AS BIGINT) AS shared
         |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, shared,
         |  CAST(shared AS DOUBLE) / least(ka.nk, kb.nk) AS overlap
         |FROM pr
         |JOIN ksz ka ON ka.doc_id = pr.id_a
         |JOIN ksz kb ON kb.doc_id = pr.id_b
         |WHERE shared >= 2
         |ORDER BY id_a, id_b""".stripMargin),

    // ---- Exact dedup on documents: md5 grouping (LLM-pipeline op)
    Gate("q_dedup_exact", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "text", "doc_id").orderBy("canonical_id")
    },
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        |       count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY canonical_id""".stripMargin),

    // ---- n-gram Jaccard near-dup pairs (inverted-index blocking) ------
    Gate("q_dedup_ngram", (s, dir) => {
      // hot-shingle safety ON by default: a shingle in >500 docs is
      // boilerplate, not signal, and contributes O(df^2) candidate pairs
      // (a single-key shuffle bomb at 100 TB); the oracle mirrors the cut
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.2,
        maxDf = Some(500L), maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      s"""WITH $NgramPairsCtes
         |SELECT id_a, id_b,
         |       CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
         |FROM p
         |JOIN sz na ON na.doc_id = p.id_a
         |JOIN sz nb ON nb.doc_id = p.id_b
         |WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin),

    // ---- n-gram containment pairs (asymmetric near-superset measure:
    //      C(sub→super) = |sub∩super| / |sub| — catches truncation dups
    //      and whole-doc quoting that Jaccard dilutes away) -------------
    Gate("q_containment", (s, dir) => {
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5,
        maxDf = Some(500L), maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_sub", "id_super")
    },
      s"""WITH $NgramPairsCtes, d AS (
         |  SELECT id_a AS id_sub, id_b AS id_super,
         |         CAST(shared AS DOUBLE) / na.n AS containment
         |  FROM p JOIN sz na ON na.doc_id = p.id_a
         |  UNION ALL
         |  SELECT id_b, id_a, CAST(shared AS DOUBLE) / nb.n
         |  FROM p JOIN sz nb ON nb.doc_id = p.id_b
         |)
         |SELECT id_sub, id_super, containment
         |FROM d
         |WHERE containment >= 0.5
         |ORDER BY id_sub, id_super""".stripMargin),

    // ---- Duplicated-span coverage (token-level substring-dedup measure;
    //      Lee et al. 2022 — linear even on a saturated gram vocabulary,
    //      the scalable complement to the pair miners) ------------------
    Gate("q_dup_span", (s, dir) => {
      Dedup.dupSpanCoverage(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id")
    },
      // positional trigram index (parallel unnests zip position and gram);
      // grams compared by string where Spark compares xxhash64 — equal while
      // hashing is injective on the corpus (the q_dedup_ngram convention).
      // Interval union per doc mirrors the engine: sorted span starts, each
      // covering min(next - start, 3) tokens, the last covering 3.
      s"""WITH $TrigramPosCtes, dup AS (
         |  SELECT g FROM pos GROUP BY g HAVING count(*) >= 2
         |), dpos AS (
         |  SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (g)
         |), ld AS (
         |  SELECT doc_id, p,
         |         lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
         |  FROM dpos
         |), cov AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN nxt IS NULL THEN 3 ELSE least(nxt - p, 3) END) AS c
         |  FROM ld GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(cov.c, 0) AS BIGINT) AS dup_tokens,
         |       round(CAST(coalesce(cov.c, 0) AS DOUBLE) / len(w), 6) AS dup_frac
         |FROM t LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // ---- Duplicated-span removal (the cut the coverage measures) ------
    Gate("q_dup_span_clean", (s, dir) => {
      Dedup.dupSpanClean(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id")
    },
      // removal twin of q_dup_span: covered positions = distinct union of
      // [p, p+2] over duplicated-gram starts; surviving tokens re-joined in
      // position order (string_agg ORDER BY = the engine's sorted rebuild)
      s"""WITH $TrigramPosCtes, dup AS (
         |  SELECT g FROM pos GROUP BY g HAVING count(*) >= 2
         |), dpos AS (
         |  SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (g)
         |), covp AS (
         |  SELECT DISTINCT doc_id, tp
         |  FROM (SELECT doc_id, unnest(range(p, p + 3)) AS tp FROM dpos)
         |), tok AS (
         |  SELECT doc_id,
         |    unnest(range(1, len(w) + 1)) AS tp,
         |    unnest(w) AS tk
         |  FROM t
         |), kept AS (
         |  SELECT tok.doc_id, tok.tp, tok.tk
         |  FROM tok ANTI JOIN covp USING (doc_id, tp)
         |), cl AS (
         |  SELECT doc_id,
         |    count(*) AS n_kept,
         |    string_agg(tk, ' ' ORDER BY tp) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(cl.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(cl.clean_text, '') AS clean_text
         |FROM t LEFT JOIN cl USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // ---- MinHash+LSH near-dup pairs (hash-checked via the md5 hash
    //      family — DuckDB recomputes every hash; xxhash64 stays the
    //      production default in Dedup.minhashLshPairs, and DedupSpec
    //      bridges the two families' pair sets)
    Gate("q_dedup_minhash", (s, dir) => {
      Dedup.minhashLshPairsMd5(Tables.documents(s, dir), "doc_id", "text",
        maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      s"""WITH $MinhashBandedCte, cand AS (
         |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh
         |  WHERE l.doc_id < r.doc_id
         |), est AS (
         |  SELECT id_a, id_b,
         |         CAST(list_sum(list_transform(range(1, 65),
         |                i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END)) AS DOUBLE)
         |           / 64 AS est_jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.id_a
         |  JOIN sig sb ON sb.doc_id = cand.id_b
         |)
         |SELECT id_a, id_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // ---- Incremental near-dup probe: the batch (doc_id % 10 = 0)
    //      probes the standing corpus's persisted signature index —
    //      new×corpus and new×new pairs only, corpus×corpus never
    //      regenerated -----------------------------------------------
    Gate("q_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val probe = Dedup.minhashSignaturesMd5(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 3, 64)
      val index = Dedup.minhashSignaturesMd5(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 3, 64)
      Dedup.minhashLshPairsAgainst(probe, index, "doc_id",
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      // same signature/band construction; candidates come from PROBE
      // (doc_id % 10 = 0) bands joined against ALL bands — pairs touching
      // the probe only, corpus x corpus never generated
      s"""WITH $MinhashBandedCte, cand AS (
         |  SELECT DISTINCT least(l.doc_id, r.doc_id) AS id_a,
         |                  greatest(l.doc_id, r.doc_id) AS id_b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh
         |  WHERE l.doc_id % 10 = 0 AND l.doc_id != r.doc_id
         |), est AS (
         |  SELECT id_a, id_b,
         |         CAST(list_sum(list_transform(range(1, 65),
         |                i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END)) AS DOUBLE)
         |           / 64 AS est_jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.id_a
         |  JOIN sig sb ON sb.doc_id = cand.id_b
         |)
         |SELECT id_a, id_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // ---- Cross-source overlap matrix: per-source MinHash UNION
    //      sketches (min over member signatures = minhash of the union),
    //      pairwise position-match fraction = estimated Jaccard between
    //      full source shingle populations -----------------------------
    Gate("q_source_overlap", (s, dir) => {
      Dedup.groupOverlapMatrix(Tables.documents(s, dir), "source", "text")
        .orderBy("source_a", "source_b")
    },
      // same signature chain; the union sketch is min over member docs'
      // plane minima (grouped straight from ph), matches / 64 exact
      s"""WITH $MinhashBandedCte, ssig AS (
         |  SELECT d.source, ph.p, min(ph.mh) AS mh
         |  FROM ph JOIN documents d USING (doc_id)
         |  GROUP BY 1, 2
         |)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 64
         |         AS est_jaccard
         |FROM ssig a JOIN ssig b ON a.p = b.p AND a.source < b.source
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin),

    // ---- SimHash fingerprints (md5-based, engine-reproducible) --------
    Gate("q_simhash", (s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id")
    },
      s"""WITH $SimhashBitsCte
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits
         |GROUP BY 1
         |ORDER BY doc_id""".stripMargin),

    // ---- SimHash near-dup pairs (quarter-blocking + exact hamming) ----
    Gate("q_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3,
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      s"""WITH $SimhashPairsCte
         |SELECT id_a, id_b, hamming FROM pairs
         |ORDER BY id_a, id_b""".stripMargin),

    // ---- Near-dup components (large-star/small-star transitive closure
    //      over the SimHash pairs; oracle = recursive-CTE reachability) --
    Gate("q_dedup_cluster", (s, dir) => {
      Dedup.connectedComponents(
          Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // components over the simhash pairs: recursive-CTE reachability
      // (min reachable id == the engine's large-star/small-star fixpoint)
      s"""WITH RECURSIVE $SimhashPairsCte, $ReachCtes
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY 1
         |ORDER BY doc_id""".stripMargin),

    // ---- Cluster dedup: one canonical doc per near-dup component ------
    Gate("q_dedup_canonical", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupByComponents(
          docs, "doc_id",
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
        .select("doc_id")
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE $SimhashPairsCte, $ReachCtes, comp AS (
         |  SELECT id, min(r) AS component FROM reach GROUP BY 1
         |)
         |SELECT d.doc_id FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
         |ORDER BY doc_id""".stripMargin),

    // ---- Score-preferring cluster dedup: keep the LONGEST member of
    //      each near-dup component (ties → min id), not the min id — the
    //      keep-the-best-copy policy production pipelines run ------------
    Gate("q_dedup_best", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.canonicalByScore(
          docs, "doc_id",
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3),
          "n_chars")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
      // max(score)-then-min(id among maxima) == Spark's max_by over the
      // (score, -id) struct: the same total order, in SQL arg_max can't
      // compose (DuckDB's takes no composite ordering key)
      s"""WITH RECURSIVE $SimhashPairsCte, $ReachCtes, comp AS (
         |  SELECT id, min(r) AS component FROM reach GROUP BY 1
         |), keyed AS (
         |  SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS k
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |), best AS (
         |  SELECT k, max(n_chars) AS mx FROM keyed GROUP BY k
         |), keep AS (
         |  SELECT min(keyed.doc_id) AS doc_id
         |  FROM keyed JOIN best ON keyed.k = best.k AND keyed.n_chars = best.mx
         |  GROUP BY keyed.k
         |)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM keep)
         |ORDER BY d.doc_id""".stripMargin),

    // ---- Deterministic train/val/test hash split (md5 oracle family;
    //      xxhash64 is the production default, bridged in SplitsSpec).
    //      Weights chosen with binary-exact cumulative cuts (.75/.875) so
    //      both engines' CASE thresholds are the same doubles -----------
    Gate("q_split_hash", (s, dir) => {
      Splits.hashSplitMd5(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "s1")
        .select("doc_id", "split")
        .orderBy("doc_id")
    },
      // u = first-15-hex of md5 as 60-bit long / 2^60: the engine's
      // hashSplitMd5 arithmetic verbatim; cuts 0.75/0.875 are binary-exact
      """WITH u AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           / 1152921504606846976.0 AS u
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CASE WHEN u < 0.75 THEN 'train'
        |            WHEN u < 0.875 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin),

    // ---- Leakage-safe split: near-dup components pinned to one split --
    Gate("q_split_leakage", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Splits.leakageSafeSplitMd5(
          docs, "doc_id",
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3),
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "s1")
        .select("doc_id", "split")
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE $SimhashPairsCte, $ReachCtes, comp AS (
         |  SELECT id, min(r) AS component FROM reach GROUP BY 1
         |), keyed AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS k
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |), u2 AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5('s1' || CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
         |           / 1152921504606846976.0 AS u
         |  FROM keyed
         |)
         |SELECT doc_id,
         |       CASE WHEN u < 0.75 THEN 'train'
         |            WHEN u < 0.875 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM u2 ORDER BY doc_id""".stripMargin),

    // ---- Benchmark decontamination: training docs sharing any 3-gram
    //      with the benchmark slice (doc_id % 10 == 0 stands in for the
    //      eval suite). Gate counts distinct xxhash64 shingle hashes; the
    //      oracle counts distinct shingle STRINGS — equal because hashing
    //      is injective on the corpus (same convention as q_dedup_ngram)
    Gate("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", 3,
          maxMatches = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("doc_id")
    },
      // gate counts distinct shingle HASHES, oracle distinct shingle STRINGS
      // — equal while hashing is injective on the corpus (q_dedup_ngram
      // convention)
      DecontaminateOracle),

    // ---- Span-level decontamination: token coverage of bench-shared
    //      3-grams per training doc (the Lee et al. span machinery
    //      pointed across corpora; broadcast bench gram set, doc-local
    //      interval union) --------------------------------------------
    Gate("q_cont_span", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminatedSpanCoverage(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", 3)
        .orderBy("doc_id")
    },
      // the dup-span machinery with the flag set = the bench corpus's
      // DISTINCT grams; inner join vs cov == the cont_tokens > 0 filter
      // (cov only holds docs with >=1 flagged span)
      s"""WITH $TrigramPosCtes, bset AS (
         |  SELECT DISTINCT g FROM pos WHERE doc_id % 10 = 0
         |), dpos AS (
         |  SELECT pos.doc_id, pos.p FROM pos JOIN bset USING (g)
         |  WHERE pos.doc_id % 10 <> 0
         |), ld AS (
         |  SELECT doc_id, p,
         |         lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
         |  FROM dpos
         |), cov AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN nxt IS NULL THEN 3 ELSE least(nxt - p, 3) END) AS c
         |  FROM ld GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(cov.c AS BIGINT) AS cont_tokens,
         |       round(CAST(cov.c AS DOUBLE) / len(w), 6) AS cont_frac
         |FROM t JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // ---- Span-level decontamination, removal form: cut the leaked
    //      spans, keep the documents -----------------------------------
    Gate("q_cont_span_clean", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminatedSpanClean(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", 3)
        .orderBy("doc_id")
    },
      s"""WITH $TrigramPosCtes, bset AS (
         |  SELECT DISTINCT g FROM pos WHERE doc_id % 10 = 0
         |), dpos AS (
         |  SELECT pos.doc_id, pos.p FROM pos JOIN bset USING (g)
         |  WHERE pos.doc_id % 10 <> 0
         |), covp AS (
         |  SELECT DISTINCT doc_id, tp
         |  FROM (SELECT doc_id, unnest(range(p, p + 3)) AS tp FROM dpos)
         |), tok AS (
         |  SELECT doc_id,
         |    unnest(range(1, len(w) + 1)) AS tp,
         |    unnest(w) AS tk
         |  FROM t WHERE doc_id % 10 <> 0
         |), kept AS (
         |  SELECT tok.doc_id, tok.tp, tok.tk
         |  FROM tok ANTI JOIN covp USING (doc_id, tp)
         |), cl AS (
         |  SELECT doc_id,
         |    count(*) AS n_kept,
         |    string_agg(tk, ' ' ORDER BY tp) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(cl.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(cl.clean_text, '') AS clean_text
         |FROM t LEFT JOIN cl USING (doc_id)
         |WHERE t.doc_id % 10 <> 0
         |ORDER BY t.doc_id""".stripMargin),

    // ---- Bloom-filter decontamination: the probabilistic map-only twin
    //      of q_decontaminate — bench 3-grams OR-folded into one 2^20-bit
    //      bitmap (BitmapOrAggregate), corpus probed statelessly
    //      (BloomNgramHitCount, md5 oracle family; xxhash64 production
    //      twin bridged in BloomSpec). The oracle SIMULATES the bloom
    //      exactly: a gram hits iff all k=4 double-hash positions are in
    //      the bench position set — false positives and all --------------
    Gate("q_decontaminate_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateBloom(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", 3, mBits = 1 << 20, kHashes = 4, md5Family = true)
        .orderBy("doc_id")
    },
      // exact simulation of the m=2^20 / k=4 double-hash bloom: base =
      // lower-60-md5 (the MinHashSignatureMd5 convention), h1 = base &
      // (m-1), h2 = ((base >> 20) & (m-1)) | 1, p_i = (h1 + i*h2) % m; a
      // corpus gram may-hits iff ALL 4 of its positions are set by ANY
      // bench grams (count(DISTINCT i) = 4 — two different probes landing
      // on one set bit both count, exactly like the real bitmap)
      s"""WITH $TrigramSetsCte, bb AS (
         |  SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS base
         |  FROM (SELECT unnest(g) AS s FROM t WHERE doc_id % 10 = 0)
         |), bp AS (
         |  SELECT DISTINCT ((base & 1048575) + i * (((base >> 20) & 1048575) | 1)) % 1048576 AS p
         |  FROM bb, (SELECT unnest(range(0, 4)) AS i)
         |), cg AS (
         |  SELECT doc_id, s, ('0x' || substr(md5(s), 1, 15))::BIGINT AS base
         |  FROM (SELECT doc_id, unnest(g) AS s FROM t WHERE doc_id % 10 <> 0)
         |), cp AS (
         |  SELECT doc_id, s, i,
         |         ((base & 1048575) + i * (((base >> 20) & 1048575) | 1)) % 1048576 AS p
         |  FROM cg, (SELECT unnest(range(0, 4)) AS i)
         |), hit AS (
         |  SELECT doc_id, s
         |  FROM cp JOIN bp USING (p)
         |  GROUP BY doc_id, s
         |  HAVING count(DISTINCT i) = 4
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
         |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- Hybrid decontamination: bloom prefilter -> exact join on the
    //      flagged slice. Output (and ORACLE) identical to
    //      q_decontaminate — the bloom never misses, so the prefilter is
    //      lossless; the exact stage removes its false positives -------
    Gate("q_decontaminate_hybrid", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateHybrid(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", 3,
          maxMatches = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("doc_id")
    },
      // the hybrid path is output-identical to the exact form by
      // construction (lossless bloom prefilter) — same oracle
      DecontaminateOracle)
  )
}
