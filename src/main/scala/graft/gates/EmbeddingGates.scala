package graft.gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Dedup, Pq, Similarity}

/** Embeddings: brute-force and LSH top-k, PCA and random projection, near-
  * dup pairs, k-means assignment, semantic dedup, IVF and product-
  * quantization ANN.
  */
private[graft] object EmbeddingGates {

  /** Trained models, one per corpus dir. Training is deterministic (seeded
    * init + fixed Lloyd rounds for IVF and PQ; exact integer covariance
    * partials + sign-fixed Jacobi for PCA), and each model-inlining oracle
    * below reads the same memo as its query.
    */
  private val ivfCentroidsFor = new PerDir((s, dir) =>
    Similarity.ivfCentroids(Tables.embeddings(s, dir), "vec_id", "embedding"))

  /** Components quantized to longs, so the q_embed_pca_proj oracle inlines
    * the SAME integers the query multiplies by.
    */
  private val pcaComponentsFor = new PerDir((s, dir) =>
    Similarity.quantizeComponents(
      Similarity.pcaTrain(Tables.embeddings(s, dir), "embedding", 64, r = 4).components))

  /** Persisted IVF index, built once per data dir into a temp directory
    * (train once, query many — the 100 TB usage shape).
    */
  private val ivfIndexFor = new PerDir((s, dir) => {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    Similarity.ivfWriteIndexWith(
      Tables.embeddings(s, dir), ivfCentroidsFor(s, dir), "vec_id", "embedding", p)
    p
  })

  private val pqModelFor = new PerDir((s, dir) =>
    Pq.pqTrain(Tables.embeddings(s, dir), "vec_id", "embedding"))

  /** The q_ann_pq probes (vec_id 0..9) folded into ADC lookup tables on
    * the driver; the oracle inlines the same tables.
    */
  private val pqQueriesFor = new PerDir((s, dir) =>
    Pq.adcQueries(
      Tables.embeddings(s, dir), "vec_id", "embedding", pqModelFor(s, dir), (0L until 10L)))

  /** DuckDB cosine of the list columns `va` and `vb`, dot products summed
    * in index order and rounded to 6 places like the Spark side.
    */
  private val CosineSql =
    """round(
      |  list_sum(list_transform(range(1, len(va)+1), i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(range(1, len(va)+1), i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, len(vb)+1), i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))))), 6)""".stripMargin

  private def dlit(x: Double): String = java.lang.Double.toString(x)
  private def dlist(xs: Seq[Double]): String = xs.map(dlit).mkString("[", ",", "]")

  /** The NearestCells assignment in DuckDB against the trained centroid
    * matrix inlined as literals (the q_ann_lsh planeWeights pattern —
    * training itself stays Spark-side, everything after it is
    * hash-checked). Score = 2·v·c − |c|² with the dot product summed in
    * index order (list_sum over list_transform walks the list left to
    * right, same as the expression's loop); |c|² is the same Scala-side
    * fold NearestCells precomputes, inlined as a literal; ties rank toward
    * the HIGHER cell index, matching NearestCells. Defines `cent`, `sc`
    * and `rk` (vec_id, cell, rn): rn = 1 is the vector's nearest cell.
    */
  private def cellRankCtes(cents: Seq[Seq[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${dlist(c)}, ${dlit(c.map(x => x * x).sum)})"
    }.mkString(",\n")
    s"""cent AS (
       |  SELECT * FROM (VALUES
       |$values
       |  ) AS t(cell, w, nrm)
       |), sc AS (
       |  SELECT e.vec_id, c.cell,
       |         2 * list_sum(list_transform(range(1, len(e.embedding)+1),
       |               d -> CAST(e.embedding[d] AS DOUBLE) * c.w[d])) - c.nrm AS s
       |  FROM embeddings e, cent c
       |), rk AS (
       |  SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |  FROM sc
       |)""".stripMargin
  }

  /** q_ann_ivf oracle: [[cellRankCtes]], then each query probes its 4
    * best cells and ranks the cosine of every vector assigned there.
    */
  private def ivfOracle(cents: Seq[Seq[Double]]): String =
    s"""WITH ${cellRankCtes(cents)}, corpus AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS vb, r.cell AS cb
       |  FROM embeddings e JOIN rk r ON e.vec_id = r.vec_id AND r.rn = 1
       |), q AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS va, r.cell AS bkt
       |  FROM embeddings e JOIN rk r ON e.vec_id = r.vec_id AND r.rn <= 4
       |  WHERE e.vec_id < 10
       |), s2 AS (
       |  SELECT query_id, neighbor_id, $CosineSql AS sim
       |  FROM q JOIN corpus ON q.bkt = corpus.cb
       |  WHERE neighbor_id != query_id
       |), r2 AS (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM s2
       |)
       |SELECT query_id, neighbor_id, rank, sim FROM r2 WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** q_cluster_assign oracle: [[cellRankCtes]] alone — rn = 1 is the
    * nearest cell with the NearestCells tie-break.
    */
  private def clusterAssignOracle(cents: Seq[Seq[Double]]): String =
    s"""WITH ${cellRankCtes(cents)}
       |SELECT vec_id, CAST(cell AS INTEGER) AS cluster
       |FROM rk WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** SemDeDup oracle: [[cellRankCtes]], then within-cell cosine pairs at
    * the gate's threshold, recursive-CTE components, and the
    * canonical-min-id survivor rule (the q_dedup_canonical construction).
    */
  private def semanticDedupOracle(cents: Seq[Seq[Double]]): String =
    s"""WITH RECURSIVE ${cellRankCtes(cents)}, corpus AS (
       |  SELECT e.vec_id, e.embedding, r.cell
       |  FROM embeddings e JOIN rk r ON e.vec_id = r.vec_id AND r.rn = 1
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM (SELECT vec_id, embedding AS va, cell FROM corpus) a
       |  JOIN (SELECT vec_id, embedding AS vb, cell FROM corpus) b USING (cell)
       |  WHERE a.vec_id < b.vec_id AND $CosineSql >= 0.3
       |), ${DedupGates.ReachCtes}, comp AS (
       |  SELECT id, min(r) AS component FROM reach GROUP BY 1
       |)
       |SELECT e.vec_id FROM embeddings e
       |WHERE e.vec_id NOT IN (SELECT id FROM comp WHERE id <> component)
       |ORDER BY vec_id""".stripMargin

  /** Shared encode CTE for the PQ oracles: replays the per-block
    * NearestCells argmin (2·v·w − |w|², tie toward the higher code) in
    * DuckDB against the trained codebooks inlined as literals. The
    * DOUBLE·DECIMAL products promote to DOUBLE before any addition, and
    * list_sum walks left to right, so every score bit-matches the
    * expression (the [[cellRankCtes]] argument).
    */
  private def pqEncodeCte(model: Pq.PqModel): String = {
    val sub = model.subDim
    val values = model.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (w, c) =>
        s"($s, $c, ${dlist(w)}, ${dlit(w.map(x => x * x).sum)})"
      }
    }.mkString(",\n")
    s"""cb AS (
       |  SELECT * FROM (VALUES
       |$values
       |  ) AS t(s, code, w, nrm)
       |), sc AS (
       |  SELECT e.vec_id, c.s, c.code,
       |         2 * list_sum(list_transform(range(1, ${sub + 1}),
       |               d -> CAST(e.embedding[c.s * $sub + d] AS DOUBLE) * c.w[d])) - c.nrm AS sc
       |  FROM embeddings e, cb c
       |), rk AS (
       |  SELECT vec_id, s, code,
       |         row_number() OVER (PARTITION BY vec_id, s ORDER BY sc DESC, code DESC) AS rn
       |  FROM sc
       |), enc AS (
       |  SELECT vec_id, list(CAST(code AS INTEGER) ORDER BY s) AS codes
       |  FROM rk WHERE rn = 1 GROUP BY vec_id
       |)""".stripMargin
  }

  private def pqEncodeOracle(model: Pq.PqModel): String =
    s"""WITH ${pqEncodeCte(model)}
       |SELECT vec_id, array_to_string(codes, '|') AS codes
       |FROM enc ORDER BY vec_id""".stripMargin

  /** q_ann_pq oracle: the encode CTE plus one UNION ALL arm per query,
    * each arm scoring every code row through the query's inlined ADC
    * tables. The per-block lookups cast to DOUBLE[] FIRST (a bare decimal
    * list would sum exactly instead of IEEE-rounding per step) and the
    * explicit `+` chains are left-associated in both engines, matching
    * the expression's reduceLeft.
    */
  private def annPqOracle(model: Pq.PqModel, qs: Seq[Pq.AdcQuery]): String = {
    val lutN = model.lutNorm
    def idx(s: Int) = s"(codes[${s + 1}] + 1)"
    def hit(tab: Seq[Double], s: Int) =
      s"(CAST(${dlist(tab)} AS DOUBLE[]))[${idx(s)}]"
    val nsum = (0 until model.m).map(s => hit(lutN(s), s)).mkString(" + ")
    val arms = qs.map { q =>
      val dsum = (0 until model.m).map(s => hit(q.lutDot(s), s)).mkString(" + ")
      s"""  SELECT vec_id AS neighbor_id, CAST(${q.id} AS BIGINT) AS query_id,
         |         round(($dsum) / (${dlit(q.qnorm)} * sqrt($nsum)), 6) AS sim
         |  FROM enc WHERE vec_id <> ${q.id}""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${pqEncodeCte(model)},
       |sc2 AS (
       |$arms
       |), r2 AS (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM sc2
       |)
       |SELECT query_id, neighbor_id, rank, sim FROM r2 WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q_embed_pca_proj oracle: the TRAINED quantized component matrix
    * inlined as integer literals (the [[cellRankCtes]] convention — training
    * stays Spark-side, everything after it is hash-checked). Vectors
    * quantize with the same floor(v·1e6 + 0.5), products and sums are
    * exact integers, so the pivot agrees bit-for-bit.
    */
  private def pcaProjOracle(comps: Seq[Seq[Long]]): String = {
    val values = comps.zipWithIndex.flatMap { case (row, j) =>
      row.zipWithIndex.map { case (wq, d) => s"(${j + 1}, ${d + 1}, ${wq})" }
    }.mkString(",\n")
    val cols = (1 to comps.length)
      .map(j => s"  max(CASE WHEN j = $j THEN v END) AS pc_$j")
      .mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, unnest(range(1, 65)) AS d,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings
       |), w AS (
       |  SELECT * FROM (VALUES
       |$values
       |  ) AS t(j, d, w)
       |), p AS (
       |  SELECT vec_id, j, CAST(sum(w * q) AS BIGINT) AS v
       |  FROM e JOIN w USING (d)
       |  GROUP BY vec_id, j
       |)
       |SELECT vec_id,
       |$cols
       |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // ---- Brute-force cosine top-k (ANN baseline) ----------------------
    Gate("q_sim_topk", (s, dir) => {
      Similarity.bruteForceTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding", (0L until 10L), 5)
        .orderBy("query_id", "rank")
    }, {
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS va FROM embeddings WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id AS neighbor_id, embedding AS vb FROM embeddings
         |), s AS (
         |  SELECT query_id, neighbor_id, $CosineSql AS sim
         |  FROM q, c WHERE neighbor_id != query_id
         |), r AS (
         |  SELECT query_id, neighbor_id, sim,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }),

    // ---- Embedding covariance (the distributed half of PCA): ONE
    //      fixed-buffer aggregate pass over quantized vectors — exact
    //      integer partials, so the 2080-entry matrix is bit-identical on
    //      any engine; eigendecomposition/projection are driver/map-side
    //      and spec-checked (PcaSpec) ----------------------------------
    Gate("q_embed_pca_cov", (s, dir) => {
      Similarity.covarianceFrame(Tables.embeddings(s, dir), "embedding", 64)
        .orderBy("i", "j")
    },
      // quantize → exact HUGEINT sums → the SAME double finisher formula as
      // CovStats.cov (term-for-term: products, /n, /(n-1), /quant²), so the
      // 2080 doubles agree bit-for-bit with the engine's exact partials
      """WITH e AS (
        |  SELECT vec_id,
        |         unnest(range(1, 65)) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings
        |), n AS (
        |  SELECT count(*) AS n FROM embeddings
        |), s AS (
        |  SELECT i, sum(q) AS si FROM e GROUP BY i
        |), p AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.q * b.q) AS pij
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2
        |)
        |SELECT p.i, p.j,
        |  (CAST(pij AS DOUBLE) - CAST(sa.si AS DOUBLE) * CAST(sb.si AS DOUBLE) / CAST(n.n AS DOUBLE))
        |    / CAST(n.n - 1 AS DOUBLE) / (1000000.0 * 1000000.0) AS cov
        |FROM p
        |JOIN s sa ON sa.i = p.i
        |JOIN s sb ON sb.i = p.j
        |CROSS JOIN n
        |ORDER BY p.i, p.j""".stripMargin),

    // ---- PCA projection (the map-side half after q_embed_pca_cov's
    //      distributed covariance + driver Jacobi): quantized vectors ×
    //      quantized trained components -> exact BIGINT coordinates; the
    //      trained matrix is inlined into the oracle (ivf convention).
    //      Gate pivots the proj array to scalars (comparator contract) --
    Gate("q_embed_pca_proj", (s, dir) => {
      val proj = Similarity.pcaProjectQuantized(
        Tables.embeddings(s, dir), "vec_id", "embedding", pcaComponentsFor(s, dir))
      proj.select(
          col("vec_id") +:
            (0 until 4).map(j => element_at(col("proj"), j + 1).as(s"pc_${j + 1}")): _*)
        .orderBy("vec_id")
    },
      (s, dir) => pcaProjOracle(pcaComponentsFor(s, dir))),

    // ---- JL signed random projection (training-free dim reduction):
    //      64 -> 16 dims, md5-family ±1 signs, quantized inputs -> exact
    //      integer coordinates; the oracle re-derives the SIGN MATRIX
    //      from md5() itself, so the derivation is cross-checked. Gate
    //      pivots the proj array to scalar columns (array outputs crash
    //      the driver comparator) --------------------------------------
    Gate("q_embed_rp", (s, dir) => {
      val rp = Similarity.randomProjection(
        Tables.embeddings(s, dir), "vec_id", "embedding", 64, 16)
      rp.select(
          col("vec_id") +:
            (0 until 16).map(j => element_at(col("proj"), j + 1).as(f"rp_$j%02d")): _*)
        .orderBy("vec_id")
    }, {
      // the sign matrix is DERIVED in SQL from md5 (same "rp:j:d" tokens,
      // 0-based d) rather than inlined — the derivation itself is checked;
      // coordinates are exact BIGINT sums of ±quantized components
      val cols = (0 until 16)
        .map(j => s"  max(CASE WHEN j = $j THEN v END) AS rp_${"%02d".format(j)}")
        .mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, unnest(range(1, 65)) AS d,
         |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
         |  FROM embeddings
         |), sgn AS (
         |  SELECT j, d,
         |         CASE WHEN ('0x' || substr(md5('rp:' || j || ':' || (d - 1)), 1, 15))::BIGINT % 2 = 0
         |              THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(range(0, 16)) AS j), (SELECT unnest(range(1, 65)) AS d)
         |), p AS (
         |  SELECT vec_id, j, CAST(sum(s * q) AS BIGINT) AS v
         |  FROM e JOIN sgn USING (d)
         |  GROUP BY vec_id, j
         |)
         |SELECT vec_id,
         |$cols
         |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }),

    // ---- Embedding near-dup pairs (label-blocked cosine) --------------
    Gate("q_embed_dup", (s, dir) => {
      Similarity.embeddingDupPairs(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", 0.3,
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    }, {
      s"""WITH p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         a.embedding AS va, b.embedding AS vb
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, $CosineSql AS sim
         |FROM p
         |WHERE $CosineSql >= 0.3
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // ---- LSH-bucketed ANN (rows-only; recall vs brute force in specs) -
    Gate("q_ann_lsh", (s, dir) => {
      Similarity.lshTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding", (0L until 10L), 5)
        .orderBy("query_id", "rank")
    }, {
      val w = graft.pipeline.Similarity.planeWeights(8, 64)
      def wLit(p: Int) =
        w(p).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val bucket = (0 until 8).map { p =>
        s"""(CASE WHEN list_sum(list_transform(range(1, len(v)+1),
           |  i -> CAST(v[i] AS DOUBLE) * (${wLit(p)})[i])) > 0
           |  THEN ${1 << p} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      val probes = ("home" +: (0 until 8).map(p => s"xor(home, ${1 << p})"))
        .mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT vec_id, embedding AS v, $bucket AS home
         |  FROM embeddings
         |), corpus AS (
         |  SELECT vec_id AS neighbor_id, v AS vb, home AS cb FROM b
         |), q AS (
         |  SELECT vec_id AS query_id, v AS va, unnest($probes) AS bkt
         |  FROM b WHERE vec_id < 10
         |), s AS (
         |  SELECT query_id, neighbor_id, $CosineSql AS sim
         |  FROM q JOIN corpus ON q.bkt = corpus.cb
         |  WHERE neighbor_id != query_id
         |), r AS (
         |  SELECT query_id, neighbor_id, sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }),

    // ---- K-means cluster assignment (the clustering surface itself):
    //      map-only NearestCells pass; trained centroids inlined into the
    //      oracle (q_ann_ivf convention, tie toward the higher cell) ----
    Gate("q_cluster_assign", (s, dir) => {
      Similarity.clusterAssignWith(
          Tables.embeddings(s, dir), ivfCentroidsFor(s, dir), "vec_id", "embedding")
        .orderBy("vec_id")
    },
      (s, dir) => clusterAssignOracle(ivfCentroidsFor(s, dir))),

    // ---- SemDeDup-style semantic dedup: k-means cell blocking + cosine
    //      pairs + components; one survivor per semantic cluster
    //      (centroids inlined into the oracle, q_ann_ivf convention) ----
    Gate("q_semantic_dedup", (s, dir) => {
      Similarity.semanticDedupWith(
          Tables.embeddings(s, dir), ivfCentroidsFor(s, dir),
          "vec_id", "embedding", 0.3)
        .select("vec_id")
        .orderBy("vec_id")
    },
      (s, dir) => semanticDedupOracle(ivfCentroidsFor(s, dir))),

    // ---- IVF ANN (hash-checked: the deterministically-trained centroid
    //      matrix is inlined into the oracle SQL; recall 0.83 @ 25% scan
    //      vs brute force in SimilaritySpec)
    Gate("q_ann_ivf", (s, dir) => {
      Similarity.ivfTopKWith(
          Tables.embeddings(s, dir), ivfCentroidsFor(s, dir),
          "vec_id", "embedding", (0L until 10L), 5, nprobe = 4)
        .orderBy("query_id", "rank")
    },
      (s, dir) => ivfOracle(ivfCentroidsFor(s, dir))),

    // ---- IVF ANN over the PERSISTED index (train once / query many;
    //      probe join dynamic-partition-prunes to the probed cell dirs;
    //      same oracle as q_ann_ivf — identical results by construction)
    Gate("q_ann_ivf_index", (s, dir) => {
      Similarity.ivfQueryIndex(s, ivfIndexFor(s, dir), (0L until 10L), 5, nprobe = 4)
        .orderBy("query_id", "rank")
    },
      (s, dir) => ivfOracle(ivfCentroidsFor(s, dir))),

    // ---- Product quantization encode: the corpus re-expressed as m
    //      small codes per vector (32× smaller resident index) — map-only
    //      NearestCells argmin per coordinate block; trained codebooks
    //      inlined into the oracle (q_ann_ivf convention) ----
    Gate("q_pq_encode", (s, dir) => {
      Pq
        .pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding", pqModelFor(s, dir))
        .select(
          col("vec_id"),
          // the driver's comparator row-sorts raw cells: arrays stringify
          // (the q_most_array convention)
          concat_ws("|", col("codes").cast("array<string>")).as("codes"))
        .orderBy("vec_id")
    },
      (s, dir) => pqEncodeOracle(pqModelFor(s, dir))),

    // ---- PQ ANN via ADC: join-free scan — queries ride as literal
    //      lookup tables over the code column, top-k through the
    //      k-bounded pairs aggregate; codebooks AND query LUTs inlined
    //      into the oracle ----
    Gate("q_ann_pq", (s, dir) => {
      val model = pqModelFor(s, dir)
      Pq
        .pqTopKAdc(
          Pq.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding", model),
          "vec_id", model, pqQueriesFor(s, dir), 5)
        .orderBy("query_id", "rank")
    },
      (s, dir) => annPqOracle(pqModelFor(s, dir), pqQueriesFor(s, dir))),

    // ---- Embedding near-dup with a DERIVED block key: sign-bit LSH bucket
    //      + 2-probe, exact-cosine verify — the 100 TB path where no label
    //      column exists to block on. Fully oracle-checked: the md5-derived
    //      hyperplanes are engine-reproducible, DuckDB recomputes the
    //      buckets and probe set.
    Gate("q_embed_dup_lsh", (s, dir) => {
      Similarity
        .embeddingDupPairsLsh(
          Tables.embeddings(s, dir), "vec_id", "embedding", 0.3,
          planes = 8, dims = 64, probes = 2,
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    }, {
      val w = graft.pipeline.Similarity.planeWeights(8, 64)
      def wLit(p: Int) =
        w(p).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val bucket = (0 until 8).map { p =>
        s"""(CASE WHEN list_sum(list_transform(range(1, len(v)+1),
           |  i -> CAST(v[i] AS DOUBLE) * (${wLit(p)})[i])) > 0
           |  THEN ${1 << p} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH b AS (
         |  SELECT vec_id AS id, embedding AS v, $bucket AS home
         |  FROM embeddings
         |), p AS (
         |  SELECT id, v, home, unnest([home, xor(home, 1), xor(home, 2)]) AS bkt
         |  FROM b
         |), c AS (
         |  SELECT least(a.id, h.id) AS id_a, greatest(a.id, h.id) AS id_b,
         |         a.v AS va, h.v AS vb
         |  FROM p a JOIN b h ON a.bkt = h.home
         |  WHERE h.home < a.home OR (a.home = h.home AND a.id < h.id)
         |)
         |SELECT id_a, id_b, $CosineSql AS sim
         |FROM c
         |WHERE $CosineSql >= 0.3
         |ORDER BY id_a, id_b""".stripMargin
    })
  )
}
