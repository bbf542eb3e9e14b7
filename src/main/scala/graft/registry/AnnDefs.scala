package graft.registry

import graft.query.Similarity

/** The ann family, 36 queries: nearest-neighbour search, embeddings
  * and retrieval, `ann_`, `emb_`, `embedding_`, `retrieval_`. */
object AnnDefs {

  /** The [[graft.query.Similarity.ivfLloydTopK]] oracle: Forgy seeds →
    * `iters` unrolled Lloyd stages (per-dim ×10³-quantized member sums
    * → exact-rational REAL centroids → argmax-dot reassignment) →
    * probe + exact re-rank. Stage text identical modulo the iteration
    * index; MATERIALIZED for the twice-referenced assignment CTEs. */
  private def ivfLloydOracleSql(iters: Int): String = {
    val stages = (1 to iters).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT cell, dd.d AS d,
         |    CAST(sum(CAST(round(e[dd.d] * 1000.0) AS BIGINT)) AS BIGINT)
         |      AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM a${t - 1}, LATERAL (SELECT unnest(generate_series(1,
         |    len(e))) AS d) dd
         |  GROUP BY cell, dd.d
         |), cent$t AS MATERIALIZED (
         |  SELECT cell, list(CAST(CAST(CAST(s AS DOUBLE) / (1000.0 * n)
         |    AS REAL) AS DOUBLE) ORDER BY d) AS cv
         |  FROM c$t GROUP BY cell
         |), a$t AS MATERIALIZED (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT emb.vec_id, emb.e, c.cell,
         |      row_number() OVER (PARTITION BY emb.vec_id
         |        ORDER BY list_dot_product(emb.e, c.cv) DESC, c.cell)
         |        AS rn
         |    FROM emb, cent$t c) WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), seeds AS (
       |  SELECT seed_vid, seed_e,
       |    CAST(row_number() OVER (ORDER BY h, seed_vid) - 1 AS BIGINT)
       |      AS cell
       |  FROM (
       |    SELECT vec_id AS seed_vid, e AS seed_e,
       |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
       |        AS BIGINT) AS h
       |    FROM emb ORDER BY h, vec_id LIMIT 16)
       |), a0 AS MATERIALIZED (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT emb.vec_id, emb.e, s.cell,
       |      row_number() OVER (PARTITION BY emb.vec_id
       |        ORDER BY list_dot_product(emb.e, s.seed_e) DESC, s.cell)
       |        AS rn
       |    FROM emb, seeds s) WHERE rn = 1
       |), $stages,
       |qe AS (SELECT e AS q FROM emb WHERE vec_id = 0),
       |probes AS (
       |  SELECT cell FROM cent$iters, qe
       |  ORDER BY list_dot_product(cv, q) DESC, cell LIMIT 4
       |)
       |SELECT a.vec_id, a.cell, list_dot_product(a.e, qe.q) AS cosine
       |FROM a$iters a JOIN probes USING (cell), qe
       |WHERE a.vec_id <> 0
       |ORDER BY cosine DESC, a.vec_id LIMIT 10""".stripMargin
  }

  /** Shared by `ann_ivf_delta_assign` and its streaming twin
    * `stream_ann_ivf_assign` (drain == batch row-for-row, so one
    * oracle adjudicates both). */
  private[registry] lazy val annIvfAssignOracleSql: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), corpus AS (SELECT * FROM emb WHERE vec_id % 5 <> 0
      |), delta AS (SELECT * FROM emb WHERE vec_id % 5 = 0
      |), seeds AS (
      |  SELECT seed_vid, seed_e,
      |    CAST(row_number() OVER (ORDER BY h, seed_vid) - 1 AS BIGINT)
      |      AS cell
      |  FROM (
      |    SELECT vec_id AS seed_vid, e AS seed_e,
      |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
      |        AS BIGINT) AS h
      |    FROM corpus ORDER BY h, vec_id LIMIT 16)
      |), ca AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, s.cell,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_dot_product(c.e, s.seed_e) DESC, s.cell)
      |        AS rn
      |    FROM corpus c, seeds s) WHERE rn = 1
      |), da AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT d.vec_id, s.cell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY list_dot_product(d.e, s.seed_e) DESC, s.cell)
      |        AS rn
      |    FROM delta d, seeds s) WHERE rn = 1
      |), occ AS (
      |  SELECT s.cell,
      |    CAST(coalesce(co.n, 0) AS BIGINT) AS n_corpus,
      |    CAST(coalesce(de.n, 0) AS BIGINT) AS n_delta
      |  FROM seeds s
      |  LEFT JOIN (SELECT cell, count(*) AS n FROM ca GROUP BY cell) co
      |    USING (cell)
      |  LEFT JOIN (SELECT cell, count(*) AS n FROM da GROUP BY cell) de
      |    USING (cell)
      |), tot AS (
      |  SELECT CAST(sum(n_corpus) AS BIGINT) AS tc,
      |    CAST(sum(n_delta) AS BIGINT) AS td
      |  FROM occ
      |)
      |SELECT cell, n_corpus, n_delta,
      |  CAST(CAST(n_corpus AS DOUBLE) / CAST(tc AS DOUBLE) AS REAL)
      |    AS share_before,
      |  CAST(CAST(n_corpus + n_delta AS DOUBLE)
      |    / CAST(tc + td AS DOUBLE) AS REAL) AS share_after,
      |  CAST(CAST(n_corpus + n_delta AS DOUBLE)
      |      / CAST(tc + td AS DOUBLE)
      |    - CAST(n_corpus AS DOUBLE) / CAST(tc AS DOUBLE) AS REAL)
      |    AS drift
      |FROM occ, tot ORDER BY cell""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // north-star: similarity search
    QueryDef("ann_brute_force_topk", Similarity.bruteForceTopK(_, _), Some(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(qe AS DOUBLE[]) FROM q)) AS cosine
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)),
    // contrastive-training hard negatives: per-anchor top-k, label ≠ anchor's
    QueryDef("ann_hard_negatives", Similarity.annHardNegatives(_, _), Some(
      """WITH a AS (
        |  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS ae,
        |    label AS al
        |  FROM embeddings WHERE vec_id < 10
        |), s AS (
        |  SELECT a.anchor_id, e.vec_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), a.ae) AS cosine
        |  FROM embeddings e JOIN a ON e.label <> a.al
        |), r AS (
        |  SELECT anchor_id, vec_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY anchor_id
        |      ORDER BY cosine DESC, vec_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT anchor_id, rank, vec_id, cosine FROM r
        |WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin)),
    // MMR greedy diversified retrieval over the brute-force pool
    // the same greedy unroll as the Spark fold: pick 1 = argmax rel;
    // picks 2..3 = argmax 0.7·rel − 0.3·max-sim-to-picked
    QueryDef("retrieval_mmr_topk", Similarity.retrievalMmrTopk(_, _), Some(
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0
        |), rel AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |      (SELECT qe FROM q)) AS rel
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 10
        |), pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_dot_product(x.e, y.e) AS sim
        |  FROM rel x JOIN rel y ON x.vec_id <> y.vec_id
        |), s1 AS (
        |  SELECT vec_id, rel AS score FROM rel
        |  ORDER BY rel DESC, vec_id LIMIT 1
        |), c2 AS (
        |  SELECT r.vec_id, 0.7 * r.rel - 0.3 * max(p.sim) AS score
        |  FROM rel r JOIN pairs p ON p.a = r.vec_id
        |    AND p.b IN (SELECT vec_id FROM s1)
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1)
        |  GROUP BY r.vec_id, r.rel
        |), s2 AS (SELECT vec_id, score FROM c2
        |  ORDER BY score DESC, vec_id LIMIT 1
        |), c3 AS (
        |  SELECT r.vec_id, 0.7 * r.rel - 0.3 * max(p.sim) AS score
        |  FROM rel r JOIN pairs p ON p.a = r.vec_id
        |    AND p.b IN (SELECT vec_id FROM s1
        |                UNION ALL SELECT vec_id FROM s2)
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1
        |                         UNION ALL SELECT vec_id FROM s2)
        |  GROUP BY r.vec_id, r.rel
        |), s3 AS (SELECT vec_id, score FROM c3
        |  ORDER BY score DESC, vec_id LIMIT 1
        |)
        |SELECT vec_id, CAST(1 AS INT) AS pick_order, score FROM s1
        |UNION ALL SELECT vec_id, CAST(2 AS INT), score FROM s2
        |UNION ALL SELECT vec_id, CAST(3 AS INT), score FROM s3
        |ORDER BY pick_order""".stripMargin)),
    // deterministic-Forgy Lloyd's k-means IVF (2 refinement iterations,
    // exact integer-rational centroids) — oracle-exact since round 14;
    // the MLlib-KMeans form lives on as Similarity.ivfTopK under its
    // recall-floor and nProbe=nCells specs
    // the unrolled deterministic-Forgy Lloyd's IVF oracle (2 stages)
    QueryDef("ann_ivf_topk", Similarity.ivfLloydTopK(_, _), Some(ivfLloydOracleSql(2))),
    // deterministic-cell IVF: same probe machinery, hash-exact oracle
    QueryDef("ann_ivf_det_topk", Similarity.ivfDetTopK(_, _), Some(
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), seeds AS (
        |  SELECT seed_vid, seed_e,
        |    CAST(row_number() OVER (ORDER BY h, seed_vid) - 1 AS BIGINT)
        |      AS cell
        |  FROM (
        |    SELECT vec_id AS seed_vid, e AS seed_e,
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |        AS BIGINT) AS h
        |    FROM emb ORDER BY h, vec_id LIMIT 16)
        |), assigned AS (
        |  SELECT vec_id, e, cell FROM (
        |    SELECT emb.vec_id, emb.e, s.cell,
        |      row_number() OVER (PARTITION BY emb.vec_id
        |        ORDER BY list_dot_product(emb.e, s.seed_e) DESC, s.cell)
        |        AS rn
        |    FROM emb, seeds s) WHERE rn = 1
        |), qe AS (SELECT e AS q FROM emb WHERE vec_id = 0
        |), probes AS (
        |  SELECT cell FROM seeds, qe
        |  ORDER BY list_dot_product(seed_e, q) DESC, cell LIMIT 4
        |)
        |SELECT a.vec_id, a.cell, list_dot_product(a.e, qe.q) AS cosine
        |FROM assigned a JOIN probes USING (cell), qe
        |WHERE a.vec_id <> 0
        |ORDER BY cosine DESC, a.vec_id LIMIT 10""".stripMargin)),
    // hybrid lexical+semantic retrieval fused by reciprocal rank
    // RRF fusion of BM25 (terms: table, join, query) and cosine-vs-vec-0
    // rankings. Per-term BM25 columns fused in FIXED order so the double
    // adds are bit-identical to Spark's; ranks are row_numbers with id
    // tiebreaks; rrf = 1/(60+rank) sums on exact integers.
    QueryDef("retrieval_rrf_hybrid", Similarity.retrievalRrfHybrid(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks
        |  WHERE tok IN ('table', 'join', 'query')
        |  GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        |), nn AS (SELECT count(*) AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |scored AS (
        |  SELECT t.doc_id, t.tok,
        |    ln((nn.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * 2.2
        |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / ad.avgdl)) AS bm25
        |  FROM tf t JOIN dfreq d USING (tok) JOIN dl l USING (doc_id)
        |  CROSS JOIN nn CROSS JOIN ad
        |), per_doc AS (
        |  SELECT doc_id,
        |    COALESCE(max(CASE WHEN tok = 'table' THEN bm25 END), 0.0)
        |      + COALESCE(max(CASE WHEN tok = 'join' THEN bm25 END), 0.0)
        |      + COALESCE(max(CASE WHEN tok = 'query' THEN bm25 END), 0.0)
        |      AS text_score
        |  FROM scored GROUP BY doc_id
        |), text_rank AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY text_score DESC, doc_id) AS BIGINT) AS text_rank
        |  FROM per_doc
        |  QUALIFY text_rank <= 20
        |), vec_rank AS (
        |  SELECT vec_id AS doc_id, CAST(row_number() OVER (
        |    ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |       WHERE vec_id = 0)) DESC, vec_id) AS BIGINT) AS vec_rank
        |  FROM embeddings WHERE vec_id <> 0
        |  QUALIFY vec_rank <= 20
        |)
        |SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
        |  t.text_rank, v.vec_rank,
        |  CAST(COALESCE(1.0 / (60 + t.text_rank), 0.0)
        |    + COALESCE(1.0 / (60 + v.vec_rank), 0.0) AS REAL) AS rrf_score
        |FROM text_rank t FULL OUTER JOIN vec_rank v ON t.doc_id = v.doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin)),
    // driver round 12: late-interaction scoring, mutual-kNN graph,
    // PRF query expansion, DSIR domain weights, WOE/IV, node2vec
    // the 8×8 slice-dot grid is generated, not hand-written: greatest()
    // is exact max, and the 8-term sum is left-associated in BOTH
    // engines (Scala reduce and SQL's left-assoc +), so each maxsim is
    // the bit-identical double
    QueryDef("retrieval_colbert_maxsim", Similarity.retrievalColbertMaxsim(_, _), Some(
      {
      val terms = (0 until 8).map { i =>
        (0 until 8).map { j =>
          s"list_dot_product(de[${j * 8 + 1}:${j * 8 + 8}], " +
            s"qe[${i * 8 + 1}:${i * 8 + 8}])"
        }.mkString("greatest(", ", ", ")")
      }.mkString("\n  + ")
      s"""WITH q AS (
         |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
         |  WHERE vec_id = 0
         |), d AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings
         |  WHERE vec_id <> 0
         |)
         |SELECT vec_id,
         |  $terms AS maxsim
         |FROM d, q ORDER BY maxsim DESC, vec_id LIMIT 10""".stripMargin
    })),
    QueryDef("ann_knn_graph_mutual", Similarity.annKnnGraphMutual(_, _), Some(
      """WITH sub AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE vec_id < 512
        |), p AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_dot_product(x.e, y.e) AS cosine
        |  FROM sub x JOIN sub y ON x.vec_id <> y.vec_id
        |), r AS (
        |  SELECT a, b, cosine, row_number() OVER (PARTITION BY a
        |    ORDER BY cosine DESC, b) AS rn
        |  FROM p
        |), knn AS (SELECT a, b, cosine FROM r WHERE rn <= 5)
        |SELECT k.a, k.b, k.cosine FROM knn k
        |JOIN knn m ON m.a = k.b AND m.b = k.a
        |WHERE k.a < k.b ORDER BY k.a, k.b""".stripMargin)),
    QueryDef("retrieval_prf_expansion", Similarity.retrievalPrfExpansion(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), qt AS (SELECT DISTINCT tok FROM tf WHERE doc_id = 0),
        |fb AS (
        |  SELECT t.doc_id, count(*) AS n_terms,
        |    CAST(sum(t.tf) AS BIGINT) AS q_tf
        |  FROM tf t JOIN qt USING (tok)
        |  WHERE t.doc_id <> 0
        |  GROUP BY t.doc_id
        |  ORDER BY n_terms DESC, q_tf DESC, doc_id LIMIT 10
        |)
        |SELECT t.tok, count(*) AS n_docs, CAST(sum(t.tf) AS BIGINT) AS total_tf
        |FROM tf t JOIN fb ON t.doc_id = fb.doc_id
        |WHERE t.tok NOT IN (SELECT tok FROM qt)
        |GROUP BY t.tok
        |ORDER BY n_docs DESC, total_tf DESC, tok LIMIT 10""".stripMargin)),
    QueryDef("ann_l2_topk", Similarity.annL2TopK(_, _), Some(
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))
        |  - 2 * list_dot_product(CAST(embedding AS DOUBLE[]),
        |      (SELECT qe FROM q))
        |  + (SELECT list_dot_product(qe, qe) FROM q) AS dist2
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY dist2, vec_id LIMIT 10""".stripMargin)),
    QueryDef("ann_lsh_topk", Similarity.lshTopK(_, _), Some(
      """WITH planes AS (
        |  SELECT pp.p AS p,
        |    list(CAST(CAST('0x' || substr(md5(pp.p || ':' || ii.i), 1, 15)
        |        AS BIGINT) AS DOUBLE) / 576460752303423488.0 - 1.0
        |      ORDER BY ii.i) AS plane
        |  FROM (SELECT unnest(generate_series(0, 7)) AS p) pp,
        |       (SELECT unnest(generate_series(0, 63)) AS i) ii
        |  GROUP BY pp.p
        |), emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), buck AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(e, plane) >= 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM emb, planes GROUP BY vec_id
        |), qb AS (
        |  SELECT b.bucket AS qbucket, emb.e AS qe
        |  FROM buck b JOIN emb ON emb.vec_id = b.vec_id WHERE b.vec_id = 0
        |)
        |SELECT b.vec_id, b.bucket,
        |  list_dot_product(emb.e, qb.qe) AS cosine
        |FROM buck b, qb, emb
        |WHERE emb.vec_id = b.vec_id AND b.vec_id <> 0
        |  AND bit_count(xor(b.bucket, qb.qbucket)) <= 1
        |ORDER BY cosine DESC, b.vec_id LIMIT 10""".stripMargin)),
    QueryDef("embedding_centroids", Similarity.embeddingCentroids _, Some(
      """SELECT label, CAST(i - 1 AS INT) AS pos, count(*) AS n,
        |  CAST(avg(CAST(embedding[i] AS DOUBLE)) AS REAL) AS centroid
        |FROM embeddings,
        |  LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
        |GROUP BY label, i ORDER BY label, pos""".stripMargin)),
    QueryDef("ann_centroid_classify", Similarity.centroidClassify _, Some(
      """WITH cent AS (
        |  SELECT label AS c_label, CAST(i - 1 AS INT) AS pos,
        |    CAST(avg(CAST(embedding[i] AS DOUBLE)) AS REAL) AS c
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
        |  GROUP BY 1, 2
        |), cvec AS (
        |  SELECT c_label, list(CAST(c AS DOUBLE) ORDER BY pos) AS cv
        |  FROM cent GROUP BY c_label
        |), scored AS (
        |  SELECT e.vec_id, e.label, c.c_label,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS cosine
        |  FROM embeddings e, cvec c
        |), ranked AS (
        |  SELECT vec_id, label, c_label, cosine,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, c_label) AS rn
        |  FROM scored
        |)
        |SELECT vec_id, label, c_label AS pred_label,
        |  CAST(cosine AS REAL) AS best_cosine,
        |  label = c_label AS correct
        |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin)),
    QueryDef("emb_quantize_int8", Similarity.embQuantizeInt8 _, Some(
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, amax,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / amax)) AS INT))
        |      AS qv
        |  FROM a WHERE amax > 0
        |)
        |SELECT vec_id, CAST(127.0 / amax AS REAL) AS scale,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum')
        |    AS BIGINT) AS q_l1
        |FROM q ORDER BY vec_id""".stripMargin)),
    QueryDef("ann_filtered_topk", Similarity.annFilteredTopK(_, _), Some(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(qe AS DOUBLE[]) FROM q)) AS cosine
        |FROM embeddings WHERE vec_id <> 0 AND label % 2 = 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)),
    // JL dimension reduction + exact recall audit (codegen'd jl_project)
    QueryDef("emb_jl_recall", Similarity.embJlRecall(_, _), Some(
      """WITH planes AS (
        |  SELECT jj.j AS pj,
        |    list(CAST(CAST('0x' || substr(
        |        md5('jl:' || jj.j || ':' || ii.i), 1, 15)
        |        AS BIGINT) AS DOUBLE) / 576460752303423488.0 - 1.0
        |      ORDER BY ii.i) AS plane
        |  FROM (SELECT unnest(generate_series(0, 15)) AS j) jj,
        |       (SELECT unnest(generate_series(0, 63)) AS i) ii
        |  GROUP BY jj.j
        |), emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), proj AS (
        |  SELECT vec_id,
        |    list(list_dot_product(e, plane) ORDER BY pj) AS pe
        |  FROM emb, planes GROUP BY vec_id
        |), fullv AS (
        |  SELECT emb.vec_id, emb.e, proj.pe
        |  FROM emb JOIN proj USING (vec_id)
        |), scored AS (
        |  SELECT q.vec_id AS qid, x.vec_id,
        |    list_dot_product(x.e, q.e) AS cf,
        |    list_dot_product(x.pe, q.pe) AS cp
        |  FROM fullv x JOIN fullv q
        |    ON q.vec_id < 20 AND x.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cf DESC, vec_id) AS rf,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cp DESC, vec_id) AS rp
        |  FROM scored
        |)
        |SELECT qid, CAST(count(*) AS BIGINT) AS n_retrieved,
        |  CAST(sum(CASE WHEN rf <= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hits_at_k
        |FROM ranked WHERE rp <= 10 GROUP BY qid ORDER BY qid""".stripMargin)),
    // JL-projected pre-rank + exact re-rank top-k
    QueryDef("ann_jl_topk", Similarity.annJlTopK(_, _), Some(
      """WITH planes AS (
        |  SELECT jj.j AS pj,
        |    list(CAST(CAST('0x' || substr(
        |        md5('jl:' || jj.j || ':' || ii.i), 1, 15)
        |        AS BIGINT) AS DOUBLE) / 576460752303423488.0 - 1.0
        |      ORDER BY ii.i) AS plane
        |  FROM (SELECT unnest(generate_series(0, 15)) AS j) jj,
        |       (SELECT unnest(generate_series(0, 63)) AS i) ii
        |  GROUP BY jj.j
        |), emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), qp AS (
        |  SELECT list(list_dot_product(q.e, pl.plane) ORDER BY pl.pj)
        |    AS pq
        |  FROM (SELECT e FROM emb WHERE vec_id = 0) q, planes pl
        |), proj AS (
        |  SELECT emb.vec_id,
        |    list(list_dot_product(emb.e, pl.plane) ORDER BY pl.pj) AS pe
        |  FROM emb, planes pl WHERE emb.vec_id <> 0
        |  GROUP BY emb.vec_id
        |), cand AS (
        |  SELECT vec_id FROM proj, qp
        |  ORDER BY list_dot_product(pe, pq) DESC, vec_id LIMIT 80
        |)
        |SELECT c.vec_id,
        |  list_dot_product(e.e,
        |    (SELECT e FROM emb WHERE vec_id = 0)) AS cosine
        |FROM cand c JOIN emb e USING (vec_id)
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)),
    QueryDef("emb_pq_codes", Similarity.embPqCodes(_, _), Some(
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / amax)) AS INT))
        |      AS qv
        |  FROM a WHERE amax > 0
        |), cb AS (
        |  SELECT m, k, d,
        |    CAST(CAST('0x' || substr(md5('pq:' || m || ':' || k || ':'
        |      || d), 1, 15) AS BIGINT) % 256 - 128 AS INT) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS m),
        |       (SELECT unnest(generate_series(0, 15)) AS k),
        |       (SELECT unnest(generate_series(0, 7)) AS d)
        |), sub AS (
        |  SELECT vec_id, m, d, qv[m * 8 + d + 1] AS qd
        |  FROM q, (SELECT unnest(generate_series(0, 7)) AS m) mm,
        |       (SELECT unnest(generate_series(0, 7)) AS d) dd
        |), dist AS (
        |  SELECT vec_id, s.m, cb.k, sum(abs(qd - c)) AS dist
        |  FROM sub s JOIN cb ON cb.m = s.m AND cb.d = s.d
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT vec_id, m, k, dist,
        |    row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY dist, k) AS rn
        |  FROM dist
        |)
        |SELECT vec_id,
        |  CAST(max(CASE WHEN m = 0 THEN k END) AS INT) AS code_0,
        |  CAST(max(CASE WHEN m = 1 THEN k END) AS INT) AS code_1,
        |  CAST(max(CASE WHEN m = 2 THEN k END) AS INT) AS code_2,
        |  CAST(max(CASE WHEN m = 3 THEN k END) AS INT) AS code_3,
        |  CAST(max(CASE WHEN m = 4 THEN k END) AS INT) AS code_4,
        |  CAST(max(CASE WHEN m = 5 THEN k END) AS INT) AS code_5,
        |  CAST(max(CASE WHEN m = 6 THEN k END) AS INT) AS code_6,
        |  CAST(max(CASE WHEN m = 7 THEN k END) AS INT) AS code_7,
        |  CAST(sum(dist) AS BIGINT) AS l1_err
        |FROM best WHERE rn = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),
    QueryDef("ann_pq_adc_topk", Similarity.annPqAdcTopk(_, _), Some(
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / amax)) AS INT))
        |      AS qv
        |  FROM a WHERE amax > 0
        |), cb AS (
        |  SELECT m, k, d,
        |    CAST(CAST('0x' || substr(md5('pq:' || m || ':' || k || ':'
        |      || d), 1, 15) AS BIGINT) % 256 - 128 AS INT) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS m),
        |       (SELECT unnest(generate_series(0, 15)) AS k),
        |       (SELECT unnest(generate_series(0, 7)) AS d)
        |), sub AS (
        |  SELECT vec_id, m, d, qv[m * 8 + d + 1] AS qd
        |  FROM q, (SELECT unnest(generate_series(0, 7)) AS m) mm,
        |       (SELECT unnest(generate_series(0, 7)) AS d) dd
        |), dist AS (
        |  SELECT vec_id, s.m, cb.k, sum(abs(qd - c)) AS dist
        |  FROM sub s JOIN cb ON cb.m = s.m AND cb.d = s.d
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT vec_id, m, k, dist,
        |    row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY dist, k) AS rn
        |  FROM dist
        |), codes AS (
        |  SELECT vec_id, m, k FROM best WHERE rn = 1
        |), qlut AS (
        |  SELECT s.m, cb.k, CAST(sum(abs(qd - c)) AS BIGINT) AS qdist
        |  FROM sub s JOIN cb ON cb.m = s.m AND cb.d = s.d
        |  WHERE s.vec_id = 0
        |  GROUP BY 1, 2
        |)
        |SELECT c.vec_id, CAST(sum(l.qdist) AS BIGINT) AS adc_dist
        |FROM codes c JOIN qlut l ON l.m = c.m AND l.k = c.k
        |GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin)),
    QueryDef("ann_radius_search", Similarity.annRadiusSearch(_, _), Some(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(qe AS DOUBLE[]) FROM q)) AS cosine
        |FROM embeddings WHERE vec_id <> 0
        |  AND list_dot_product(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(qe AS DOUBLE[]) FROM q)) >= 0.15
        |ORDER BY vec_id""".stripMargin)),
    QueryDef("emb_matryoshka_recall", Similarity.embMatryoshkaRecall(_, _), Some(
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 20
        |), p AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qe AS DOUBLE[])) AS dot_full,
        |    list_dot_product(CAST(e.embedding[1:8] AS DOUBLE[]),
        |      CAST(q.qe[1:8] AS DOUBLE[])) AS dot_8,
        |    list_dot_product(CAST(e.embedding[1:16] AS DOUBLE[]),
        |      CAST(q.qe[1:16] AS DOUBLE[])) AS dot_16,
        |    list_dot_product(CAST(e.embedding[1:32] AS DOUBLE[]),
        |      CAST(q.qe[1:32] AS DOUBLE[])) AS dot_32
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
        |), r AS (
        |  SELECT row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_full DESC, vec_id) AS r_full,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_8 DESC, vec_id) AS r_8,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_16 DESC, vec_id) AS r_16,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_32 DESC, vec_id) AS r_32
        |  FROM p
        |), h AS (
        |  SELECT CAST(sum(CASE WHEN r_full <= 10 THEN 1 END) AS DOUBLE)
        |      AS truth,
        |    CAST(sum(CASE WHEN r_full <= 10 AND r_8 <= 10 THEN 1 END)
        |      AS DOUBLE) AS h8,
        |    CAST(sum(CASE WHEN r_full <= 10 AND r_16 <= 10 THEN 1 END)
        |      AS DOUBLE) AS h16,
        |    CAST(sum(CASE WHEN r_full <= 10 AND r_32 <= 10 THEN 1 END)
        |      AS DOUBLE) AS h32
        |  FROM r
        |)
        |SELECT CAST(8 AS INTEGER) AS dim, h8 / truth AS recall_at_k FROM h
        |UNION ALL
        |SELECT CAST(16 AS INTEGER), h16 / truth FROM h
        |UNION ALL
        |SELECT CAST(32 AS INTEGER), h32 / truth FROM h
        |ORDER BY dim""".stripMargin)),
    QueryDef("retrieval_ndcg", Similarity.retrievalNdcg(_, _), Some(
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |  FROM embeddings WHERE vec_id < 20
        |), p AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qe AS DOUBLE[])) AS dot,
        |    CASE WHEN e.label = q.qlabel THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS rel
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
        |), r AS (
        |  SELECT qid, rel,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot DESC, vec_id) AS r,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, vec_id) AS ri
        |  FROM p
        |), g AS (
        |  SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
        |    sum(CASE WHEN r <= 10 THEN rel
        |      / (ln(CAST(r + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE)))
        |      ELSE CAST(0.0 AS DOUBLE) END) AS dcg,
        |    sum(CASE WHEN ri <= 10 THEN rel
        |      / (ln(CAST(ri + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE)))
        |      ELSE CAST(0.0 AS DOUBLE) END) AS idcg
        |  FROM r GROUP BY qid
        |)
        |SELECT qid, n_rel, CAST(dcg AS REAL) AS dcg,
        |  CAST(idcg AS REAL) AS idcg, CAST(dcg / idcg AS REAL) AS ndcg
        |FROM g ORDER BY qid""".stripMargin)),
    QueryDef("emb_power_iteration", Similarity.embPowerIteration(_, _), Some(
      """WITH x AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
        |), v0 AS (
        |  SELECT list_transform(generate_series(1, 64),
        |    i -> CAST(0.125 AS DOUBLE)) AS v
        |), s1 AS (
        |  SELECT x.x, list_dot_product(x.x, v0.v) AS score
        |  FROM x CROSS JOIN v0
        |), c1 AS (
        |  SELECT j, sum(x[j] * score) AS s
        |  FROM s1, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t
        |  GROUP BY j
        |), u1 AS (
        |  SELECT list(s ORDER BY j) AS u FROM c1
        |), v1 AS (
        |  SELECT list_transform(u,
        |    e -> e / sqrt(list_dot_product(u, u))) AS v FROM u1
        |), s2 AS (
        |  SELECT x.x, list_dot_product(x.x, v1.v) AS score
        |  FROM x CROSS JOIN v1
        |), c2 AS (
        |  SELECT j, sum(x[j] * score) AS s
        |  FROM s2, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t
        |  GROUP BY j
        |), u2 AS (
        |  SELECT list(s ORDER BY j) AS u FROM c2
        |), v2 AS (
        |  SELECT list_transform(u,
        |    e -> e / sqrt(list_dot_product(u, u))) AS v FROM u2
        |), s3 AS (
        |  SELECT x.x, list_dot_product(x.x, v2.v) AS score
        |  FROM x CROSS JOIN v2
        |), c3 AS (
        |  SELECT j, sum(x[j] * score) AS s
        |  FROM s3, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t
        |  GROUP BY j
        |), u3 AS (
        |  SELECT list(s ORDER BY j) AS u FROM c3
        |), v3 AS (
        |  SELECT list_transform(u,
        |    e -> e / sqrt(list_dot_product(u, u))) AS v FROM u3
        |), fs AS (
        |  SELECT list_dot_product(x.x, v3.v) AS score FROM x CROSS JOIN v3
        |), lam AS (
        |  SELECT sum(score * score) AS lam FROM fs
        |)
        |SELECT j AS dim, CAST(v[j] AS REAL) AS loading,
        |  CAST(lam AS REAL) AS eigenvalue
        |FROM v3 CROSS JOIN lam,
        |  LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t
        |ORDER BY dim""".stripMargin)),
    QueryDef("emb_dim_stats", Similarity.embDimStats _, Some(
      """WITH e AS (
        |  SELECT j AS dim, CAST(embedding[j] AS DOUBLE) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t
        |)
        |SELECT CAST(dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) / CAST(count(*) AS DOUBLE) AS REAL) AS mean,
        |  CAST(sum(v * v) / CAST(count(*) AS DOUBLE)
        |    - (sum(v) / CAST(count(*) AS DOUBLE))
        |      * (sum(v) / CAST(count(*) AS DOUBLE)) AS REAL) AS variance,
        |  CAST(min(v) AS REAL) AS vmin, CAST(max(v) AS REAL) AS vmax
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin)),
    QueryDef("emb_hubness_stats", Similarity.embHubnessStats(_, _), Some(
      """WITH p AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])) AS dot
        |  FROM embeddings e CROSS JOIN embeddings q
        |  WHERE e.vec_id <> q.vec_id
        |), r AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot DESC, vec_id) AS r
        |  FROM p
        |), indeg AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS d FROM r
        |  WHERE r <= 5 GROUP BY vec_id
        |)
        |SELECT coalesce(indeg.d, 0) AS in_degree,
        |  CAST(count(*) AS BIGINT) AS n_vectors
        |FROM embeddings e LEFT JOIN indeg USING (vec_id)
        |GROUP BY 1 ORDER BY in_degree""".stripMargin)),
    // the full det-cell IVF sweep replayed: md5 Forgy anchors, argmax
    // cells, per-query probe ranks, exact and per-level top-10 lists
    QueryDef("ann_recall_curve", Similarity.annRecallCurve(_, _), Some(
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS seed_vid, embedding AS seed_e,
        |    row_number() OVER (ORDER BY
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |        AS BIGINT), vec_id) - 1 AS cell
        |  FROM emb
        |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |    AS BIGINT), vec_id
        |  LIMIT 16
        |), assigned AS (
        |  SELECT e.vec_id,
        |    -(max(struct_pack(
        |        dp := list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |          CAST(s.seed_e AS DOUBLE[])),
        |        negc := -s.cell))).negc AS cell
        |  FROM emb e CROSS JOIN seeds s GROUP BY e.vec_id
        |), panel AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM emb WHERE vec_id < 20
        |), cr AS (
        |  SELECT qid, cell,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(CAST(qe AS DOUBLE[]),
        |        CAST(seed_e AS DOUBLE[])) DESC, cell) AS cell_rank
        |  FROM panel CROSS JOIN seeds
        |), scr AS (
        |  SELECT p.qid, e.vec_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      CAST(p.qe AS DOUBLE[])) AS dot,
        |    cr.cell_rank
        |  FROM emb e CROSS JOIN panel p
        |  JOIN assigned a ON a.vec_id = e.vec_id
        |  JOIN cr ON cr.qid = p.qid AND cr.cell = a.cell
        |  WHERE e.vec_id <> p.qid
        |), exact AS (
        |  SELECT qid, (list(vec_id ORDER BY dot DESC, vec_id))[1:10]
        |    AS exact_ids
        |  FROM scr GROUP BY qid
        |), lv AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
        |pl AS (
        |  SELECT nprobe, qid,
        |    (list(vec_id ORDER BY dot DESC, vec_id))[1:10] AS ivf_ids,
        |    count(*) AS n_candidates
        |  FROM scr, lv WHERE cell_rank <= nprobe GROUP BY nprobe, qid
        |)
        |SELECT nprobe,
        |  CAST(sum(len(list_intersect(ivf_ids, exact_ids))) AS DOUBLE)
        |    / 200.0 AS avg_recall,
        |  CAST(sum(n_candidates) AS DOUBLE) / 20.0 AS avg_candidates
        |FROM pl JOIN exact USING (qid)
        |GROUP BY nprobe ORDER BY nprobe""".stripMargin)),
    QueryDef("emb_cell_balance", Similarity.embCellBalance(_, _), Some(
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS seed_vid, embedding AS seed_e,
        |    row_number() OVER (ORDER BY
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |        AS BIGINT), vec_id) - 1 AS cell
        |  FROM emb
        |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |    AS BIGINT), vec_id
        |  LIMIT 16
        |), assigned AS (
        |  SELECT e.vec_id,
        |    -(max(struct_pack(
        |        dp := list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |          CAST(s.seed_e AS DOUBLE[])),
        |        negc := -s.cell))).negc AS cell
        |  FROM emb e CROSS JOIN seeds s GROUP BY e.vec_id
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM emb)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        |FROM assigned, tot GROUP BY cell, n_total
        |ORDER BY cell""".stripMargin)),
    // binary sign-code ANN: popcount(xor) top-k, the RAM-efficiency tier
    // sign codes (60 bits, positive BIGINT both engines), popcount(xor)
    QueryDef("ann_hamming_topk", Similarity.annHammingTopK(_, _), Some(
      """WITH c AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN embedding[i + 1] > 0
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS code
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(0, 59)) AS i) s
        |  GROUP BY vec_id
        |), r AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id,
        |    CAST(bit_count(xor(c.code, p.code)) AS INT) AS hamming
        |  FROM c JOIN (SELECT vec_id, code FROM c WHERE vec_id < 5) p
        |    ON c.vec_id <> p.vec_id
        |), t AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY hamming, vec_id) AS rank
        |  FROM r
        |)
        |SELECT probe_id, CAST(rank AS INT) AS rank, vec_id, hamming
        |FROM t WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),
    // MIH banded Hamming: 4x15-bit band index, <=3-distance recall
    // guaranteed by pigeonhole; candidate count emitted for audit
    // MIH: candidates share >= 1 of the 4 15-bit bands; exact rerank;
    // planted 1-flip / 3-flip near-dups make the pigeonhole recall real
    QueryDef("ann_hamming_mih", Similarity.annHammingMih(_, _), Some(
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(generate_series(1, 64), i ->
        |      CASE WHEN i = 4 THEN -embedding[i] ELSE embedding[i] END)
        |      AS embedding
        |  FROM embeddings WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id + 2000000 AS vec_id,
        |    list_transform(generate_series(1, 64), i ->
        |      CASE WHEN i IN (4, 14, 24) THEN -embedding[i]
        |        ELSE embedding[i] END) AS embedding
        |  FROM embeddings WHERE vec_id < 5
        |), c AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN embedding[i + 1] > 0
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS code
        |  FROM base,
        |    LATERAL (SELECT unnest(generate_series(0, 59)) AS i) s
        |  GROUP BY vec_id
        |), cb AS (
        |  SELECT vec_id, code, j AS slot,
        |    (code >> (15 * j)) & 32767 AS band
        |  FROM c, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) b
        |), pb AS (
        |  SELECT vec_id AS probe_id, code AS pcode, slot, band
        |  FROM cb WHERE vec_id < 5
        |), cand AS (
        |  SELECT DISTINCT pb.probe_id, cb.vec_id, cb.code, pb.pcode
        |  FROM cb JOIN pb ON cb.slot = pb.slot AND cb.band = pb.band
        |  WHERE cb.vec_id <> pb.probe_id
        |), sc AS (
        |  SELECT probe_id, vec_id,
        |    CAST(bit_count(xor(code, pcode)) AS INT) AS hamming,
        |    CAST(count(*) OVER (PARTITION BY probe_id) AS BIGINT)
        |      AS n_candidates
        |  FROM cand
        |), t AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY hamming, vec_id) AS rank
        |  FROM sc
        |)
        |SELECT probe_id, CAST(rank AS INT) AS rank, vec_id, hamming,
        |  n_candidates
        |FROM t WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),
    // round 13: layered ANN seed, fixed-window exact-substring census,
    // two-stage retrieval rerank (pool-bounded pairwise scorer)
    // deterministic geometric levels from the cross-engine 60-bit hash;
    // exact top-4 per (layer, src) with dst-id tie-break
    QueryDef("ann_hnsw_layers", Similarity.annHnswLayers(_, _), Some(
      """WITH lv AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM embeddings
        |), lev AS (
        |  SELECT vec_id, e,
        |    CASE WHEN h % 4096 = 0 THEN 3 WHEN h % 256 = 0 THEN 2
        |         WHEN h % 16 = 0 THEN 1 ELSE 0 END AS level
        |  FROM lv
        |), mem AS (
        |  SELECT vec_id, e, CAST(layer AS INT) AS layer
        |  FROM lev,
        |    LATERAL (SELECT unnest(generate_series(1, level)) AS layer) s
        |  WHERE level >= 1
        |), pairs AS (
        |  SELECT a.layer, a.vec_id AS src, b.vec_id AS dst,
        |    list_dot_product(a.e, b.e) AS cosine
        |  FROM mem a JOIN mem b
        |    ON a.layer = b.layer AND a.vec_id <> b.vec_id
        |), ranked AS (
        |  SELECT layer, src, dst, cosine, CAST(row_number() OVER (
        |    PARTITION BY layer, src ORDER BY cosine DESC, dst) AS INT)
        |    AS rank
        |  FROM pairs
        |)
        |SELECT layer, src, rank, dst, cosine FROM ranked
        |WHERE rank <= 4 ORDER BY layer, src, rank""".stripMargin)),
    // pool recall (brute-force top-10 dots) → per-pair feature blend:
    // 0.6·cosine + 0.3·token-jaccard + 0.1·length-ratio, exact integer
    // set sizes, fixed-order double arithmetic
    QueryDef("retrieval_rerank_crossenc", Similarity.retrievalRerankCrossenc(_, _), Some(
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0
        |), cand AS (
        |  SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q.qe) AS cosine
        |  FROM embeddings, q WHERE vec_id <> 0
        |  ORDER BY cosine DESC, vec_id LIMIT 10
        |), toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), qtok AS (
        |  SELECT DISTINCT unnest(t) AS tok FROM toks WHERE doc_id = 0
        |), qstats AS (
        |  SELECT (SELECT count(*) FROM qtok) AS nq,
        |    (SELECT len(t) FROM toks WHERE doc_id = 0) AS qlen
        |), ctok AS (
        |  SELECT c.vec_id, tk.tok
        |  FROM cand c JOIN toks d ON d.doc_id = c.vec_id,
        |    LATERAL (SELECT DISTINCT unnest(d.t) AS tok) tk
        |), inter AS (
        |  SELECT c.vec_id, count(*) AS ni
        |  FROM (SELECT DISTINCT vec_id, tok FROM ctok) c
        |  JOIN qtok q USING (tok) GROUP BY 1
        |), dstats AS (
        |  SELECT c.vec_id,
        |    (SELECT count(DISTINCT tok) FROM ctok x
        |      WHERE x.vec_id = c.vec_id) AS nd,
        |    (SELECT len(t) FROM toks WHERE doc_id = c.vec_id) AS dlen
        |  FROM cand c
        |), feat AS (
        |  SELECT c.vec_id, c.cosine,
        |    CAST(coalesce(i.ni, 0) AS DOUBLE)
        |      / CAST(d.nd + s.nq - coalesce(i.ni, 0) AS DOUBLE) AS jaccard,
        |    CAST(least(d.dlen, s.qlen) AS DOUBLE)
        |      / CAST(greatest(d.dlen, s.qlen) AS DOUBLE) AS len_ratio
        |  FROM cand c
        |  LEFT JOIN inter i ON i.vec_id = c.vec_id
        |  JOIN dstats d ON d.vec_id = c.vec_id, qstats s
        |)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY 0.6 * cosine + 0.3 * jaccard + 0.1 * len_ratio DESC,
        |      vec_id) AS INT) AS rank,
        |  vec_id, cosine, jaccard, len_ratio,
        |  0.6 * cosine + 0.3 * jaccard + 0.1 * len_ratio AS score
        |FROM feat
        |ORDER BY rank""".stripMargin)),
    // IVFADC composite: probed cells × PQ code index, all-deterministic
    // IVFADC = the ann_ivf_det_topk cell CTEs ∘ the ann_pq_adc_topk
    // code CTEs, joined on the probed cells
    QueryDef("ann_ivf_pq_topk", Similarity.annIvfPqTopk(_, _), Some(
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), seeds AS (
        |  SELECT seed_vid, seed_e,
        |    CAST(row_number() OVER (ORDER BY h, seed_vid) - 1 AS BIGINT)
        |      AS cell
        |  FROM (
        |    SELECT vec_id AS seed_vid, e AS seed_e,
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |        AS BIGINT) AS h
        |    FROM emb ORDER BY h, vec_id LIMIT 16)
        |), assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT emb.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY emb.vec_id
        |        ORDER BY list_dot_product(emb.e, s.seed_e) DESC, s.cell)
        |        AS rn
        |    FROM emb, seeds s) WHERE rn = 1
        |), qe AS (SELECT e AS q FROM emb WHERE vec_id = 0
        |), probes AS (
        |  SELECT cell FROM seeds, qe
        |  ORDER BY list_dot_product(seed_e, q) DESC, cell LIMIT 4
        |), aa AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings
        |), qz AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / amax)) AS INT))
        |      AS qv
        |  FROM aa WHERE amax > 0
        |), cb AS (
        |  SELECT m, k, d,
        |    CAST(CAST('0x' || substr(md5('pq:' || m || ':' || k || ':'
        |      || d), 1, 15) AS BIGINT) % 256 - 128 AS INT) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS m),
        |       (SELECT unnest(generate_series(0, 15)) AS k),
        |       (SELECT unnest(generate_series(0, 7)) AS d)
        |), sub AS (
        |  SELECT vec_id, m, d, qv[m * 8 + d + 1] AS qd
        |  FROM qz, (SELECT unnest(generate_series(0, 7)) AS m) mm,
        |       (SELECT unnest(generate_series(0, 7)) AS d) dd
        |), dist AS (
        |  SELECT vec_id, s.m, cb.k, sum(abs(qd - c)) AS dist
        |  FROM sub s JOIN cb ON cb.m = s.m AND cb.d = s.d
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT vec_id, m, k, dist,
        |    row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY dist, k) AS rn
        |  FROM dist
        |), codes AS (
        |  SELECT vec_id, m, k FROM best WHERE rn = 1
        |), qlut AS (
        |  SELECT s.m, cb.k, CAST(sum(abs(qd - c)) AS BIGINT) AS qdist
        |  FROM sub s JOIN cb ON cb.m = s.m AND cb.d = s.d
        |  WHERE s.vec_id = 0
        |  GROUP BY 1, 2
        |)
        |SELECT c.vec_id, asg.cell, CAST(sum(l.qdist) AS BIGINT) AS adc_dist
        |FROM codes c
        |JOIN qlut l ON l.m = c.m AND l.k = c.k
        |JOIN assigned asg ON asg.vec_id = c.vec_id
        |JOIN probes USING (cell)
        |WHERE c.vec_id <> 0
        |GROUP BY 1, 2
        |ORDER BY adc_dist, c.vec_id LIMIT 10""".stripMargin)),
    // exact-rational covariance matrix (whitening/PCA input)
    // exact BIGINT moments; ONE double division at the end
    QueryDef("emb_covariance_int", Similarity.embCovarianceInt(_, _), Some(
      """WITH q AS (
        |  SELECT list_transform(embedding[1:8],
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
        |    AS q6
        |  FROM embeddings
        |), p AS (
        |  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |    q6[i] AS xi, q6[j] AS xj
        |  FROM q, (SELECT unnest(generate_series(1, 8)) AS i) a,
        |       (SELECT unnest(generate_series(1, 8)) AS j) b
        |  WHERE j >= i
        |), a2 AS (
        |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xi * xj) AS BIGINT) AS sxy,
        |    CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(xj) AS BIGINT) AS sy
        |  FROM p GROUP BY i, j
        |)
        |SELECT i, j, n, sxy, sx, sy,
        |  CAST(n * CAST(sxy AS HUGEINT)
        |      - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |    / (CAST(n * n AS DOUBLE) * 1e12) AS cov
        |FROM a2 ORDER BY i, j""".stripMargin)),
    // exact mean pairwise intra-label dot via the sum-vector identity
    // sum-vector identity: sum_{i!=j} xi.xj = |Sx|^2 - sum|x|^2, exact
    // on x1000-quantized BIGINTs; one division, de-scaled by 1e6
    QueryDef("emb_label_cohesion", Similarity.embLabelCohesion _, Some(
      """WITH q AS (
        |  SELECT label, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000.0) AS BIGINT)) AS v
        |  FROM embeddings
        |), pd AS (
        |  SELECT label, d, CAST(sum(v[d]) AS BIGINT) AS s
        |  FROM q, LATERAL (SELECT unnest(generate_series(1, 64)) AS d) t
        |  GROUP BY label, d
        |), outerm AS (
        |  SELECT label, CAST(sum(s * s) AS BIGINT) AS sum_outer
        |  FROM pd GROUP BY label
        |), sq AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(list_sum(list_transform(v, x -> x * x))) AS BIGINT)
        |      AS sum_sq
        |  FROM q GROUP BY label
        |)
        |SELECT sq.label, sq.n, outerm.sum_outer, sq.sum_sq,
        |  CAST(CAST(sum_outer - sum_sq AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE) / 1000000.0 AS REAL)
        |    AS avg_pair_dot
        |FROM sq JOIN outerm USING (label)
        |WHERE sq.n >= 2 ORDER BY sq.label""".stripMargin)),
    // exact mean cross-label dot (Sa.Sb) per label pair
    // cross-label: sum_{i in a, j in b} xi.xj = Sa.Sb, exact
    QueryDef("emb_label_separation", Similarity.embLabelSeparation _, Some(
      """WITH q AS (
        |  SELECT label, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000.0) AS BIGINT)) AS v
        |  FROM embeddings
        |), pd AS (
        |  SELECT label, d, CAST(sum(v[d]) AS BIGINT) AS s
        |  FROM q, LATERAL (SELECT unnest(generate_series(1, 64)) AS d) t
        |  GROUP BY label, d
        |), g AS (
        |  SELECT label, list(s ORDER BY d) AS sv FROM pd GROUP BY label
        |), n AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n FROM q
        |  GROUP BY label
        |), j AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    na.n AS n_a, nb.n AS n_b,
        |    CAST(list_dot_product(a.sv, b.sv) AS BIGINT) AS cross_dot
        |  FROM g a JOIN g b ON a.label < b.label
        |  JOIN n na ON na.label = a.label
        |  JOIN n nb ON nb.label = b.label
        |)
        |SELECT label_a, label_b, n_a, n_b, cross_dot,
        |  CAST(CAST(cross_dot AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
        |    / 1000000.0 AS REAL) AS avg_cross_dot
        |FROM j ORDER BY label_a, label_b""".stripMargin)),
    // round 17: delta-batch assignment into the persisted IVF cells
    // round 17: the ann_ivf_det_topk cell CTEs with the quantizer
    // trained on the CORPUS slice only; the delta batch joins the
    // standing cells and only the occupancy epilogue follows
    QueryDef("ann_ivf_delta_assign", Similarity.annIvfDeltaAssign(_, _),
      Some(annIvfAssignOracleSql)),
  )
}
