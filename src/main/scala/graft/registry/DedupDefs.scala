package graft.registry

import graft.query.Dedup

/** The dedup family, 21 queries: `dedup_`. */
object DedupDefs {

  /** Shared by `dedup_incremental_minhash` and its streaming twin
    * `stream_dedup_incremental` (whose drain equals the batch probe by
    * contract). */
  private[registry] lazy val incrementalMinhashOracleSql: String =
    s"""WITH ${minhashPairsCtes(8, 4, "0.5")},
       |delta AS (SELECT doc_id FROM base WHERE doc_id % 5 = 0),
       |links AS (
       |  SELECT doc_a AS d, doc_b AS m FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS d, doc_a AS m FROM pairs
       |), agg AS (
       |  SELECT d AS doc_id,
       |    CAST(sum(CASE WHEN m % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nc,
       |    CAST(sum(CASE WHEN m % 5 = 0 AND m < d THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nb
       |  FROM links WHERE d % 5 = 0 GROUP BY d
       |)
       |SELECT dd.doc_id,
       |  CASE WHEN COALESCE(a.nc, 0) > 0 THEN 'near_dup_of_corpus'
       |       WHEN COALESCE(a.nb, 0) > 0 THEN 'near_dup_in_batch'
       |       ELSE 'new' END AS status,
       |  COALESCE(a.nc, 0) AS n_corpus_matches,
       |  COALESCE(a.nb, 0) AS n_batch_matches
       |FROM delta dd LEFT JOIN agg a ON dd.doc_id = a.doc_id
       |ORDER BY dd.doc_id""".stripMargin

  /** Shared CTE block replaying [[graft.query.Dedup.dedupMinhashLsh]]
    * (3-gram shingles, numBands×rowsPerBand md5-60-bit double-hashed
    * minhashes) up to a `pairs(doc_a, doc_b, jaccard)` relation: same
    * planted near-dups, same normalization, same Kirsch–Mitzenmacher
    * family, band buckets by signature-slice equality, exact Jaccard
    * verify ≥ threshold. Bucket values differ from Spark's (xxhash64 of
    * the slice there, the raw joined slice here) but bucket EQUALITY is
    * the same relation, which is all the candidate join observes. */
  private def minhashPairsCtes(numBands: Int, rowsPerBand: Int,
      threshold: String): String = {
    val nh = numBands * rowsPerBand
    s"""base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    'planted near duplicate copy ' || text AS text
       |  FROM documents WHERE doc_id < 10
       |), toks AS (
       |  SELECT doc_id, string_split(
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
       |  FROM base
       |), ftoks AS (
       |  SELECT doc_id, t FROM toks WHERE len(t) >= 3
       |), grams AS (
       |  SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
       |  FROM ftoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
       |), gh AS (
       |  -- h1/h2 are the two 60-bit halves of ONE md5 (Spark's
       |  -- MinHashImpl does the same: md5 dominates signature cost)
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substr(md5(g), 17, 15) AS BIGINT) AS h2
       |  FROM grams
       |), sig AS (
       |  SELECT doc_id, h.i AS hi,
       |    min((h1 + h.i * (h2 >> 5)) & 1152921504606846975) AS mh
       |  FROM gh, LATERAL (SELECT unnest(generate_series(0, ${nh - 1})) AS i) h
       |  GROUP BY doc_id, h.i
       |), bands AS (
       |  SELECT doc_id, hi // $rowsPerBand AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hi) AS bucket
       |  FROM sig GROUP BY doc_id, hi // $rowsPerBand
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |), sh AS (
       |  -- Jaccard over DISTINCT md5-60-bit gram hashes (h1 above):
       |  -- identical hashing to Spark's shingle_hashes, so set sizes
       |  -- (and even any collision) reproduce bit-identically
       |  SELECT doc_id, list(DISTINCT h1) AS sh FROM gh GROUP BY doc_id
       |), pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / len(list_distinct(sa.sh || sb.sh)) AS jaccard
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = cand.doc_a
       |  JOIN sh sb ON sb.doc_id = cand.doc_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / len(list_distinct(sa.sh || sb.sh)) >= $threshold
       |)""".stripMargin
  }

  /** The [[graft.query.Dedup.dedupCascadeReport]] oracle: the shared
    * MinHash pairs chain plus a source-carrying planted base, exact
    * fingerprint keeps, and the pairwise both-survivor near-drop. */
  private def dedupCascadeOracleSql: String =
    s"""WITH ${minhashPairsCtes(8, 4, "0.5")},
       |srcbase AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, source,
       |    'planted near duplicate copy ' || text AS text
       |  FROM documents WHERE doc_id < 10
       |), ex AS (
       |  SELECT doc_id, source,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep_exact
       |  FROM srcbase
       |), nd AS (
       |  SELECT DISTINCT p.doc_b AS doc_id
       |  FROM pairs p
       |  JOIN ex a ON a.doc_id = p.doc_a AND a.keep_exact
       |  JOIN ex b ON b.doc_id = p.doc_b AND b.keep_exact
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN keep_exact THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_after_exact,
       |  CAST(sum(CASE WHEN keep_exact
       |      AND ex.doc_id NOT IN (SELECT doc_id FROM nd)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after_near,
       |  CAST(count(*) - sum(CASE WHEN keep_exact THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_exact_dropped,
       |  CAST(sum(CASE WHEN keep_exact THEN 1 ELSE 0 END)
       |    - sum(CASE WHEN keep_exact
       |        AND ex.doc_id NOT IN (SELECT doc_id FROM nd)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dropped
       |FROM ex GROUP BY source ORDER BY source""".stripMargin

  /** Containment verify on the same high-recall 16×2 banding as
    * [[graft.query.Dedup.dedupContainment]]: |A∩B| / min(|A|,|B|). The
    * chain's `pairs` CTE goes unused (threshold 0.0 keeps it harmless);
    * `cand` and `sh` are the shared machinery. */
  private def containmentOracleSql: String =
    s"""WITH ${minhashPairsCtes(16, 2, "0.0")}
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / least(len(sa.sh), len(sb.sh)) AS containment
       |FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
       |JOIN sh sb ON sb.doc_id = c.doc_b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / least(len(sa.sh), len(sb.sh)) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  private def minhashOracleSql(numBands: Int, rowsPerBand: Int,
      threshold: String): String =
    s"""WITH ${minhashPairsCtes(numBands, rowsPerBand, threshold)}
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components over the near-dup pair graph via a recursive
    * CTE: reachability closure, then min reachable id per node — the
    * declarative twin of Dedup.dedupGroups' min-label propagation. */
  private def dedupGroupsOracleSql: String =
    s"""WITH RECURSIVE ${minhashPairsCtes(8, 4, "0.5")},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT a FROM edges
       |), reach(a, b) AS (
       |  SELECT a, a FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |)
       |SELECT a AS doc_id, min(b) AS group_id
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** [[graft.query.Dedup.dedupKeepBest]]: the dedup_groups recursive
    * CTE extended with per-doc normalized char counts and a per-group
    * (chars desc, doc_id asc) argmax via max-of-struct — the same
    * deterministic tiebreak the Spark side computes. */
  private def dedupKeepBestOracleSql: String =
    s"""WITH RECURSIVE ${minhashPairsCtes(8, 4, "0.5")},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT a FROM edges
       |), reach(a, b) AS (
       |  SELECT a, a FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), labels AS (
       |  SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a
       |), chars AS (
       |  SELECT doc_id, CAST(strlen(lower(trim(
       |    regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT) AS chars
       |  FROM base
       |), g AS (
       |  SELECT group_id, count(*) AS n_docs, sum(chars) AS chars_total,
       |    max(struct_pack(c := chars, n := -doc_id)) AS m
       |  FROM labels JOIN chars USING (doc_id)
       |  GROUP BY group_id
       |)
       |SELECT group_id, -m.n AS kept_doc, n_docs,
       |  CAST(chars_total - m.c AS BIGINT) AS chars_dropped
       |FROM g ORDER BY group_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // north-star: deduplication (SURVEY §7.7)
    QueryDef("dedup_exact", Dedup.dedupExact _, Some(
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  doc_id = min(doc_id) OVER (PARTITION BY
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("dedup_minhash_lsh", Dedup.dedupMinhashLsh(_, _), Some(
      minhashOracleSql(numBands = 8, rowsPerBand = 4,
      threshold = "0.5"))),
    QueryDef("dedup_simhash", Dedup.dedupSimhash(_, _), Some(
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'planted near duplicate copy ' || text AS text
        |  FROM documents WHERE doc_id < 10
        |), toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM base
        |), th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(t) AS tok) u
        |), votes AS (
        |  SELECT doc_id, bb.b AS b,
        |    sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, LATERAL (SELECT unnest(generate_series(0, 59)) AS b) bb
        |  GROUP BY doc_id, bb.b
        |), fp AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0
        |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id
        |), chunks AS (
        |  SELECT doc_id, simhash, cc.c AS chunk_idx,
        |    (simhash >> (cc.c * 15)) & 32767 AS chunk
        |  FROM fp, LATERAL (SELECT unnest(generate_series(0, 3)) AS c) cc
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM chunks a JOIN chunks b
        |  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
        |  AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("dedup_ngram_jaccard", Dedup.dedupNgramJaccard(_, _), Some(
      minhashOracleSql(numBands = 16, rowsPerBand = 2,
      threshold = "0.3"))),
    QueryDef("dedup_groups", Dedup.dedupGroups(_, _), Some(dedupGroupsOracleSql)),
    QueryDef("dedup_embedding_cosine", Dedup.dedupEmbeddingCosine(_, _), Some(
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |rsel AS (
        |  SELECT min(i) AS r FROM range(1, 41) t(i), nn
        |  WHERE 32 * (CAST(1 AS BIGINT) << i) >= nn.n
        |), planes AS (
        |  SELECT tt.t AS t, ii.i AS i,
        |    list(CAST(CAST('0x' || substr(
        |        md5(tt.t || ':' || ii.i || ':' || jj.j), 1, 15)
        |        AS BIGINT) AS DOUBLE) / 576460752303423488.0 - 1.0
        |      ORDER BY jj.j) AS plane
        |  FROM (SELECT unnest(generate_series(0, 15)) AS t) tt,
        |       (SELECT unnest(generate_series(0, 39)) AS i) ii,
        |       (SELECT unnest(generate_series(0, 63)) AS j) jj
        |  WHERE ii.i < (SELECT r FROM rsel)
        |  GROUP BY tt.t, ii.i
        |), emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), sigs AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN list_dot_product(e, plane) >= 0
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sig
        |  FROM emb, planes GROUP BY vec_id, t
        |), mem AS (
        |  -- replay the adversarial-occupancy cap (boundedSelfPairs):
        |  -- all-pairs in buckets <= 64 members, hub-spoke to the
        |  -- minimum id above (first diverged at sf0.1 where one sign
        |  -- bucket crossed the cap)
        |  SELECT vec_id, t, sig,
        |    count(*) OVER (PARTITION BY t, sig) AS bsz,
        |    min(vec_id) OVER (PARTITION BY t, sig) AS bmin
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT vec_a, vec_b FROM (
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |    FROM mem a JOIN mem b
        |      ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
        |    WHERE a.bsz <= 64
        |    UNION ALL
        |    SELECT bmin AS vec_a, vec_id AS vec_b FROM mem
        |    WHERE bsz > 64 AND vec_id <> bmin)
        |)
        |SELECT c.vec_a, c.vec_b, list_dot_product(ea.e, eb.e) AS cosine
        |FROM cand c
        |JOIN emb ea ON ea.vec_id = c.vec_a
        |JOIN emb eb ON eb.vec_id = c.vec_b
        |WHERE list_dot_product(ea.e, eb.e) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin)),
    // SemDeDup: deterministic-cell cluster + within-cell cosine prune
    // every CTE MATERIALIZED: assigned/amem/emb are each referenced
    // multiple times downstream, and DuckDB's per-reference inlining
    // re-evaluated the n×nCells assignment cross-join (with the full
    // embedding array carried through its window) once per consumer —
    // 37 GiB OOM at x10; materialization evaluates each stage once
    QueryDef("dedup_semantic", Dedup.dedupSemantic(_, _), Some(
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), k AS MATERIALIZED (
        |  SELECT CASE WHEN CAST(ceil(count(*) / 32.0) AS BIGINT) > 16
        |    THEN CAST(ceil(count(*) / 32.0) AS BIGINT)
        |    ELSE 16 END AS nc
        |  FROM emb
        |), cells AS MATERIALIZED (
        |  SELECT vec_id, e,
        |    CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % (SELECT nc FROM k) AS BIGINT) AS cell,
        |    lpad(CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |        17, 15) AS BIGINT) AS VARCHAR), 19, '0')
        |      || lpad(CAST(vec_id AS VARCHAR), 19, '0') AS skey
        |  FROM emb
        |), seeds AS MATERIALIZED (
        |  SELECT s.cell, e2.e AS seed_e
        |  FROM (SELECT cell, CAST(substr(min(skey), 20, 19) AS BIGINT)
        |          AS seed_vid
        |        FROM cells GROUP BY cell) s
        |  JOIN emb e2 ON e2.vec_id = s.seed_vid
        |), assigned AS MATERIALIZED (
        |  SELECT vec_id, e, cell FROM (
        |    SELECT emb.vec_id, emb.e, s.cell,
        |      row_number() OVER (PARTITION BY emb.vec_id
        |        ORDER BY list_dot_product(emb.e, s.seed_e) DESC, s.cell)
        |        AS rn
        |    FROM emb, seeds s) WHERE rn = 1
        |), amem AS MATERIALIZED (
        |  -- replay the adversarial-occupancy cap (boundedSelfPairs):
        |  -- Voronoi cell sizes are data-driven, so a cell CAN cross the
        |  -- 64-member cap at scale; above it only hub-spoke pairs are
        |  -- scored (the dedup_embedding_cosine sf0.1 lesson)
        |  SELECT vec_id, e, cell,
        |    count(*) OVER (PARTITION BY cell) AS bsz,
        |    min(vec_id) OVER (PARTITION BY cell) AS bmin
        |  FROM assigned
        |), removed AS MATERIALIZED (
        |  SELECT DISTINCT vec_b AS vec_id FROM (
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |    FROM amem a JOIN amem b
        |      ON a.cell = b.cell AND a.vec_id < b.vec_id
        |    WHERE a.bsz <= 64 AND list_dot_product(a.e, b.e) >= 0.4
        |    UNION ALL
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |    FROM amem a JOIN amem b
        |      ON a.cell = b.cell AND a.vec_id = a.bmin
        |        AND b.vec_id <> b.bmin
        |    WHERE a.bsz > 64 AND list_dot_product(a.e, b.e) >= 0.4)
        |)
        |SELECT a.vec_id, a.cell,
        |  a.vec_id NOT IN (SELECT vec_id FROM removed) AS kept
        |FROM assigned a ORDER BY a.vec_id""".stripMargin)),
    // the oracle rebuilds the same md5-derived signatures, so the
    // estimator column itself (not just the verdicts) is hash-compared
    QueryDef("dedup_minhash_est_error", Dedup.dedupMinhashEstError(_, _), Some(
      s"""WITH ${minhashPairsCtes(8, 4, "0.0")},
         |eq AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(count(*) FILTER (WHERE sa.mh = sb.mh) AS INT) AS n_equal
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.hi = sa.hi
         |  GROUP BY c.doc_a, c.doc_b
         |)
         |SELECT p.doc_a, p.doc_b, e.n_equal,
         |  CAST(e.n_equal AS DOUBLE) / 32 AS est_jaccard,
         |  p.jaccard AS exact_jaccard,
         |  abs(CAST(e.n_equal AS DOUBLE) / 32 - p.jaccard) AS abs_err
         |FROM pairs p JOIN eq e ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin)),
    QueryDef("dedup_line_level", Dedup.dedupLineLevel(_, _), Some(
      """WITH planted AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0
        |       THEN 'subscribe to our newsletter today. ' ELSE '' END)
        |    || text || '. copyright ' || source
        |    || ' all rights reserved.' AS text2
        |  FROM documents
        |), r0 AS (
        |  SELECT doc_id, unnest(string_split(text2, '.')) AS s FROM planted
        |), r1 AS (
        |  SELECT doc_id, trim(s) AS s FROM r0 WHERE trim(s) <> ''
        |), sents AS (
        |  SELECT doc_id, md5(lower(s)) AS fp FROM r1
        |), fpd AS (
        |  SELECT fp, count(DISTINCT doc_id) AS n_docs FROM sents GROUP BY fp
        |)
        |SELECT s.doc_id, count(*) AS n_sents,
        |  CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_sents,
        |  CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS dup_frac
        |FROM sents s JOIN fpd f USING (fp)
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("dedup_cluster_stats", Dedup.dedupClusterStats _, Some(
      s"""WITH RECURSIVE ${minhashPairsCtes(8, 4, "0.5")},
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT a FROM edges
         |), reach(a, b) AS (
         |  SELECT a, a FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |), labels AS (
         |  SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a
         |), sizes AS (
         |  SELECT group_id, count(*) AS sz FROM labels GROUP BY group_id
         |)
         |SELECT sz AS group_size, count(*) AS n_groups
         |FROM sizes GROUP BY sz ORDER BY group_size""".stripMargin)),
    QueryDef("dedup_containment", Dedup.dedupContainment(_, _), Some(containmentOracleSql)),
    // round 6: curation decisions, exact-decimal finance, layout,
    // interval joins, retention, robust outliers, frame sampling
    // round 6
    QueryDef("dedup_keep_best", Dedup.dedupKeepBest _, Some(dedupKeepBestOracleSql)),
    QueryDef("dedup_incremental", Dedup.dedupIncremental _, Some(
      """WITH fp AS (
        |  SELECT doc_id, md5(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents
        |), corpus AS (
        |  SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0
        |), delta AS (
        |  SELECT doc_id, fp FROM fp WHERE doc_id % 5 = 0
        |), first_in AS (
        |  SELECT fp, min(doc_id) AS first_id FROM delta GROUP BY fp
        |)
        |SELECT d.doc_id, d.fp AS fingerprint,
        |  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
        |    WHEN d.doc_id > f.first_id THEN 'dup_in_batch'
        |    ELSE 'new' END AS status
        |FROM delta d
        |LEFT JOIN corpus c ON d.fp = c.fp
        |JOIN first_in f ON d.fp = f.fp
        |ORDER BY d.doc_id""".stripMargin)),
    // round-7: delta-vs-corpus NEAR-dup via the shared MinHash band index
    QueryDef("dedup_incremental_minhash", Dedup.dedupIncrementalMinhash(_, _),
      Some(incrementalMinhashOracleSql)),
    QueryDef("dedup_prefix_groups", Dedup.dedupPrefixGroups(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), p AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(t[1:5], ' ')), 1, 15)
        |      AS BIGINT) AS pfx
        |  FROM toks WHERE len(t) >= 5
        |)
        |SELECT pfx, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY pfx HAVING count(*) > 1 ORDER BY pfx""".stripMargin)),
    QueryDef("dedup_time_window", Dedup.dedupTimeWindow(_, _), Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
        |    make_timestamp(epoch_us(ts) - epoch_us(ts) % 600000000)
        |      AS win_start
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type, win_start
        |    ORDER BY tus, event_id) AS rn
        |  FROM e
        |)
        |SELECT event_id, user_id, event_type, win_start
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    // fixed-window (8-token, stride-1) repeated-span census over the
    // planted-near-dup corpus; windows keyed by the 60-bit md5 hash
    QueryDef("dedup_exact_substring", Dedup.dedupExactSubstring(_, _), Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'planted near duplicate copy ' || text AS text
        |  FROM documents WHERE doc_id < 10
        |), docs AS (
        |  SELECT * FROM d0 UNION ALL SELECT * FROM planted
        |), toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM docs
        |), wins AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(
        |      t[i : i + 7], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1,
        |      CAST(len(t) AS INT) - 7)) AS i) s
        |  WHERE len(t) >= 8
        |)
        |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY h""".stripMargin)),
    // round 14: multi-granularity substring census — widths {8,16,32}
    // share one tokenize pass and one shuffle; spans report their
    // maximal length class
    // three window widths over one shared tokenize CTE (chained
    // LATERALs: width unnest, then the per-width slide)
    QueryDef("dedup_substring_multiscale", Dedup.dedupSubstringMultiscale(_, _), Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'planted near duplicate copy ' || text AS text
        |  FROM documents WHERE doc_id < 10
        |), docs AS (
        |  SELECT * FROM d0 UNION ALL SELECT * FROM planted
        |), toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM docs
        |), widths AS (SELECT unnest([8, 16, 32]) AS w),
        |tw AS (
        |  -- slide bound precomputed BEFORE the lateral: DuckDB 1.0
        |  -- fails to bind a joined column inside generate_series
        |  SELECT doc_id, t, w, CAST(len(t) AS INT) - w + 1 AS hi
        |  FROM toks CROSS JOIN widths WHERE len(t) >= w
        |), wins AS (
        |  SELECT doc_id, w,
        |    CAST('0x' || substr(md5(array_to_string(
        |      t[i : i + w - 1], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM tw, LATERAL (SELECT unnest(generate_series(1, hi)) AS i) s
        |)
        |SELECT w, h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM wins GROUP BY w, h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY w, h""".stripMargin)),
    // round 15: exact maximal repeated spans — gaps-and-islands over
    // the covered window positions, one extra shuffle over the census
    // exact maximal repeated spans: covered width-8 windows →
    // gaps-and-islands per document → run length + w − 1
    QueryDef("dedup_substring_maximal", Dedup.dedupSubstringMaximal(_, _), Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'planted near duplicate copy ' || text AS text
        |  FROM documents WHERE doc_id < 10
        |), docs AS (
        |  SELECT * FROM d0 UNION ALL SELECT * FROM planted
        |), toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM docs
        |), wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    CAST('0x' || substr(md5(array_to_string(
        |      t[i : i + 7], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1,
        |      CAST(len(t) AS INT) - 7)) AS i) s
        |  WHERE len(t) >= 8
        |), rep AS (
        |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |), covered AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM wins JOIN rep USING (h)
        |)
        |SELECT doc_id, min(i) AS start_pos,
        |  CAST(count(*) + 7 AS BIGINT) AS span_len
        |FROM covered GROUP BY doc_id, grp
        |ORDER BY doc_id, start_pos""".stripMargin)),
    // per-source exact -> near-dup survivor funnel off the shared indexes
    QueryDef("dedup_cascade_report", Dedup.dedupCascadeReport(_, _), Some(dedupCascadeOracleSql)),
    // round 16: dup-rate curve over Jaccard cuts off the pair index
    // the minhash pair index probed at five verification cuts
    QueryDef("dedup_threshold_curve", Dedup.dedupThresholdCurve(_, _), Some(
      s"""WITH ${minhashPairsCtes(8, 4, "0.5")},
        |th AS (
        |  SELECT CAST(x AS DOUBLE) AS threshold
        |  FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) t(x)
        |), pt AS (
        |  SELECT th.threshold, p.doc_a, p.doc_b
        |  FROM pairs p JOIN th ON p.jaccard >= th.threshold
        |), ex AS (
        |  SELECT threshold, doc_a AS doc_id FROM pt
        |  UNION ALL SELECT threshold, doc_b AS doc_id FROM pt
        |)
        |SELECT threshold, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ex GROUP BY threshold ORDER BY threshold""".stripMargin)),
  )
}
