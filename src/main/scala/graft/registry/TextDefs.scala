package graft.registry

import graft.query.TextAnalysis

/** The text family, 63 queries: text analysis and corpus curation,
  * `text_`, `chunk_`, `context_`, `cooccur_`, `corpus_`, `curriculum_`,
  * `decontaminate_`, `pack_`, `pii_`, `quality_`, `export_`. */
object TextDefs {

  /** The [[graft.query.TextAnalysis.textBpeTrain]] oracle: the training
    * loop unrolled into `rounds` MATERIALIZED CTE stages (count pairs
    * from vᵣ₋₁ → top-1 → apply the double-space-separator replace into
    * vᵣ). MATERIALIZED is load-bearing: v_{r-1} is referenced twice per
    * stage, so an inlining planner would otherwise blow up ~2^rounds.
    * Generated, not hand-written — the stage text is identical modulo
    * the round index, and the Spark loop it replays is parameterized by
    * the same `rounds`. */
  private def bpeTrainOracleSql(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT merge_rank, pa, pb, cnt FROM b$r")
      .mkString(" UNION ALL ")
    s"""${bpeTrainCtes(rounds)}
       |SELECT merge_rank, pa AS lhs, pb AS rhs, pa || pb AS merged,
       |  cnt AS score
       |FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  private def bpeStages(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT ss[i] AS pa, ss[i + 1] AS pb,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(trim(sp), '  ') AS ss
         |        FROM v${r - 1}) t$r,
         |    LATERAL (SELECT unnest(generate_series(1, len(ss) - 1)) AS i) s$r
         |  WHERE len(ss) >= 2 GROUP BY 1, 2
         |), b$r AS MATERIALIZED (
         |  SELECT $r AS merge_rank, pa, pb, cnt FROM p$r
         |  ORDER BY cnt DESC, pa, pb LIMIT 1
         |), v$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(sp, ' ' || pa || '  ' || pb || ' ',
         |      ' ' || pa || pb || ' ') AS sp
         |  FROM v${r - 1} CROSS JOIN b$r
         |)""".stripMargin
    }.mkString(", ")

  /** The shared WITH clause of the BPE oracles: v0 + `rounds` unrolled
    * stages (each defining p_r, b_r, v_r). */
  private def bpeTrainCtes(rounds: Int): String = {
    val stages = bpeStages(rounds)
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT tok AS word, count(*) AS freq,
       |    '  ' || regexp_replace(tok, '(.)', '\\1  ', 'g') AS sp
       |  FROM (SELECT unnest(string_split(
       |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
       |    FROM documents)
       |  WHERE length(tok) >= 2
       |  GROUP BY tok
       |), $stages""".stripMargin
  }

  /** The [[graft.query.TextAnalysis.textBpeVocab]] oracle: the trained
    * final state v_rounds, exploded to surviving units weighted by word
    * frequency. */
  private def bpeVocabOracleSql(rounds: Int): String =
    s"""${bpeTrainCtes(rounds)}
       |SELECT u.unit, CAST(sum(freq) AS BIGINT) AS n_occ,
       |  length(u.unit) > 1 AS is_merged
       |FROM v$rounds,
       |  LATERAL (SELECT unnest(string_split(trim(sp), '  ')) AS unit) u
       |GROUP BY u.unit ORDER BY n_occ DESC, u.unit""".stripMargin

  /** The [[graft.query.TextAnalysis.textBpeFertility]] oracle: apply
    * the trained state v_rounds at the vocab grain (unit counts per
    * word), join the (lang, word) corpus counts, two exact divisions
    * per language row. */
  private def bpeFertilityOracleSql(rounds: Int): String =
    s"""${bpeTrainCtes(rounds)},
       |wu AS (
       |  SELECT word,
       |    CAST(len(string_split(trim(sp), '  ')) AS BIGINT) AS n_units
       |  FROM v$rounds
       |), tw AS (
       |  SELECT lang, tok AS word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT lang, unnest(string_split(
       |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
       |      AS tok
       |    FROM documents)
       |  GROUP BY 1, 2
       |), j AS (
       |  SELECT lang, n, coalesce(wu.n_units, 1) AS nu,
       |    CAST(length(word) AS BIGINT) AS nc
       |  FROM tw LEFT JOIN wu USING (word)
       |)
       |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
       |  CAST(sum(n * nu) AS BIGINT) AS n_units,
       |  CAST(sum(n * nc) AS BIGINT) AS n_chars,
       |  CAST(CAST(sum(n * nu) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
       |    AS REAL) AS fertility,
       |  CAST(CAST(sum(n * nc) AS DOUBLE) / CAST(sum(n * nu) AS DOUBLE)
       |    AS REAL) AS chars_per_unit
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // north-star: text analysis
    QueryDef("text_quality", TextAnalysis.textQuality _, Some(
      """SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
        |  (CAST(length(text) AS DOUBLE)
        |     - CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |    + least(((CAST(length(text) AS DOUBLE)
        |        - CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE))
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0) * 0.3
        |    + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE)) * 0.2 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("text_token_count", TextAnalysis.textTokenCount _, Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |    AS INT) AS n_bpe_tokens,
        |  CAST(length(text) AS DOUBLE) / 4.0 AS n_est_chars4
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("text_fingerprint", TextAnalysis.textFingerprint _, Some(
      """WITH norm AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |toks AS (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM norm),
        |grams AS (SELECT doc_id,
        |    concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]) AS g
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS i) s),
        |winnow AS (SELECT doc_id,
        |    min(CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)) AS fw
        |  FROM grams GROUP BY doc_id)
        |SELECT n.doc_id, md5(nt) AS fingerprint_md5, fw AS fingerprint_winnow
        |FROM norm n LEFT JOIN winnow w ON n.doc_id = w.doc_id
        |ORDER BY n.doc_id""".stripMargin)),
    QueryDef("text_langid", TextAnalysis.textLangId _, Some(
      """WITH u AS (SELECT doc_id, lang,
        |    list_distinct(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS t
        |  FROM documents),
        |scores AS (SELECT doc_id, lang,
        |    CAST(len(list_intersect(t, ['der','die','das','und','ist','von','ein','eine','zu','mit'])) AS DOUBLE) / 10.0 AS s_de,
        |    CAST(len(list_intersect(t, ['the','a','of','and','to','in','is','that','it','for'])) AS DOUBLE) / 10.0 AS s_en,
        |    CAST(len(list_intersect(t, ['el','la','de','que','y','en','un','una','es','por'])) AS DOUBLE) / 10.0 AS s_es,
        |    CAST(len(list_intersect(t, ['le','la','de','et','les','des','un','une','est','dans'])) AS DOUBLE) / 10.0 AS s_fr,
        |    CAST(len(list_intersect(t, ['de','shi','bu','le','zai','ren','you','wo','ta','zhe'])) AS DOUBLE) / 10.0 AS s_zh
        |  FROM u)
        |SELECT doc_id, lang AS lang_labeled,
        |  CASE WHEN m = 0 THEN 'und'
        |       WHEN s_zh = m THEN 'zh' WHEN s_fr = m THEN 'fr'
        |       WHEN s_es = m THEN 'es' WHEN s_en = m THEN 'en'
        |       ELSE 'de' END AS lang_detected,
        |  m AS lid_score
        |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM scores)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("text_scrub", TextAnalysis.textScrub _, Some(
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@example.com or https://ex.org/d/'
        |        || CAST(doc_id AS VARCHAR)
        |      ELSE text END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text2, 'https?://[^ ]+')) AS INT)
        |    AS n_urls
        |FROM base ORDER BY doc_id""".stripMargin)),
    QueryDef("text_tfidf", TextAnalysis.textTfidf _, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), nn AS (SELECT count(*) AS n FROM documents)
        |SELECT t.doc_id, t.tok, t.tf, d.df,
        |  CAST(t.tf * (ln((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS REAL)
        |    AS tfidf
        |FROM tf t JOIN dfreq d USING (tok) CROSS JOIN nn
        |WHERE t.doc_id < 30
        |ORDER BY doc_id, tok""".stripMargin)),
    QueryDef("text_ngram_counts", TextAnalysis.textNgramCounts(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT concat_ws(' ', t[i], t[i+1]) AS gram
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |)
        |SELECT gram, count(*) AS n FROM grams GROUP BY gram
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin)),
    QueryDef("text_bm25", TextAnalysis.textBm25(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        |), nn AS (SELECT count(*) AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl)
        |SELECT t.doc_id, t.tok, t.tf, d.df, l.dl,
        |  CAST(ln((nn.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |    * t.tf * 2.2
        |    / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / ad.avgdl)) AS REAL)
        |    AS bm25
        |FROM tf t JOIN dfreq d USING (tok) JOIN dl l USING (doc_id)
        |CROSS JOIN nn CROSS JOIN ad
        |WHERE t.doc_id < 20
        |ORDER BY doc_id, tok""".stripMargin)),
    // tokenizer induction: the BPE first-merge pair-frequency table
    QueryDef("text_bpe_pairs", TextAnalysis.textBpePairs(_, _), Some(
      """WITH toks AS (
        |  SELECT unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), pairs AS (
        |  SELECT substr(tok, i, 2) AS pair
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, length(tok) - 1)) AS i) s
        |  WHERE length(tok) >= 2
        |)
        |SELECT pair, count(*) AS n FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin)),
    QueryDef("corpus_dsir_weights", TextAnalysis.corpusDsirWeights(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), tb AS (
        |  SELECT t.doc_id, d.lang,
        |    CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT) % 64 AS bucket,
        |    t.tf
        |  FROM tf t JOIN documents d USING (doc_id)
        |), src AS (
        |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS cs FROM tb GROUP BY bucket
        |), tgt AS (
        |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS ct FROM tb
        |  WHERE lang = 'en' GROUP BY bucket
        |), tot AS (
        |  SELECT CAST(sum(tf) AS BIGINT) AS ts,
        |    CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS tt
        |  FROM tb
        |), dist AS (
        |  SELECT s.bucket,
        |    ln(COALESCE(t.ct, 0) + 1) - ln(tot.tt + 64)
        |      - ln(s.cs + 1) + ln(tot.ts + 64) AS logratio
        |  FROM src s LEFT JOIN tgt t USING (bucket), tot
        |)
        |SELECT tb.doc_id, tb.lang, CAST(sum(tb.tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tb.tf * d.logratio) AS REAL) AS dsir_logweight
        |FROM tb JOIN dist d USING (bucket)
        |GROUP BY tb.doc_id, tb.lang ORDER BY doc_id""".stripMargin)),
    // the FFD recurrence replayed with the bin-load list as recursive
    // CTE state; all arithmetic integer, so placement is exact
    QueryDef("pack_bin_ffd", TextAnalysis.packBinFfd(_, _), Some(
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, CAST(len(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |    AS BIGINT) AS t
        |  FROM documents
        |), ord AS (
        |  SELECT doc_id, source, t,
        |    row_number() OVER (PARTITION BY source ORDER BY t DESC, doc_id)
        |      AS rn
        |  FROM toks
        |), pk(source, rn, doc_id, t, bin, loads) AS (
        |  SELECT source, rn, doc_id, t, CAST(0 AS BIGINT) AS bin, [t] AS loads
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.source, o.rn, o.doc_id, o.t,
        |    CASE WHEN len(list_filter(range(1, len(p.loads) + 1),
        |        i -> p.loads[i] + o.t <= 256)) > 0
        |      THEN list_filter(range(1, len(p.loads) + 1),
        |        i -> p.loads[i] + o.t <= 256)[1] - 1
        |      ELSE len(p.loads) END AS bin,
        |    CASE WHEN len(list_filter(range(1, len(p.loads) + 1),
        |        i -> p.loads[i] + o.t <= 256)) > 0
        |      THEN list_transform(range(1, len(p.loads) + 1),
        |        i -> CASE WHEN i = list_filter(range(1, len(p.loads) + 1),
        |            j -> p.loads[j] + o.t <= 256)[1]
        |          THEN p.loads[i] + o.t ELSE p.loads[i] END)
        |      ELSE list_append(p.loads, o.t) END AS loads
        |  FROM pk p JOIN ord o ON o.source = p.source AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, source, t AS n_tokens, bin FROM pk
        |ORDER BY source, doc_id""".stripMargin)),
    QueryDef("text_kneser_ney", TextAnalysis.textKneserNey(_, _), Some(
      """WITH toks AS (
        |  SELECT string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), g AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |), big AS (SELECT w1, w2, count(*) AS c FROM g GROUP BY 1, 2),
        |ctx AS (
        |  SELECT w1, CAST(sum(c) AS BIGINT) AS c1, count(*) AS n_after
        |  FROM big GROUP BY w1
        |), cont AS (SELECT w2, count(*) AS n_before FROM big GROUP BY w2),
        |nb AS (SELECT count(*) AS n_big FROM big)
        |SELECT b.w1, b.w2, b.c, x.c1, x.n_after, o.n_before,
        |  greatest(CAST(b.c AS DOUBLE) - 0.75, 0.0) / x.c1
        |    + 0.75 * x.n_after / x.c1
        |    * (CAST(o.n_before AS DOUBLE) / nb.n_big) AS p_kn
        |FROM big b JOIN ctx x USING (w1) JOIN cont o USING (w2), nb
        |WHERE b.c >= 5
        |ORDER BY w1, w2""".stripMargin)),
    QueryDef("pii_scan_report", TextAnalysis.piiScanReport _, Some(
      """WITH counts AS (
        |  SELECT source,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(text,
        |      '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |    len(regexp_extract_all(text,
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
        |    len(regexp_extract_all(text, '[0-9]{16}')) AS n_pan16
        |  FROM documents
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_email,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
        |  CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
        |  CAST(sum(n_pan16) AS BIGINT) AS n_pan16,
        |  CAST(count(CASE WHEN n_email + n_phone + n_ipv4 + n_pan16 > 0
        |    THEN 1 END) AS BIGINT) AS n_flagged
        |FROM counts GROUP BY source ORDER BY source""".stripMargin)),
    // skew_profile's integer log2 band (length(bin(n)) - 1) over token
    // counts — no float log anywhere
    QueryDef("context_length_bands", TextAnalysis.contextLengthBands _, Some(
      """WITH t AS (
        |  SELECT CAST(len(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |    AS BIGINT) AS n
        |  FROM documents
        |)
        |SELECT CAST(length(bin(n)) - 1 AS INT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n) AS min_tokens, max(n) AS max_tokens,
        |  CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM t GROUP BY band ORDER BY band""".stripMargin)),
    QueryDef("corpus_diversity_stats", TextAnalysis.corpusDiversityStats _, Some(
      """WITH toks AS (
        |  SELECT doc_id, lang, source, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |)
        |SELECT lang, source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
        |  CAST(CAST(count(DISTINCT tok) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS REAL) AS type_token_ratio
        |FROM toks GROUP BY lang, source ORDER BY lang, source""".stripMargin)),
    QueryDef("text_bigram_logprob", TextAnalysis.textBigramLogprob _, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(
        |    generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |), bg AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
        |  FROM grams GROUP BY w1, w2
        |), ug AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS cug FROM grams GROUP BY w1
        |), vocab AS (
        |  SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM grams
        |)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(ln((CAST(b.cbg AS DOUBLE) + 1.0)
        |      / (CAST(u.cug AS DOUBLE) + CAST(vocab.v AS DOUBLE))))
        |    / CAST(count(*) AS DOUBLE) AS REAL) AS mean_logprob
        |FROM grams g JOIN bg b ON b.w1 = g.w1 AND b.w2 = g.w2
        |JOIN ug u ON u.w1 = g.w1 CROSS JOIN vocab
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),
    QueryDef("text_feature_hashing", TextAnalysis.textFeatureHashing(_, _), Some(
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256
        |    AS feature_idx,
        |  count(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents WHERE doc_id < 100)
        |GROUP BY 1, 2 ORDER BY doc_id, feature_idx""".stripMargin)),
    // round 4: training-data pipeline operators
    QueryDef("decontaminate_ngram", TextAnalysis.decontaminate(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), ftoks AS (SELECT doc_id, t FROM toks WHERE len(t) >= 3),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])),
        |      1, 15) AS BIGINT) AS h
        |  FROM ftoks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
        |), df AS (
        |  SELECT h FROM grams WHERE doc_id % 37 <> 0
        |  GROUP BY h HAVING count(*) <= 50
        |), tr AS (
        |  SELECT g.doc_id, g.h FROM grams g JOIN df ON g.h = df.h
        |  WHERE g.doc_id % 37 <> 0
        |), ev AS (SELECT doc_id, h FROM grams WHERE doc_id % 37 = 0),
        |evn AS (SELECT doc_id, count(*) AS ng FROM ev GROUP BY doc_id),
        |ov AS (
        |  SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
        |    count(*) AS n_shared
        |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY 1, 2
        |)
        |SELECT ov.train_doc, ov.eval_doc, ov.n_shared,
        |  CAST(ov.n_shared AS DOUBLE) / evn.ng AS eval_frac
        |FROM ov JOIN evn ON evn.doc_id = ov.eval_doc
        |WHERE ov.n_shared >= 2
        |ORDER BY train_doc, eval_doc""".stripMargin)),
    QueryDef("pack_sequences", TextAnalysis.packSequences(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |    AS BIGINT) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |    CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_excl
        |  FROM d
        |)
        |SELECT cum_excl // 256 AS bin_id, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY bin_id""".stripMargin)),
    QueryDef("text_repetition", TextAnalysis.textRepetition _, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), ftoks AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
        |grams AS (
        |  SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS g
        |  FROM ftoks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  count(DISTINCT g) AS n_distinct,
        |  1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS repetition
        |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("text_top_ngram_cov", TextAnalysis.textTopNgramCoverage _, Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    len(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n_chars,
        |    string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), ftoks AS (SELECT * FROM toks WHERE len(t) >= 2),
        |grams AS (
        |  SELECT doc_id, n_chars, concat_ws(' ', t[i], t[i+1]) AS g
        |  FROM ftoks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |), counts AS (
        |  SELECT doc_id, n_chars, g, count(*) AS cnt
        |  FROM grams GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT doc_id, n_chars, g, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
        |  FROM counts
        |)
        |SELECT doc_id, g AS top_gram, cnt AS top_count, n_bigrams,
        |  CAST(cnt AS DOUBLE) / n_bigrams AS top_frac,
        |  CAST(cnt AS DOUBLE) * len(g) / n_chars AS char_cov
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin)),
    QueryDef("quality_topk_per_lang", TextAnalysis.qualityTopkPerLang(_, _), Some(
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(((CAST(length(text) AS DOUBLE)
        |          - CAST(length(text) - length(replace(text, ' ', ''))
        |            AS DOUBLE))
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0,
        |        1.0) * 0.3
        |      + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |          AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE)) * 0.2 AS score
        |  FROM documents
        |), ranked AS (
        |  SELECT lang, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY score DESC, doc_id) AS INT) AS rnk
        |  FROM q
        |)
        |SELECT lang, rnk, doc_id, score FROM ranked
        |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin)),
    QueryDef("corpus_mix_budget", TextAnalysis.corpusMixBudget(_, _), Some(
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS BIGINT) AS tok,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(((CAST(length(text) AS DOUBLE)
        |          - CAST(length(text) - length(replace(text, ' ', ''))
        |            AS DOUBLE))
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0,
        |        1.0) * 0.3
        |      + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |          AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE)) * 0.2 AS score
        |  FROM documents
        |), ranked AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER w AS INT) AS rnk,
        |    CAST(sum(tok) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tok
        |  FROM q WINDOW w AS (PARTITION BY source ORDER BY score DESC, doc_id)
        |)
        |SELECT source, doc_id, rnk, cum_tok FROM ranked
        |WHERE cum_tok <= 1000 ORDER BY source, rnk""".stripMargin)),
    QueryDef("text_inverted_index", TextAnalysis.textInvertedIndex(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents WHERE doc_id < 200
        |), terms AS (
        |  SELECT DISTINCT doc_id, unnest(t) AS term FROM toks
        |), idx AS (
        |  SELECT term, count(*) AS df,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |      AS postings
        |  FROM terms GROUP BY term
        |)
        |SELECT term, df, postings FROM idx
        |WHERE df BETWEEN 3 AND 150
        |ORDER BY term""".stripMargin)),
    // round 5: text statistics, embedding prototypes, graph/anomaly/
    // sampling/window/sketch analytics
    QueryDef("text_unigram_logprob", TextAnalysis.unigramLogprob _, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), vocab AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok
        |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf.tf * (ln(cnt) - ln(total))) / sum(tf.tf) AS REAL)
        |    AS avg_logprob
        |FROM tf JOIN vocab USING (tok), tot
        |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("text_entropy", TextAnalysis.textEntropy _, Some(
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  CAST(ln(CAST(sum(tf) AS DOUBLE))
        |    - sum(tf * ln(tf)) / sum(tf) AS REAL) AS entropy
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("cooccur_pmi", TextAnalysis.cooccurPmi(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT tok, count(*) AS cu
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
        |), tu AS (SELECT CAST(sum(cu) AS BIGINT) AS t_total FROM uni),
        |bi AS (
        |  SELECT t[i] AS a, t[i + 1] AS b, count(*) AS n_ab
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2 GROUP BY 1, 2
        |), tb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS b_total FROM bi),
        |top AS (SELECT * FROM bi ORDER BY n_ab DESC, a, b LIMIT 50)
        |SELECT top.a, top.b, top.n_ab, ua.cu AS n_a, ub.cu AS n_b,
        |  CAST(ln(CAST(top.n_ab AS DOUBLE) / b_total)
        |    - ln(CAST(ua.cu AS DOUBLE) / t_total)
        |    - ln(CAST(ub.cu AS DOUBLE) / t_total) AS REAL) AS pmi
        |FROM top JOIN uni ua ON ua.tok = top.a
        |JOIN uni ub ON ub.tok = top.b, tu, tb
        |ORDER BY n_ab DESC, a, b""".stripMargin)),
    QueryDef("text_ngram_novelty", TextAnalysis.textNgramNovelty _, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), ftoks AS (
        |  SELECT doc_id, t FROM toks WHERE len(t) >= 3
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])),
        |      1, 15) AS BIGINT) AS gh
        |  FROM ftoks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
        |), fs AS (
        |  SELECT gh, min(doc_id) AS first_doc FROM grams GROUP BY gh
        |)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS REAL) AS novelty
        |FROM grams JOIN fs USING (gh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("corpus_quality_gate", TextAnalysis.corpusQualityGate _, Some(
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |    len(string_split(text, ' ')) AS n_ws,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |      AS DOUBLE) / length(text) AS ar
        |  FROM documents
        |), k AS (
        |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canon
        |  FROM d
        |), r AS (
        |  SELECT CASE WHEN lang <> 'en' THEN 'non_en'
        |    WHEN n_ws < 20 THEN 'too_short'
        |    WHEN ar < 0.78 THEN 'low_alpha'
        |    WHEN NOT is_canon THEN 'exact_dup'
        |    ELSE 'kept' END AS reason
        |  FROM k
        |), t AS (SELECT count(*) AS total FROM r)
        |SELECT reason, count(*) AS n_docs,
        |  CAST(CAST(count(*) AS DOUBLE) / total AS REAL) AS share
        |FROM r, t GROUP BY reason, total ORDER BY reason""".stripMargin)),
    QueryDef("export_jsonl_manifest", graft.ingest.Export.exportJsonlManifest(_, _), Some(
      """SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |    || ':shard'), 1, 15) AS BIGINT) % 8 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS text_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)),
    // round-6 corpus-shaping operators
    // round-6 corpus-shaping operators
    QueryDef("chunk_sliding", TextAnalysis.chunkSliding(_, _), Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, greatest(len(toks), 1), 16)) AS st
        |  FROM t
        |)
        |SELECT doc_id, CAST((st - 1) / 16 AS INT) AS chunk_idx,
        |  CAST(len(list_slice(toks, st, st + 31)) AS INT) AS n_tok,
        |  md5(array_to_string(list_slice(toks, st, st + 31), ' '))
        |    AS chunk_hash
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),
    QueryDef("curriculum_phases", TextAnalysis.curriculumPhases(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT)
        |    AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
        |      AS BIGINT) AS cum_before
        |  FROM d
        |), p AS (
        |  SELECT doc_id, n_tok, cum_before // 2000 AS phase
        |  FROM c
        |)
        |SELECT phase, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens,
        |  min(n_tok) AS min_tok, max(n_tok) AS max_tok
        |FROM p GROUP BY phase ORDER BY phase""".stripMargin)),
    // α=0.5 temperature rebalancing across skewed language groups
    QueryDef("corpus_temperature_mix", TextAnalysis.corpusTemperatureMix(_, _), Some(
      """WITH n AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        |), m AS (SELECT min(n_docs) AS n_min FROM n)
        |SELECT d.lang, n.n_docs,
        |  CAST(sum(CASE WHEN
        |      CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
        |          || ':tm'), 1, 15) AS BIGINT) AS DOUBLE)
        |        * sqrt(CAST(n.n_docs AS DOUBLE))
        |      < 1152921504606846976.0 * sqrt(CAST(m.n_min AS DOUBLE))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN n USING (lang), m
        |GROUP BY d.lang, n.n_docs ORDER BY d.lang""".stripMargin)),
    // epoch-repetition materialization: small sources upsampled ⌊f⌋/⌈f⌉
    // epoch repetition: f = min(sqrt(n_max/n_src), 4); floor copies +
    // one more iff hash60 clears floor(frac(f)*2^60) — integer compare
    QueryDef("corpus_epoch_repeat", TextAnalysis.corpusEpochRepeat(_, _), Some(
      """WITH n AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |  FROM documents GROUP BY source
        |), m AS (SELECT max(n_src) AS n_max FROM n),
        |f AS (
        |  SELECT d.doc_id, d.source, n.n_src,
        |    least(sqrt(CAST(m.n_max AS DOUBLE) / CAST(n.n_src AS DOUBLE)),
        |      4.0) AS factor
        |  FROM documents d JOIN n USING (source), m
        |), k AS (
        |  SELECT doc_id, source, n_src, factor,
        |    CAST(floor(factor) AS BIGINT)
        |      + CASE WHEN CAST('0x' || substr(md5(
        |            CAST(doc_id AS VARCHAR) || ':epoch'), 1, 15) AS BIGINT)
        |          < CAST(floor((factor - floor(factor))
        |              * 1152921504606846976.0) AS BIGINT)
        |        THEN 1 ELSE 0 END AS n_copies
        |  FROM f
        |)
        |SELECT doc_id, source, n_src, CAST(factor AS REAL) AS factor,
        |  CAST(copy_idx AS BIGINT) AS copy_idx
        |FROM k, LATERAL (SELECT unnest(generate_series(1, n_copies))
        |  AS copy_idx) s
        |ORDER BY doc_id, copy_idx""".stripMargin)),
    QueryDef("text_gopher_rules", TextAnalysis.textGopherRules _, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), g AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(max(tf) AS BIGINT) AS max_tf,
        |    CAST(sum(tf * length(tok)) AS BIGINT) AS sum_len,
        |    CAST(sum(CASE WHEN tok IN ('the', 'a') THEN tf ELSE 0 END)
        |      AS BIGINT) AS stop_tf
        |  FROM tf GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS mean_word_len,
        |  CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS top_tok_frac,
        |  CAST(stop_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_frac,
        |  (n_tokens >= 20
        |    AND CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3.0
        |    AND CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 10.0
        |    AND CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.15
        |    AND CAST(stop_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.02)
        |    AS pass_gopher
        |FROM g ORDER BY doc_id""".stripMargin)),
    QueryDef("text_zipf_slope", TextAnalysis.textZipfSlope(_, _), Some(
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), totals AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
        |), ranked AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y,
        |    row_number() OVER (ORDER BY freq DESC, tok) AS rank
        |  FROM totals QUALIFY rank <= 100
        |), a AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM ranked
        |)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS REAL)
        |    AS zipf_slope,
        |  CAST((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    AS REAL) AS zipf_intercept
        |FROM a""".stripMargin)),
    QueryDef("text_llr_collocations", TextAnalysis.textLlrCollocations(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(
        |    generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |), bg AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11
        |  FROM grams GROUP BY w1, w2
        |), ca AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS ca FROM grams GROUP BY w1
        |), cb AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS cb FROM grams GROUP BY w2
        |), nt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ntot FROM grams
        |), kk AS (
        |  SELECT bg.w1, bg.w2, bg.k11 AS n_pair,
        |    CAST(bg.k11 AS DOUBLE) AS a11,
        |    CAST(ca.ca AS DOUBLE) - CAST(bg.k11 AS DOUBLE) AS a12,
        |    CAST(cb.cb AS DOUBLE) - CAST(bg.k11 AS DOUBLE) AS a21,
        |    CAST(nt.ntot AS DOUBLE) - CAST(ca.ca AS DOUBLE)
        |      - CAST(cb.cb AS DOUBLE) + CAST(bg.k11 AS DOUBLE) AS a22,
        |    CAST(nt.ntot AS DOUBLE) AS nn
        |  FROM bg JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN nt
        |)
        |SELECT w1, w2, n_pair,
        |  CAST(2.0 * (
        |    (CASE WHEN a11 > 0.0 THEN a11 * ln(a11) ELSE 0.0 END)
        |    + (CASE WHEN a12 > 0.0 THEN a12 * ln(a12) ELSE 0.0 END)
        |    + (CASE WHEN a21 > 0.0 THEN a21 * ln(a21) ELSE 0.0 END)
        |    + (CASE WHEN a22 > 0.0 THEN a22 * ln(a22) ELSE 0.0 END)
        |    + (CASE WHEN nn > 0.0 THEN nn * ln(nn) ELSE 0.0 END)
        |    - (CASE WHEN a11 + a12 > 0.0
        |        THEN (a11 + a12) * ln(a11 + a12) ELSE 0.0 END)
        |    - (CASE WHEN a21 + a22 > 0.0
        |        THEN (a21 + a22) * ln(a21 + a22) ELSE 0.0 END)
        |    - (CASE WHEN a11 + a21 > 0.0
        |        THEN (a11 + a21) * ln(a11 + a21) ELSE 0.0 END)
        |    - (CASE WHEN a12 + a22 > 0.0
        |        THEN (a12 + a22) * ln(a12 + a22) ELSE 0.0 END)) AS REAL)
        |    AS llr
        |FROM kk ORDER BY llr DESC, w1, w2 LIMIT 20""".stripMargin)),
    // flags stringified with an 'all' rollup sentinel: NULL grouping
    // keys round-trip differently through parquet/pandas booleans
    QueryDef("quality_ablation_report", TextAnalysis.qualityAblationReport _, Some(
      """WITH c AS (
        |  SELECT n_chars >= 200 AS so, lang = 'en' AS le,
        |    contains(text, ' the ') AS hs,
        |    CAST(GROUPING(n_chars >= 200, lang = 'en',
        |      contains(text, ' the ')) AS INT) AS gid,
        |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_total
        |  FROM documents
        |  GROUP BY CUBE(so, le, hs)
        |)
        |SELECT coalesce(CAST(so AS VARCHAR), 'all') AS size_ok,
        |  coalesce(CAST(le AS VARCHAR), 'all') AS lang_en,
        |  coalesce(CAST(hs AS VARCHAR), 'all') AS has_stop,
        |  gid, n_docs, chars_total
        |FROM c ORDER BY gid, size_ok, lang_en, has_stop""".stripMargin)),
    QueryDef("text_oov_rate", TextAnalysis.textOovRate(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens
        |  FROM tf GROUP BY doc_id
        |), tot AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS freq FROM tf GROUP BY tok
        |), vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY freq DESC, tok) AS rank
        |    FROM tot) WHERE rank <= 256
        |), oov AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_oov FROM tf
        |  WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY doc_id
        |)
        |SELECT dl.doc_id, dl.n_tokens, coalesce(oov.n_oov, 0) AS n_oov,
        |  CAST(coalesce(oov.n_oov, 0) AS DOUBLE)
        |    / CAST(dl.n_tokens AS DOUBLE) AS oov_rate
        |FROM dl LEFT JOIN oov USING (doc_id) ORDER BY doc_id""".stripMargin)),
    QueryDef("text_hapax_stats", TextAnalysis.textHapaxStats _, Some(
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tot AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
        |), r AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
        |  FROM tot
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_vocab,
        |  CAST(sum(freq) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS hapax_ratio,
        |  CAST(sum(CASE WHEN rank <= 10 THEN freq ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(freq) AS DOUBLE) AS top10_mass
        |FROM r""".stripMargin)),
    QueryDef("text_js_divergence", TextAnalysis.textJsDivergence _, Some(
      """WITH toks AS (
        |  SELECT source, unnest(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), bysrc AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2
        |), st AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS ct FROM bysrc
        |  GROUP BY source
        |), corpus AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM bysrc GROUP BY tok
        |), gt AS (
        |  SELECT CAST(sum(g) AS BIGINT) AS gt FROM corpus
        |), j AS (
        |  SELECT b.source,
        |    CAST(b.c AS DOUBLE) / CAST(st.ct AS DOUBLE) AS p,
        |    CAST(co.g AS DOUBLE) / CAST(gt.gt AS DOUBLE) AS q
        |  FROM bysrc b JOIN st USING (source) JOIN corpus co USING (tok)
        |  CROSS JOIN gt
        |), s AS (
        |  SELECT source,
        |    sum(0.5 * p * ln(2.0 * p / (p + q))) AS pterm,
        |    sum(0.5 * q * ln(2.0 * q / (p + q))) AS qterm,
        |    sum(q) AS qcov
        |  FROM j GROUP BY source
        |)
        |SELECT source,
        |  CAST(pterm + qterm + 0.5 * (1.0 - qcov) * ln(2.0) AS REAL)
        |    AS js_divergence
        |FROM s ORDER BY source""".stripMargin)),
    QueryDef("corpus_sample_stratified", TextAnalysis.corpusSampleStratified _, Some(
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM documents
        |), s AS (
        |  SELECT lang, (count(*) + 9) // 10 AS target FROM d GROUP BY lang
        |), r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM d
        |)
        |SELECT r.doc_id, r.lang FROM r JOIN s USING (lang)
        |WHERE rn <= target ORDER BY doc_id""".stripMargin)),
    // the langid oracle wrapped in the confusion rollup — same scoring
    QueryDef("quality_lang_confusion", TextAnalysis.qualityLangConfusion _, Some(
      """WITH u AS (SELECT doc_id, lang,
        |    list_distinct(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS t
        |  FROM documents),
        |scores AS (SELECT doc_id, lang,
        |    CAST(len(list_intersect(t, ['der','die','das','und','ist','von','ein','eine','zu','mit'])) AS DOUBLE) / 10.0 AS s_de,
        |    CAST(len(list_intersect(t, ['the','a','of','and','to','in','is','that','it','for'])) AS DOUBLE) / 10.0 AS s_en,
        |    CAST(len(list_intersect(t, ['el','la','de','que','y','en','un','una','es','por'])) AS DOUBLE) / 10.0 AS s_es,
        |    CAST(len(list_intersect(t, ['le','la','de','et','les','des','un','une','est','dans'])) AS DOUBLE) / 10.0 AS s_fr,
        |    CAST(len(list_intersect(t, ['de','shi','bu','le','zai','ren','you','wo','ta','zhe'])) AS DOUBLE) / 10.0 AS s_zh
        |  FROM u),
        |det AS (
        |  SELECT lang AS lang_labeled,
        |    CASE WHEN m = 0 THEN 'und'
        |         WHEN s_zh = m THEN 'zh' WHEN s_fr = m THEN 'fr'
        |         WHEN s_es = m THEN 'es' WHEN s_en = m THEN 'en'
        |         ELSE 'de' END AS lang_detected
        |  FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m
        |        FROM scores)
        |)
        |SELECT lang_labeled, lang_detected,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM det GROUP BY 1, 2
        |ORDER BY lang_labeled, lang_detected""".stripMargin)),
    QueryDef("corpus_mix_weights", TextAnalysis.corpusMixWeights _, Some(
      """WITH p AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang
        |), t AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS n_langs FROM p
        |)
        |SELECT lang, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |  CAST(n_total AS DOUBLE) / CAST(n_langs * n_docs AS DOUBLE)
        |    AS weight
        |FROM p, t ORDER BY lang""".stripMargin)),
    QueryDef("text_rare_span", TextAnalysis.textRareSpan(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, i, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(
        |    generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |), bg AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
        |  FROM grams GROUP BY w1, w2
        |), sc AS (
        |  SELECT g.doc_id, g.i, b.cbg
        |  FROM grams g JOIN bg b ON b.w1 = g.w1 AND b.w2 = g.w2
        |), win AS (
        |  SELECT doc_id, i,
        |    sum(cbg) OVER f AS span_freq_sum,
        |    count(*) OVER f AS span_n
        |  FROM sc
        |  WINDOW f AS (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN CURRENT ROW AND 19 FOLLOWING)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST((min(struct_pack(s := span_freq_sum, i := i))).i AS BIGINT)
        |    AS span_start,
        |  CAST((min(struct_pack(s := span_freq_sum, i := i))).s AS BIGINT)
        |    AS span_freq_sum
        |FROM win WHERE span_n = 20
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // round 15: keyword extraction, streaming SCD2 point-in-time
    // enrichment, and additive seasonal-trend decomposition
    QueryDef("text_keywords_topk", TextAnalysis.textKeywordsTopk(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), nn AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.tok,
        |    t.tf * (ln((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS tfidf
        |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN nn
        |), r AS (
        |  SELECT doc_id, tok, tfidf, CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, tok, CAST(tfidf AS REAL) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    // cross-document boilerplate fraction (CCNet-style template strip)
    QueryDef("text_boilerplate_frac", TextAnalysis.textBoilerplateFrac(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), ftoks AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
        |chunks AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(
        |      t[ci * 8 + 1 : ci * 8 + 8], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM ftoks,
        |    LATERAL (SELECT unnest(generate_series(0,
        |      CAST(len(t) // 8 AS INT) - 1)) AS ci) s
        |), df AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM (
        |    SELECT DISTINCT doc_id, h FROM chunks) GROUP BY h
        |)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boiler,
        |  CAST(CAST(sum(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS REAL) AS boiler_frac
        |FROM chunks c JOIN df ON c.h = df.h
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)),
    // CCNet head/middle/tail fluency terciles per language
    // CCNet terciles: familiarity = sum tf*cnt / n_tokens (ONE exact
    // double divide), ntile(3) per lang on (familiarity DESC, doc_id)
    QueryDef("corpus_ccnet_buckets", TextAnalysis.corpusCcnetBuckets(_, _), Some(
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS tok
        |    FROM documents) GROUP BY 1, 2
        |), vocab AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok
        |), sc AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf.tf * cnt) AS BIGINT) AS s_freq
        |  FROM tf JOIN vocab USING (tok) GROUP BY tf.doc_id
        |), f AS (
        |  SELECT d.doc_id, d.lang, n_tokens, s_freq,
        |    CAST(CAST(s_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |      AS REAL) AS familiarity
        |  FROM documents d JOIN sc USING (doc_id)
        |)
        |SELECT doc_id, lang, n_tokens, s_freq, familiarity,
        |  CAST(ntile(3) OVER (PARTITION BY lang
        |    ORDER BY familiarity DESC, doc_id) AS INT) AS bucket
        |FROM f ORDER BY doc_id""".stripMargin)),
    // T5 span-corruption plan: PRF-placed non-overlapping mask spans
    // span plan: one span per 20 tokens, confined to its own segment,
    // start = i*seg + 1 + hash60(doc:mask:i) % (seg - 2)
    QueryDef("text_span_mask_plan", TextAnalysis.textSpanMaskPlan(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS t
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, t, t // 20 AS n_spans, t // (t // 20) AS seg
        |  FROM d WHERE t // 20 >= 1
        |)
        |SELECT doc_id, t AS n_tokens, n_spans,
        |  CAST(i AS BIGINT) AS span_idx,
        |  CAST(i * seg + 1
        |    + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mask:'
        |        || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
        |      % (seg - 3 + 1) AS BIGINT) AS start,
        |  CAST(3 AS BIGINT) AS span_len,
        |  CAST(CAST(n_spans * 3 AS DOUBLE) / CAST(t AS DOUBLE) AS REAL)
        |    AS masked_frac
        |FROM s, LATERAL (SELECT unnest(generate_series(0, n_spans - 1))
        |  AS i) x
        |ORDER BY doc_id, span_idx""".stripMargin)),
    // BPE merge application + fertility audit (tokenizer induction end)
    QueryDef("text_bpe_encode", TextAnalysis.textBpeEncode(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents
        |), pc AS (
        |  SELECT substr(tok, i, 2) AS pair, count(*) AS n
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
        |    length(tok) - 1)) AS i) s
        |  WHERE length(tok) >= 2 GROUP BY 1
        |), rk AS (
        |  SELECT pair, row_number() OVER (ORDER BY n DESC, pair) AS rn
        |  FROM pc
        |), m AS (
        |  SELECT max(CASE WHEN rn = 1 THEN pair END) AS m1,
        |    max(CASE WHEN rn = 2 THEN pair END) AS m2,
        |    max(CASE WHEN rn = 3 THEN pair END) AS m3
        |  FROM rk WHERE rn <= 3
        |), enc AS (
        |  -- a corpus with < 3 distinct pairs leaves m2/m3 NULL; COALESCE
        |  -- turns that merge into the identity replace(' ',' ') so the
        |  -- chain degrades exactly like the Spark fold over a short
        |  -- merge list (instead of NULLing the whole expression)
        |  SELECT doc_id, CAST(length(tok) AS BIGINT) AS nch,
        |    CAST(len(string_split(trim(
        |      replace(replace(replace(
        |        ' ' || regexp_replace(tok, '(.)', '\1 ', 'g'),
        |        COALESCE(' ' || substr(m1, 1, 1) || ' ' || substr(m1, 2, 1) || ' ', ' '),
        |        COALESCE(' ' || m1 || ' ', ' ')),
        |        COALESCE(' ' || substr(m2, 1, 1) || ' ' || substr(m2, 2, 1) || ' ', ' '),
        |        COALESCE(' ' || m2 || ' ', ' ')),
        |        COALESCE(' ' || substr(m3, 1, 1) || ' ' || substr(m3, 2, 1) || ' ', ' '),
        |        COALESCE(' ' || m3 || ' ', ' '))
        |      ), ' ')) AS BIGINT) AS nu
        |  FROM toks CROSS JOIN m
        |)
        |SELECT doc_id, CAST(sum(nch) AS BIGINT) AS n_chars,
        |  CAST(sum(nu) AS BIGINT) AS n_units,
        |  CAST(CAST(sum(nu) AS DOUBLE) / CAST(sum(nch) AS DOUBLE) AS REAL)
        |    AS fertility
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // green-list watermark detector (map-only bigram PRF test + z)
    // per-doc green-bigram census: prev-token-seeded md5 PRF, γ = 1/4
    QueryDef("text_watermark_detect", TextAnalysis.textWatermarkDetect(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), ft AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST('0x' || substr(md5(
        |      array_to_string(t[i : i + 1], ' ')), 1, 15) AS BIGINT)
        |      % 4 = 0 THEN 1 ELSE 0 END AS g
        |  FROM ft,
        |    LATERAL (SELECT unnest(generate_series(1,
        |      CAST(len(t) AS INT) - 1)) AS i) s
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(sum(g) AS BIGINT) AS n_green,
        |  CAST(sum(g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS green_frac,
        |  (CAST(sum(g) AS DOUBLE) - 0.25 * CAST(count(*) AS DOUBLE))
        |    / sqrt(CAST(count(*) AS DOUBLE) * 0.1875) AS z
        |FROM bg GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // Rabin-style content-defined chunk spans (map-only)
    // boundary after token i where the 4-gram hash lands in the 1/32
    // bucket, forced end at len; chunks between consecutive boundaries
    QueryDef("text_cdc_chunking", TextAnalysis.textCdcChunking(_, _), Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'planted near duplicate copy ' || text AS text
        |  FROM documents WHERE doc_id < 10
        |), docs AS (SELECT * FROM d0 UNION ALL SELECT * FROM planted),
        |toks AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM docs
        |), ft AS (SELECT doc_id, t FROM toks WHERE len(t) >= 1),
        |ends AS (
        |  SELECT doc_id, t, i
        |  FROM ft,
        |    LATERAL (SELECT unnest(generate_series(1,
        |      CAST(len(t) AS INT))) AS i) s
        |  WHERE i = len(t) OR (i >= 4 AND
        |    CAST('0x' || substr(md5(array_to_string(
        |      t[i - 3 : i], ' ')), 1, 15) AS BIGINT) % 32 = 0)
        |), spans AS (
        |  SELECT doc_id, t,
        |    CAST(row_number() OVER w - 1 AS INT) AS chunk_idx,
        |    CAST(coalesce(lag(i) OVER w + 1, 1) AS INT) AS start_tok,
        |    CAST(i - coalesce(lag(i) OVER w + 1, 1) + 1 AS INT) AS n_toks,
        |    i AS e
        |  FROM ends
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        |)
        |SELECT doc_id, chunk_idx, start_tok, n_toks,
        |  CAST('0x' || substr(md5(array_to_string(
        |    t[start_tok : e], ' ')), 1, 15) AS BIGINT) AS chunk_hash
        |FROM spans ORDER BY doc_id, chunk_idx""".stripMargin)),
    // DSIR hashed-unigram importance weights vs the lang='en' target slice
    // hashed-unigram add-1 log-likelihood ratio, float epilogue (the
    // text_bigram_logprob exactness precedent)
    QueryDef("text_dsir_importance", TextAnalysis.textDsirImportance(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096 AS bucket
        |  FROM (
        |    SELECT doc_id, lang, unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |    FROM documents)
        |), b2 AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY bucket) AS n_tgt,
        |    count(*) OVER (PARTITION BY bucket) AS n_all
        |  FROM toks
        |), norms AS (
        |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ct,
        |    CAST(count(*) AS BIGINT) AS cr
        |  FROM toks
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(ln((CAST(n_tgt AS DOUBLE) + 1.0)
        |        / (CAST(ct AS DOUBLE) + 4096.0))
        |      - ln((CAST(n_all AS DOUBLE) + 1.0)
        |        / (CAST(cr AS DOUBLE) + 4096.0))) AS REAL) AS log_weight
        |FROM b2, norms GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // round 14: REAL BPE training — iterative count→select→merge→RECOUNT
    // the generated unrolled-merge BPE-training oracle (16 stages)
    QueryDef("text_bpe_train", TextAnalysis.textBpeTrain(_, _), Some(bpeTrainOracleSql(16))),
    // round 14: the trained tokenizer's unit-frequency vocabulary
    // same unrolled stages, final state exploded to the unit census
    QueryDef("text_bpe_vocab", TextAnalysis.textBpeVocab(_, _), Some(bpeVocabOracleSql(16))),
    // per-lang fertility of the TRAINED tokenizer (vocab-grain apply)
    QueryDef("text_bpe_fertility", TextAnalysis.textBpeFertility(_, _),
      Some(bpeFertilityOracleSql(16))),
    // leak-free LM scoring: train on even docs, score odd (+1 smoothing)
    // train on even doc_ids, Laplace-smoothed scoring of the odd half
    QueryDef("text_heldout_perplexity", TextAnalysis.textHeldoutPerplexity _, Some(
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS tok
        |    FROM documents) GROUP BY 1, 2
        |), vocab AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
        |  FROM tf WHERE doc_id % 2 = 0 GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM vocab
        |), sc AS (
        |  SELECT tf.doc_id, tf.tf, coalesce(vocab.cnt, 0) AS cnt,
        |    tot.total, tot.v
        |  FROM tf LEFT JOIN vocab USING (tok), tot
        |  WHERE tf.doc_id % 2 = 1
        |)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cnt = 0 THEN tf ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(-sum(tf * (ln(cnt + 1) - ln(total + v))) / sum(tf)
        |    AS REAL) AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // pairwise source-vocabulary Jaccard via one bitmask aggregate
    // one (token)-grain bit_or; pair stats off the mask histogram
    QueryDef("corpus_source_overlap", TextAnalysis.corpusSourceOverlap(_, _), Some(
      """WITH si AS (
        |  SELECT * FROM (
        |    SELECT source,
        |      CAST(row_number() OVER (ORDER BY source) - 1 AS INT) AS idx
        |    FROM (SELECT DISTINCT source FROM documents)
        |  ) WHERE idx < 16
        |), tk AS (
        |  SELECT si.idx, tok FROM (
        |    SELECT source, unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS tok
        |    FROM documents) d JOIN si USING (source)
        |), m AS (
        |  SELECT tok, CAST(bit_or(CAST(1 AS BIGINT) << idx) AS BIGINT)
        |    AS mask
        |  FROM tk GROUP BY tok
        |), h AS (
        |  SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM m
        |  GROUP BY mask
        |), p AS (
        |  SELECT a.source AS source_a, a.idx AS ia,
        |    b.source AS source_b, b.idx AS ib
        |  FROM si a JOIN si b ON a.source < b.source
        |), s AS (
        |  SELECT source_a, source_b,
        |    CAST(sum(CASE WHEN (mask >> ia) & 1 = 1 THEN cnt ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN (mask >> ib) & 1 = 1 THEN cnt ELSE 0 END)
        |      AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN (mask >> ia) & 1 = 1
        |        AND (mask >> ib) & 1 = 1 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS n_common
        |  FROM h CROSS JOIN p GROUP BY source_a, source_b
        |)
        |SELECT source_a, source_b, n_a, n_b, n_common,
        |  CAST(CAST(n_common AS DOUBLE)
        |    / CAST(n_a + n_b - n_common AS DOUBLE) AS REAL) AS jaccard
        |FROM s ORDER BY source_a, source_b""".stripMargin)),
    // round 15: Flesch / FK readability from regex count surrogates
    QueryDef("text_readability", TextAnalysis.textReadability(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_sentences > 0 AND n_words > 0 THEN
        |    CAST(CAST(206.835 AS DOUBLE)
        |      - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE)
        |        / CAST(n_sentences AS DOUBLE))
        |      - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE)
        |        / CAST(n_words AS DOUBLE)) AS REAL) END AS flesch_ease,
        |  CASE WHEN n_sentences > 0 AND n_words > 0 THEN
        |    CAST(CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE)
        |        / CAST(n_sentences AS DOUBLE))
        |      + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE)
        |        / CAST(n_words AS DOUBLE))
        |      - CAST(15.59 AS DOUBLE) AS REAL) END AS fk_grade
        |FROM d ORDER BY doc_id""".stripMargin)),
    // cld3-style char-trigram language ID (even-doc-trained model)
    // char-trigram langid: BIGINT counts, ONE division per (doc, lang),
    // argmax by (score, lang) struct — lexicographic in both engines
    QueryDef("text_langid_chargram", TextAnalysis.textLangidChargram _, Some(
      """WITH b AS (
        |  SELECT doc_id, lang, replace(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ', '')
        |    AS s
        |  FROM documents
        |), dgc AS (
        |  SELECT doc_id, lang, substring(s, i, 3) AS g,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM b, LATERAL (SELECT unnest(
        |    generate_series(1, length(s) - 2)) AS i) x
        |  WHERE length(s) >= 3
        |  GROUP BY 1, 2, 3
        |), model AS (
        |  SELECT g, lang AS mlang, CAST(sum(tf) AS BIGINT) AS cnt
        |  FROM dgc WHERE doc_id % 2 = 0 GROUP BY 1, 2
        |), tot AS (
        |  SELECT mlang, CAST(sum(cnt) AS BIGINT) AS t FROM model
        |  GROUP BY 1
        |), sc AS (
        |  SELECT dgc.doc_id, model.mlang,
        |    CAST(sum(dgc.tf * model.cnt) AS BIGINT) AS s_l
        |  FROM dgc JOIN model USING (g) GROUP BY 1, 2
        |), best AS (
        |  SELECT doc_id, max(struct_pack(
        |    score := CAST(s_l AS DOUBLE) / CAST(t AS DOUBLE),
        |    lang := mlang)) AS bst
        |  FROM sc JOIN tot USING (mlang) GROUP BY doc_id
        |)
        |SELECT b.doc_id, b.lang AS lang_labeled,
        |  coalesce(best.bst.lang, 'und') AS lang_predicted,
        |  CAST(best.bst.score AS REAL) AS score,
        |  best.bst.lang = b.lang AS correct
        |FROM b LEFT JOIN best USING (doc_id) ORDER BY b.doc_id""".stripMargin)),
    // corpus entropy rate: H(X2|X1) vs H(X) and the predictability ratio
    // conditional bigram entropy vs unigram entropy; REAL absorbs the
    // group-order ulps of the c*ln(c) folds (the unigram-LM rule)
    QueryDef("text_bigram_entropy_rate", TextAnalysis.textBigramEntropyRate _, Some(
      """WITH t AS (
        |  SELECT string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), bi AS (
        |  SELECT t[i] AS a, t[i + 1] AS b, CAST(count(*) AS BIGINT)
        |    AS c_ab
        |  FROM t, LATERAL (SELECT unnest(
        |    generate_series(1, len(t) - 1)) AS i) x
        |  WHERE len(t) >= 2 GROUP BY 1, 2
        |), pf AS (
        |  SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bi GROUP BY a
        |), c AS (
        |  SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |    sum(c_ab * (ln(c_ab) - ln(c_a))) AS s_cond
        |  FROM bi JOIN pf USING (a)
        |), u AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
        |    sum(c * ln(c)) AS s_uni
        |  FROM (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(t) AS tok FROM t) GROUP BY tok)
        |)
        |SELECT n_bigrams, n_distinct_bigrams, n_tokens,
        |  CAST(-s_cond / CAST(n_bigrams AS DOUBLE) AS REAL) AS h_cond,
        |  CAST(ln(CAST(n_tokens AS DOUBLE))
        |    - s_uni / CAST(n_tokens AS DOUBLE) AS REAL) AS h_uni,
        |  CAST(1.0 - (-s_cond / CAST(n_bigrams AS DOUBLE))
        |    / (ln(CAST(n_tokens AS DOUBLE))
        |      - s_uni / CAST(n_tokens AS DOUBLE)) AS REAL)
        |    AS predictability
        |FROM c CROSS JOIN u""".stripMargin)),
    // per-lang source-mix entropy and the effective source count
    // mix entropy: -sum p ln p per lang; effective sources = exp(H)
    QueryDef("corpus_mix_entropy", TextAnalysis.corpusMixEntropy _, Some(
      """WITH c AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2
        |), t AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM c GROUP BY lang
        |), h AS (
        |  SELECT c.lang, t.n_docs, t.n_sources,
        |    sum(-(CAST(c.n AS DOUBLE) / CAST(t.n_docs AS DOUBLE))
        |      * ln(CAST(c.n AS DOUBLE) / CAST(t.n_docs AS DOUBLE))) AS h
        |  FROM c JOIN t USING (lang)
        |  GROUP BY c.lang, t.n_docs, t.n_sources
        |)
        |SELECT lang, n_docs, n_sources,
        |  CAST(h AS REAL) AS source_entropy,
        |  CAST(exp(h) AS REAL) AS effective_sources
        |FROM h ORDER BY lang""".stripMargin)),
    // exact per-lang token-length percentiles (context budgeting)
    // percentile_disc picks at rank ceil(q*n/100), integer end to end
    QueryDef("corpus_length_percentiles", TextAnalysis.corpusLengthPercentiles _, Some(
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT)
        |    AS len, doc_id
        |  FROM documents
        |), r AS (
        |  SELECT lang, len,
        |    row_number() OVER (PARTITION BY lang ORDER BY len, doc_id)
        |      AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n_docs
        |  FROM d
        |)
        |SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  CAST(max(CASE WHEN rk = greatest(1, (n_docs * 50 + 99) // 100)
        |    THEN len END) AS BIGINT) AS p50_tokens,
        |  CAST(max(CASE WHEN rk = greatest(1, (n_docs * 90 + 99) // 100)
        |    THEN len END) AS BIGINT) AS p90_tokens,
        |  CAST(max(CASE WHEN rk = greatest(1, (n_docs * 99 + 99) // 100)
        |    THEN len END) AS BIGINT) AS p99_tokens,
        |  CAST(max(len) AS BIGINT) AS max_tokens
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),
  )
}
