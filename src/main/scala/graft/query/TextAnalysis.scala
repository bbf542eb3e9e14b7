package graft.query

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** The text family: text-analysis and corpus-curation operators for
  * training-data pipelines over `documents` — quality scoring, token
  * statistics, fingerprinting, language ID, n-gram models, chunking,
  * packing, decontamination and mixture planning. The per-row operators
  * are Projects over the scan — embarrassingly parallel, no shuffle,
  * codegen'd built-ins only (no UDFs in the hot path).
  */
object TextAnalysis {

  /** Composite quality score in [0,1] of a text column (length, token,
    * word-shape ratios — the standard cheap pre-filter for LLM corpus
    * cleaning). All arithmetic in double; the operand order is fixed and
    * mirrored literally by the oracles, so the doubles are bit-identical
    * cross-engine (rankings on the score tie-break on doc_id anyway). */
  private def qualityScore(txt: Column): Column = {
    val nChars = length(txt).cast("double")
    val nToks = size(split(txt, " ")).cast("double")
    val nSpaces = (length(txt) - length(regexp_replace(txt, " ", ""))).cast("double")
    val avgTokLen = (nChars - nSpaces) / nToks
    val alphaChars = length(regexp_replace(txt, "[^a-zA-Z]", "")).cast("double")
    // composite: favor mid-length docs with wordlike tokens
    least(nChars / lit(500.0), lit(1.0)) * lit(0.5) +
      least(avgTokLen / lit(8.0), lit(1.0)) * lit(0.3) +
      (alphaChars / nChars) * lit(0.2)
  }

  /** Quality scoring: structural metrics + the composite
    * [[qualityScore]]. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val nChars = length(txt).cast("double")
    val toks = split(txt, " ")
    val nToks = size(toks).cast("double")
    val nSpaces = (length(txt) - length(regexp_replace(txt, " ", ""))).cast("double")
    val avgTokLen = (nChars - nSpaces) / nToks
    val alphaChars = length(regexp_replace(txt, "[^a-zA-Z]", "")).cast("double")
    table(spark, dir, "documents")
      .select(col("doc_id"),
        nChars.as("n_chars"),
        nToks.as("n_tokens"),
        avgTokLen.as("avg_token_len"),
        (alphaChars / nChars).as("alpha_ratio"),
        qualityScore(txt).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-space symbol) — the standard
    * cheap token estimator when no tokenizer model ships with the engine. */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        regexp_count(col("text"), lit(pattern)).as("n_bpe_tokens"),
        (length(col("text")).cast("double") / lit(4.0)).as("n_est_chars4"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: canonical md5 of normalized text (exact-dup
    * key) plus a winnowing-style robust fingerprint — the minimum of the
    * 60-bit [[TokenHash.hash60]] hashes of all word 4-grams (public winnowing
    * scheme reduced to window=whole-doc: stable under local edits away
    * from the minimum; null for docs shorter than 4 tokens). Computed as
    * explode → codegen'd hash → map-side partial min (no interpreted HOF
    * in the hot path); md5-derived so the DuckDB oracle replays it. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val winnow = docs
      .select(col("doc_id"), explode(TokenHash.shingles(col("text"), 4)).as("g"))
      .groupBy(col("doc_id"))
      .agg(min(TokenHash.hash60(col("g"))).as("fingerprint_winnow"))
    docs
      .select(col("doc_id"), md5(TokenHash.normText(col("text"))).as("fingerprint_md5"))
      .join(winnow, Seq("doc_id"), "left")
      .orderBy(col("doc_id"))
  }

  /** Language ID: stopword-hit-ratio heuristic over small per-language
    * function-word lists (the classic cheap n-gram/stopword LID). The
    * language with the highest hit ratio wins; ties and no-hits fall back
    * to 'und'. Lists are public high-frequency function words. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "mit"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"))

  /** PII scrubbing: email/URL redaction with match counts — the standard
    * pre-training privacy pass. Patterns stay in the RE2 ∩ java.util.regex
    * common subset so any engine applies them identically. The corpus is
    * synthetic (no natural PII), so deterministic contact strings are
    * planted on every 5th doc to make the redaction non-degenerate. */
  def textScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ ]+"
    val planted = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or https://ex.org/d/"), col("doc_id").cast("string")))
      .otherwise(col("text"))
    table(spark, dir, "documents")
      .withColumn("text2", planted)
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("text2"), email, "<EMAIL>"),
          url, "<URL>").as("scrubbed"),
        regexp_count(col("text2"), lit(email)).as("n_emails"),
        regexp_count(col("text2"), lit(url)).as("n_urls"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide n-gram statistics: top-50 word bigrams by frequency with
    * a deterministic (count desc, gram) tiebreak. Bigrams come from
    * explode(sequence) + element_at — fully codegen'd and shuffle-free
    * until the count (the interpreted `shingles()` HOF measured ~15×
    * slower here: slice+transform lambdas per gram); the count is
    * map-side-combined and the top-k is TakeOrdered, no global sort. */
  def textNgramCounts(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    TokenHash.spreadDocs(spark, dir, "text")
      .select(TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(concat_ws(" ",
        element_at(col("t"), col("i")),
        element_at(col("t"), col("i") + 1)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)

  /** BPE merge-step induction: the frequency table of ADJACENT CHARACTER
    * PAIRS inside word occurrences — exactly the statistic byte-pair
    * encoding maximizes on its first merge iteration (Sennrich et al.;
    * counting over occurrences ≡ counting over the vocabulary weighted
    * by word frequency). A tokenizer-training pipeline at 100 TB runs
    * this repeatedly; the expensive part is always this count.
    *
    * Scale shape: tokenize → per-token pair explosion (bounded by token
    * length, a data constant — no joins, no corpus-sized state) → one
    * map-side-combined count on the pair key (alphabet², a tiny
    * keyspace, so partial aggregation collapses almost everything
    * before the shuffle) → top-k TakeOrdered. All integer counts:
    * hash-exact in any engine. */
  def textBpePairs(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    TokenHash.spreadDocs(spark, dir, "text")
      .select(explode(TokenHash.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(col("tok"), explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
      .select(expr("substring(tok, i, 2)").as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Apply the induced BPE merge table: the top-3 pairs from
    * [[textBpePairs]] become merge rules, applied in rank order to the
    * space-delimited character representation of every token, and each
    * document reports its character count, post-merge unit count, and
    * fertility (units/chars) — completing the tokenizer-induction story
    * (pair counting → merge table → encoding → compression audit).
    * Deliberately single-round (rules come from the base pair table,
    * not recounted between merges — the induction DEMO, documented);
    * unit boundaries are space-guarded so a merge can never consume a
    * previously-merged unit's tail.
    *
    * Determinism: rule selection orders by (count desc, pair); rule
    * application is plain left-to-right non-overlapping string
    * replacement — identical semantics in both engines. The 3 rules
    * resolve to driver literals once (the scalar-plan-constant
    * discipline); everything else is per-row string codegen. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = textBpePairs(spark, dir, 3).collect()
      .map(_.getString(0)).toSeq
    val toks = TokenHash.spreadDocs(spark, dir, "text")
      .select(col("doc_id"), explode(TokenHash.tokens(col("text"))).as("tok"))
    val spaced = concat(lit(" "),
      regexp_replace(col("tok"), lit("(.)"), lit("$1 ")))
    val enc = merges.foldLeft(spaced) { (c, m) =>
      call_function("replace", c,
        lit(s" ${m.charAt(0)} ${m.charAt(1)} "), lit(s" $m "))
    }
    toks
      .select(col("doc_id"), length(col("tok")).cast("long").as("nch"),
        size(split(trim(enc), " ")).cast("long").as("nu"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nch")).as("n_chars"), sum(col("nu")).as("n_units"))
      .withColumn("fertility",
        (col("n_units").cast("double") / col("n_chars").cast("double"))
          .cast("float"))
      .orderBy(col("doc_id"))
  }

  /** REAL BPE tokenizer training: the iterative count → select → merge →
    * RECOUNT loop (Sennrich et al.) that [[textBpeEncode]]'s single-round
    * demo deliberately skipped — after each merge the pair statistics are
    * recounted over the MERGED vocabulary, so later merges can select
    * pairs containing earlier merged units (the whole point of BPE).
    * Output is the learned merge table: (merge_rank, lhs, rhs, merged,
    * score) for `rounds` merges, score = the pair's occurrence-weighted
    * count at selection time; ties break (count desc, lhs, rhs).
    *
    * State is the word-frequency VOCABULARY (word, freq, sp) — the grain
    * real tokenizer trainers use (counting over the vocab weighted by
    * freq ≡ counting over occurrences), so per-round work is
    * |distinct words|, not corpus size: the one corpus-sized pass is the
    * initial groupBy. `sp` is the symbol string with DOUBLE-space
    * separators ("␣␣c₁␣␣c₂␣␣…"): a merge is then the plain literal
    * replace of " lhs␣␣rhs " with " lhsrhs " — the pattern consumes one
    * space from each flanking separator and the replacement restores
    * them, so consecutive overlapping matches (a run "a a a a" under
    * merge (a,a)) resolve to every-other-position, exactly BPE's greedy
    * left-to-right single pass, in ANY engine's non-overlapping
    * left-to-right `replace`. Single-space separators break here: the
    * shared boundary space makes adjacent matches overlap and
    * under-merge — measured, and pinned by the hand-fold spec.
    *
    * Scale shape: one tokenize+groupBy builds the vocab; each round is
    * ONE job — a map-only split/explode over the persisted vocab
    * (pair fanout bounded by word length, a data constant), a
    * map-side-combined count on the pair key, TakeOrdered(1) — and one
    * narrow map applies the merge into the next persisted generation
    * (parent unpersisted one round later, so nothing recomputes:
    * the round-13 constant-plan-per-round discipline, job-growth pinned
    * by DriverRound14Spec's SparkListener test). Exactness: integer
    * counts, literal string replaces — hash-exact in any engine; the
    * oracle replays the loop as `rounds` unrolled MATERIALIZED CTE
    * stages. A corpus that runs out of mergeable pairs before `rounds`
    * stops early and emits fewer rows (the oracle's empty-stage chain
    * degrades identically). */
  def textBpeTrain(spark: SparkSession, dir: String,
      rounds: Int = 16): DataFrame = {
    import spark.implicits._
    val (learned, _) = trainBpeShared(spark, dir, rounds)
    learned
      .map { case (r, pa, pb, cnt) => (r, pa, pb, pa + pb, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "score")
      .orderBy(col("merge_rank"))
  }

  /** Post-training unit census: the learned tokenizer's VOCABULARY —
    * apply all `rounds` merges (by re-running the training loop, whose
    * state already holds the fully-merged corpus) and count each
    * surviving symbol weighted by word frequency. `is_merged`
    * distinguishes merge-produced multi-char units from base
    * characters; the census is the unit-frequency table a tokenizer
    * ships beside its merge list. Unit keyspace is bounded by
    * |alphabet| + `rounds` — a constant — so the final aggregate is a
    * broadcast-sized panel at any corpus size. */
  def textBpeVocab(spark: SparkSession, dir: String,
      rounds: Int = 16): DataFrame = {
    val (_, vocab) = trainBpeShared(spark, dir, rounds)
    val out = vocab
      .select(col("freq"),
        explode(split(trim(col("sp")), "  ")).as("unit"))
      .groupBy(col("unit"))
      .agg(sum(col("freq")).as("n_occ"))
      .select(col("unit"), col("n_occ"),
        (length(col("unit")) > 1).as("is_merged"))
      .orderBy(col("n_occ").desc, col("unit"))
    // eager dump (bounded unit keyspace); the trained state itself
    // stays cached for the other BPE consumers
    val rows = out.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** Tokenizer FERTILITY audit — apply the trained `rounds`-merge BPE
    * to the whole corpus and report per language: words, post-merge
    * units, chars, fertility (units/word) and compression
    * (chars/unit). This is the number a tokenizer team actually ships
    * (how many units a language pays per word decides its effective
    * context length and training cost), and it exercises the full
    * train→apply→measure loop, not just training.
    *
    * Scale shape: application happens at the VOCAB grain — the trained
    * state already holds every distinct word fully merged, so
    * "tokenizing the corpus" is a (lang, word)-count aggregate joined
    * to the vocab panel; no per-occurrence string work at all. The
    * (lang, word) pre-aggregate collapses Zipf-head repeats before the
    * join (the unigram-LM discipline). Words shorter than 2 chars are
    * single units by definition (the training loop never splits them).
    * Exactness: integer sums, two exact divisions per lang row. */
  def textBpeFertility(spark: SparkSession, dir: String,
      rounds: Int = 16): DataFrame = {
    val (_, vocab) = trainBpeShared(spark, dir, rounds)
    val wordUnits = vocab.select(col("word"),
      size(split(trim(col("sp")), "  ")).cast("long").as("n_units"))
    val langWords = TokenHash.spreadDocs(spark, dir, "text", "lang")
      .select(col("lang"), explode(TokenHash.tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
    val out = langWords.join(wordUnits, Seq("word"), "left")
      .select(col("lang"), col("n"),
        coalesce(col("n_units"), lit(1L)).as("nu"),
        length(col("word")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("nu")).as("n_units"),
        sum(col("n") * col("nc")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_units"), col("n_chars"),
        (col("n_units").cast("double") / col("n_words").cast("double"))
          .cast("float").as("fertility"),
        (col("n_chars").cast("double") / col("n_units").cast("double"))
          .cast("float").as("chars_per_unit"))
      .orderBy(col("lang"))
    // eager dump (|langs| rows); the trained state stays cached
    val rows = out.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** The trained-BPE state, computed ONCE per (session, dir, corpus
    * fingerprint, rounds) and shared by the train/vocab/fertility
    * consumers — the same persisted-index discipline as [[TokenHash.tokenTf]]:
    * the three declared queries otherwise each re-run the full 16-round
    * loop (measured ~2 s apiece at sf0.1; one training, three probes
    * after this). Superseded generations free their checkpoint. */
  private def trainBpeShared(spark: SparkSession, dir: String,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) =
    IndexCache(spark, "text.bpe", (dir, rounds),
      Seq(s"$dir/documents.parquet"))(trainBpe(spark, dir, rounds))(
      p => freeCheckpoint(p._2))

  /** Release the storage behind a training-loop frame. `Dataset
    * .unpersist` only drops cache-manager entries, so for a
    * `localCheckpoint`-ed frame it is a NO-OP — the checkpoint's RDD
    * blocks (MEMORY_AND_DISK) would otherwise live until GC collects
    * the RDD, a storage leak on long-lived sessions. This walks the
    * plan to the backing checkpointed RDD and unpersists IT. Only call
    * once the frame is dead: a freed local checkpoint has no lineage
    * to recompute from. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); (): Unit
      case _ => ()
    }
  }

  /** The shared training loop: returns (merge table rows, final vocab
    * state (word, freq, sp) — still persisted/checkpointed; caller
    * unpersists). */
  private def trainBpe(spark: SparkSession, dir: String,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val vocab0 = table(spark, dir, "documents")
      .select(explode(TokenHash.tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(lit("  "),
          regexp_replace(col("word"), lit("(.)"), lit("$1  "))).as("sp"))
      .persist()
    // size the loop's partitioning to the REALIZED vocab (~64k words per
    // partition): the training rounds run over the vocab, which is
    // orders of magnitude smaller than the corpus, and leaving it at the
    // corpus-sized shuffle width makes every round pay ~32 tasks × 2
    // stages of pure scheduling floor — measured 20 s of a 16-round
    // train at sf0.1 with a ~50k-word vocab, ~4× less after this
    // coalesce. The count also materializes the persist, so the
    // coalesced child below reads from cache, not the corpus.
    val vocabRows = vocab0.count()
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      vocabRows / 65536L + 1L)).toInt
    var vocab = vocab0.coalesce(parts).persist()
    var prev: Option[DataFrame] = Some(vocab0)
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var live = true
    for (r <- 1 to rounds if live) {
      val best = vocab
        .select(col("freq"), split(trim(col("sp")), "  ").as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(col("freq"), col("ss"),
          explode(sequence(lit(1), size(col("ss")) - 1)).as("i"))
        .select(element_at(col("ss"), col("i")).as("pa"),
          element_at(col("ss"), col("i") + 1).as("pb"), col("freq"))
        .groupBy(col("pa"), col("pb")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb")).limit(1)
        .take(1).headOption
      // this round's action materialized `vocab`'s persist/checkpoint,
      // so the grandparent generation can drop without risking recompute
      // (freeCheckpoint, not unpersist: past round 1 these are local
      // checkpoints whose blocks Dataset.unpersist cannot release)
      prev.foreach(freeCheckpoint)
      prev = Some(vocab)
      best match {
        case Some(row) =>
          val pa = row.getString(0); val pb = row.getString(1)
          learned += ((r, pa, pb, row.getLong(2)))
          // localCheckpoint, NOT persist: a persist chain leaves round
          // r's LOGICAL plan r InMemoryRelations deep, and somewhere
          // past ~10 rounds the per-round analysis/cache-lookup cost on
          // that nested tree went super-linear (measured: rounds 1–8 ≤
          // 1.9 s total, rounds 16 = 30 s). The eager checkpoint cuts
          // lineage to a flat scan so every round's plan is depth-1 —
          // the graph_pagerank_deep truncation discipline.
          vocab = vocab.withColumn("sp",
            call_function("replace", col("sp"),
              lit(s" $pa  $pb "), lit(s" $pa$pb "))).localCheckpoint(true)
        case None => live = false
      }
    }
    // on merge exhaustion (best=None) `prev` ALIASES the returned
    // vocab — freeing it would destroy the live state the callers
    // probe (with the old no-op unpersist this was silently harmless)
    prev.filter(_ ne vocab).foreach(freeCheckpoint)
    (learned.toSeq, vocab)
  }

  /** TF-IDF term weighting: term frequency per (doc, term), document
    * frequency per term over the WHOLE corpus, idf = ln((N+1)/(df+1))+1
    * (smoothed). Two aggregations + a broadcast of the 1-row corpus count
    * — no driver-side loop. Output restricted to doc_id < 30 for a
    * bounded dump; the df/idf statistics still use every document. ln is
    * the one non-IEEE-exact op here: both engines compute it on identical
    * doubles and the REAL cast absorbs last-ulp libm differences. */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tf = TokenHash.tokenTf(spark, dir)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .filter(col("doc_id") < 30)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0))).cast("float").as("tfidf"))
      .orderBy(col("doc_id"), col("tok"))
  }

  /** Keyword extraction: the top-k terms per document by TF-IDF — the
    * summarization/tagging primitive built on [[textTfidf]]'s exact
    * integer inputs (tf, df, N). Ranking compares doubles both engines
    * derive from identical integer rationals; distinct terms with equal
    * (tf, df) score mathematically equal and fall to the token
    * tie-break, so that selection is cross-engine deterministic.
    *
    * Accepted residual risk (same class the rrf_fusion oracle
    * documents): terms with DIFFERENT (tf, df) whose scores differ by
    * less than one double ulp could rank differently if JVM log and
    * DuckDB ln round that last bit differently. No exact integer
    * surrogate exists — score order tf1·ln(r1) vs tf2·ln(r2) reduces to
    * comparing r1^tf1 vs r2^tf2, unbounded-precision integers — and
    * near-coincidences at the 1e-16 relative scale have never appeared
    * in any generated corpus; if one ever does, the ranked window makes
    * the mismatch visible as a single-row hash diff, not silent drift.
    *
    * Scale shape: the rank window partitions on doc_id, and a document's
    * distinct-term count is bounded by its own length — per-group work
    * is O(doc length), independent of corpus size (this is why a window
    * is scale-correct HERE while group-wide rankings ride
    * [[graft.functions.TopKByScore]]). */
  def textKeywordsTopk(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tf = TokenHash.tokenTf(spark, dir)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"),
        col("tfidf").cast("float").as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Cross-document boilerplate detection: split each doc into
    * non-overlapping 8-token chunks, count each chunk hash's document
    * frequency, and report per doc the fraction of chunks that appear
    * in ≥3 documents — navboxes, license headers, and template text
    * score high and get stripped before near-dup ever runs (the
    * CCNet-style curation pass). The CROSS-document complement of
    * [[textRepetition]]'s within-document n-gram rates.
    *
    * Scale shape: chunking is per-row array arithmetic; the df table is
    * one map-side-combined aggregate on the chunk hash (md5-60, uniform
    * — no skew); the boilerplate verdict joins back on the hash with
    * ids only. Exactly the decontamination plan shape, pointed at the
    * corpus itself. */
  def textBoilerplateFrac(spark: SparkSession, dir: String,
      chunkTokens: Int = 8, minDf: Int = 3): DataFrame = {
    val chunks = TokenHash.spreadDocs(spark, dir, "text")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
      // sequence(0, -1) would generate a DESCENDING ramp, not empty —
      // short docs are excluded before the ramp is built
      .filter(size(col("t")) >= chunkTokens)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          (size(col("t")) / chunkTokens).cast("int") - 1)).as("ci"),
        col("t"))
      .select(col("doc_id"),
        TokenHash.hash60(concat_ws(" ",
          slice(col("t"), col("ci") * chunkTokens + lit(1),
            lit(chunkTokens)))).as("h"))
    val df = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    chunks.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        (col("n_boiler").cast("double") / col("n_chunks").cast("double"))
          .cast("float"))
      .orderBy(col("doc_id"))
  }

  /** Okapi BM25 term scoring (k1=1.2, b=0.75): the retrieval-grade
    * refinement of TF-IDF with document-length normalization. All inputs
    * (tf, df, dl, N) are exact integers, avgdl is one exact double
    * division, so both engines evaluate the formula on identical doubles;
    * the REAL cast absorbs last-ulp libm ln differences. */
  def textBm25(spark: SparkSession, dir: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tf = TokenHash.tokenTf(spark, dir)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dl = TokenHash.docLengths(spark, dir)
    val n = docs.agg(count(lit(1)).as("n"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val idf = log((col("n") - col("df") + lit(0.5))
      / (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") + lit(k1) * (lit(1.0) - lit(b)
      + lit(b) * col("dl") / col("avgdl"))
    tf.join(dfreq, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avgdl))
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("dl"),
        (idf * col("tf") * lit(k1 + 1.0) / norm).cast("float").as("bm25"))
      .orderBy(col("doc_id"), col("tok"))
  }

  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = TokenHash.tokens(col("text"))
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val wordArr = array(words.map(lit): _*)
      struct(
        (size(array_intersect(array_distinct(toks), wordArr)).cast("double")
          / lit(words.size.toDouble)).as("score"),
        lit(lang).as("lang"))
    }
    // argmax with deterministic tiebreak: array_max on (score, lang) structs
    // compares lexicographically — highest score, then latest lang name;
    // no-hit (score 0) → 'und'
    val best = array_max(array(scores: _*))
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang").as("lang_labeled"),
        when(best.getField("score") > 0, best.getField("lang"))
          .otherwise(lit("und")).as("lang_detected"),
        best.getField("score").as("lid_score"))
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model scoring: per-document average token
    * log-probability under the corpus's own unigram distribution — the
    * classic cheap perplexity-style quality filter (gibberish and
    * boilerplate score far from the corpus mean). ln p(tok) =
    * ln(count(tok)) − ln(total).
    *
    * Scale shape: term frequencies aggregate per (doc, token) FIRST — a
    * well-distributed shuffle key that also collapses each doc's repeated
    * head tokens to one row BEFORE the token-keyed join, which is what
    * bounds the Zipf-head skew of the vocabulary join (AQE splits any
    * residual hot token); per-doc scoring then re-aggregates on doc_id.
    * The per-doc Σ tf·ln p runs in double and is cast to float32 — group
    * summation order is engine-dependent in the last double ulp and the
    * REAL cast absorbs it. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tf = TokenHash.tokenTf(spark, dir)
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    tf.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf") * (log(col("cnt")) - log(col("total"))))
          / sum(col("tf"))).cast("float").as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** HELD-OUT unigram perplexity — [[unigramLogprob]] scores each doc
    * under a model trained on the whole corpus INCLUDING itself; this
    * is the leak-free discipline an eval actually requires: the LM
    * trains on the even-doc_id half (+1 Laplace smoothing over the
    * train vocabulary) and scores only the odd half, reporting per doc
    * the token count, the OOV token count (the signal smoothing hides)
    * and the average negative log-likelihood. The spread of avg_nll
    * across held-out docs is the quality-filter threshold CCNet-style
    * pipelines tune on.
    *
    * Exactness: counts are BIGINTs; ln((cnt+1)/(total+V)) is evaluated
    * as ln(cnt+1) − ln(total+V) from exact integers; the per-doc Σ
    * runs in double and the REAL cast absorbs group-order ulps (the
    * [[unigramLogprob]] rule).
    *
    * Scale shape: identical to the unigram LM — (doc, tok) grain
    * first, Zipf-head collapse before the vocab join, 1-row totals
    * broadcast. */
  def textHeldoutPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val tf = TokenHash.tokenTf(spark, dir)
    val vocab = tf.filter(col("doc_id") % 2 === 0)
      .groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("v"))
    tf.filter(col("doc_id") % 2 === 1)
      .join(vocab, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("total"), col("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("cnt") === 0, col("tf")).otherwise(0L)).as("n_oov"),
        (-sum(col("tf") * (log(col("cnt") + 1) - log(col("total") + col("v"))))
          / sum(col("tf"))).cast("float").as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Token-distribution Shannon entropy per document: H = ln n −
    * (Σ tf·ln tf)/n, in nats, plus the distinct-token count — low
    * entropy flags repetitive/templated text, complementing
    * [[graft.query.TextAnalysis.textRepetition]]'s bigram view. One explode
    * + one (doc, token) aggregate + one per-doc aggregate; tokens never
    * leave their doc's partition group after the first combine. Double
    * math, float32 output (group-sum order absorbs in the cast). */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    TokenHash.tokenTf(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (log(sum(col("tf")))
          - sum(col("tf") * log(col("tf"))) / sum(col("tf")))
          .cast("float").as("entropy"))
      .orderBy(col("doc_id"))

  /** Pointwise mutual information of the corpus's top-`k` adjacent word
    * bigrams: pmi = ln( (c_ab/B) / ((c_a/T)·(c_b/T)) ) — the standard
    * collocation detector ("new york" scores high, "of the" low).
    *
    * Scale shape: adjacent-pair generation is linear in corpus size
    * (explode(sequence) + element_at, fully codegen'd — never the O(len²)
    * all-pairs form); both count aggregates are map-side combined; the
    * top-k is TakeOrdered on the exact integer count (deterministic
    * tiebreak on the gram text — never a rank on a float); and the
    * unigram lookup BROADCASTS the k survivors against the vocabulary
    * scan (the vocabulary is never the broadcast side — it grows with
    * the corpus; the survivors don't). */
  def cooccurPmi(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // NOT spread: uni/bi/totals each re-consume `toks`, so a spread
    // exchange would re-run the narrow scan+shuffle per subtree —
    // measured 0.46 → 0.91 s at sf0.1 (the multi-consumer caveat on
    // [[TokenHash.spreadDocs]])
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val totalUni = toks.select(size(col("t")).cast("long").as("n"))
      .agg(sum(col("n")).as("t_total"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(element_at(col("t"), col("i")).as("a"),
        element_at(col("t"), col("i") + 1).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val totalBi = bi.agg(sum(col("n_ab")).as("b_total"))
    val top = bi.orderBy(col("n_ab").desc, col("a"), col("b")).limit(k)
    val withA = uni.select(col("tok").as("a"), col("cu").as("n_a"))
      .join(broadcast(top), Seq("a"))
    val withB = uni.select(col("tok").as("b"), col("cu").as("n_b"))
      .join(broadcast(withA), Seq("b"))
    withB
      .crossJoin(broadcast(totalUni))
      .crossJoin(broadcast(totalBi))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        (log(col("n_ab").cast("double") / col("b_total"))
          - log(col("n_a").cast("double") / col("t_total"))
          - log(col("n_b").cast("double") / col("t_total")))
          .cast("float").as("pmi"))
      .orderBy(col("n_ab").desc, col("a"), col("b"))
  }

  /** Inverted-index build: term → document frequency + sorted posting
    * list — the retrieval-side index a search/RAG pipeline materializes
    * from the corpus. Postings emit as a comma-joined string (sorted
    * doc ids) so the gate hash-compares them. Stop-terms (df > maxDf)
    * and rare terms (df < minDf) are cut AFTER the aggregate — at scale
    * that filter is what keeps posting lists bounded (the classic
    * stopword cut), and the groupBy(term) shuffle carries (term,
    * doc_id) pairs only, pre-combined map-side by the distinct. */
  def textInvertedIndex(spark: SparkSession, dir: String,
      maxDoc: Long = 200L, minDf: Long = 3L, maxDf: Long = 150L): DataFrame =
    table(spark, dir, "documents")
      .filter(col("doc_id") < maxDoc)
      .select(col("doc_id"), explode(TokenHash.tokens(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("postings"))
      .filter(col("df").between(minDf, maxDf))
      .orderBy(col("term"))

  /** Top-n-gram coverage (the Gopher-style `rep_top_2gram` repetition
    * filter): per document, the single most frequent word bigram and
    * the fraction of the token stream / normalized characters it
    * covers. Complements [[graft.query.TextAnalysis.textRepetition]]
    * (distinct/total ratio): a doc can have low overall repetition but
    * one pathologically dominant phrase — this is the filter that
    * catches boilerplate headers and SEO keyword stuffing.
    *
    * Scale shape: groupBy(doc_id, gram) is a uniform high-cardinality
    * partial-agg shuffle; the argmax window partitions by doc_id (never
    * global). Ratios are single double divisions of exact integers —
    * bit-identical cross-engine per the numeric discipline on
    * [[graft.query.Warehouse]]. */
  def textTopNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TokenHash.spreadDocs(spark, dir, "text")
      .select(col("doc_id"),
        length(TokenHash.normText(col("text"))).cast("long").as("n_chars"),
        TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val counts = toks
      .select(col("doc_id"), col("n_chars"),
        explode(TokenHash.shinglesFromTokens(col("t"), 2)).as("g"))
      .groupBy(col("doc_id"), col("n_chars"), col("g"))
      .agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n_bigrams", sum(col("cnt")).over(byDoc))
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("cnt").desc, col("g"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("g").as("top_gram"),
        col("cnt").as("top_count"), col("n_bigrams"),
        (col("cnt").cast("double") / col("n_bigrams")).as("top_frac"),
        (col("cnt").cast("double") * length(col("g")) / col("n_chars"))
          .as("char_cov"))
      .orderBy(col("doc_id"))
  }

  /** Corpus diversity report per (lang, source) stratum: document count,
    * token mass, vocabulary size, and type–token ratio — the
    * composition/diversity dashboard a corpus curator reads before
    * setting mixture weights (a stratum whose TTR collapses is template
    * spam; one whose vocabulary explodes is noise).
    *
    * Scale shape: tokenize→explode once, then ONE aggregation on the
    * (lang, source) stratum key with a two-distinct expand (docs,
    * types) — the stratum keyspace is tiny, so partial aggregation
    * collapses the exploded mass before the shuffle. */
  def corpusDiversityStats(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "documents")
      .select(col("lang"), col("source"), col("doc_id"),
        explode(TokenHash.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"),
        (countDistinct(col("tok")).cast("double")
          / count(lit(1)).cast("double")).cast("float")
          .as("type_token_ratio"))
      .orderBy(col("lang"), col("source"))
  }

  /** PII scan report per source: occurrence counts of email / US-phone /
    * IPv4 / 16-digit-PAN patterns and the count of flagged documents —
    * the AGGREGATE compliance dashboard beside `text_scrub` (which
    * redacts): a corpus release gate reads this report per source before
    * deciding what to scrub or drop. Patterns are deliberately in the
    * regex subset Java and DuckDB/RE2 evaluate identically.
    *
    * Scale shape: per-row regexp counts inside codegen (no explode — a
    * document never leaves its partition), one map-side-combined
    * aggregation on the source key. */
  def piiScanReport(spark: SparkSession, dir: String): DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
    table(spark, dir, "documents")
      .select(col("source"),
        cnt("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}").as("e"),
        cnt("[0-9]{3}-[0-9]{3}-[0-9]{4}").as("p"),
        cnt("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}").as("i"),
        cnt("[0-9]{16}").as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("e")).as("n_email"), sum(col("p")).as("n_phone"),
        sum(col("i")).as("n_ipv4"), sum(col("c")).as("n_pan16"),
        count(when(col("e") + col("p") + col("i") + col("c") > 0, 1))
          .as("n_flagged"))
      .orderBy(col("source"))
  }

  /** Context-length band histogram: documents bucketed by the integer
    * log2 of their token count (the [[skew_profile]] band convention —
    * `length(bin(n)) - 1`, pure integer string ops, no float log) — the
    * planning input for sequence packing and context-window budgeting
    * (how much of the corpus fits 2^k-token windows).
    *
    * Scale shape: tokenize → size() per row (no explode), one
    * aggregation on the ~16-value band key. */
  def contextLengthBands(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(size(TokenHash.tokens(col("text"))).cast("long").as("n"))
      .select(col("n"), (length(bin(col("n"))) - 1).cast("int").as("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), min(col("n")).as("min_tokens"),
        max(col("n")).as("max_tokens"),
        sum(col("n")).as("total_tokens"))
      .orderBy(col("band"))

  /** Per-document mean log-probability under an add-1-smoothed corpus
    * BIGRAM language model: ln((c(w1,w2)+1)/(c(w1)+V)) averaged over the
    * document's bigram positions — the bigram upgrade of
    * `text_unigram_logprob` (fluency scoring that, unlike unigram,
    * penalizes improbable word ORDER, the standard cheap quality filter
    * between heuristics and a neural LM).
    *
    * Scale shape: the bigram stream is computed once and the two count
    * statistics attach as WINDOW aggregates over it (count over
    * (w1, w2), count over (w1)) — no join of the stream against its own
    * aggregation, so the corpus-sized gram table shuffles exactly twice
    * regardless of vocabulary size; the vocabulary scalar broadcasts. */
  def textBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = TokenHash.spreadDocs(spark, dir, "text")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
    val v = grams.agg(countDistinct(col("w2")).as("v"))
    grams
      .withColumn("cbg",
        count(lit(1)).over(Window.partitionBy(col("w1"), col("w2"))))
      .withColumn("cug", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(log((col("cbg").cast("double") + 1.0)
          / (col("cug").cast("double") + col("v").cast("double"))))
          / count(lit(1)).cast("double")).cast("float").as("mean_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style per-document quality rules (Rae et al. 2021 §A1.1,
    * adapted to this corpus's flat word-soup text): token count, distinct
    * ratio, mean word length, top-token dominance, and stopword fraction,
    * plus the composite pass flag. All statistics are probes of the
    * persisted [[TokenHash.tokenTf]] index — one small aggregate per doc, NO
    * re-tokenization scan; at 100 TB the rules read the maintained corpus
    * index, they never re-shingle the corpus per rule change. */
  def textGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val g = TokenHash.tokenTf(spark, dir).groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        max(col("tf")).cast("long").as("max_tf"),
        sum(col("tf") * length(col("tok"))).cast("long").as("sum_len"),
        sum(when(col("tok").isin("the", "a"), col("tf")).otherwise(0L))
          .cast("long").as("stop_tf"))
    val meanWl = col("sum_len").cast("double") / col("n_tokens").cast("double")
    val topFrac = col("max_tf").cast("double") / col("n_tokens").cast("double")
    val stopFrac = col("stop_tf").cast("double") / col("n_tokens").cast("double")
    g.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        meanWl.as("mean_word_len"), topFrac.as("top_tok_frac"),
        stopFrac.as("stop_frac"),
        (col("n_tokens") >= 20 && meanWl >= 3.0 && meanWl <= 10.0
          && topFrac <= 0.15 && stopFrac >= 0.02).as("pass_gopher"))
      .orderBy(col("doc_id"))
  }

  /** Flesch reading-ease and Flesch–Kincaid grade per document — the
    * classic readability scores a curation stack reports beside the
    * Gopher gates (too-low reading ease flags boilerplate/gibberish;
    * too-high grade flags legalese/spam keyword stuffing). Counts are
    * cheap regex surrogates, the standard large-corpus convention:
    * words = whitespace tokens, sentences = terminator runs `[.!?]+`,
    * syllables = vowel-group runs `[aeiouy]+` over the lowercased text
    * (a vowel group never spans whitespace, so the corpus-wide count
    * equals the per-word sum without a word explode).
    *
    * Exactness: all three counts are exact integers from the SAME
    * regex in both engines (RE2 ∩ java.util.regex subset); the two
    * scores are fixed-order double formulas under REAL casts.
    * Zero-sentence docs emit null scores (ANSI x/0 discipline).
    *
    * Scale shape: map-only per-doc regex counts + ordered dump — no
    * shuffle, embarrassingly parallel. */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val lowered = lower(col("text"))
    val d = table(spark, dir, "documents")
      .select(col("doc_id"),
        size(TokenHash.tokens(col("text"))).cast("long").as("n_words"),
        regexp_count(col("text"), lit("[.!?]+")).cast("long")
          .as("n_sentences"),
        regexp_count(lowered, lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    d.select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_sentences") > 0 && col("n_words") > 0,
          lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
          .cast("float").as("flesch_ease"),
        when(col("n_sentences") > 0 && col("n_words") > 0,
          lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
          .cast("float").as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** Zipf rank-frequency fit over the corpus vocabulary: OLS slope and
    * intercept of ln(freq) ~ ln(rank) for the top `topN` terms — the
    * one-number lexical-naturalness diagnostic (natural language ≈ −1;
    * boilerplate/generated corpora drift toward 0 or −2).
    *
    * Scale shape: term totals are one map-side-combined aggregate over
    * the persisted [[TokenHash.tokenTf]] index; the fit reads only the top-N
    * terms, so the vocabulary reduces to a ≤ topN PANEL first
    * (TakeOrdered — a per-partition heap, never a global sort or an
    * unpartitioned window over the vocabulary grain) and the rank
    * window runs over that panel; the OLS fold is a one-row
    * closed-form aggregate. */
  def textZipfSlope(spark: SparkSession, dir: String,
      topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = TokenHash.tokenTf(spark, dir).groupBy(col("tok"))
      .agg(sum(col("tf")).cast("long").as("freq"))
    val ranked = totals
      .orderBy(col("freq").desc, col("tok")).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val a = ranked.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    a.select(col("n").cast("long").as("n_terms"),
      slope.cast("float").as("zipf_slope"),
      ((col("sy") - slope * col("sx")) / col("n"))
        .cast("float").as("zipf_intercept"))
  }

  /** Dunning log-likelihood-ratio collocations: the top-k adjacent token
    * pairs whose co-occurrence is most above chance under the G² test —
    * the phrase detector that (unlike raw PMI) does not explode on rare
    * pairs. Contingency counts per pair come from the corpus bigram
    * table; LLR = 2·(Σ f(k_ij) + f(N) − Σ f(margins)) with f(x)=x·ln x.
    *
    * Scale shape: bigram/margin counts are map-side-combined aggregates
    * on uniform token keys; margins join back by token (two shuffles of
    * the BIGRAM TABLE, not the corpus); N broadcasts as one row;
    * TakeOrdered top-k. */
  def textLlrCollocations(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val grams = table(spark, dir, "documents")
      .select(TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
    val bg = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("k11"))
    val ca = grams.groupBy(col("w1")).agg(count(lit(1)).cast("long").as("ca"))
    val cb = grams.groupBy(col("w2")).agg(count(lit(1)).cast("long").as("cb"))
    val nTot = grams.agg(count(lit(1)).cast("long").as("ntot"))
    def f(c: Column): Column =
      when(c > 0.0, c * log(c)).otherwise(lit(0.0))
    val j = bg.join(ca, Seq("w1")).join(cb, Seq("w2"))
      .crossJoin(broadcast(nTot))
    def d(c: Column): Column = c.cast("double")
    val k11 = d(col("k11")); val k12 = d(col("ca")) - k11
    val k21 = d(col("cb")) - k11
    val k22 = d(col("ntot")) - d(col("ca")) - d(col("cb")) + k11
    val llr = lit(2.0) * (f(k11) + f(k12) + f(k21) + f(k22) + f(d(col("ntot")))
      - f(k11 + k12) - f(k21 + k22) - f(k11 + k21) - f(k12 + k22))
    j.select(col("w1"), col("w2"), col("k11").as("n_pair"),
        llr.cast("float").as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Corpus hapax statistics: vocabulary size, hapax legomena count
    * (terms occurring exactly once corpus-wide), their share of the
    * vocabulary, and the token-mass share of the top-10 terms — the
    * vocabulary-health companion to [[textZipfSlope]] (a natural corpus
    * runs ~40-60% hapax; near 0% signals template/generated text).
    * One aggregate over the persisted [[TokenHash.tokenTf]] index; the top-10
    * mass reads a TakeOrdered ≤ 10-row panel (never a rank window over
    * the unbounded vocabulary grain). */
  def textHapaxStats(spark: SparkSession, dir: String): DataFrame = {
    val totals = TokenHash.tokenTf(spark, dir).groupBy(col("tok"))
      .agg(sum(col("tf")).cast("long").as("freq"))
    val top10 = totals.orderBy(col("freq").desc, col("tok")).limit(10)
      .agg(coalesce(sum(col("freq")), lit(0L)).cast("long")
        .as("top10_tokens"))
    totals.agg(
        count(lit(1)).as("n_vocab"),
        sum(col("freq")).cast("long").as("n_tokens"),
        sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .crossJoin(broadcast(top10))
      .select(col("n_vocab"), col("n_tokens"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_vocab").cast("double"))
          .as("hapax_ratio"),
        (col("top10_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("top10_mass"))
  }

  /** Quality-filter ablation report: document and character counts for
    * every combination of three cheap curation gates (size, language,
    * stopword presence) via CUBE — the table a corpus curator reads
    * before committing a filter stack, showing what each gate and each
    * interaction would remove. The same expand+aggregate shape as
    * `agg_cube`; one scan, tiny output. */
  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` token vocabulary — the tokenizer-fit diagnostic
    * run before committing a vocab budget (docs with high OOV fragment
    * into byte-level tokens and blow up sequence length).
    *
    * Scale shape: vocabulary = one aggregate over the persisted
    * [[TokenHash.tokenTf]] index + a global top-N PANEL (TakeOrdered, tiny,
    * broadcasts — never a rank window over the unbounded vocabulary
    * grain); the per-doc pass is a broadcast anti-join of the SAME
    * index — the corpus text is never re-tokenized. */
  def textOovRate(spark: SparkSession, dir: String,
      vocabSize: Int = 256): DataFrame = {
    val tf = TokenHash.tokenTf(spark, dir)
    val vocab = tf.groupBy(col("tok"))
      .agg(sum(col("tf")).cast("long").as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(vocabSize)
      .select(col("tok"))
    val oov = tf.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("n_oov"))
    TokenHash.docLengths(spark, dir)
      .join(oov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dl").cast("long").as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        (coalesce(col("n_oov"), lit(0L)).cast("double")
          / col("dl").cast("double")).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  def qualityAblationReport(spark: SparkSession, dir: String): DataFrame = {
    // rolled-up flag levels surface as the 'all' sentinel, not NULL:
    // the report reads as a table, and NULL booleans round-trip
    // asymmetrically through the comparison harness
    def flag(c: Column): Column = coalesce(c.cast("string"), lit("all"))
    table(spark, dir, "documents")
      .select(col("n_chars"),
        (col("n_chars") >= 200).as("so"),
        (col("lang") === "en").as("le"),
        col("text").contains(" the ").as("hs"))
      .cube(col("so"), col("le"), col("hs"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_total"))
      .select(flag(col("so")).as("size_ok"), flag(col("le")).as("lang_en"),
        flag(col("hs")).as("has_stop"), col("gid"), col("n_docs"),
        col("chars_total"))
      .orderBy(col("gid"), col("size_ok"), col("lang_en"), col("has_stop"))
  }

  /** Rarest span per document: the 20-bigram sliding window whose
    * corpus bigram-frequency sum is SMALLEST (ties → earliest start) —
    * span-level quality localization (the gibberish stretch inside an
    * otherwise-fine document that document-level scores average away;
    * real curation pipelines trim spans, not documents). The selection
    * criterion is an INTEGER window sum, deliberately: engines
    * associate sliding float sums differently (segment trees vs
    * per-frame recompute), and an argmin over float near-ties would
    * flip between them — rarity ranks the same way under the integer
    * sum, and the selection stays bit-deterministic.
    *
    * Scale shape: bigram counts come from one corpus aggregation joined
    * back by key (bounded fanout — bigram vocabulary, not corpus
    * size); the sliding sum and argmin are one doc-partitioned window
    * pass + one map-side-combined min-of-struct aggregate. */
  def textRareSpan(spark: SparkSession, dir: String,
      span: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = TokenHash.spreadDocs(spark, dir, "text")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"), col("i"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
    val counts = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cbg"))
    val scored = grams.join(counts, Seq("w1", "w2"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(0, span - 1)
    scored
      .select(col("doc_id"), col("i"),
        sum(col("cbg")).over(w).as("span_freq_sum"),
        count(lit(1)).over(w).as("span_n"))
      .filter(col("span_n") === span)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        min(struct(col("span_freq_sum"), col("i"))).as("worst"))
      .select(col("doc_id"), col("n_windows"),
        col("worst.i").cast("long").as("span_start"),
        col("worst.span_freq_sum").as("span_freq_sum"))
      .orderBy(col("doc_id"))
  }

  /** Kneser–Ney smoothed bigram language model — THE classic LM
    * smoothing (the one n-gram toolkits default to): for every bigram
    * with count ≥ `minCount`,
    * P_KN(w₂|w₁) = max(c − D, 0)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) ·
    * N₁₊(·w₂)/N₁₊(··) — absolute discounting plus the continuation
    * probability that makes KN distinct (how many contexts w₂ ever
    * follows, not how often).
    *
    * Exactness: all five statistics are integers; D = 0.75 is exactly
    * representable; the probability is four IEEE ops in one fixed
    * parenthesization — NO libm anywhere — so p_kn is hash-compared as
    * a raw DOUBLE, no float cast needed.
    *
    * Scale shape: bigram and unigram-context counts are map-side-
    * combined aggregates on an (alphabet²-bounded here, Zipf-bounded in
    * general) keyspace; the three statistics tables join back on their
    * own keys; the corpus-wide N₁₊(··) is one broadcast scalar row. */
  def textKneserNey(spark: SparkSession, dir: String,
      discount: Double = 0.75, minCount: Long = 5L): DataFrame = {
    val grams = table(spark, dir, "documents")
      .select(TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
    val big = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("n_after"))
    val cont = big.groupBy(col("w2"))
      .agg(count(lit(1)).as("n_before"))
    val nBig = big.agg(count(lit(1)).as("n_big"))
    big.filter(col("c") >= minCount)
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("c"), col("c1"),
        col("n_after"), col("n_before"),
        (greatest(col("c").cast("double") - lit(discount), lit(0.0))
          / col("c1")
          + lit(discount) * col("n_after") / col("c1")
          * (col("n_before").cast("double") / col("n_big")))
          .as("p_kn"))
      .orderBy(col("w1"), col("w2"))
  }

  /** DSIR-style importance log-weights for domain-targeted data
    * selection (Xie et al.'s data selection with importance resampling,
    * hashed-n-gram flavor): tokens hash into `buckets` buckets, the
    * target distribution is the `targetLang` slice of the corpus, and a
    * document's log-weight is Σ_tok tf · [ln p̂_target(bucket) −
    * ln p̂_source(bucket)] with add-one smoothing — documents that look
    * like the target domain score high and are what a targeted
    * pretraining mix keeps.
    *
    * Bucket counts are exact integers; each log term is ln of an
    * integer rational; the per-doc sum rides the established REAL-cast
    * discipline (absorbs summation-order ulp drift, like
    * [[unigramLogprob]]).
    *
    * Scale shape: the bucket distributions are two ≤`buckets`-row
    * map-side-combined aggregates over the persisted [[TokenHash.tokenTf]]
    * index, broadcast back onto it; the per-doc reduce is one doc-key
    * aggregate. Nothing corpus-sized shuffles except that one doc-keyed
    * combine. */
  def corpusDsirWeights(spark: SparkSession, dir: String,
      targetLang: String = "en", buckets: Int = 64): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val tb = TokenHash.tokenTf(spark, dir)
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        pmod(TokenHash.hash60(col("tok")), lit(buckets.toLong)).as("bucket"),
        col("tf"))
    val source = tb.groupBy(col("bucket"))
      .agg(sum(col("tf")).as("cs"))
    val target = tb.filter(col("lang") === targetLang)
      .groupBy(col("bucket")).agg(sum(col("tf")).as("ct"))
    val totals = tb.agg(
      sum(col("tf")).as("ts"),
      sum(when(col("lang") === targetLang, col("tf")).otherwise(lit(0L)))
        .as("tt"))
    val dist = source
      .join(target, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log(col("ct") + lit(1)) - log(col("tt") + lit(buckets))
          - log(col("cs") + lit(1)) + log(col("ts") + lit(buckets)))
          .as("logratio"))
    tb.join(broadcast(dist), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("logratio")).cast("float").as("dsir_logweight"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking (Rabin-style): a chunk boundary falls
    * AFTER token i wherever the rolling 4-gram hash ending at i lands
    * in a 1/32 bucket ([[TokenHash.hash60]] % 32 = 0), plus a forced final
    * boundary at the document end — the dedup-friendly splitter
    * (backup dedup, RAG chunk stores, CAS blob stores) whose defining
    * property fixed-size chunking lacks: an edit near the front moves
    * only the chunk it touches, because every later boundary is decided
    * by LOCAL content. The planted near-dup twins (one-word prefix
    * edit) make the property visible on this corpus: twin and original
    * share every chunk hash after the first boundary (pinned by spec).
    * Expected chunk length is the 32-token bucket modulus.
    *
    * Scale shape: entirely map-only — boundary detection, span
    * construction, and chunk hashing are higher-order expressions over
    * each doc's token array (no explode-then-window, no shuffle); the
    * final explode just unnests the result rows. Output:
    * (doc_id, chunk_idx, start_tok, n_toks, chunk_hash). */
  def textCdcChunking(spark: SparkSession, dir: String,
      modulus: Int = 32): DataFrame = {
    val endsExpr =
      s"""filter(sequence(1, size(t)), i -> i = size(t) OR (i >= 4 AND
         |  CAST(conv(substring(md5(concat_ws(' ', slice(t, i - 3, 4))),
         |    1, 15), 16, 10) AS BIGINT) % $modulus = 0))""".stripMargin
    graft.schema.Schemas.spread(spark, dir, "documents",
        TokenHash.withPlantedNearDups(table(spark, dir, "documents"))
          .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .withColumn("ends", expr(endsExpr))
      .withColumn("starts", expr(
        """transform(ends, (e, j) ->
          |  CASE WHEN j = 0 THEN 1 ELSE element_at(ends, j) + 1 END)"""
          .stripMargin))
      .select(col("doc_id"), col("t"), posexplode(
        expr("zip_with(starts, ends, (s, e) -> struct(s, e))"))
        .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"),
        col("c.s").as("start_tok"),
        (col("c.e") - col("c.s") + 1).as("n_toks"),
        TokenHash.hash60(expr("concat_ws(' ', slice(t, c.s, c.e - c.s + 1))"))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Green-list watermark detection (the Kirchenbauer-et-al. scheme's
    * detector side): a token is "green" iff a hash SEEDED BY ITS
    * PREDECESSOR lands in the γ = 1/4 green partition of the
    * vocabulary — here the [[TokenHash.hash60]] of the bigram "prev cur"
    * mod 4 — and a document whose green fraction sits far above γ
    * carries the watermark. Emits per doc the scored-token count, the
    * green count, the green fraction, and the one-proportion z score
    * ((g − γ·n)/√(n·γ(1−γ))) the published detector thresholds on.
    * Unwatermarked text (this corpus) should hover near z = 0 — the
    * operator is the DETECTOR plumbing; a generator-side green bias is
    * what moves z.
    *
    * Scale shape: entirely map-only — the bigram green test runs as a
    * higher-order `filter` over each doc's shingle array inside one
    * projection (no explode, no shuffle, no per-token rows), and γ,
    * γ(1−γ) are exact binary fractions (1/4, 3/16) so the z arithmetic
    * replays bit-identically. The md5-based green test is the
    * cross-engine stand-in for the scheme's PRF; a production detector
    * swaps the hash, not the plan. */
  def textWatermarkDetect(spark: SparkSession, dir: String): DataFrame = {
    val greenCount =
      """size(filter(bg, s ->
        |  CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % 4 = 0
        |))""".stripMargin
    // map-only by pinned contract (DriverRound13Spec): no exchange, the
    // green test runs inside the projection — the right 100 TB shape
    table(spark, dir, "documents")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        TokenHash.shinglesFromTokens(col("t"), 2).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_scored"),
        expr(greenCount).cast("long").as("n_green"))
      .select(col("doc_id"), col("n_scored"), col("n_green"),
        (col("n_green").cast("double") / col("n_scored").cast("double"))
          .as("green_frac"),
        ((col("n_green").cast("double") -
          lit(0.25) * col("n_scored").cast("double")) /
          sqrt(col("n_scored").cast("double") * lit(0.1875))).as("z"))
      .orderBy(col("doc_id"))
  }

  // ---- n-gram generation-eval metrics (BLEU / ROUGE-N) -------------------

  /** Corpus entropy RATE: the conditional bigram entropy H(X₂|X₁) =
    * −Σ_ab p(ab)·ln p(b|a) next to the unigram entropy H(X) — their
    * ratio is the corpus's predictability (natural text sits well
    * below 1; shuffled or templated text approaches its own unigram
    * ceiling). Complements the per-document [[textEntropy]] and the
    * rank-slope [[TextAnalysis]] Zipf view with the corpus-level
    * sequential-structure statistic.
    *
    * All counts are BIGINTs; the Σ c·ln c folds run in double with the
    * REAL cast absorbing group-order ulps (the [[unigramLogprob]] /
    * js_divergence rule). Shapes: adjacent-pair generation is the
    * codegen'd explode(sequence) form; both aggregates map-side
    * combine; the prefix join runs at the collapsed (a, b) grain. */
  def textBigramEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(TokenHash.tokens(col("text")).as("t"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(element_at(col("t"), col("i")).as("a"),
        element_at(col("t"), col("i") + 1).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val prefix = bi.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val cond = bi.join(prefix, Seq("a"))
      .agg(sum(col("c_ab")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum(col("c_ab") * (log(col("c_ab")) - log(col("c_a"))))
          .as("s_cond"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * log(col("c"))).as("s_uni"))
    val hCond = -col("s_cond") / col("n_bigrams").cast("double")
    val hUni = log(col("n_tokens").cast("double")) -
      col("s_uni") / col("n_tokens").cast("double")
    cond.crossJoin(uni)
      .select(col("n_bigrams"), col("n_distinct_bigrams"),
        col("n_tokens"),
        hCond.cast("float").as("h_cond"),
        hUni.cast("float").as("h_uni"),
        (lit(1.0) - hCond / hUni).cast("float").as("predictability"))
  }

  /** Char-trigram language ID — the model-based upgrade of the
    * stopword-probe [[textLangId]] (cld3-style: per-language character
    * n-gram statistics classify text that shares no stopwords with the
    * probe lists). Per-language trigram counts train on the EVEN
    * doc_ids (the held-out discipline); every doc then scores
    * s_l = Σ_g tf_g·cnt_{g,l} / T_l — the mean trained-frequency of
    * its trigrams under language l — and the argmax is the prediction.
    *
    * Determinism: counts are BIGINTs, each score is ONE
    * correctly-rounded double division, and the argmax is max over
    * (score, lang) structs — lexicographic, tie → later lang name,
    * identical in both engines. Docs shorter than 3 stripped chars (no
    * trigrams) predict 'und'.
    *
    * Scale shape: the (doc, gram) grain collapses repeats before the
    * gram-keyed join (the unigram-LM discipline); the per-lang totals
    * are a broadcast panel; the per-(doc, lang) partial sums map-side
    * combine. At 100 TB the trained gram table is the persisted model
    * — training is one corpus pass, scoring joins against it. */
  def textLangidChargram(spark: SparkSession, dir: String): DataFrame = {
    val stripped = call_function("replace", TokenHash.normText(col("text")),
      lit(" "), lit(""))
    def grams(c: Column): Column =
      when(length(c) >= 3,
        expr("transform(sequence(1, length(s) - 2), " +
          "i -> substring(s, i, 3))"))
        .otherwise(array().cast("array<string>"))
    val base = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), stripped.as("s"))
    val docGrams = base
      .select(col("doc_id"), col("lang"), explode(grams(col("s"))).as("g"))
      .groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("tf"))
    val model = docGrams.filter(col("doc_id") % 2 === 0)
      .groupBy(col("g"), col("lang"))
      .agg(sum(col("tf")).as("cnt"))
      .select(col("g"), col("lang").as("mlang"), col("cnt"))
    val totals = model.groupBy(col("mlang")).agg(sum(col("cnt")).as("t"))
    val scored = docGrams.join(model, Seq("g"))
      .groupBy(col("doc_id"), col("mlang"))
      .agg(sum(col("tf") * col("cnt")).as("s_l"))
      .join(broadcast(totals), Seq("mlang"))
      .select(col("doc_id"),
        struct((col("s_l").cast("double") / col("t").cast("double"))
          .as("score"), col("mlang").as("lang")).as("sc"))
      .groupBy(col("doc_id"))
      .agg(max(col("sc")).as("best"))
    base.select(col("doc_id"), col("lang").as("lang_labeled"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_labeled"),
        coalesce(col("best.lang"), lit("und")).as("lang_predicted"),
        col("best.score").cast("float").as("score"),
        (col("best.lang") === col("lang_labeled")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** T5-style span-corruption plan: for each document, the deterministic
    * list of non-overlapping token spans to mask (~15% of tokens in
    * spans of `spanLen` = 3) — the denoising-objective preprocessing a
    * pretraining pipeline materializes alongside packed sequences.
    *
    * Determinism without a greedy scan: one span per `tokensPerSpan`
    * = 20 tokens (so n_spans = ⌊t/20⌋ and masked fraction →
    * spanLen/tokensPerSpan = 15%), each confined to its own
    * ⌊t/n_spans⌋-token segment with its start offset drawn by the
    * per-(doc, span) PRF hash60(doc:mask:i) mod the segment's free play
    * — spans can't overlap BY CONSTRUCTION, no sequential state, any
    * engine and any partitioning replays the identical plan. (A
    * sampled-greedy plan would need an order-dependent conflict scan —
    * exactly what doesn't distribute.)
    *
    * Scale shape: map-only — tokenize, one explode of ≤ t/20 spans per
    * doc; no shuffle anywhere, runs at scan speed at 100 TB. Docs
    * shorter than `tokensPerSpan` have no spans and emit nothing. */
  def textSpanMaskPlan(spark: SparkSession, dir: String,
      spanLen: Int = 3, tokensPerSpan: Int = 20): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"),
        size(TokenHash.tokens(col("text"))).cast("long").as("t"))
      .withColumn("n_spans", expr(s"t DIV $tokensPerSpan"))
      .filter(col("n_spans") >= 1)
      .withColumn("seg", expr("t DIV n_spans"))
    d.select(col("doc_id"), col("t").as("n_tokens"), col("n_spans"),
        col("seg"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("span_idx"))
      .withColumn("start",
        col("span_idx") * col("seg") + 1 +
          TokenHash.hash60(concat(col("doc_id").cast("string"), lit(":mask:"),
            col("span_idx").cast("string")))
            % (col("seg") - lit(spanLen.toLong) + 1))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("span_idx"), col("start"),
        lit(spanLen.toLong).as("span_len"),
        ((col("n_spans") * spanLen).cast("double")
          / col("n_tokens").cast("double")).cast("float")
          .as("masked_frac"))
      .orderBy(col("doc_id"), col("span_idx"))
  }

  /** Jensen-Shannon divergence between each source's token distribution
    * and the corpus-wide distribution — the bounded, symmetric "which
    * source drifted" monitor for text (KL explodes on unseen tokens;
    * JS never does). Distributions share the persisted token index;
    * output is one row per source, ordered.
    *
    * Scale shape: per-source and corpus token totals are map-side
    * combined over the index; the JS fold joins them ON TOKEN (uniform
    * key) and rolls up per source. */
  def textJsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tf = TokenHash.tokenTf(spark, dir)
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val bySrc = tf.join(docs, Seq("doc_id"))
      .groupBy(col("source"), col("tok"))
      .agg(sum(col("tf")).as("c"))
    val srcTot = bySrc.groupBy(col("source")).agg(sum(col("c")).as("ct"))
    val corpus = bySrc.groupBy(col("tok")).agg(sum(col("c")).as("g"))
    val gTot = corpus.agg(sum(col("g")).as("gt"))
    val joined = bySrc
      .join(srcTot, Seq("source"))
      .join(corpus, Seq("tok"))
      .crossJoin(broadcast(gTot))
      .select(col("source"),
        (col("c").cast("double") / col("ct").cast("double")).as("p"),
        (col("g").cast("double") / col("gt").cast("double")).as("q"))
    // JS(p||q) = H(m) − (H(p)+H(q))/2 over the tokens present in p;
    // absent-in-p tokens contribute only to the q half, folded via the
    // per-source coverage term: compute with the pointwise form
    // 0.5·Σ p·ln(2p/(p+q)) + 0.5·Σ q·ln(2q/(p+q)) restricted to the
    // source's support plus the q-mass outside it (ln 2 weighted).
    val inSupport = joined.groupBy(col("source"))
      .agg(
        sum(lit(0.5) * col("p")
          * log(lit(2.0) * col("p") / (col("p") + col("q")))).as("pterm"),
        sum(lit(0.5) * col("q")
          * log(lit(2.0) * col("q") / (col("p") + col("q")))).as("qterm"),
        sum(col("q")).as("qcov"))
    inSupport
      .select(col("source"),
        (col("pterm") + col("qterm")
          + lit(0.5) * (lit(1.0) - col("qcov")) * log(lit(2.0)))
          .cast("float").as("js_divergence"))
      .orderBy(col("source"))
  }

  // ---- rolling regression ------------------------------------------------

  /** Proportional stratified corpus sample: per language stratum, keep
    * ceil(10%) of documents selected by md5-hash order — the
    * language-balance-preserving subsample a corpus-mix pipeline draws
    * before expensive per-doc processing. Deterministic (hash-ranked,
    * not random), so lineage is reproducible and the oracle replays it.
    * Integer ceil — (n + 9) DIV 10 — sidesteps the n·0.1 float trap
    * (10 · 0.1 rounds to 1.0000000000000002, and ceil flips).
    *
    * Scale shape: one rank window per stratum (the stratum key is the
    * shuffle key) + one broadcast per-stratum count join; no global
    * sort, no driver pass. */
  def corpusSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TokenHash.hash60(col("doc_id").cast("string")).as("h"))
    val sizes = d.groupBy(col("lang"))
      .agg(((count(lit(1)) + 9) / 10).cast("long").as("target"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .join(broadcast(sizes), Seq("lang"))
      .filter(col("rn") <= col("target"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  // ---- anomaly detection -------------------------------------------------

  /** Language-ID quality audit: confusion counts of detected vs labeled
    * language over the corpus — the eval loop that decides whether the
    * n-gram heuristic ([[TextAnalysis.textLangid]]) is good enough to
    * gate ingestion on. Composes the langid operator unchanged, so the
    * confusion matrix can never drift from what the filter actually
    * does.
    *
    * Scale shape: whatever langid costs plus one tiny-key aggregate. */
  def qualityLangConfusion(spark: SparkSession, dir: String): DataFrame =
    textLangId(spark, dir)
      .groupBy(col("lang_labeled"), col("lang_detected"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_labeled"), col("lang_detected"))

  def corpusMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val perLang = table(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = perLang.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("share"),
        (col("n_total").cast("double") /
          (col("n_langs") * col("n_docs")).cast("double")).as("weight"))
      .orderBy(col("lang"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-gram shingles whose FIRST appearance (smallest doc_id) is this
    * doc — the corpus-level self-overlap measure curation uses to rank
    * "how much new text does this document add" (near-1 = fresh, near-0
    * = boilerplate).
    *
    * Scale shape: grams are fingerprinted to 60-bit ints BEFORE the
    * shuffle ([[TokenHash.hash60]]), so the first-seen aggregation and the
    * join back both key on fixed-width longs, never gram strings — at
    * 100 TB the gram shuffle is the dominant cost and 8-byte keys vs
    * ~30-byte strings is ~4× less wire. Both sides are map-side
    * combined; the gram key is heavy-tailed (stop-grams), which the
    * first-seen MIN aggregate absorbs (AQE skew split handles the
    * join-back). Collisions in the 2^60 fingerprint space are
    * vanishingly rare and — because the oracle replays the same md5
    * fingerprints — cross-engine deterministic.
    *
    * The per-doc distinct gram-hash set comes from the codegen'd
    * [[graft.functions.ShingleHashes]] expression (one md5 pass per
    * gram, in-row sort+dedupe) — the interpreted transform+md5 HOF
    * formulation of the same set measured ~5× slower, and a
    * corpus-wide `.distinct()` after explode would shuffle the raw
    * (doc, gram) pairs a second time for nothing. */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val grams = graft.schema.Schemas.spread(spark, dir, "documents",
        table(spark, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(expr("shingle_hashes(toks, 3)")).as("gh"))
    val firstSeen = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams"))
          .cast("float").as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** The curation funnel: every document is assigned its FIRST failing
    * gate — language, length, alphabetic ratio, exact-dup — or `kept`,
    * and the output is the per-reason drop accounting (the number every
    * corpus-curation run reports). Gate order is fixed, so each doc has
    * exactly one reason and the counts partition the corpus.
    *
    * Scale shape: the language/length/alpha gates are map-only
    * expressions over the scan; the dup gate is the one shuffle
    * (fingerprint window, same key as [[Dedup.dedupExact]]); the
    * rollup is a ≤5-row aggregate plus a 1-row total broadcast.
    * Threshold compares happen on deterministic integer-ratio doubles,
    * identical both engines. */
  def corpusQualityGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fpw = Window.partitionBy(col("fingerprint"))
    val staged = table(spark, dir, "documents")
      .withColumn("fingerprint", md5(TokenHash.normText(col("text"))))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(fpw))
      .withColumn("n_ws", size(split(col("text"), " ")))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
          / length(col("text")))
    val reason = when(col("lang") =!= "en", "non_en")
      .when(col("n_ws") < 20, "too_short")
      .when(col("alpha_ratio") < 0.78, "low_alpha")
      .when(!col("is_canonical"), "exact_dup")
      .otherwise("kept")
    val counts = staged.select(reason.as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n_docs"))
    val total = table(spark, dir, "documents").agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("reason"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).cast("float")
          .as("share"))
      .orderBy(col("reason"))
  }

  /** Sliding context-window chunking: split each document's token stream
    * into overlapping windows of `size` tokens every `stride` tokens —
    * the RAG-indexing / LLM-pretraining chunker. Emits a deterministic
    * md5 per chunk (the downstream dedup/index key), not the chunk text,
    * so the output stays narrow.
    *
    * Scale shape: map-only — tokenize, generate the start offsets with
    * `sequence`, `posexplode`, `slice`; no shuffle anywhere, fanout is
    * ~n_tokens/stride per doc and bounded by doc length. At 100 TB this
    * runs at scan speed and partitions inherit the input's. */
  def chunkSliding(spark: SparkSession, dir: String,
      size: Int = 32, stride: Int = 16): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1),
          greatest(org.apache.spark.sql.functions.size(col("toks")), lit(1)),
          lit(stride))).as(Seq("chunk_idx", "st")))
      .select(col("doc_id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(
          slice(col("toks"), col("st"), lit(size))).as("n_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("st"), lit(size))))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Curriculum scheduling: order documents by a quality score (token
    * count here — any exact score plugs in), then cut the ordered corpus
    * into phases of ~`budgetTokens` tokens each; report per-phase volume
    * and score range. This is the data-ordering step of curriculum
    * training.
    *
    * Scale shape: the global running sum over a score-DESC ordering is
    * NOT a single-partition window — it is a [[TwoLevel]] exclusive
    * prefix, docs bucketed by score range (value-derived,
    * partitioning-independent). Ties break on doc_id, so the schedule
    * is total and deterministic. Every intermediate (`n_tok`,
    * `cum_before`, `phase`) is explicit BIGINT arithmetic — the oracle
    * side likewise CASTs its window sum and totals to BIGINT so no
    * HUGEINT/double intermediate exists on either engine. */
  def curriculumPhases(spark: SparkSession, dir: String,
      budgetTokens: Long = 2000L): DataFrame = {
    val docs = graft.schema.Schemas.spread(spark, dir, "documents",
        table(spark, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(TokenHash.tokens(col("text")))
          .cast("long").as("n_tok"))
    // bucket ascends as score DESCENDS: bucket = -ceil(n_tok/32)
    TwoLevel.prefix(docs, -(col("n_tok") / lit(32L)).cast("long"),
        Seq(col("n_tok").desc, col("doc_id")),
        sums = Seq("n_tok" -> "cum_before"), inclusive = false)
      .select(col("doc_id"), col("n_tok"),
        // pure-BIGINT integer division (`div`), never a double: both
        // operands are non-negative longs, so truncating and flooring
        // division agree, and no engine-version double→int rounding
        // rule can touch the phase id
        expr(s"cum_before div ${budgetTokens}L").as("phase"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
      .orderBy(col("phase"))
  }

  /** Temperature-weighted (α = 0.5) multi-group corpus mixing — the
    * standard LM rebalancing pass: each group's keep rate is
    * sqrt(n_min/n_group), so the smallest group passes whole (rate 1,
    * deterministically: its hash threshold clears the full 60-bit
    * range) and larger groups downsample SUBLINEARLY to an effective
    * count of sqrt(n_group · n_min) — exactly the α = 0.5 temperature
    * counts. The keep decision is a per-doc deterministic hash compare,
    * cross-multiplied so both sides stay in IEEE-exact operations
    * (double multiply + sqrt are correctly rounded; no pow, whose libm
    * rounding varies across engines): keep ⇔
    * hash60(doc) · sqrt(n_group) < 2^60 · sqrt(n_min).
    *
    * Scale shape: one map-side-combined count per group, the tiny
    * (group, n) panel broadcast back, then a map-only filter over the
    * corpus — no data shuffle at all beyond the count's. Per-group
    * summary out; the same `kept` predicate inlines into any
    * downstream corpus scan. */
  def corpusTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val n = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nmin = n.agg(min(col("n_docs")).as("n_min"))
    d.join(broadcast(n), Seq("lang"))
      .crossJoin(broadcast(nmin))
      .withColumn("kept",
        TokenHash.hash60(concat(col("doc_id").cast("string"), lit(":tm")))
            .cast("double") * sqrt(col("n_docs").cast("double")) <
          lit(1152921504606846976.0) * sqrt(col("n_min").cast("double")))
      .groupBy(col("lang"), col("n_docs"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("n_kept"))
      .orderBy(col("lang"))
  }

  /** Epoch-repetition materialization — [[corpusTemperatureMix]]'s
    * UPSAMPLING complement: small sources get repeated toward balance
    * when the training epoch is assembled. Per source the repetition
    * factor is f = min(√(n_max/n_src), cap) (α = 0.5 temperature, the
    * cap stops a tiny source from exploding); each doc is emitted
    * ⌊f⌋ times plus one more iff its PRF residual clears the
    * fractional part — so a source's expected copy count is exactly
    * f·n_src, and WHICH docs get the extra copy is a property of the
    * doc alone (any engine, any partitioning replays it).
    *
    * Exactness: n_max/n_src (one correctly-rounded double divide),
    * √ (correctly rounded), ⌊·⌋ and the subtraction are exact, and the
    * extra-copy test is the INTEGER compare
    * hash60(doc:epoch) < ⌊frac(f)·2⁶⁰⌋ — no pow, no accumulated
    * rounding, bit-identical cross-engine (the temperature-mix
    * discipline).
    *
    * Scale shape: one map-side-combined count per source, the tiny
    * (source, n) panel broadcast back, then a MAP-ONLY explode whose
    * fanout is ≤ cap — no shuffle beyond the count's. At 100 TB the
    * epoch table is written straight from the map side, and the same
    * n_copies expression inlines into any downstream pack/split
    * stage. */
  def corpusEpochRepeat(spark: SparkSession, dir: String,
      cap: Double = 4.0): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val n = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val nmax = n.agg(max(col("n_src")).as("n_max"))
    val factor = least(
      sqrt(col("n_max").cast("double") / col("n_src").cast("double")),
      lit(cap))
    d.join(broadcast(n), Seq("source"))
      .crossJoin(broadcast(nmax))
      .withColumn("factor", factor)
      .withColumn("n_copies",
        floor(col("factor")).cast("long") +
          when(TokenHash.hash60(concat(col("doc_id").cast("string"),
              lit(":epoch"))) <
            floor((col("factor") - floor(col("factor"))) *
              lit(1152921504606846976.0)).cast("long"), 1L)
            .otherwise(0L))
      .select(col("doc_id"), col("source"), col("n_src"),
        col("factor").cast("float").as("factor"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  /** Exact token-length percentiles per language (p50/p90/p99) — the
    * context-budget planning numbers beside the log2 bands: how long a
    * sequence budget each language actually needs. percentile_disc
    * semantics (the value AT rank ⌈q·n⌉, an integer PICK — never an
    * interpolated float), rank ties broken by doc_id.
    *
    * Scale shape: one per-lang rank window (at corpus scale the
    * two-level range-partitioned rank, the curriculum_phases note) and
    * a 3-pick rollup; everything integer. */
  def corpusLengthPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("lang"),
        size(TokenHash.tokens(col("text"))).cast("long").as("len"),
        col("doc_id"))
    val n = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val ranked = d
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("len"), col("doc_id"))))
      .join(broadcast(n), Seq("lang"))
    def target(q: Int): org.apache.spark.sql.Column =
      greatest(lit(1L), expr(s"(n_docs * $q + 99) DIV 100"))
    ranked.groupBy(col("lang"))
      .agg(first(col("n_docs")).as("n_docs"),
        max(when(col("rk") === target(50), col("len"))).as("p50_tokens"),
        max(when(col("rk") === target(90), col("len"))).as("p90_tokens"),
        max(when(col("rk") === target(99), col("len"))).as("p99_tokens"),
        max(col("len")).as("max_tokens"))
      .orderBy(col("lang"))
  }

  /** Source-mix entropy per language: the Shannon entropy of each
    * language's source distribution and its exponential — the
    * EFFECTIVE number of sources (5 equal sources → 5.0; one dominant
    * source → just above 1.0) — the one-number mix-diversity gauge a
    * curation dashboard tracks per language release over release.
    * Counts are BIGINTs; the Σ −p·ln p fold runs in double with the
    * REAL cast absorbing group-order ulps (the agg_entropy_by_key
    * rule).
    *
    * Scale shape: one (lang, source) map-side-combined count, one
    * per-lang rollup — both shuffles share the lang prefix. */
  def corpusMixEntropy(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_sources"))
    c.join(tot, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        (col("n").cast("double") / col("n_docs").cast("double")).as("p"))
      .groupBy(col("lang"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_sources")).as("n_sources"),
        sum(negate(col("p") * log(col("p")))).as("h"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        col("h").cast("float").as("source_entropy"),
        exp(col("h")).cast("float").as("effective_sources"))
      .orderBy(col("lang"))
  }

  /** Pairwise source vocabulary overlap — the "how redundant are my
    * sources" curation signal (two crawls with Jaccard ≈ 1 vocabularies
    * are the same corpus twice; a mix budget should know). For every
    * unordered source pair: distinct-token counts, the shared-token
    * count, and the Jaccard ratio.
    *
    * Scale shape: the ONLY corpus-scale pass is one (token)-grain
    * aggregate that ORs each token's source-membership BITMASK
    * (bit_or map-side combines); every pair statistic then reads off
    * the ≤ 2^|sources| mask histogram crossed with the tiny pair panel
    * — pair count never touches the data again, so 10 pairs or 10 000
    * cost the same single shuffle. Sources are capped at 16 mask bits
    * (alphabetical), the mix-budget grain in practice.
    *
    * Exactness: BIGINT counts, ONE double division per pair. */
  def corpusSourceOverlap(spark: SparkSession, dir: String,
      maxSources: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokenize+explode ONCE (spread across cores — the single-file scan
    // gate, [[graft.schema.Schemas.spread]]); the source panel reads the
    // RAW table — which is exactly what the DuckDB oracle does (its `si`
    // CTE is `SELECT DISTINCT source FROM documents`), so the idx
    // assignment agrees even for a source whose only docs have NULL
    // text: both engines keep it in the panel (consuming an idx bit)
    // while dropping its rows from the token stream (tokens(NULL) is
    // NULL and explode emits nothing; DuckDB's unnest(string_split(
    // NULL)) likewise)
    val d = graft.schema.Schemas.spread(spark, dir, "documents",
        table(spark, dir, "documents").select(col("doc_id"), col("source"),
          col("text")), col("doc_id"))
      .select(col("source"), explode(TokenHash.tokens(col("text"))).as("tok"))
    val srcIdx = table(spark, dir, "documents")
      .select(col("source")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("int"))
      .filter(col("idx") < maxSources)
    val masks = d.join(broadcast(srcIdx), Seq("source"))
      .groupBy(col("tok"))
      .agg(bit_or(expr("shiftleft(1L, idx)")).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val pairs = srcIdx.select(col("source").as("source_a"),
        col("idx").as("ia"))
      .crossJoin(srcIdx.select(col("source").as("source_b"),
        col("idx").as("ib")))
      .filter(col("source_a") < col("source_b"))
    val inA = expr("(shiftright(mask, ia) & 1L) = 1L")
    val inB = expr("(shiftright(mask, ib) & 1L) = 1L")
    val stats = masks.crossJoin(broadcast(pairs))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        sum(when(inA, col("cnt")).otherwise(0L)).as("n_a"),
        sum(when(inB, col("cnt")).otherwise(0L)).as("n_b"),
        sum(when(inA && inB, col("cnt")).otherwise(0L)).as("n_common"))
    stats.select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .cast("float").as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def corpusCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val tf = TokenHash.tokenTf(spark, dir)
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val scored = tf.join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cnt")).as("s_freq"))
      .withColumn("familiarity",
        (col("s_freq").cast("double") / col("n_tokens").cast("double"))
          .cast("float"))
    table(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"))
      .withColumn("bucket",
        ntile(3).over(Window.partitionBy(col("lang"))
          .orderBy(col("familiarity").desc, col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("s_freq"),
        col("familiarity"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    * every document by the log-likelihood ratio of a TARGET unigram
    * model (here the lang='en' slice — the "high-quality domain") over
    * the RAW corpus model, both over hashed token features (hash60 mod
    * `buckets`, add-1 smoothed) — the published cheap proxy for "how
    * target-like is this document", used to importance-resample raw
    * corpora toward a quality domain. Output per doc: feature count and
    * the log weight (float epilogue over double log arithmetic, the
    * [[textBigramLogprob]] exactness precedent).
    *
    * REASSOCIATION BOUND (ADVICE r18): the per-doc groupBy sums double
    * log terms in nondeterministic order; each |term| ≤ ln(corpus) ≈ 40,
    * so a t-token doc's sum reassociates within ~t·40·2⁻⁵² ≈ t·9e-15
    * absolute. The float cast absorbs that while the sum's unit-last-place
    * exceeds it — |sum| ≥ t·9e-15 / 2⁻²⁴ ⇒ safe whenever the mean
    * per-token |LLR| exceeds t·1.5e-7, i.e. up to ~million-token docs at
    * this corpus's observed per-token LLR ~0.1–3. The driver corpus tops
    * out near 10³ tokens/doc — five orders inside the bound (x10-swept
    * exact); a corpus of book-length docs with near-zero mean LLR is
    * where a wider epilogue (or a doc-keyed sorted sum) would be due.
    *
    * Scale shape: the token stream is computed once; both per-bucket
    * counts (target hits, all hits) attach as ONE window pass
    * partitioned by bucket — no join of the stream against its own
    * aggregation — then one groupBy(doc) closes the score. The two
    * model normalizers are a 1-row broadcast. Corpus shuffles exactly
    * twice (bucket, then doc), independent of vocabulary size. */
  def textDsirImportance(spark: SparkSession, dir: String,
      buckets: Int = 4096, targetLang: String = "en"): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(TokenHash.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(TokenHash.hash60(col("tok")), lit(buckets.toLong)).as("bucket"))
    val norms = toks.agg(
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val w = Window.partitionBy(col("bucket"))
    toks
      .withColumn("n_tgt",
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).over(w))
      .withColumn("n_all", count(lit(1)).over(w))
      .crossJoin(broadcast(norms))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(log((col("n_tgt").cast("double") + lit(1.0))
            / (col("ct").cast("double") + lit(buckets.toDouble)))
          - log((col("n_all").cast("double") + lit(1.0))
            / (col("cr").cast("double") + lit(buckets.toDouble))))
          .cast("float").as("log_weight"))
      .orderBy(col("doc_id"))
  }

  /** Feature hashing (the "hashing trick"): tokens bucketed into a fixed
    * 256-dim index space by the oracle-replayable md5 hash — the
    * vocabulary-free featurizer for training pipelines (no dictionary
    * build, no OOV, map-side only until the final count). */
  def textFeatureHashing(spark: SparkSession, dir: String,
      dim: Int = 256): DataFrame =
    table(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(TokenHash.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (TokenHash.hash60(col("tok")) % dim).as("feature_idx"))
      .groupBy(col("doc_id"), col("feature_idx"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("feature_idx"))

  // Distinct (doc_id, gram-hash) index per (sf dir, n), persisted once per
  // session and corpus generation — decontaminate's df filter, eval
  // sizes, and collision join are three plan branches over the same
  // grams, and Catalyst does no cross-branch CSE: without the index the
  // corpus re-tokenizes and re-hashes per branch.
  private def cachedGrams(spark: SparkSession, dir: String,
      n: Int): DataFrame =
    IndexCache(spark, "pipeline.grams", (dir, n),
        Seq(s"$dir/documents.parquet")) {
      val g = table(spark, dir, "documents")
        .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= n)
        .select(col("doc_id"),
          explode(TokenHash.shinglesFromTokens(col("t"), n)).as("g"))
        .select(col("doc_id"), TokenHash.hash60(col("g")).as("h"))
        .distinct()
        .persist()
      g.count() // materialize the index once
      g
    }(_.unpersist(false))

  /** Benchmark decontamination: find training documents sharing ≥
    * `minOverlap` distinct word n-grams with any eval-set document — the
    * standard n-gram-collision contamination check run before every
    * training run (eval set here: doc_id % 37 == 0, a stand-in for a
    * benchmark suite).
    *
    * Scale design: documents explode to (doc_id, gram-hash60) longs —
    * the join key is the 60-bit gram hash, uniform by construction. Grams
    * with training document-frequency > `maxDf` are dropped first
    * (stop-gram filter): frequent grams carry no contamination signal and
    * are exactly the keys whose join fanout would blow up O(df_train ×
    * df_eval) — the filter bounds per-key work at any corpus size. The
    * df aggregate, the stop-gram semi-join, and the train↔eval join all
    * hash-partition on the same gram-hash column, so the exchange is
    * reused; only (doc_id, h) longs ever shuffle, never text. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 3,
      maxDf: Long = 50L, minOverlap: Long = 2L): DataFrame = {
    val grams = cachedGrams(spark, dir, n)
    val isEval = col("doc_id") % 37 === 0
    val trainG = grams.filter(!isEval)
    val evalG = grams.filter(isEval)
    val keep = trainG.groupBy(col("h"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") <= maxDf)
      .select(col("h"))
    val evalSizes = evalG.groupBy(col("doc_id").as("eval_doc"))
      .agg(count(lit(1)).as("ng"))
    trainG.join(keep, Seq("h"))
      .join(evalG.withColumnRenamed("doc_id", "eval_doc"), Seq("h"))
      .groupBy(col("doc_id").as("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
      .join(broadcast(evalSizes), Seq("eval_doc"))
      .select(col("train_doc"), col("eval_doc"), col("n_shared"),
        (col("n_shared").cast("double") / col("ng")).as("eval_frac"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** Greedy contiguous sequence packing: assign documents (in doc_id
    * order) to fixed token-budget bins — the context-window packing step
    * of an LLM training pipeline; a doc starts in the bin where its
    * running token offset lands. Per-bin stats out.
    *
    * Scale design: the global running token sum is a [[TwoLevel]]
    * exclusive prefix (bucket = doc_id value range), so no window streams
    * the corpus through one task. Bin assignment is integer division —
    * exact on both engines at any magnitude. */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 256L,
      bucketWidth: Long = 1024L): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"),
        size(TokenHash.tokens(col("text"))).cast("long").as("tok"))
    TwoLevel.prefix(d, floor(col("doc_id") / bucketWidth), Seq(col("doc_id")),
        sums = Seq("tok" -> "cum_excl"), inclusive = false)
      .withColumn("bin_id", expr(s"cum_excl div $budget"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("bin_id"))
  }

  /** Quality-based selection: the top `k` documents per language by the
    * composite [[qualityScore]] — the "keep the best N per
    * bucket" curation stage. Rank ties break on doc_id (scores are
    * bit-identical cross-engine, but equal scores would otherwise order
    * arbitrarily). Per-language windows: one shuffle on lang, bounded
    * groups, and the rank filter cuts each partition to k rows before
    * anything global. */
  def qualityTopkPerLang(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("score"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** Corpus-mix curation under a token budget: per source, keep documents
    * in quality order until the source's cumulative token count exceeds
    * `budget` — how a training mix caps each source's contribution. One
    * window pass per source partition (rank + running token sum, both
    * ordered by (score desc, doc_id) for determinism); the budget filter
    * is exact integer arithmetic. */
  def corpusMixBudget(spark: SparkSession, dir: String,
      budget: Long = 1000L): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TokenHash.tokens(col("text"))).cast("long").as("tok"),
        qualityScore(col("text")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum_tok",
        sum(col("tok")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .filter(col("cum_tok") <= budget)
      .select(col("source"), col("doc_id"), col("rnk"), col("cum_tok"))
      .orderBy(col("source"), col("rnk"))
  }

  /** First-fit-decreasing bin packing of documents into fixed-capacity
    * context windows, per source: sort a group's docs by token count
    * descending, place each into the lowest-indexed bin it fits, open a
    * new bin when none fits (an oversize doc opens its own bin). FFD
    * packs within 11/9·OPT + 1 bins — materially tighter than
    * [[packSequences]]' contiguous greedy when doc lengths vary, which
    * is why sequence-packing pipelines that care about padding waste
    * use it.
    *
    * FFD is inherently sequential (each placement depends on ALL prior
    * placements), so like the Kadane/debounce recurrences it rides
    * `flatMapSortedGroups`: one exchange on the group key, engine-side
    * sort by (tokens desc, doc_id), O(#bins) state per group. At 100 TB
    * the packing GROUP is the parallelism unit — shard sources into
    * packing partitions (source, hash-bucket) and pack within each; the
    * bound degrades only by the shards' tail items. The in-group
    * first-fit scan here is the textbook O(n·bins) form; the classic
    * O(n log n) segment-tree variant drops in when groups are huge.
    *
    * HOT-SOURCE CONTRACT (the `anomaly_alert_debounce` precedent): a
    * single gigantic source serializes into one task — cost is
    * bounded by the LARGEST GROUP, not the corpus, and is O(k·bins)
    * time / O(bins) state for a k-doc source (a 20k-doc hot source is
    * pinned bounded by DriverRound13Spec). At 100 TB a source above ~10⁶
    * docs should be pre-sharded with the (source, hash-bucket) scheme
    * above before packing; this operator deliberately does not shard
    * implicitly, because silently splitting a group changes the
    * packing the oracle replays.
    * The oracle replays the identical recurrence as a recursive CTE
    * carrying the bin-load list. Integer-exact throughout. */
  def packBinFfd(spark: SparkSession, dir: String,
      capacity: Long = 256L): DataFrame = {
    import spark.implicits._
    val d = graft.schema.Schemas.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TokenHash.tokens(col("text"))).cast("long").as("n_tokens"))
      .as[(Long, String, Long)]
    d.groupByKey(_._2)
      .flatMapSortedGroups(col("n_tokens").desc, col("doc_id")) {
        (src, it) =>
          val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
          it.map { case (id, _, t) =>
            val i = bins.indexWhere(_ + t <= capacity)
            val bin =
              if (i >= 0) { bins(i) += t; i }
              else { bins += t; bins.length - 1 }
            (id, src, t, bin.toLong)
          }
      }
      .toDF("doc_id", "source", "n_tokens", "bin")
      .orderBy(col("source"), col("doc_id"))
  }

  /** Intra-document repetition score: 1 − distinct/total word bigrams —
    * the boilerplate/degenerate-text detector (high repetition ⇒ template
    * or generation-loop content). One explode + one per-doc aggregate;
    * grams never leave their doc's partition group. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(TokenHash.shinglesFromTokens(col("t"), 2)).as("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("g")).as("n_distinct"))
      .withColumn("repetition",
        lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
      .orderBy(col("doc_id"))
}
