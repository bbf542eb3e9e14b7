package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.Schemas.table

/** Round-6 training-data pipeline operators, part 2: the corpus-shaping
  * steps between detection and training — context-window chunking,
  * curriculum scheduling, incremental (delta-vs-corpus) dedup,
  * behavioral transition models, and robust (winsorized) statistics.
  * Every operator is DuckDB-oracle exact; the global-rank/prefix-sum
  * shapes reuse the two-level histogram trick from
  * [[graft.ingest.Batcher]] so nothing funnels the corpus through one
  * partition.
  */
object Curation2 {

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
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
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
        org.apache.spark.sql.functions.size(Dedup.tokens(col("text")))
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

  /** Incremental dedup: a delta batch (new crawl) checked against the
    * standing corpus — each delta doc is a corpus duplicate, an
    * intra-batch duplicate, or genuinely new. This is the shape every
    * continuously-ingesting pipeline runs; the full-corpus re-dedup
    * ([[Dedup.dedupExact]]) is its bootstrap. Delta = `doc_id % 5 = 0`,
    * corpus = the rest (a deterministic stand-in for arrival time).
    *
    * Scale shape: the corpus side reduces to its DISTINCT fingerprint
    * set — at production dup rates a fraction of corpus size, stored
    * once as the dedup index, not recomputed (here derived inline for
    * the oracle's benefit). The delta⨝index semi-join shuffles 16-byte
    * keys only, and a bloom filter of the index (the standard
    * refinement) would prune most delta rows before the exchange.
    * Intra-batch dedup is a groupBy-min over the (small) delta alone. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val fp = table(spark, dir, "documents")
      .select(col("doc_id"), md5(Dedup.normText(col("text"))).as("fp"))
    val corpusFps = fp.filter(col("doc_id") % 5 =!= 0)
      .select(col("fp")).distinct()
      .withColumn("in_corpus", lit(true))
    val delta = fp.filter(col("doc_id") % 5 === 0)
    val firstInBatch = delta.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_id"))
    delta.join(corpusFps, Seq("fp"), "left_outer")
      .join(firstInBatch, Seq("fp"))
      .select(col("doc_id"), col("fp").as("fingerprint"),
        when(col("in_corpus").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") > col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** Behavioral transition matrix: per-user consecutive event-type pairs
    * (a first-order Markov model of the event stream) with transition
    * counts and probabilities — the session-modeling / next-event
    * feature every clickstream pipeline derives.
    *
    * Scale shape: one shuffle on user_id for the lag window (ordered by
    * (ts, event_id) — total and deterministic), then a map-side-combined
    * count on the (prev, next) pair — a domain of |event_type|² keys.
    * The probability normalizer is a window over that tiny matrix, not
    * the events. Counts are exact longs; the probability is one double
    * division of exact integers — cross-engine deterministic. */
  def pathTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type")))
            .cast("double")).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Winsorized (percentile-clipped) statistics per group: clip
    * `l_extendedprice` to its group's exact [p05, p95] rank thresholds,
    * then aggregate — outlier-robust stats without dropping rows.
    *
    * The thresholds are EXACT order statistics (the k-th smallest value,
    * k = ceil(q·n)), not interpolated quantiles: rank selection is
    * engine-independent, interpolation arithmetic is not.
    *
    * Scale shape: no per-group global sort. Same two-level selection as
    * [[graft.ingest.Batcher]]: a per-(group, value-bucket) histogram is
    * prefix-summed (window over the histogram, not the data) to locate
    * the ONE bucket holding each k-th value; only rows of those
    * candidate buckets are ranked (parallel windows over ≤ bucket-width
    * populations). Ties share a bucket by construction (same value ⇒
    * same bucket), so the selected VALUE is deterministic regardless of
    * intra-tie order. Thresholds then broadcast back for the clip. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("p"))
      .withColumn("bkt", floor(col("p") / lit(1024.0)).cast("long"))
    val hist = li.groupBy(col("f"), col("bkt")).agg(count(lit(1)).as("c"))
      .select(col("f"), col("bkt"), col("c"),
        sum(col("c")).over(Window.partitionBy(col("f"))
          .orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum"))
    val ks = hist.groupBy(col("f")).agg(max(col("cum")).as("n"))
      .select(col("f").as("k_f"),
        greatest(ceil(col("n") * 0.05).cast("long"), lit(1L)).as("klo"),
        ceil(col("n") * 0.95).cast("long").as("khi"))
    // candidate buckets: the bucket whose cumulative range covers k
    val cand = hist.join(broadcast(ks), col("f") === col("k_f"))
      .select(col("f"), col("bkt"), (col("cum") - col("c")).as("off"),
        col("cum"), col("klo"), col("khi"))
      .filter((col("off") < col("klo") && col("klo") <= col("cum")) ||
        (col("off") < col("khi") && col("khi") <= col("cum")))
      .select(col("f").as("c_f"), col("bkt").as("c_bkt"), col("off"),
        col("klo"), col("khi"))
    val wb = Window.partitionBy(col("c_f"), col("c_bkt")).orderBy(col("p"))
    val thr = li.join(broadcast(cand),
        col("f") === col("c_f") && col("bkt") === col("c_bkt"))
      .select(col("f"), col("p"), col("klo"), col("khi"),
        (row_number().over(wb) + col("off")).as("grank"))
      .groupBy(col("f"))
      .agg(max(when(col("grank") === col("klo"), col("p"))).as("lo"),
        max(when(col("grank") === col("khi"), col("p"))).as("hi"))
      .select(col("f").as("t_f"), col("lo"), col("hi"))
    li.join(broadcast(thr), col("f") === col("t_f"))
      .groupBy(col("f"))
      .agg(
        // exact integer cents of the clipped value (the clip picks one
        // of three 2-decimal data doubles, so round(x*100) is exact on
        // both engines) summed as BIGINT — no double sum, no
        // double→DECIMAL cast, no engine-version rounding surface
        sum(round(least(greatest(col("p"), col("lo")), col("hi"))
          * lit(100)).cast("long")).as("wsum_c"),
        sum(when(col("p") < col("lo"), 1L).otherwise(0L)).as("n_lo_clip"),
        sum(when(col("p") > col("hi"), 1L).otherwise(0L)).as("n_hi_clip"),
        count(lit(1)).as("n"))
      .select(col("f").as("l_returnflag"), col("wsum_c"),
        col("n_lo_clip"), col("n_hi_clip"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Equi-width histogram of order value: fixed [0, 500k) domain cut
    * into 20 bins — the data-profiling primitive behind skew reports
    * and equi-width feature binning (the equi-FREQUENCY variant is
    * [[Analytics.featureBinning]]).
    *
    * Scale shape: the bin id is pure row-local arithmetic (no
    * data-dependent bounds, so no pre-pass); one map-side-combined
    * aggregation over 20 keys. Bounds are compile-time constants by
    * design — at 100 TB a data-dependent min/max pre-scan is a full
    * extra pass; profile with fixed domains, refine bounds offline. */
  def histogramEquiWidth(spark: SparkSession, dir: String,
      lo: Double = 0.0, hi: Double = 500000.0, bins: Int = 20): DataFrame = {
    val width = (hi - lo) / bins
    table(spark, dir, "orders")
      .select(least(greatest(
          floor((col("o_totalprice") - lit(lo)) / lit(width)), lit(0L)),
        lit(bins - 1L)).cast("long").as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        // exact integer cents summed as BIGINT (o_totalprice is
        // 2-decimal money in a double — see Warehouse numeric
        // discipline); the bin id itself stays double-arithmetic-free
        // of rounding hazards (floor of a quotient far from integer
        // boundaries at these bin widths)
        sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("value_total_c"))
      .orderBy(col("bin"))
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
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(":tm")))
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
          when(Dedup.hash60(concat(col("doc_id").cast("string"),
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
        size(Dedup.tokens(col("text"))).cast("long").as("len"),
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
      .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
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

  /** CCNet-style perplexity buckets: split each language's documents
    * into head / middle / tail terciles of a language-model fluency
    * score, the classic web-corpus quality triage (head feeds
    * pretraining, tail gets dropped or heavily filtered). The score is
    * the corpus-familiarity proxy Σ tf·cnt(tok) / n_tokens — the
    * average corpus frequency of the doc's token occurrences, monotone
    * with unigram logprob but EXACT: both moments are BIGINTs off the
    * shared [[TextAnalysis.tokenTf]] index, and the score is ONE
    * correctly-rounded double division per doc, so the tercile
    * boundary compare is bit-identical cross-engine (ln-based logprob
    * would put an engine-dependent ulp under the rank).
    *
    * Scale shape: two map-side-combined aggregates over the persisted
    * TF index (vocab counts, per-doc moments); the Zipf-head vocab
    * join collapses per (doc, tok) FIRST — the unigram-LM discipline.
    * The ntile window partitions by lang (few, large groups); at
    * 100 TB the production form computes the two cutoff scores per
    * lang with a distributed selection over the score histogram and
    * broadcasts them into a map-only bucket assign — the rank and the
    * cutoff forms agree exactly because scores are deterministic
    * doubles with a doc_id tiebreak. */
  /** DPO/RLHF preference-pair construction: within each candidate
    * group (4 adjacent docs standing in for "responses to one
    * prompt"), pick the best- and worst-scoring candidates as the
    * (chosen, rejected) training pair and emit the score margin — the
    * data-prep step between quality scoring and preference-tuning.
    * Score is the integer n_chars column; tiebreaks are doc_id ASC for
    * chosen and doc_id DESC for rejected, so a group of equal scores
    * still yields two DISTINCT docs (margin 0), and every pick is
    * deterministic on any engine/partitioning. Single-doc groups drop.
    *
    * Scale shape: one map-side-combinable min_by/max_by aggregate on
    * the group key — no window, no sort, no self-join; at 100 TB this
    * is one well-distributed shuffle at the prompt grain. */
  def prefPairMargin(spark: SparkSession, dir: String,
      groupSize: Int = 4): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("score"),
        expr(s"doc_id DIV $groupSize").as("group_id"))
    d.groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_cands"),
        // chosen: max score, then SMALLEST doc_id (negate id for max_by)
        max_by(struct(col("score"), (-col("doc_id")).as("nid")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("ch"),
        // rejected: min score, then LARGEST doc_id
        min_by(struct(col("score"), (-col("doc_id")).as("nid")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("rj"))
      .filter(col("n_cands") >= 2)
      .select(col("group_id"), col("n_cands"),
        (-col("ch.nid")).as("chosen_doc"), col("ch.score").as("chosen_score"),
        (-col("rj.nid")).as("rejected_doc"),
        col("rj.score").as("rejected_score"),
        (col("ch.score") - col("rj.score")).as("margin"))
      .orderBy(col("group_id"))
  }

  def corpusCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val tf = TextAnalysis.tokenTf(spark, dir)
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

  /** Domain-mixture rebalancing plan (the DoReMi/Pile recipe step): given
    * a UNIFORM target share per source, size each source's contribution
    * to a same-total-size mixed corpus — downsample rate for
    * oversupplied domains, repetition factor (epochs) for undersupplied
    * ones, and the residual deficit a data-buying decision would act on.
    * Supply is measured in n_chars (the table's exact integer volume
    * column), so every allocation quantity is BIGINT arithmetic:
    * target = total div k (floor), achieved = least(supply, target),
    * deficit = greatest(0, target − supply). The only doubles are the
    * reported rate/epochs, each ONE IEEE division of two BIGINTs (and
    * one `least` against 1.0) — bit-identical cross-engine.
    *
    * Scale shape: one map-side-combined (count, sum) aggregate per
    * source (≤ dozens of rows), a 1-row total broadcast back onto the
    * panel; nothing downstream of the first aggregate scales with the
    * corpus. The same plan shape sizes a 100 TB mixture: the per-source
    * supply census is the scan, the plan is driver-sized. */
  def sampleDomainMixture(spark: SparkSession, dir: String): DataFrame = {
    val supply = table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("supply_chars"))
    val tot = supply.agg(sum(col("supply_chars")).as("total_chars"),
      count(lit(1)).as("k"))
    supply.crossJoin(broadcast(tot))
      .withColumn("target_chars",
        expr("total_chars div k").cast("long"))
      .select(col("source"), col("n_docs"), col("supply_chars"),
        col("target_chars"),
        least(lit(1.0), col("target_chars").cast("double")
          / col("supply_chars").cast("double")).as("sample_rate"),
        (col("target_chars").cast("double")
          / col("supply_chars").cast("double")).as("epochs"),
        least(col("supply_chars"), col("target_chars"))
          .as("achieved_chars"),
        greatest(lit(0L), col("target_chars") - col("supply_chars"))
          .as("deficit_chars"))
      .orderBy(col("source"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    * every document by the log-likelihood ratio of a TARGET unigram
    * model (here the lang='en' slice — the "high-quality domain") over
    * the RAW corpus model, both over hashed token features (hash60 mod
    * `buckets`, add-1 smoothed) — the published cheap proxy for "how
    * target-like is this document", used to importance-resample raw
    * corpora toward a quality domain. Output per doc: feature count and
    * the log weight (float epilogue over double log arithmetic, the
    * [[TextAnalysis.textBigramLogprob]] exactness precedent).
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
        explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(Dedup.hash60(col("tok")), lit(buckets.toLong)).as("bucket"))
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
}
