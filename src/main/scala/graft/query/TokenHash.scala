package graft.query

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** The token/hash kernel shared by the dedup, text, ANN, ML and
  * multimodal families: the md5-derived 60-bit hash ([[hash60]]) every
  * deterministic draw is built on, the normalizer and tokenizer, word
  * shingles, the documents corpus with its planted near-duplicates, and
  * the persisted corpus term-frequency index ([[tokenTf]]). */
object TokenHash {

  /** The corpus TERM-FREQUENCY INDEX: one row per (doc_id, tok) with its
    * in-doc count, persisted once per (dir, documents-content
    * fingerprint) and probed by every term-statistics consumer (TF-IDF,
    * BM25, unigram LM, hybrid retrieval). This is the materialized
    * inverted-index/corpus-statistics layer a production deployment
    * maintains beside the corpus: the tokenize+explode+count pass is the
    * expensive part of every one of those operators, identical in each,
    * and at 100 TB is a whole corpus scan — paying it once per corpus
    * GENERATION instead of once per query is the difference between an
    * index probe and a re-index. Superseded generations are unpersisted
    * by [[IndexCache]]. Derived statistics (per-doc length, document
    * frequency, corpus size) are one tiny aggregate over this index;
    * deriving dl as sum(tf) is EXACT — it equals the token count by
    * construction. */
  private[graft] def tokenTf(spark: SparkSession, dir: String): DataFrame =
    IndexCache(spark, "text.tokenTf", dir, Seq(s"$dir/documents.parquet"))(
      spreadDocs(spark, dir, "text")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .persist())(_.unpersist(false))

  /** Per-doc token counts (dl) derived from [[tokenTf]]: Σ tf over the
    * doc's terms — exact, one map-side-combined aggregate on the
    * persisted index. */
  private[query] def docLengths(spark: SparkSession, dir: String): DataFrame =
    tokenTf(spark, dir).groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** The documents table, projected to (doc_id +: cols) and hash-spread
    * across the cores when the corpus file layout cannot feed them
    * ([[graft.schema.Schemas.spread]] gate — the driver testdata is one
    * single-row-group parquet file per table, so the scan reads as ONE
    * task and every tokenize/shingle/hash pipeline above it runs on one
    * core). On a healthy multi-split layout this adds nothing.
    *
    * Multi-consumer caveat: a query whose plan consumes the spread
    * frame from SEVERAL subtrees (separate broadcast builds each
    * re-materialize the scan+exchange — column pruning differentiates
    * the subtrees, so ReuseExchange does not collapse them) pays the
    * narrow map side once PER subtree and can get slower; measured on
    * cooccur_pmi / kneser_ney / llr / bigram_entropy_rate (0.46 →
    * 0.91 s) — those stay on the direct scan.
    *
    * The tokenize-once variant (r21, measured and REVERTED): spreading
    * the single tokenize pass and eagerly localCheckpointing the token
    * stream + the (bounded) bigram/vocab count tables, with margins
    * derived from the materialized bigram table, made all four SLOWER
    * at sf0.1/32 — cooccur_pmi 0.52 → 0.78 s, llr 0.44 → 0.70,
    * kneser_ney 0.39 → 0.59, bigram_entropy_rate 0.37 → 0.57. The
    * multi-subtree single-task scans run CONCURRENTLY (Spark schedules
    * the sibling broadcast/aggregate jobs in parallel), so the "6
    * corpus passes" overlap on idle cores, while the checkpoint form
    * pays 2-3 extra serialized jobs plus materialization. The direct
    * scan stays. */
  private[query] def spreadDocs(spark: SparkSession, dir: String,
      cols: String*): DataFrame =
    graft.schema.Schemas.spread(spark, dir, "documents",
      table(spark, dir, "documents")
        .select(("doc_id" +: cols).map(col): _*),
      col("doc_id"))

  /** Canonical text normalization: collapse whitespace, trim, lowercase. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Word n-gram shingles from a token-array column. Empty when fewer than
    * n tokens. */
  def shinglesFromTokens(t: Column, n: Int): Column =
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))

  /** Word n-gram shingles as strings ("w1 w2 w3"). Empty when fewer than n
    * tokens. */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** 60-bit hash from the first 15 hex chars of md5 — chosen over xxhash64
    * because DuckDB reproduces it bit-identically
    * (`CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`), which is what makes
    * the whole MinHash family hash-compare oracle-able cross-engine. 60
    * bits keeps the value positive in a signed BIGINT on both engines.
    * conv/substring/md5 are all codegen'd. */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Second 60-bit hash from the SAME md5 (hex chars 17-31): DuckDB
    * replays it as `CAST('0x' || substr(md5(s), 17, 15) AS BIGINT)`. The
    * MinHash family derives h2 from this — one digest per gram, not two. */
  def hash60lo(s: Column): Column =
    conv(substring(md5(s), 17, 15), 16, 10).cast("long")

  /** Documents plus deterministic planted near-duplicates: for doc_id < 10,
    * a copy with a one-word prefix edit and doc_id+1000000. Derived from
    * the table itself (no synthetic data source) so near-dup operators have
    * non-degenerate output on the synthetic corpus, which has no natural
    * near-pairs (measured 3-gram Jaccard p99 ≈ 0.015). */
  def withPlantedNearDups(docs: DataFrame): DataFrame = {
    val planted = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(lit("planted near duplicate copy "), col("text")))
    docs.unionByName(planted)
  }
}
