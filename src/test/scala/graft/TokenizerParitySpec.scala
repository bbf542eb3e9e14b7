package graft

import org.apache.spark.sql.functions._
import graft.query.TokenHash

/** Pins [[graft.query.TokenHash.tokens]]/[[graft.query.TokenHash.normText]] to the
  * oracle side's DuckDB semantics:
  *
  *   string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
  *
  * This tokenization is load-bearing for every oracle that counts, hashes,
  * or windows over tokens (chunk_sliding, curriculum_phases, the text
  * family, the MinHash/n-gram dedup family): if either engine's regex or
  * case rules drift across versions, hashes diverge on the driver before
  * anything fails locally. The spec compares against an INDEPENDENT model
  * written from the documented semantics both engines share:
  *
  *   - `\s` is the ASCII class. Java regex (Spark's regexp_replace)
  *     defines it as [ \t\n\x0B\f\r]; RE2 (DuckDB's) as [\t\n\f\r\v ] —
  *     the same six code points. Unicode spaces (NBSP U+00A0, EN SPACE
  *     U+2002, LINE SEPARATOR U+2028, ideographic space U+3000,
  *     zero-width U+200B) are NOT whitespace in either and must survive
  *     inside tokens.
  *   - `trim` strips ASCII space only (both engines), not tabs — tabs are
  *     already collapsed to spaces by the regex, so trim-after-replace
  *     still yields no leading/trailing token.
  *   - `lower` is Unicode simple lowercasing in both (no Turkish-locale
  *     dotted-I surprises: both use root-locale one-to-one mapping).
  *   - `split` on a single space keeps empty fields: '' → [''] — an empty
  *     document counts 1 token on both engines (the n_tok convention the
  *     curriculum/chunker oracles rely on).
  */
class TokenizerParitySpec extends SparkSpec {
  import spark.implicits._

  /** Independent model of the shared semantics (NOT a call into Dedup):
    * explicit six-char ASCII whitespace class, ASCII-space trim,
    * root-locale lowercase, keep-empty single-space split. */
  private def model(s: String): Seq[String] = {
    val collapsed = s.replaceAll("[ \t\n\u000B\f\r]+", " ")
    var lo = 0; var hi = collapsed.length
    while (lo < hi && collapsed.charAt(lo) == ' ') lo += 1
    while (hi > lo && collapsed.charAt(hi - 1) == ' ') hi -= 1
    val trimmed = collapsed.substring(lo, hi)
    trimmed.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq
  }

  private val adversarial: Seq[String] = Seq(
    "",
    " ",
    "   \t \r\n ",
    "plain text",
    "a  b",
    "  lead and trail  ",
    "\ta\nb\u000Bc\fd\re",       // all six ASCII \s chars collapse
    "a b",                  // NBSP: one token on both engines
    "x y",                  // EN SPACE: not \s in ASCII classes
    "p q",                  // LINE SEPARATOR
    "w　z",                  // ideographic space
    "zero​width",           // zero-width space survives in a token
    "MiXeD CaSe ÄÖÜ Straße",
    "İstanbul I ı i",  // dotted/dotless I: simple mapping
    "中 文 слово",
    "emoji 🙂 stays",
    "tab\tand\nnewline mix\r\nend",
    "a-b_c.d,e;f",               // punctuation is not whitespace
    "   ",                  // NBSP between trimmed spaces → token
    "trailing\t",
    "\fleading")

  test("Dedup.tokens matches the independent ASCII-\\s model on adversarial input") {
    val got = adversarial.toDF("text")
      .select(TokenHash.tokens(col("text")).as("toks"))
      .as[Seq[String]].collect().toSeq
    adversarial.zip(got).foreach { case (s, g) =>
      val want = model(s)
      assert(g == want,
        s"input=${s.map(c => f"\\u${c.toInt}%04x").mkString} got=$g want=$want")
    }
  }

  test("token COUNT parity (the n_tok the curriculum/chunker oracles window over)") {
    val got = adversarial.toDF("text")
      .select(org.apache.spark.sql.functions.size(
        TokenHash.tokens(col("text"))).as("n"))
      .as[Int].collect().toSeq
    assert(got == adversarial.map(model(_).length),
      s"got=$got want=${adversarial.map(model(_).length)}")
  }

  test("normText is idempotent and tokens never contain ASCII whitespace") {
    val df = adversarial.toDF("text")
    val once = df.select(TokenHash.normText(col("text")).as("t"))
    val twice = once.select(TokenHash.normText(col("t")).as("t"))
    assert(once.as[String].collect().toSeq ==
      twice.as[String].collect().toSeq)
    val toks = df.select(explode(TokenHash.tokens(col("text"))).as("tok"))
      .as[String].collect()
    assert(toks.forall(t => !t.exists(c => c == ' ' || c == '\t' ||
      c == '\n' || c == '\u000B' || c == '\f' || c == '\r')))
  }
}
