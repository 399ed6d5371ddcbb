package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language ID, shingles.
  *
  * All pure Column expressions (whole-stage codegen, no UDFs): at 100 TB
  * these run inside the scan's codegen stage with nothing but a parquet
  * read ahead of them.
  */
object TextOps {

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text)).cast("long")

  /** BPE-ish subword proxy: count of alnum runs (a regex-token count —
    * a cheap, deterministic stand-in for a real BPE vocab).
    */
  /** Alphanumeric token count = number of maximal [a-zA-Z0-9]+ runs.
    * `regexp_count` over the run pattern, NOT
    * `size(filter(split(text, non-alnum)))`: the two are identical by
    * definition (each non-empty split piece IS one alnum run), but the
    * split form materializes a per-row token ARRAY just to count it —
    * measured 2.5 s vs 0.3 s over the sf1 corpus. Counting stays inside
    * whole-stage codegen with zero allocation per row.
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z0-9]+")).cast("long")

  /** English stopwords used by quality scoring + language ID. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Count of tokens that are in `vocab`. */
  def vocabHits(text: Column, vocab: Seq[String]): Column =
    size(filter(words(text), w => w.isInCollection(vocab))).cast("long")

  /** Stopword ratio in exact per-mille (BIGINT: hash-stable). */
  def stopwordPermille(text: Column): Column =
    floor(lit(1000.0) * vocabHits(text, StopwordsEn) / tokenCount(text)).cast("long")

  /** Mean word length in exact centi-chars. */
  def meanWordLenCenti(text: Column): Column =
    floor(lit(100.0) *
      aggregate(words(text), lit(0L), (acc, w) => acc + length(w).cast("long")) /
      tokenCount(text)).cast("long")

  /** Punctuation ratio in exact per-mille: fraction of characters in
    * the C4-style punctuation set (a heavy-punctuation document is a
    * boilerplate/code smell).
    */
  def punctPermille(text: Column): Column =
    floor(lit(1000.0) *
      (length(text) - length(regexp_replace(text, "[.,;:!?'\"()-]", ""))) /
      length(text)).cast("long")

  /** Composite quality heuristic: length / stopword / word-length
    * signals, integer-encoded. A document "passes" when all components
    * are in range (the usual C4-style filter shape).
    */
  def qualityPass(text: Column, nChars: Column): Column =
    (nChars >= 100) && (nChars <= 20000) &&
      (tokenCount(text) >= 20) && (stopwordPermille(text) >= 10)

  /** N-gram language-ID heuristic: score fixed stopword profiles and
    * take the argmax (deterministic tie-break by profile order). With
    * only public wordlists this is the classic cheap langid.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> StopwordsEn,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "dans"))

  def langId(text: Column): Column = {
    val scores = LangProfiles.map { case (lang, vocab) => lang -> vocabHits(text, vocab) }
    // argmax with first-wins tie-break
    scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  /** URL pattern, chosen to behave identically under Java regex and
    * DuckDB's RE2 (no lookaround, no backrefs): scheme + a conservative
    * URL character class (stops at whitespace and closing punctuation).
    */
  val UrlRe: String = "https?://[a-zA-Z0-9._/-]+"

  /** Host-extraction pattern applied to a matched URL (group 1). */
  val HostRe: String = "://([a-zA-Z0-9.-]+)"

  /** All URLs in a document, as an array column (codegen'd regex —
    * scan-side, the shape domain-level corpus filtering needs).
    */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit(UrlRe), lit(0))

  /** Registrable-ish domain of one URL: the host's last two labels
    * ("a.b.site.example.org" → "example.org") — the grouping key for
    * per-domain corpus stats and blocklist filtering.
    */
  def urlDomain(url: Column): Column = {
    val host = regexp_extract(url, HostRe, 1)
    val parts = split(host, "\\.")
    when(size(parts) >= 2,
      concat_ws(".", element_at(parts, -2), element_at(parts, -1)))
      .otherwise(host)
  }

  /** Overlapping word n-grams, occurrence-preserving (NOT distinct) —
    * the input to repetition-quality signals, where duplicate grams are
    * the signal itself. Documents shorter than n words get an empty
    * list (the sequence() guard: Spark generates a DESCENDING sequence
    * when start > stop, which would index out of range).
    */
  /** Overlapping word n-grams (ordered by start position) from an
    * already-materialized words ARRAY column — `w` must be an
    * attribute or lambda variable, not an inline `words(text)` (see
    * [[wordChunksFromWords]] for why: HOF lambdas re-evaluate captured
    * subtrees per element).
    */
  def ngramsFromWords(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  def ngrams(text: Column, n: Int): Column =
    // Let-bind the tokenization: the single-element outer transform
    // evaluates words(text) ONCE per row and exposes it as a lambda
    // variable (an evaluated value), so the per-gram inner lambda
    // slices a ready array. Inlining `words(text)` directly would
    // re-split the whole document once per gram — higher-order
    // functions are CodegenFallback with no subexpression elimination
    // (measured 4-17x wall on the shingle-family operators).
    element_at(transform(array(words(text)), w => ngramsFromWords(w, n)), 1)

  /** Word n-gram shingles (distinct), the input to MinHash/Jaccard. */
  def shingles(text: Column, n: Int): Column = array_distinct(ngrams(text, n))

  /** Scala-side mirror of [[shingles]] for per-row use in streaming
    * operators (split on single space KEEPING empty tokens — Java
    * `split(" ", -1)` matches Spark's `split(text, " ")` — overlapping
    * n-grams, order-preserving distinct, short docs empty).
    * Spec-pinned equal to the Column path (OperatorSpec).
    */
  def shinglesLocal(text: String, n: Int): Seq[String] = {
    val w = (if (text == null) "" else text).split(" ", -1)
    if (w.length < n) Seq.empty
    else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).distinct
  }

  /** Consecutive non-overlapping k-word chunks (the last chunk may be
    * shorter) — the "paragraph" segmentation for corpus-level chunk
    * dedup on text without newlines. Every document yields >= 1 chunk
    * (an empty text is one empty chunk), so reassembly is total.
    *
    * `w` must be an already-materialized words ARRAY column (an
    * attribute, not `words(text)` inline): higher-order functions are
    * CodegenFallback and evaluate their lambda interpreted per element
    * with no subexpression elimination, so an inline split here would
    * re-tokenize the whole document once per chunk — O(len²/k) per doc
    * (measured ~4x wall on d7 before the hoist).
    */
  def wordChunksFromWords(w: Column, k: Int): Column =
    transform(sequence(lit(0), ceil(size(w) / lit(k.toDouble)).cast("int") - 1),
      j => concat_ws(" ", slice(w, j * k + 1, lit(k))))

  /** Convenience form over raw text — only for single-evaluation
    * contexts (tests, probes); operators should hoist `words(text)`
    * into its own projection and call [[wordChunksFromWords]].
    */
  def wordChunks(text: Column, k: Int): Column =
    wordChunksFromWords(words(text), k)

  /** Deterministic id scrambler for split/sampling order: Knuth
    * multiplicative mix mod 1e9+7. The id is reduced mod p BEFORE the
    * multiply so the product is bounded by (1e9+6)·2654435761 < 2^63 —
    * an unreduced doc_id ≥ 2^63/2654435761 (~3.5e9, reachable in a
    * 100 TB corpus) would silently wrap negative in Spark while DuckDB
    * raises on BIGINT overflow, splitting the engines. One rendering
    * here + [[graft.queries.QueryDef.knuthMixSql]]; every consumer
    * references these two.
    */
  def knuthMix(id: Column): Column =
    ((id % 1000000007L) * 2654435761L) % 1000000007L

  // ---- PII detection / redaction ------------------------------------
  // Conservative patterns kept identical (and identically-behaving)
  // under Java regex and DuckDB's RE2: character classes + greedy
  // quantifiers only, no backrefs/lookaround.

  /** email-shaped token */
  val EmailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"

  /** dotted-quad (IPv4-shaped) token */
  val Ipv4Re = "\\d+\\.\\d+\\.\\d+\\.\\d+"

  /** long digit run (account/phone-number smell) */
  val DigitRunRe = "\\d{4,}"

  /** Non-overlapping match count of `re` (BIGINT). */
  def countMatches(c: Column, re: String): Column =
    regexp_count(c, lit(re)).cast("long")

  /** Redact emails then IPs — count BEFORE redacting (the email
    * replacement could otherwise splice digit runs together).
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
}
