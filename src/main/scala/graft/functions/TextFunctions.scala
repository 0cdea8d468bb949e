package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis surface for large-scale training-data pipelines:
  * tokenization, language ID (n-gram/stopword heuristic), quality scoring,
  * and content fingerprinting.
  *
  * Design: every function is a pure Catalyst column expression (split /
  * regexp_count / md5 / conv / higher-order array fns) — no UDFs — so the
  * whole pipeline stays in whole-stage codegen and scales linearly with
  * executors; nothing here shuffles.
  */
object TextFunctions {

  private def bridge = org.apache.spark.sql.graftbridge.CatalystBridge

  /** Collapse runs of whitespace and trim — normalization used by the
    * tokenizer and the whitespace-robust fingerprint. r17: one byte-level
    * pass ([[graft.functions.NormalizeWsExpr]]) instead of a Java-regex
    * replaceAll over the multi-KB payload + trim — identical output
    * (asserted against `trim(regexp_replace(c, "\s+", " "))` in
    * WhitespaceTextSpec), evaluated once per document in every corpus-wide
    * text/dedup query. */
  def normalizeWs(c: Column): Column =
    bridge.column(graft.functions.NormalizeWsExpr(bridge.expression(c.cast("string"))))

  /** Whitespace tokens of the normalized text — `split(normalizeWs(c), " ")`
    * fused into the same single pass (no intermediate normalized string, no
    * regex split; empty/all-whitespace input yields [""] exactly as split
    * does). */
  def tokens(c: Column): Column =
    bridge.column(graft.functions.WhitespaceTokensExpr(bridge.expression(c.cast("string"))))

  /** Token count (whitespace tokenization; empty string → 0) — the fused
    * pass counts runs without materializing tokens or the normalized
    * string. */
  def tokenCount(c: Column): Column =
    bridge.column(graft.functions.WhitespaceTokenCountExpr(bridge.expression(c.cast("string"))))

  /** BPE-ish subword proxy: count of letter-runs, digit-runs and
    * single punctuation marks — a cheap deterministic stand-in for a real
    * tokenizer's piece count. */
  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** The first 8 md5 digest bytes as one big-endian long — every pinned hash
    * below is a shift of this ([[graft.functions.Md5First8Long]]; r17: the
    * old `conv(substring(md5(c), …), 16, 10).cast("long")` spelling paid 4
    * string passes per hash on top of the digest, once per shingle/token
    * corpus-wide; values are bit-identical, asserted in Md5HashingSpec). */
  private[graft] def md5First8(c: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    // cast("string") = the implicit cast md5() carried; a no-op cast is
    // erased by the optimizer, so string inputs (every current site) are
    // untouched
    bridge.column(graft.functions.Md5First8Long(bridge.expression(c.cast("string"))))
  }

  /** First 15 hex chars of md5 as a 60-bit long — the cross-engine-stable
    * content hash used throughout dedup/fingerprinting. */
  def hexLong60(c: Column): Column = shiftrightunsigned(md5First8(c), 4)

  /** First 8 hex chars of md5 as a 32-bit long (for modular minhash
    * permutations that must not overflow 64-bit multiplication). */
  def hexLong32(c: Column): Column = shiftrightunsigned(md5First8(c), 32)

  /** Second independent 32-bit hash from the SAME md5 (hex chars 9-16) —
    * the high half of a 64-bit hash without a second digest pass (the shared
    * md5First8 subtree is evaluated once under subexpression elimination). */
  def hexLong32Hi(c: Column): Column =
    md5First8(c).bitwiseAND(lit(0xFFFFFFFFL))

  /** Exact-dup fingerprint robust to case + whitespace differences. */
  def contentFingerprint(c: Column): Column =
    hexLong60(lower(normalizeWs(c)))

  /** PERFORMANCE TRAP shared by every shingle/sliding-window helper below:
    * a higher-order lambda re-evaluates any non-attribute subtree it
    * references once PER ELEMENT, so inlining `tokens(text)` /
    * `normalizeWs(text)` into the window lambda costs O(n²) tokenization
    * (measured 5–6× slower on the corpus at sf0.1). At scale, always
    * materialize the token/normalized column in a prior projection and call
    * the `...OfTokens` / `...OfNormalized` variant on that attribute — the
    * `(text)`-taking wrappers exist for small/ad-hoc use only.
    */

  /** Rolling-hash content fingerprint over a PRE-MATERIALIZED normalized
    * column: the minimum 60-bit hash over its character k-grams (a 1-perm
    * minhash — robust to small edits; winnowing's "record the minimum"
    * step), null when shorter than k. Single fused pass: hash each k-gram
    * as it is cut, rather than materializing the full gram array and then
    * a second hash array (two HOF passes + an intermediate ~len(n)-element
    * array per row). */
  def rollingMinHashOfNormalized(n: Column, k: Int = 8): Column =
    when(length(n) >= k,
      array_min(transform(sequence(lit(1), length(n) - (k - 1)),
        i => hexLong60(n.substr(i, lit(k))))))

  /** Word k-gram shingles over a PRE-MATERIALIZED token-array column. */
  def wordShinglesOfTokens(t: Column, k: Int): Column =
    when(size(t) >= k,
      array_distinct(transform(sequence(lit(1), size(t) - (k - 1)),
        i => concat_ws(" ", slice(t, i, lit(k))))))
      .otherwise(array().cast("array<string>"))

  /** Word k-gram shingles (space-joined); empty array when fewer than k
    * tokens. The unit of MinHash/Jaccard dedup. See the trap note above. */
  def wordShingles(c: Column, k: Int): Column =
    wordShinglesOfTokens(tokens(c), k)

  // --- language ID (stopword/character heuristic) ---
  private def markerCount(c: Column, words: Seq[String]): Column =
    words.map(w => regexp_count(c, lit(s"\\b$w\\b"))).reduce(_ + _)

  val EnMarkers = Seq("the", "of", "and", "to")
  val DeMarkers = Seq("der", "die", "das", "und")
  val FrMarkers = Seq("le", "les", "et", "dans")
  val EsMarkers = Seq("el", "los", "las", "y")

  /** Heuristic language ID: CJK characters dominate, else arg-max of
    * per-language stopword hit counts with a fixed tie-break order
    * (en > de > fr > es). Deterministic; mirrored 1:1 by the SQL oracle.
    */
  def langId(c: Column): Column = {
    val l = lower(c)
    val zh = regexp_count(l, lit("[\\u4e00-\\u9fff]"))
    val en = markerCount(l, EnMarkers)
    val de = markerCount(l, DeMarkers)
    val fr = markerCount(l, FrMarkers)
    val es = markerCount(l, EsMarkers)
    when(zh > 0, "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Cross-engine-stable 4-dp rounding: floor(x*1e4+0.5)/1e4 — identical
    * float ops everywhere, unlike engine-native round() whose half-way
    * behavior differs (Spark BigDecimal HALF_UP vs DuckDB C rounding). */
  def round4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** Quality score in integer basis points (0..10000) — longs sum exactly,
    * so corpus-level averages stay deterministic under parallel aggregation. */
  def qualityBp(c: Column): Column =
    floor(rawQuality(c) * 10000.0 + 0.5).cast("long")

  /** Quality score in [0,1]: length saturation, stopword density,
    * punctuation penalty, mean-word-length saturation; quantized to 4 dp
    * (basis points / 1e4) so the value is hash-stable across engines. */
  def qualityScore(c: Column): Column = qualityBp(c) / 10000.0

  // --- Gopher/C4-style document filters (public heuristics: Rae et al.
  // 2021 "Scaling Language Models" §A1.1, Raffel et al. 2020 C4 §2.2) —
  // line-level repetition and formatting signals, emitted as integer basis
  // points so corpus aggregation is exact and engine-portable. ---

  /** Lines of the raw text (newline split; a text with no newline is one
    * line). */
  def lines(c: Column): Column = split(c, "\n")

  /** Fraction of duplicate lines in basis points — Gopher's
    * duplicate-line-fraction repetition signal. */
  def dupLineBp(c: Column): Column = {
    val l = lines(c)
    floor((lit(1.0) - size(array_distinct(l)).cast("double") / size(l).cast("double"))
      * 10000.0 + 0.5).cast("long")
  }

  /** Duplicate word-n-gram fraction WITHIN a document, basis points — the
    * Gopher repetition-removal family ("fraction of duplicate n-grams",
    * Rae et al. 2021 §A1.1). Unlike the dedup shingles, the n-gram list
    * here keeps duplicates: repetition is the signal. Pure array builtins,
    * whole-stage codegen'd. */
  def dupNgramBp(c: Column, n: Int): Column = {
    val t = tokens(c)
    val sh = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)), i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    when(size(sh) > 0,
      floor((size(sh) - size(array_distinct(sh))).cast("double") / size(sh) * 10000.0 + 0.5)
        .cast("long"))
      .otherwise(lit(0L))
  }

  /** Fraction of lines starting with a bullet marker, in basis points
    * (Gopher drops docs with >90% bullet lines). */
  def bulletLineBp(c: Column): Column = {
    val l = lines(c)
    floor(size(filter(l, x => trim(x).rlike("^[-*•]"))).cast("double") /
      size(l).cast("double") * 10000.0 + 0.5).cast("long")
  }

  /** Fraction of lines ending in an ellipsis, in basis points (Gopher
    * drops docs with >30% ellipsis lines). */
  def ellipsisLineBp(c: Column): Column = {
    val l = lines(c)
    floor(size(filter(l, x => x.endsWith("..."))).cast("double") /
      size(l).cast("double") * 10000.0 + 0.5).cast("long")
  }

  /** Symbol-to-token ratio in basis points (Gopher's symbol-to-word ratio;
    * symbols = # and ellipsis marks here). */
  def symbolRatioBp(c: Column): Column =
    floor(regexp_count(c, lit("[#…]|\\.\\.\\.")).cast("double") /
      greatest(tokenCount(c).cast("double"), lit(1.0)) * 10000.0 + 0.5).cast("long")

  /** Mean word length ×100 (integer): Gopher keeps documents with mean
    * word length in [3, 10]. */
  def meanWordLenX100(c: Column): Column = {
    val n = normalizeWs(c)
    val ntok = tokenCount(c).cast("double")
    floor((length(n).cast("double") - (ntok - 1)) / greatest(ntok, lit(1.0))
      * 100.0 + 0.5).cast("long")
  }

  // --- PII redaction (training-data scrub: emails, NANP-style phones,
  // IPv4s). Patterns are RE2-compatible (no backrefs/lookaround), so the
  // DuckDB oracle reproduces matches exactly; Java and RE2 agree on \b and
  // \d here. Redaction order: emails first (an IP inside an email's domain
  // must redact as part of the email), then IPs, then phones. ---
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The text with PII spans replaced by [EMAIL]/[IP]/[PHONE] tokens. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Per-kind PII match counts over the ORIGINAL text (overlaps count in
    * each kind, like independent scanners). */
  def emailCount(c: Column): Column = regexp_count(c, lit(EmailRe))
  def phoneCount(c: Column): Column = regexp_count(c, lit(PhoneRe))
  def ipv4Count(c: Column): Column = regexp_count(c, lit(Ipv4Re))

  private def rawQuality(c: Column): Column = {
    val n = normalizeWs(c)
    val nchars = length(n).cast("double")
    val ntok = tokenCount(c).cast("double")
    val lenScore = least(nchars / 500.0, lit(1.0))
    val stopRatio = least(markerCount(lower(c), EnMarkers ++ Seq("a", "in", "is")).cast("double") /
      greatest(ntok, lit(1.0)) * 5.0, lit(1.0))
    val punctRatio = regexp_count(c, lit("[.,!?;:]")).cast("double") / greatest(nchars, lit(1.0))
    val meanWordLen = (nchars - (ntok - 1)) / greatest(ntok, lit(1.0))
    val wordLenScore = least(meanWordLen / 8.0, lit(1.0))
    lenScore * 0.3 + stopRatio * 0.3 + (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.2 +
      wordLenScore * 0.2
  }
}
