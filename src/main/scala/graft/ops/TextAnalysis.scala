package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language identification, quality scoring, and document
  * fingerprinting. Everything here is a pure, codegen-friendly column
  * expression (no UDFs) — at 100 TB the per-document work stays inside
  * whole-stage codegen and never leaves the scan's projection, so the
  * operators scale linearly with zero shuffles.
  *
  * Cross-engine determinism: the expressions use only primitives with
  * identical semantics in Spark and the DuckDB oracle (regexp split,
  * md5, instr, integer arithmetic), so every operator is oracle-checkable.
  */
object TextAnalysis {

  /** Lowercased alphanumeric word tokens; empty tokens filtered.
    * DuckDB mirror: list_filter(regexp_split_to_array(lower(t),'[^a-z0-9]+'), x -> x<>''). */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** JVM-side twin of [[tokens]] — THE canonical local tokenizer every
    * tight-loop kernel (shingles, n-grams, passages, row-wise simhash)
    * must share, so they stay byte-identical with the expression form
    * and the DuckDB oracle. Locale.ROOT matches Spark lower()'s ASCII
    * fast path exactly (the case that matters for [a-z0-9] tokens);
    * Spark's non-ASCII slow path is default-locale, and under a
    * non-ROOT default locale (e.g. Turkish) mixed non-ASCII+'I'
    * strings can diverge between the two forms — and equally between
    * Spark and the oracle — so ROOT is the consistent choice. */
  // String.split(String) recompiles the pattern on every call — this
  // runs per row on the sketch/shingle hot paths, so compile once
  private val TokenSplit = java.util.regex.Pattern.compile("[^a-z0-9]+")

  private[ops] def tokensLocal(text: String): Array[String] =
    if (text == null) Array.empty
    else TokenSplit.split(text.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)

  /** Token count — bit-equal to `size(tokens(c))` via the native
    * byte-scan expression ([[graft.expressions.TokenRunCount]]): no
    * token-array materialization, no regex, one pass over the raw
    * bytes inside WholeStageCodegen. */
  def tokenCount(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.TokenRunCount(
      GraftColumnBridge.expression(c.cast("string"))))
  }

  /** BPE-ish subword count estimate: words + digit runs + punctuation
    * islands, the standard cheap proxy for tokenizer cost when the real
    * BPE vocab is not available. Counted with regexp_count-equivalent
    * arithmetic (identical in DuckDB). */
  def subwordCountEstimate(c: Column): Column =
    // pieces of <=4 chars: ceil(len/4) per token, summed — the kernel's
    // sum_subwords field ((len+3)/4 == ceil(len/4.0) exactly for len ≥ 1)
    tokenStats(c).getField("sum_subwords")

  // ---- language identification (stopword / script heuristic) ----

  /** Tiny per-language stopword lists. A real system ships n-gram
    * profiles; the heuristic structure (per-language evidence score →
    * argmax with deterministic precedence) is identical. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "ich", "auf"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans", "pour", "ce", "il"))

  /** Count of tokens belonging to `lang`'s stopword list. */
  def stopwordCount(c: Column, lang: String): Column =
    size(filter(tokens(c), t => t.isin(stopwords(lang).map(lit): _*)))

  // ---- fused one-pass token statistics ----

  /** The language precedence order [[tokenStatsLangs]] encodes in its
    * `stops` array (index 0 = en … 3 = fr) — [[langIdFromStats]]'
    * field order depends on it. */
  private val LangOrder = Seq("en", "de", "es", "fr")

  /** One-pass fused token statistics ([[graft.expressions.TokenStats]]):
    * struct(n_chars, n_punct, n_tokens, sum_token_len, sum_subwords,
    * has_cjk, stops — one count per requested stop list). Each field is
    * bit-equal to the expression chain it replaces (see the kernel's
    * doc). Project it ONCE as a named column and derive scores with the
    * `*FromStats` helpers: Catalyst does not CSE the `tokens(c)`
    * subtree across `size(filter(...))`/`aggregate(...)`/CASE branches,
    * so the HOF forms tokenized a document up to 6 times per row where
    * this is one byte scan (and CollapseProject never inlines a
    * non-cheap alias into multiple consumers, so the projected column
    * is computed exactly once). */
  def tokenStats(c: Column, lists: Seq[Seq[String]] = Nil): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.TokenStats(
      GraftColumnBridge.expression(c.cast("string")), lists))
  }

  /** [[tokenStats]] with the EN stop list at index 0 — the inputs of
    * [[qualityScore]] / [[stopwordRatio]]. */
  def tokenStatsEn(c: Column): Column = tokenStats(c, Seq(stopwords("en")))

  /** [[tokenStats]] with all four language lists (en, de, es, fr — the
    * [[LangOrder]]) — the inputs of [[langId]] AND [[qualityScore]]
    * (en sits at index 0), so one projection serves both. */
  def tokenStatsLangs(c: Column): Column =
    tokenStats(c, LangOrder.map(stopwords))

  /** The curation triple struct(lang, quality, n_tokens) computed
    * in-kernel ([[graft.expressions.TokenCurateStats]]) — bit-equal to
    * `langIdFromStats`/`qualityFromStats`/`getField(n_tokens)` over
    * [[tokenStatsLangs]], but each consumer is a CHEAP getField, so a
    * predicate pushed down through the projection (the streaming
    * curate stage, where no checkpoint barrier exists) inlines ~4
    * small subtrees instead of the ~30-reference score ladders that
    * overflowed the 64 KB codegen method limit. */
  def tokenCurateStats(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.TokenCurateStats(
      GraftColumnBridge.expression(c.cast("string")), LangOrder.map(stopwords)))
  }

  /** `punctRatio` from a projected stats column. */
  def punctRatioFromStats(st: Column): Column = {
    val n = st.getField("n_chars")
    when(n === 0, 0.0).otherwise(st.getField("n_punct").cast("double") / n)
  }

  /** `stopwordRatio` (EN at `idx`) from a projected stats column. */
  def stopwordRatioFromStats(st: Column, idx: Int = 0): Column = {
    val nt = st.getField("n_tokens")
    when(nt === 0, 0.0)
      .otherwise(st.getField("stops").getItem(idx).cast("double") / nt)
  }

  /** Mean token length in characters, from a projected stats column. */
  def meanTokenLenFromStats(st: Column): Column = {
    val nt = st.getField("n_tokens")
    when(nt === 0, 0.0)
      .otherwise(st.getField("sum_token_len").cast("double") / nt)
  }

  /** `qualityScore` from a projected stats column (needs the EN list
    * at index 0 — [[tokenStatsEn]] or [[tokenStatsLangs]]). */
  def qualityFromStats(st: Column): Column = {
    val nt = st.getField("n_tokens").cast("double")
    val lenOk   = when(nt >= 10 && nt <= 10000, 1.0).otherwise(0.0)
    val mtl     = meanTokenLenFromStats(st)
    val shapeOk = when(mtl >= 2.0 && mtl <= 12.0, 1.0).otherwise(0.0)
    val punctOk = when(punctRatioFromStats(st) <= lit(0.2), 1.0).otherwise(0.0)
    val stopOk  = when(stopwordRatioFromStats(st) >= lit(0.01), 1.0).otherwise(0.0)
    (lenOk * 0.3 + shapeOk * 0.3 + punctOk * 0.2 + stopOk * 0.2)
  }

  /** `langId` from a projected [[tokenStatsLangs]] column — the same
    * CASE ladder over the kernel's has_cjk flag and stop counts. */
  def langIdFromStats(st: Column): Column = {
    val s = st.getField("stops")
    val en = s.getItem(0); val de = s.getItem(1)
    val es = s.getItem(2); val fr = s.getItem(3)
    when(st.getField("has_cjk"), lit("zh"))
      .when(en === 0 && de === 0 && es === 0 && fr === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Predicted language: zh if CJK chars present, else argmax stopword
    * evidence with fixed precedence en > de > es > fr (deterministic
    * tie-break), 'und' when no evidence at all. The zh branch uses a
    * short-circuit rlike rather than counting every CJK codepoint. */
  def langId(c: Column): Column = langIdFromStats(tokenStatsLangs(c))

  /** [[langId]] over ALREADY-COMPUTED stopword counts — use when the
    * counts are also projected as output columns, so the token array
    * isn't re-built per language inside the CASE (Catalyst does not CSE
    * across when-branches; measured ~2x on the documents scan). */
  def langIdFromCounts(c: Column, en: Column, de: Column,
                       es: Column, fr: Column): Column =
    when(c.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(en === 0 && de === 0 && es === 0 && fr === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))

  // ---- quality scoring ----

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(c: Column): Column = punctRatioFromStats(tokenStats(c))

  /** Ratio of tokens that are English stopwords — prose correlates with
    * a nonzero rate; keyword-stuffed or boilerplate text scores ~0. */
  def stopwordRatio(c: Column): Column =
    stopwordRatioFromStats(tokenStatsEn(c))

  /** Composite quality score in [0,1]: length band + word-shape band +
    * punctuation sanity + stopword evidence. The weights are the usual
    * heuristic-filter shape (Gopher-style rules), expressed as pure
    * arithmetic so the oracle can recompute it exactly. */
  def qualityScore(c: Column): Column = qualityFromStats(tokenStatsEn(c))

  /** Shannon entropy (nats) of the document's CHARACTER distribution —
    * the quality signal [[qualityScore]]'s token heuristics can't see:
    * base64/hex blobs and minified payloads sit at the high end
    * (near-uniform bytes), single-char runs and trivial spam at the
    * low end, prose in a stable mid band. H = −Σ p(ch)·ln p(ch).
    *
    * Cross-engine determinism: the sum folds LEFT over the SORTED
    * distinct characters ((0+t₁)+t₂)+… — both engines evaluate the
    * identical association, and 0.0 + x = x exactly, so the oracle's
    * first-element fold matches — and the `0.0 − Σ` form (not unary
    * minus) keeps an all-zero sum at +0.0 in both engines. Computed by
    * the native one-pass expression ([[graft.expressions.CharEntropy]],
    * O(len + distinct·log distinct) per row inside WholeStageCodegen —
    * the original expression-chain form re-scanned the materialized
    * char array once per distinct char and measured 162 s over sf0.1;
    * the kernel pins the identical fold order and division, so the
    * output is bit-equal). Empty / null text scores 0.0. */
  def charEntropy(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.CharEntropy(
      GraftColumnBridge.expression(coalesce(c.cast("string"), lit("")))))
  }

  /** Gopher-style repetition-free quality rules (Rae et al. 2021,
    * "Scaling Language Models: … Gopher", Table A1 — the subset whose
    * signals exist in a single text column, adapted where the paper
    * counts raw symbols: the symbol rule here flags WORDS containing
    * '#' or '…'-style ellipses). Words are WHITESPACE tokens (the
    * paper's definition — distinct from [[tokens]]' alnum tokenizer,
    * which still feeds the stopword rule). Rules:
    *   wc_ok    50 ≤ word count ≤ 100 000
    *   mwl_ok   3 ≤ mean word length ≤ 10
    *   sym_ok   symbol-word ratio ≤ 0.1
    *   alpha_ok ≥ 80 % of words contain an alphabetic char
    *   stop_ok  ≥ 2 distinct common stopwords present
    * Returns a struct (n_words, mean_word_len, wc_ok … pass) with
    * flags as 0/1 ints; `pass` = all five. Every ratio divides two
    * exact integers once, so cross-engine parity is trivial; all
    * ratio rules are explicitly nw > 0-guarded (an empty document
    * fails every rule, without NaN semantics entering the compare).
    * One codegen'd projection, no shuffle. */
  def gopherFlags(c: Column): Column = {
    val t = coalesce(c.cast("string"), lit(""))
    val words = filter(split(t, "\\s+"), w => length(w) > 0)
    val nw = size(words)
    val nwd = nw.cast("double")
    val mwl = when(nw > 0,
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / nwd)
      .otherwise(lit(0.0))
    val nSym = size(filter(words, w =>
      w.contains("#") || w.contains("...") || w.contains("…")))
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]")))
    val toks = tokens(t)
    val nStop = GopherStopwords
      .map(sw => when(array_contains(toks, sw), 1).otherwise(0))
      .reduce(_ + _)
    val wcOk = when(nw >= 50 && nw <= 100000, 1).otherwise(0)
    val mwlOk = when(nw > 0 && mwl >= 3.0 && mwl <= 10.0, 1).otherwise(0)
    val symOk = when(nw > 0 && nSym.cast("double") / nwd <= 0.1, 1).otherwise(0)
    val alphaOk = when(nw > 0 && nAlpha.cast("double") / nwd >= 0.8, 1).otherwise(0)
    val stopOk = when(nStop >= 2, 1).otherwise(0)
    struct(
      nw.cast("long").as("n_words"),
      round(mwl, 6).as("mean_word_len"),
      wcOk.as("wc_ok"), mwlOk.as("mwl_ok"), symOk.as("sym_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      when(wcOk + mwlOk + symOk + alphaOk + stopOk === 5, 1).otherwise(0)
        .as("pass"))
  }

  /** The stopword list [[gopherFlags]]' stop_ok rule probes. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // ---- fingerprinting ----

  /** Canonical content fingerprint: md5 over the whitespace-normalized,
    * lowercased token stream. Robust to formatting noise; the exact-dedup
    * key at any scale (group on 128-bit digest, never on raw text). */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", tokens(c)).cast("binary"))

  /** Karp–Rabin polynomial rolling hash over the token stream, base 257
    * mod 2^31-1. Unlike [[fingerprint]] this supports incremental /
    * windowed update (content-defined chunking); arithmetic stays in
    * Long → no overflow, identical in any engine. */
  def rollingHash(c: Column): Column =
    aggregate(
      transform(tokens(c), t => tokenHash31(t)),
      lit(0L),
      (acc, h) => (acc * 257L + h) % 2147483647L)

  /** Per-token 31-bit hash: integer value of the first 7 hex chars of
    * md5 (28 bits). Spark evaluates it with one `conv(hex,16,10)`; the
    * DuckDB oracle decodes digit-by-digit via instr — same number. */
  private[ops] def tokenHash31(t: Column): Column =
    graft.expressions.Kernels.hexSliceLong(md5(t.cast("binary")), 1, 7)

  /** `nBits`-bit SimHash (nBits ≤ 128) in ONE pass over the tokens.
    * Bit j is the sign of Σ_tokens (2·b_j(tok) − 1), where b_j(tok) is
    * bit (j/32) of md5(tok)'s hex digit (j%32) — an engine-portable LSH
    * family member, so the first 32 bits are one parity bit per digit
    * and wider sketches extend it without changing existing bits.
    * Returned as an nBits-char '0'/'1' string (MSB first); near-
    * duplicates differ in few bits (Hamming distance on the string).
    * A NULL or token-free text sketches to all zeros. 16 bits suffices
    * for a bounded-vocab fixture; corpus-scale Hamming dedup wants 64
    * so the band keys don't saturate (see
    * [[graft.ops.Dedup.simhashNearDup]]). */
  def simHashRow(c: Column, nBits: Int = 64): Column = {
    require(nBits >= 1 && nBits <= 128, s"nBits $nBits outside md5's 128 bits")
    val f = udf { (t: String) =>
      val sums = new Array[Long](nBits)
      if (t != null) {
        val toks = tokensLocal(t)
        toks.foreach { tok =>
          val d = graft.Digests.md5(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var j = 0
          while (j < nBits) {
            val p = j % 32 // hex digit index; high nibble of each byte first
            val digit = (d(p / 2) >> (4 * (1 - (p % 2)))) & 0xf
            sums(j) += ((digit >> (j / 32)) & 1) * 2 - 1
            j += 1
          }
        }
      }
      val sb = new java.lang.StringBuilder(nBits)
      var j = 0
      while (j < nBits) { sb.append(if (sums(j) > 0) '1' else '0'); j += 1 }
      sb.toString
    }
    f(c)
  }

  // ---- PII redaction (corpus scrubbing before training) ----

  /** Email/phone patterns kept to the regex subset Java and RE2 agree
    * on (character classes, bounded repeats — no backrefs/lookarounds),
    * so the DuckDB oracle replays them verbatim. The phone pattern
    * requires a leading + or ( to avoid eating ordinary long numbers;
    * a production scrubber would add locale-specific forms behind the
    * same interface. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[+(][0-9 ()-]{6,}[0-9]"

  /** Count of email-shaped substrings. */
  def emailCount(c: Column): Column = regexp_count(c, lit(EmailPattern))

  /** Count of phone-shaped substrings (after emails are removed, so a
    * digit run inside an address never double-counts). */
  def phoneCount(c: Column): Column =
    regexp_count(regexp_replace(c, EmailPattern, "<EMAIL>"), lit(PhonePattern))

  /** Text with emails then phones replaced by typed placeholder tags —
    * a pure codegen'd projection (two regex passes per row, no shuffle,
    * trivially linear at any corpus size). */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  // ---- markup stripping (web-scrape cleaning) ----

  /** HTML-ish tags and absolute URLs, in the RE2/Java common subset.
    * `<[^>]*>` is the pragmatic scrape-cleaning tag pattern (a real
    * HTML parser is a codec concern, like Multimodal's decoder slot);
    * the URL pattern stops at whitespace and common terminators. */
  val TagPattern = "<[^>]*>"
  val UrlPattern = "https?://[A-Za-z0-9./_%?&=#+-]+"

  def tagCount(c: Column): Column = regexp_count(c, lit(TagPattern))
  def urlCount(c: Column): Column = regexp_count(c, lit(UrlPattern))

  /** Markup-stripped text: tags and URLs replaced by spaces, whitespace
    * runs collapsed, ends trimmed — three regex passes, pure projection. */
  def stripMarkup(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(regexp_replace(c, TagPattern, " "), UrlPattern, " "),
      "\\s+", " "))

  /** Block-level HTML tags: the boundaries main-content extraction
    * scores between. Inline tags (<a>, <b>, <span>…) stay INSIDE a
    * block — that is what makes link density measurable per block. */
  val BlockTagPattern: String =
    "(?i)</?(?:div|p|ul|ol|li|nav|footer|header|aside|section|article|" +
      "table|thead|tbody|tr|td|th|h[1-6]|blockquote|form|main|br)[^>]*>"

  /** Main-content extraction from raw HTML — the block-level
    * boilerplate removal (jusText, Pomikálek 2011; trafilatura) that
    * web curation runs BEFORE any quality rule: q51's whole-document
    * tag strip keeps nav bars, share buttons, and footers glued to the
    * article text, and every downstream signal (lang-id, quality,
    * dedup fingerprints) inherits that noise. The page is split at
    * block-level tag boundaries ([[BlockTagPattern]]) and each block
    * is scored with jusText's core signals, reduced to INTEGER-ONLY
    * gates (no float thresholds → nothing to round cross-engine):
    * a block is content iff
    *   text length ≥ minChars  AND  3·linkTextLen ≤ textLen (link
    *   density ≤ ⅓ — navigation is mostly anchor text)  AND
    *   ≥ 1 English stopword ([[stopwords]]("en") over [[tokens]]) —
    *   prose has function words; "Home About Contact" and copyright
    *   lines do not.
    * Returns (id, main_text, n_blocks, n_kept): kept block texts
    * newline-joined, counted over nonempty blocks. Null html passes
    * through with null main_text and zero counts.
    *
    * Scale shape: a PURE PROJECTION — split + per-block regex/array
    * HOFs, no shuffle, no state; trivially linear and
    * partition-parallel at any corpus size. A real DOM parser is a
    * codec concern (the Multimodal decoder-slot pattern); the regex
    * block model is the standard scrape-cleaning approximation. */
  def htmlMainContent(df: DataFrame, idCol: String, htmlCol: String,
                      minChars: Int = 25): DataFrame = {
    def cleanTxt(b: Column): Column =
      trim(regexp_replace(regexp_replace(b, TagPattern, " "), "\\s+", " "))
    def linkTxt(b: Column): Column =
      cleanTxt(array_join(
        regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "))
    val scored = transform(split(col(htmlCol).cast("string"), BlockTagPattern),
      b => struct(cleanTxt(b).as("txt"), length(cleanTxt(b)).as("n"),
        length(linkTxt(b)).as("ln"),
        size(filter(tokens(cleanTxt(b)), t =>
          t.isin(stopwords("en").map(lit): _*))).as("sw")))
    def good(s: Column): Column =
      s.getField("n") >= minChars &&
        s.getField("ln") * 3 <= s.getField("n") && s.getField("sw") >= 1
    df.select(col(idCol).as("id"), col(htmlCol))
      .withColumn("__b", filter(scored, s => s.getField("n") > 0))
      .select(col("id"),
        when(col(htmlCol).isNull, lit(null).cast("string"))
          .otherwise(array_join(
            transform(filter(col("__b"), good _), s => s.getField("txt")),
            "\n")).as("main_text"),
        coalesce(size(col("__b")), lit(0)).cast("long").as("n_blocks"),
        coalesce(size(filter(col("__b"), good _)), lit(0)).cast("long")
          .as("n_kept"))
  }

  /** Structured URL decomposition for web-corpus curation — the fields
    * host-level dedup, blocklists, and per-domain mixing key on:
    * (host, tld, path, depth, query). Built on Spark's native
    * `try_parse_url` expression (the real URI grammar, null on invalid) plus
    * regexp tld extraction; path depth counts non-empty segments.
    * Null/unparseable inputs yield null fields (parse_url semantics). */
  def urlParts(url: Column): Column = {
    // DNS hosts are case-insensitive — lowercase once so host-level
    // dedup / blocklist / mixing keys never split on case
    val host = lower(try_parse_url(url, lit("HOST")))
    val path = try_parse_url(url, lit("PATH"))
    // tld: last dot-separated label, required to START WITH A LETTER —
    // real TLDs all do, IPv4 octets never do (an IP host must not mix
    // under a nonsense single-octet "tld"); nullif turns the
    // no-match empty string into a real null (dotless hosts like
    // localhost have NO tld, not an empty one)
    struct(
      host.as("host"),
      nullif(regexp_extract(host, "\\.([a-z][a-z0-9-]*)$", 1), lit("")).as("tld"),
      path.as("path"),
      size(filter(split(path, "/"), s => s =!= "")).as("depth"),
      try_parse_url(url, lit("QUERY")).as("query"))
  }

  // ---- Unicode normalization / cleaning ----

  /** Unicode NFC normalization via the native codegen expression
    * ([[graft.expressions.NfcNormalize]]) — decomposed "e"+U+0301 and
    * composed "é" must fingerprint, tokenize, and dedup identically,
    * so NFC is step zero of the cleaning ladder. DuckDB mirror:
    * `nfc_normalize(c)` (utf8proc — same UAX #15 algorithm). */
  def nfcNormalize(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.NfcNormalize(
      GraftColumnBridge.expression(c.cast("string"))))
  }

  /** Standard web-corpus text cleanup: NFC normalize, strip C0/DEL
    * control characters (keeping \t and \n, which carry layout; \r
    * dies with the rest), then collapse horizontal whitespace runs and
    * trim. Order matters and is part of the contract: NFC FIRST (so a
    * combining mark orphaned by control-char removal can't compose
    * with the wrong base), controls second, whitespace last. Pure
    * column expression — one projection, no shuffle, the tail dies at
    * the scan. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfcNormalize(c),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  // ---- multi-term (blocklist) matching ----

  /** Per-term SUBSTRING occurrence counts (overlaps included) of a
    * fixed term list over the lowercased text, via the native
    * Aho–Corasick expression ([[graft.expressions.MultiTermCount]]) —
    * one automaton pass per document regardless of blocklist size,
    * where N `contains()` predicates would cost O(N·L). Returns
    * array<int> aligned with `terms`. */
  def termCounts(c: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    // the scanned text is lowercased, so the automaton must be too —
    // an uppercase term would otherwise silently never match
    GraftColumnBridge.column(graft.expressions.MultiTermCount(
      GraftColumnBridge.expression(lower(c.cast("string"))),
      terms.map(_.toLowerCase(java.util.Locale.ROOT))))
  }

  /** Total blocklist hits — the scalar gate form of [[termCounts]]. */
  def blocklistHits(c: Column, terms: Seq[String]): Column =
    aggregate(termCounts(c, terms), lit(0), (a, x) => a + x)

  // ---- encoding / mojibake audit ----

  /** Encoding-health audit of a text column — the triage signal that
    * decides whether a crawl shard needs re-decoding before it enters
    * the corpus. Three independent counters plus the composite flag:
    *
    *  - `n_replacement` — U+FFFD replacement characters (a decoder
    *    already gave up on those bytes);
    *  - `n_mojibake` — "Ã?" pairs (U+00C3 followed by U+0080–U+00BF),
    *    the signature of 2-byte UTF-8 sequences re-decoded as
    *    Latin-1/Windows-1252 ("é" → "Ã©") — each pair is one mangled
    *    original character, so the count divides by 2;
    *  - `n_ctrl` — C0/DEL control characters ([[cleanText]]'s strip
    *    class: \t and \n exempt).
    *
    * All three are length-difference counts over regexp strips — pure
    * codegen projection, no shuffle, identical RE2/Java character
    * classes. Null text audits as empty (all-zero, ok). */
  def encodingAudit(c: Column): Column = {
    val t = coalesce(c.cast("string"), lit(""))
    val nRepl = length(t) - length(regexp_replace(t, "\uFFFD", ""))
    // Column./ is double division; the diff is always even, so the
    // int cast is exact \u2014 keeps the counter integral like its siblings
    val nMoji = ((length(t) -
      length(regexp_replace(t, "\u00C3[\u0080-\u00BF]", ""))) / 2)
      .cast("int")
    val nCtrl = length(t) -
      length(regexp_replace(t, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""))
    struct(nRepl.as("n_replacement"), nMoji.as("n_mojibake"),
      nCtrl.as("n_ctrl"),
      (nRepl === 0 && nMoji === 0 && nCtrl === 0).cast("int")
        .as("encoding_ok"))
  }

  // ---- registrable-domain extraction ----

  /** Multi-part public suffixes the extractor must treat as a single
    * TLD unit — loaded from the checked-in fixture
    * `public_suffix_multipart.txt` (classpath root; provenance,
    * coverage note and line format documented in the file itself), so
    * a deployment swaps in the full ~9k-entry publicsuffix.org list by
    * replacing the file, no code change. The extraction ALGORITHM
    * (match a listed suffix on the last two labels, keep one more
    * label) is size-independent; with the full PSL the `isin` below
    * compiles to an O(1)-lookup InSet, so the cost stays one hash
    * probe per row. Falls back to the built-in 6-entry subset if the
    * resource is missing from the classpath. */
  val multiPartSuffixes: Seq[String] = {
    val fallback = Seq("co.uk", "org.uk", "ac.uk", "com.au", "co.jp", "com.br")
    // the whole load sits inside Try: a read error mid-stream (not
    // just a missing resource) must degrade to the fallback subset,
    // never escape a val initializer as ExceptionInInitializerError
    // and poison every TextAnalysis member on that JVM
    scala.util.Try {
      Option(getClass.getResourceAsStream("/public_suffix_multipart.txt"))
        .map { in =>
          try {
            val ls = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toList
            if (ls.nonEmpty) ls else fallback
          } finally in.close()
        }.getOrElse(fallback)
    }.getOrElse(fallback)
  }

  /** Registrable domain ("eTLD+1") of an already-lowercased host:
    * the last TWO labels, or the last THREE when the last two form a
    * listed multi-part public suffix ("a.b.co.uk" → "b.co.uk", while
    * "a.b.com" → "b.com"). Hosts with a single label (localhost) pass
    * through unchanged. This is the key every per-domain cap, mixing
    * weight, and crawl-politeness policy groups on — grouping on the
    * raw host would let one site dodge its cap by minting subdomains.
    *
    * Malformed-host hygiene (routine in crawl data): EMPTY labels are
    * dropped before extraction, so a trailing-dot FQDN
    * ("example.com.") and doubled dots ("a..com") canonicalize to
    * their real domain instead of all colliding on a shared ".com"/
    * "com." key — which would let one malformed site family consume
    * another's cap. Null hosts stay null (callers drop them). */
  def registrableDomain(host: Column): Column = {
    val labels = filter(split(host, "\\."), l => l =!= "")
    // coalesce: size(null) is null under non-legacy semantics — fold
    // the null-host case into the 0-label branch below
    val n = coalesce(size(labels), lit(0))
    val lastTwo = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val lastThree = concat_ws(".", element_at(labels, -3), lastTwo)
    // n <= 0 covers both the "."-only/empty host (0 labels) and the
    // null host (size(null) = -1): no domain either way
    when(n <= 0, lit(null).cast("string"))
      .when(n === 1, element_at(labels, -1)) // bare label, dot-cleaned
      .when(n >= 3 && lastTwo.isin(multiPartSuffixes.map(lit): _*), lastThree)
      .otherwise(lastTwo)
  }

  /** Occurrences of an exact token phrase in a token-array column:
    * the number of start positions j where toks[j..j+m) equals the
    * phrase (overlapping matches count — "a a a" contains "a a"
    * twice). The positional-postings phrase query of an inverted
    * index, collapsed to a pure projection: the phrase is a literal,
    * so the position-list intersection unrolls into one fused
    * conjunctive predicate per window start — no postings table, no
    * shuffle, codegen end to end. Zero when the doc is shorter than
    * the phrase. */
  def phraseCount(toks: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val m = phrase.length
    when(size(toks) < m, lit(0L)).otherwise(
      aggregate(sequence(lit(1), size(toks) - (m - 1)), lit(0L), (acc, j) =>
        acc + when(phrase.zipWithIndex.map { case (w, i) =>
            element_at(toks, j + lit(i)) === lit(w)
          }.reduce(_ && _), lit(1L)).otherwise(lit(0L))))
  }

  /** Exact-phrase search over a text column for a set of query
    * phrases: one row per (doc, phrase) with the phrase's occurrence
    * count, hit rows only. ONE corpus scan for ALL phrases — each is
    * an independent [[phraseCount]] projection over the same token
    * array, fanned out row-wise (|phrases|-bounded) and filtered
    * before anything leaves the scan. Returns (id, phrase, n_occur),
    * phrase rendered space-joined. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__t"))
      .select(col("id"), explode(array(phrases.map(p =>
        struct(lit(p.mkString(" ")).as("phrase"),
          phraseCount(col("__t"), p).as("n_occur"))): _*)).as("pc"))
      .select(col("id"), col("pc.phrase").as("phrase"),
        col("pc.n_occur").as("n_occur"))
      .filter(col("n_occur") > 0)
  }

  /** PII patterns of [[piiRedact]] (beside [[EmailPattern]]) and its
    * oracle: restricted to constructs with IDENTICAL semantics in Java
    * regex and RE2 (character classes, bounded repetition, ASCII \b),
    * so the DuckDB replay is bit-equal. Deliberately
    * high-precision/ASCII-simple — production recall tuning swaps
    * patterns, not plumbing. */
  val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII detection + redaction — the pre-training privacy scrub
    * (emails, IPv4s, US-style phone numbers) every public-corpus
    * pipeline runs before tokenization. Counts are taken per type on
    * the ORIGINAL text (independent patterns — the audit metric), the
    * rewrite applies email → IP → phone in a fixed order so nested
    * matches resolve deterministically (an IPv4 inside an email's
    * domain is already `<EMAIL>` by the time the IP pass runs).
    *
    * Pure projection: three regexp_extract_all counts + three chained
    * regexp_replace, all inside one codegen'd map — no shuffle, no
    * UDF. Returns (id, clean_text, n_emails, n_ips, n_phones); null
    * text passes through with zero counts. */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol).cast("string")
    def n(re: String) =
      coalesce(size(regexp_extract_all(t, lit(re), lit(0))), lit(0))
        .cast("long")
    df.select(col(idCol).as("id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailPattern, "<EMAIL>"),
          PiiIpRe, "<IP>"),
        PiiPhoneRe, "<PHONE>").as("clean_text"),
      n(EmailPattern).as("n_emails"),
      n(PiiIpRe).as("n_ips"),
      n(PiiPhoneRe).as("n_phones"))
  }

  /** Markdown fenced-code-block pattern: ``` + optional language tag,
    * newline, lazily up to the closing ``` — `(?s)` so bodies span
    * lines. RE2-safe (lazy quantifier, no backrefs), so DuckDB
    * replays it verbatim. */
  private val CodeFenceRe = "(?s)```([a-zA-Z0-9+_-]*)\\n(.*?)```"

  /** Fenced-code-block extraction — the code-data prep pass of a
    * mixed-corpus pipeline ("how much code is in this crawl, in which
    * languages"): every ```lang ... ``` block is counted per
    * (doc, language), with total body characters. An untagged fence
    * reports lang '' (callers decide whether to lang-id the body).
    * Pure projection + one explode: the two capture groups are pulled
    * by parallel regexp_extract_all calls zipped positionally (same
    * match list, so indices align by construction); docs without
    * fences produce no rows. Output: (id, lang, n_blocks,
    * n_code_chars), one row per (doc, language). */
  def codeFences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol).cast("string")
    df.filter(t.isNotNull)
      .select(col(idCol).as("id"),
        explode(arrays_zip(
          regexp_extract_all(t, lit(CodeFenceRe), lit(1)).as("lang"),
          regexp_extract_all(t, lit(CodeFenceRe), lit(2)).as("body")))
          .as("f"))
      .groupBy(col("id"), col("f.lang").as("lang"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(length(col("f.body"))), lit(0L)).cast("long")
          .as("n_code_chars"))
  }
}
