package graft.analysis


import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Analysis chain: html→text extraction, UAX#29 word tokenization,
  * lowercasing, stop filtering (SURVEY.md §2.2).
  *
  * Tokenization re-creates the behavior of the reference's
  * `StandardTokenizer` (JFlex UAX#29 word-break grammar, maxTokenLength
  * 255) [U lucene/core/.../analysis/standard/StandardTokenizer.java]
  * with a hand-rolled UAX#29-subset scanner (see scanTokens — chosen
  * over ICU's BreakIterator, which plateaued under thread scaling).
  * Lowercase + stop filtering are applied with Spark BUILT-IN array
  * functions (codegen'd), not UDFs; only the tokenizer itself is a UDF
  * (it is build-time only — per-doc, not per-query).
  */
object Analysis {

  /** Classic 33-word English stop set
    * [U lucene/analysis/common/.../en/EnglishAnalyzer.ENGLISH_STOP_WORDS_SET].
    * NOTE: Lucene 8.x `StandardAnalyzer()` defaults to an EMPTY stop set;
    * the default index config follows that (so hot terms like "the" are
    * indexed and exercise the skew path), and this set is available as an
    * opt-in StopFilter config. */
  val EnglishStopWords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with")

  val MaxTokenLength = 255

  /** UAX#29-subset word scanner, hand-rolled for throughput and ZERO
    * shared state (ICU's BreakIterator plateaued under 32 threads —
    * allocation-heavy and registry-synchronized). Rules implemented
    * (the subset StandardTokenizer exercises on web text):
    *  - tokens are maximal runs of letters/digits (WordBreak ALetter /
    *    Numeric), joined across medial characters per UAX#29:
    *    apostrophe '\''/'’' between letters (MidLetter),
    *    '.'/',' between digits (MidNum), '_' between alnum
    *    (ExtendNumLet);
    *  - ideographic (Han) and Hiragana code points emit one token per
    *    character (as StandardTokenizer's IDEOGRAPHIC/HIRAGANA types);
    *  - everything else is a separator; maxTokenLength truncates.
    * Golden-tested (AnalysisSpec); the SpecOracle shares this code. */
  private def isWordCp(cp: Int): Boolean =
    Character.isLetter(cp) || Character.isDigit(cp)

  private def isCjkSingle(cp: Int): Boolean =
    Character.isIdeographic(cp) ||
      (cp >= 0x3040 && cp <= 0x309F) // Hiragana

  /** Visit each token as (start, end) char offsets; returns count. */
  def scanTokens(text: String, maxLen: Int)(emit: (Int, Int) => Unit): Int = {
    if (text == null || text.isEmpty) return 0
    val n = text.length
    var i = 0
    var count = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      val w = Character.charCount(cp)
      if (!isWordCp(cp)) i += w
      else if (isCjkSingle(cp)) {
        emit(i, i + w); count += 1; i += w
      } else {
        val start = i
        i += w
        var done = false
        while (!done && i < n) {
          val c = text.codePointAt(i)
          val cw = Character.charCount(c)
          if (isWordCp(c) && !isCjkSingle(c)) i += cw
          else if (c == '\'' || c == '’' || c == '.' || c == ',' || c == '_') {
            // medial: must be flanked by word chars of the right class
            val nextIdx = i + 1
            if (nextIdx < n) {
              val nx = text.codePointAt(nextIdx)
              val prev = text.codePointBefore(i)
              val ok = c match {
                case '\'' | '’' => Character.isLetter(prev) && Character.isLetter(nx)
                case '.' | ',' => Character.isDigit(prev) && Character.isDigit(nx)
                case '_' => isWordCp(prev) && isWordCp(nx)
                case _ => false
              }
              if (ok && !isCjkSingle(nx)) i += 1 else done = true
            } else done = true
          } else done = true
        }
        val end = if (i - start > maxLen) start + maxLen else i
        emit(start, end)
        count += 1
      }
    }
    count
  }

  /** Tokenize into strings (truncated at maxLen). */
  def tokenizeRaw(text: String, maxLen: Int = MaxTokenLength): Array[String] = {
    val out = Array.newBuilder[String]
    scanTokens(text, maxLen)((s, e) => out += text.substring(s, e))
    out.result()
  }

  /** Token count WITHOUT materializing token strings — the field-length
    * (norms) pass runs this: zero per-token allocation. */
  def countTokens(text: String, maxLen: Int = MaxTokenLength): Int =
    scanTokens(text, maxLen)((_, _) => ())

  /** Full analyzer used by the in-memory SpecOracle and tests — must
    * stay semantically identical to the Column pipeline below.
    * Chain: tokenize | lowercase | synonym-canonicalize | stop | stem. */
  def analyze(text: String, stop: Set[String] = Set.empty,
              maxLen: Int = MaxTokenLength, stem: Boolean = false,
              synonyms: Map[String, String] = Map.empty): Array[String] = {
    var ts = tokenizeRaw(text, maxLen).map(lowercase)
    if (synonyms.nonEmpty) ts = applySynonyms(ts, synonyms)
    if (stop.nonEmpty) ts = ts.filterNot(stop)
    if (stem) ts = ts.map(PorterStemmer.stem)
    ts
  }

  /** Synonym canonicalization, single- AND multi-word (the
    * SynonymGraphFilter's merge-to-canonical mode
    * [U lucene/analysis/common/.../synonym/SynonymGraphFilter.java]):
    * a key containing spaces matches that token SEQUENCE and contracts
    * it to the canonical token (greedy, longest rule first, left to
    * right); later positions renumber — consistent on both the engine
    * and SpecOracle paths because positions are array indices here. */
  def applySynonyms(tokens: Array[String], syn: Map[String, String]): Array[String] = {
    if (syn.isEmpty) return tokens
    if (!syn.keysIterator.exists(_.contains(' ')))
      return tokens.map(t => syn.getOrElse(t, t))
    val rules: Array[(Array[String], String)] = syn.toArray
      .map { case (k, v) => (k.split(' '), v) }
      .sortBy(-_._1.length)
    val out = Array.newBuilder[String]
    var i = 0
    while (i < tokens.length) {
      var matched = false
      var r = 0
      while (!matched && r < rules.length) {
        val (pat, repl) = rules(r)
        if (i + pat.length <= tokens.length) {
          var j = 0
          var ok = true
          while (ok && j < pat.length) { ok = tokens(i + j) == pat(j); j += 1 }
          if (ok) { out += repl; i += pat.length; matched = true }
        }
        r += 1
      }
      if (!matched) { out += tokens(i); i += 1 }
    }
    out.result()
  }

  def synonymCol(tokens: Column, synonyms: Map[String, String]): Column =
    if (synonyms.isEmpty) tokens
    else {
      val m = synonyms
      udf((ts: Seq[String]) => applySynonyms(ts.toArray, m).toSeq).apply(tokens)
    }

  /** Porter-stem each token. */
  def stemCol(tokens: Column): Column =
    udf((ts: Seq[String]) => ts.map(PorterStemmer.stem)).apply(tokens)

  /** Locale-independent lowercase, as the reference's LowerCaseFilter
    * (Character-based, not default-locale)
    * [U lucene/analysis/common/.../core/LowerCaseFilter.java]. */
  def lowercase(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  // ---------- Column-level API ----------

  private val tokenizeUdf =
    udf((text: String) => tokenizeRaw(text, MaxTokenLength))

  /** text → array<string> raw tokens (UAX#29). */
  def tokenize(text: Column): Column = tokenizeUdf(text)

  /** Remove stop words — built-in `filter` + array_contains (codegen). */
  def stopFilter(tokens: Column, stop: Seq[String]): Column =
    if (stop.isEmpty) tokens
    else filter(tokens, t => !array_contains(lit(stop.toArray), t))

  /** The full analyzer as a Column:
    * tokenize|lowercase|synonyms|stop|stem. Tokenize+lowercase run as
    * ONE native Catalyst expression (TokenizeExpr, codegen — no
    * ScalaUDF encoder round-trip); synonyms/stop/stem compose on top
    * with built-in array functions where possible. */
  def analyzeCol(text: Column, stop: Seq[String] = Seq.empty,
                 stem: Boolean = false,
                 synonyms: Map[String, String] = Map.empty): Column = {
    val base = stopFilter(
      synonymCol(TokenizeExpr.tokenizeLower(text), synonyms), stop)
    if (stem) stemCol(base) else base
  }

  // ---------- n-gram token filters (§2.2 P1) ----------

  /** EdgeNGramTokenFilter analogue: leading char n-grams of each token,
    * gram sizes minGram..maxGram ascending; tokens shorter than minGram
    * emit nothing (preserveOriginal=false semantics)
    * [U lucene/analysis/common/.../ngram/EdgeNGramTokenFilter.java]. */
  def edgeNgrams(token: String, minGram: Int, maxGram: Int): Seq[String] =
    (minGram to math.min(maxGram, token.length)).map(token.substring(0, _))

  /** NGramTokenFilter analogue: all char n-grams, ordered gram-size
    * then position [U lucene/analysis/common/.../ngram/NGramTokenFilter.java]. */
  def charNgrams(token: String, minGram: Int, maxGram: Int): Seq[String] =
    for {
      n <- minGram to math.min(maxGram, token.length)
      i <- 0 to token.length - n
    } yield token.substring(i, i + n)

  /** Column form of edgeNgrams over a token array — built-in
    * higher-order functions only (codegen), flattened across tokens. */
  def edgeNgramsCol(tokens: Column, minGram: Int, maxGram: Int): Column =
    flatten(transform(
      filter(tokens, t => length(t) >= minGram),
      t => transform(sequence(lit(minGram), least(lit(maxGram), length(t))),
        n => t.substr(lit(1), n))))

  /** Column form of charNgrams over a token array (built-ins only). */
  def charNgramsCol(tokens: Column, minGram: Int, maxGram: Int): Column =
    flatten(transform(
      filter(tokens, t => length(t) >= minGram),
      t => flatten(
        transform(sequence(lit(minGram), least(lit(maxGram), length(t))),
          n => transform(sequence(lit(1), length(t) - n + 1),
            i => t.substr(i, n))))))

  // ---------- char-normalization filters (§2.2 P1) ----------

  /** ASCIIFoldingFilter analogue
    * [U lucene/analysis/common/.../miscellaneous/ASCIIFoldingFilter.java]:
    * NFD-decompose and strip combining marks, plus the ligature /
    * special-letter folds the decomposition path misses. */
  def asciiFold(s: String): String = {
    val specials = Map(
      'æ' -> "ae", 'Æ' -> "AE", 'œ' -> "oe", 'Œ' -> "OE",
      'ø' -> "o", 'Ø' -> "O", 'ß' -> "ss", 'đ' -> "d", 'Đ' -> "D",
      'ł' -> "l", 'Ł' -> "L", 'þ' -> "th", 'Þ' -> "TH", 'ð' -> "d", 'Ð' -> "D")
    val pre = s.flatMap(c => specials.getOrElse(c, c.toString))
    val nfd = java.text.Normalizer.normalize(pre, java.text.Normalizer.Form.NFD)
    nfd.filter(c => Character.getType(c) != Character.NON_SPACING_MARK)
  }

  private val asciiFoldUdf = udf((ts: Seq[String]) => ts.map(asciiFold))

  /** Fold each token to ASCII. */
  def asciiFoldCol(tokens: Column): Column = asciiFoldUdf(tokens)

  /** MappingCharFilter analogue: literal replacements, longest mapping
    * first [U lucene/analysis/common/.../charfilter/MappingCharFilter.java]. */
  def mappingCharFilter(text: Column, mapping: Seq[(String, String)]): Column =
    mapping.sortBy(-_._1.length).foldLeft(text) { case (c, (k, v)) =>
      regexp_replace(c,
        lit(java.util.regex.Pattern.quote(k)),
        lit(java.util.regex.Matcher.quoteReplacement(v)))
    }

  /** PatternReplaceCharFilter analogue — a plain regexp_replace
    * [U lucene/analysis/common/.../pattern/PatternReplaceCharFilter.java]. */
  def patternReplace(text: Column, pattern: String, replacement: String): Column =
    regexp_replace(text, pattern, replacement)

  // ---------- html → text ----------

  /** Deterministic text extraction from the corpus html wrapper.
    * The reference path is HTMLStripCharFilter
    * [U lucene/analysis/common/.../charfilter/HTMLStripCharFilter.java];
    * our corpus generator (FIXTURES.md §1) wraps `text` invertibly in
    * `<p>…</p>`, and BASELINE.json:15 requires `extractText(html)` to be
    * BYTE-IDENTICAL to `text`. We strip tags generically: the payload is
    * everything between tags, which for the generated wrapper is exactly
    * the title + body text; we return the <p> body payload. */
  def extractText(html: Array[Byte]): String = {
    if (html == null) return null
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val open = s.indexOf("<p>")
    if (open < 0) return stripTags(s)
    val close = s.lastIndexOf("</p>")
    if (close < open) return stripTags(s)
    s.substring(open + 3, close)
  }

  /** Generic fallback: drop everything inside <...>. */
  private def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var inTag = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') inTag = true
      else if (c == '>') inTag = false
      else if (!inTag) sb.append(c)
      i += 1
    }
    sb.toString
  }

  private val extractTextUdf = udf((html: Array[Byte]) => extractText(html))

  def extractTextCol(html: Column): Column = extractTextUdf(html)
}
