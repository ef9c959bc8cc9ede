package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting, shingling,
  * MinHash and SimHash signatures.
  *
  * Everything row-wise is expressed as codegen'd `Column` trees built from
  * `org.apache.spark.sql.functions` (higher-order array functions, no UDFs),
  * so whole-stage codegen keeps the hot path fused and the Parquet scan only
  * reads the referenced columns. Scala-side twins of the same algorithms
  * exist for unit testing and for the imperative probe leaves.
  */
object TextOps {

  /** Small multilingual stopword profile, used both by quality scoring and
    * by the n-gram/stopword language-ID heuristic.
    */
  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on",
      "for", "with", "as", "at", "by", "be", "this", "that", "from")

  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "une", "dans"),
    "es" -> Seq("el", "la", "los", "que", "es", "una", "por", "como"),
    "zh" -> Seq() // zh detected by CJK codepoint ratio, not stopwords
  )

  // ---------------------------------------------------------------- tokens

  /** Whitespace tokens, empties dropped. Codegen'd; mirrors DuckDB
    * `str_split` + empty filter for oracle parity.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word tokens further split at letter/digit and
    * case boundaries, approximating byte-pair tokenizer granularity without
    * a vocab (a real BPE vocab is a broadcast dimension at scale).
    */
  def subwordCount(text: Column): Column =
    size(filter(
      split(regexp_replace(text, "([a-z])([A-Z])|([A-Za-z])(\\d)|(\\d)([A-Za-z])", "$1$3$5 $2$4$6"),
      "[\\s\\p{Punct}]+"),
      t => length(t) > lit(0)))

  // ------------------------------------------------------------- quality

  /** Integer-only quality facets (cross-engine hash-stable; no floats). */
  def stopwordCount(text: Column): Column = {
    val stops = array(StopwordsEn.map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(stops, t)))
  }

  /** Quality score in [0,1000], integer arithmetic end-to-end:
    * floor(1000 * stopword_tokens / tokens) — the reference signal a
    * Gopher/C4-style quality filter thresholds on.
    */
  def stopwordRatioMill(text: Column): Column =
    when(tokenCount(text) === 0, lit(null))
      .otherwise(floor(lit(1000.0) * stopwordCount(text) / tokenCount(text)).cast("int"))

  /** Fused language + quality gate predicate, exactly equivalent to
    *
    *   `langIdCol(text) === wantLang &&
    *    stopwordRatioMill(text).cast("long") >= minStopMill`
    *
    * (null stop ratio → null && → row dropped, same as the two-filter
    * form), but ~3× cheaper per row: phrased independently, those two
    * predicates re-tokenize the text 7+ times (each `filter`/`size` pass
    * re-evaluates its own `split` child — higher-order functions are
    * interpreted, so nothing is shared across the five membership counts
    * and three token counts). Here the lowered token array is bound ONCE
    * via the `transform`-over-a-1-element-array let-binding idiom and
    * every count is a pass over the bound array; the only other text
    * scans are the unlowered token count (stopwordRatioMill's exact
    * denominator) and langIdCol's CJK regex. Membership is `isin`
    * (list-equality identical to `array_contains` on literals; the
    * 20-word stopword list additionally converts to an InSet hash probe).
    *
    * The language decision replicates [[langIdCol]]'s when-chain verbatim
    * over the shared counts — no simplification, so equivalence needs no
    * argument beyond "same expressions, same order". Used by the batch
    * curation funnel and the streaming gate, whose scan-side filters are
    * exactly this conjunction (the filter is evaluated on the scan split
    * wherever predicate pushdown lands it, so its per-row cost is the one
    * term that matters at any scale).
    */
  def langStopGate(text: Column, wantLang: String, minStopMill: Long): Column = {
    val nTok = tokenCount(text)
    transform(array(tokens(lower(text))), tk => {
      def cnt(words: Seq[String]): Column =
        size(filter(tk, t => t.isin(words: _*)))
      val sEn = cnt(langMarkers("en"))
      val sDe = cnt(langMarkers("de"))
      val sFr = cnt(langMarkers("fr"))
      val sEs = cnt(langMarkers("es"))
      val mx = greatest(sEn, sDe, sFr, sEs)
      val cjk = length(text) -
        length(regexp_replace(text, "[\\x{4E00}-\\x{9FFF}]", ""))
      val lang = when(length(text) === 0, "und")
        .when(cjk * 5 >= length(text), "zh")
        .when(size(tk) === 0, "und")
        .when(mx === 0, "und")
        .when(sFr === mx, "fr")
        .when(sEs === mx, "es")
        .when(sEn === mx, "en")
        .otherwise("de")
      val stopMill = when(nTok === 0, lit(null))
        .otherwise(floor(lit(1000.0) * cnt(StopwordsEn) / nTok).cast("int"))
      lang === lit(wantLang) && stopMill.cast("long") >= lit(minStopMill)
    }).getItem(0)
  }

  // ------------------------------------------------------ repetition

  /** Gopher-style repetition facets (Rae et al. 2021 §A1.1 quality
    * filters), integer mills for float-free oracle comparison:
    *
    *   - `dup_token_mill`: fraction of tokens that are repeats of an
    *     earlier token, `1000·(n_tokens − n_distinct)/n_tokens`;
    *   - `top_bigram_mill`: fraction of all bigrams taken by the single
    *     most frequent bigram (boilerplate/listicle detector).
    *
    * Entirely ROW-LOCAL: distinct count via `array_distinct`, and the top
    * bigram via sort + longest-equal-run `aggregate` over the row's own
    * bigram array — no explode, no (id, token) shuffle, so a 100 TB corpus
    * filters in a single narrow scan. (The oracle uses the explode+groupBy
    * formulation — fine at oracle scale, and it pins the semantics.)
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
    val withBi = withToks.withColumn("bigrams",
      expr("""transform(
                slice(toks, 1, greatest(cast(size(toks) AS INT) - 1, 0)),
                (t, i) -> concat(t, ' ', element_at(toks, i + 2)))"""))
    // longest equal-run over the SORTED bigram array = max bigram count
    val topBigram = expr(
      """aggregate(
           array_sort(bigrams),
           struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
                  CAST(0 AS BIGINT) AS best),
           (acc, x) -> struct(
             x AS prev,
             CASE WHEN x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END AS run,
             greatest(acc.best,
               CASE WHEN x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END) AS best),
           acc -> acc.best)""")
    withBi.select(col(idCol),
      col("n_tokens"),
      when(col("n_tokens") === 0, lit(null).cast("long"))
        .otherwise(floor(lit(1000.0) * (col("n_tokens") - col("n_distinct"))
          / col("n_tokens")).cast("long")).as("dup_token_mill"),
      size(col("bigrams")).cast("long").as("n_bigrams"),
      when(size(col("bigrams")) === 0, lit(null).cast("long"))
        .otherwise(floor(lit(1000.0) * topBigram / size(col("bigrams")))
          .cast("long")).as("top_bigram_mill"))
  }

  // ---------------------------------------------------- LM-coverage score

  /** Overlapping character trigrams of `c` (lowercased), in order; empty
    * array below 3 chars (guarded — `sequence(1, 0)` would count DOWN).
    * Pure expression tree — rides WholeStageCodegen next to the scan.
    */
  def charTrigrams(c: Column): Column = {
    val lc = lower(c)
    when(length(lc) >= 3,
      transform(sequence(lit(1), length(lc) - 2), i => lc.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
  }

  /** CCNet/KenLM-style fluency gate (Wenzek et al. 2020 §4.3 score-and-
    * threshold), as a deterministic integer variant the DuckDB oracle can
    * replay bit-exactly (a real 5-gram LM's float perplexity can't
    * hash-compare across engines):
    *
    *   - fit: the `k` most frequent character trigrams of the corpus
    *     (count desc, trigram asc tie-break) — a truncated
    *     unigram-over-trigrams model;
    *   - score: per document, the permille of trigram OCCURRENCES found
    *     in the model (`covered * 1000 div total`, integer division).
    *     Gibberish, wrong-charset, and symbol-soup text scores low; text
    *     distributionally typical of the corpus scores high.
    *
    * Scale shape: the model fit explodes once into a hash-agg with
    * map-side combine (distinct trigrams ≪ corpus size) and a TakeOrdered
    * top-k (never a full sort), collapsed to a SINGLE model row holding
    * the k trigrams as a sorted array. Scoring is then entirely ROW-LOCAL:
    * the model row broadcasts (the documented benign 1-row BNLJ of
    * [[tfidfTopTerms]]) and each document counts its own trigram hits
    * with a `filter`/`array_contains` pass over its per-row trigram array
    * — no scoring-side explode, no per-trigram broadcast probe rows, no
    * per-doc aggregate shuffle at all (the r6 rewrite: the previous
    * formulation exploded the corpus TWICE and shuffled one row per doc;
    * the only corpus-sized shuffle left is the model fit's combiner
    * output). Per-trigram cost is k string compares against 3-char keys —
    * scan-local codegen-adjacent work, not data motion.
    * Documents shorter than 3 chars have no trigrams and drop out.
    */
  def lmCoverage(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 512): org.apache.spark.sql.DataFrame = {
    // spread: tokenize/trigram passes are compute-bound; a single-file
    // input otherwise serializes them onto one core (no-op at scale)
    val base = DedupOps.spread(docs.select(col(idCol), col(textCol)))
    val grams = base.select(col(idCol), explode(charTrigrams(col(textCol))).as("tg"))
    val model = grams.groupBy(col("tg")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tg").asc)
      .limit(k)
      .agg(sort_array(collect_list(col("tg"))).as("_mtgs"))
    // the >= 3 lowercased chars gate is exactly "has a trigram"
    // (charTrigrams' own guard; lower() can change length for exotic
    // codepoints, so the gate lowercases too) — phrased array-free so the
    // predicate pushed below the spread exchange stays cheap (the q17
    // lesson: a size-of-derived-array filter would evaluate the whole
    // trigram build on the pre-spread scan split)
    base.where(length(lower(col(textCol))) >= 3)
      .select(col(idCol), charTrigrams(col(textCol)).as("_tgs"))
      .join(broadcast(model))
      .select(col(idCol),
        size(filter(col("_tgs"), t => array_contains(col("_mtgs"), t)))
          .cast("long").as("covered"),
        size(col("_tgs")).cast("long").as("total"))
      .select(col(idCol),
        expr("covered * 1000 div total").as("coverage_mill"),
        col("covered"), col("total"))
  }

  // -------------------------------------------------------- fingerprints

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * Oracle-expressible (DuckDB md5) and scan-friendly; the exact-dedup key.
    */
  def normFingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Word k-shingles as space-joined strings (for MinHash / Jaccard). */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(lower(text))
    when(size(toks) < k, array())
      .otherwise(transform(
        sequence(lit(0), size(toks) - lit(k)),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
  }

  // ----------------------------------------------------------- simhash

  /** Per-token 64-bit hash for SimHash as a hex string: the first 16 hex
    * chars of md5(token). md5 (not splitmix) so the DuckDB oracle computes
    * the identical signature — the whole SimHash pipeline is then
    * cross-engine exact, like the MinHash family above.
    */
  def tokenHashHex(tok: Column): Column = substring(md5(tok.cast("binary")), 1, 16)

  /** Bit `j` (0 = MSB) of a 16-hex-char token hash, as a codegen'd int
    * column: nibble via base-16 `conv`, then shift+mask.
    */
  def hexBit(hex: Column, j: Int): Column =
    shiftright(conv(substring(hex, j / 4 + 1, 1), 16, 10).cast("int"), 3 - j % 4)
      .bitwiseAND(lit(1))

  // ------------------------------------------------- Scala-side twins

  /** splitmix64 — deterministic 64-bit avalanche; the seedable hash used by
    * SimHash / rolling fingerprints (library-internal, never cross-engine).
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hashToken(tok: String, seed: Long = 0L): Long = {
    var h = seed
    var i = 0
    while (i < tok.length) { h = mix64(h ^ tok.charAt(i).toLong); i += 1 }
    h
  }

  /** Scala twin of [[tokenHashHex]]: first 64 bits of md5(token) as a long
    * (big-endian, so bit 0 of the hex string is bit 63 of the long).
    */
  def tokenHash64Md5(tok: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i).toLong & 0xffL); i += 1 }
    h
  }

  /** 64-bit SimHash over whitespace tokens (unit weight per occurrence).
    * Bit j (0 = MSB) set when the sum of per-token votes for bit j is > 0.
    * Identical to the relational [[graft.ops.DedupOps.simhashBuckets]] and
    * its DuckDB oracle — all three use the md5-derived token hash.
    */
  def simhash64(toks: Seq[String]): Long = {
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = tokenHash64Md5(t)
      var b = 0
      while (b < 64) {
        // bit b counted MSB-first to match the hex-string view
        if (((h >>> (63 - b)) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << (63 - b)); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Karp–Rabin rolling-hash winnowing fingerprint: min hash over all
    * `window`-char substrings of the normalized text (robust to small edits
    * anywhere outside the minimizing window).
    */
  def rollingFingerprint(text: String, window: Int = 16): Long = {
    val s = text.trim.toLowerCase.replaceAll("\\s+", " ")
    if (s.length < window) return hashToken(s)
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * B + s.charAt(i); i += 1 }
    var min = mix64(h)
    i = window
    while (i < s.length) {
      h = (h - s.charAt(i - window) * pow) * B + s.charAt(i)
      val m = mix64(h)
      if (m < min) min = m
      i += 1
    }
    min
  }

  /** Relational language ID — the exact [[langId]] heuristic as a codegen'd
    * Column tree (CJK ratio → marker-stopword argmax with (score, lang)
    * tie-break), so DuckDB can replicate it verbatim and q16 gets a full
    * hash oracle. NOTE: the testdata `lang` labels are random (the text is
    * the same synthetic vocabulary for every label), so an accuracy oracle
    * is impossible; determinism-parity is the checkable contract.
    */
  def langIdCol(text: Column): Column = {
    val cjk = length(text) - length(regexp_replace(text, "[\\x{4E00}-\\x{9FFF}]", ""))
    val toks = tokens(lower(text))
    def score(lang: String): Column = {
      val m = array(langMarkers(lang).map(lit): _*)
      size(filter(toks, t => array_contains(m, t)))
    }
    val (sEn, sDe, sFr, sEs) = (score("en"), score("de"), score("fr"), score("es"))
    val mx = greatest(sEn, sDe, sFr, sEs)
    when(length(text) === 0, "und")
      .when(cjk * 5 >= length(text), "zh")
      .when(size(toks) === 0, "und")
      .when(mx === 0, "und")
      // maxBy((score, lang)) tie-break: greatest lang string wins ties
      .when(sFr === mx, "fr")
      .when(sEs === mx, "es")
      .when(sEn === mx, "en")
      .otherwise("de")
  }

  /** Language ID: CJK codepoint ratio for zh, else stopword-marker voting
    * with an 'unknown' floor — the classic fastText-free n-gram heuristic.
    */
  def langId(text: String): String = {
    if (text.isEmpty) return "und"
    // CJK-unified BMP block, same range as langIdCol / the DuckDB oracle
    val cjk = text.codePoints().filter(cp => cp >= 0x4E00 && cp <= 0x9FFF).count()
    if (cjk * 5 >= text.length) return "zh"
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return "und"
    val scores = langMarkers.collect { case (lang, markers) if markers.nonEmpty =>
      lang -> toks.count(markers.contains)
    }
    val (best, score) = scores.maxBy { case (l, s) => (s, l) }
    if (score == 0) "und" else best
  }

  // ------------------------------------------------- html text extraction

  /** Regex-tier HTML→text extraction — the crawl→training-data bridge
    * (the reference stores fetched HTML verbatim, `crawl/web.py`; a corpus
    * pipeline re-extracts prose from it at read time): strip
    * `<script>`/`<style>` blocks first (their CONTENT is code, not text,
    * and may contain literal `</div>`-style strings), then comments, then
    * every remaining tag, decode the six entities that dominate web text
    * (`&amp;` LAST, so double-encoded text decodes exactly one level —
    * the standard double-decode guard), and collapse whitespace.
    *
    * Entirely scan-local codegen (regexp chain + literal `replace`s) —
    * ZERO shuffle at any corpus size; DuckDB replays every regexp with
    * the `g` flag and identical inline `(?is)` options (both engines'
    * regex dialects support lazy quantifiers and inline flags here).
    *
    * Documented caveat, inherent to regex-tier extraction: a bare
    * unescaped `<` in prose swallows text up to the next `>`. Production
    * fetch leaves front a tolerant parser; this operator is the
    * deterministic relational tier for corpus-scale RE-extraction.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // ----------------------------------------------------------- vocabulary

  /** Corpus word-frequency vocabulary — the first stage of tokenizer
    * training: whitespace tokens → global counts, thresholded at
    * `minCount`, truncated to the `topN` most frequent. Ties break by
    * token ascending — a TOTAL order (token is unique after the groupBy),
    * so the cut line is deterministic and engine-independent.
    *
    * 100 TB shape: the explode never materializes a (doc, token) pair
    * past the scan — counting is ONE hash aggregate with map-side partial
    * combine, so a 10^8-occurrence stopword arrives at its reducer as
    * O(partitions) partials (skew-proof by construction); the surviving
    * vocab is lexicon-sized, and the top-N cut compiles to TakeOrdered
    * (per-partition heaps, no global sort shuffle).
    */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 2L, topN: Int = 10000): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topN > 0, s"topN must be positive, got $topN")
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)
  }

  // --------------------------------------------------------------- tf-idf

  /** Top-K most distinctive terms per document by a RATIONAL tf-idf —
    * `score = tf · (N div df)` in pure BIGINT arithmetic (the floor of
    * the inverse document frequency ratio replaces the classic log,
    * preserving the ranking monotonicity a keyword extractor needs while
    * staying bit-replayable on any engine — the same no-floats discipline
    * as the mill-scaled quality facets). Ties break (score desc, tf desc,
    * token asc) — a total order per document, so the cut is
    * deterministic. Output: (id, token, tf, score, rank), rank 1..topK.
    *
    * 100 TB shape: term frequencies are ONE hash agg on near-unique
    * (doc, token) keys with map-side combine; document frequencies
    * aggregate that (already deduplicated) pair stream on the token key
    * — a 10^8-doc stopword arrives as O(partitions) partials; the
    * df⋈tf join is on the lexicon-sized token key (broadcastable); the
    * corpus size joins in as a 1-row broadcast (no driver collect); the
    * final window partitions by doc (per-doc cardinality = distinct
    * tokens, never corpus-sized).
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int = 1): org.apache.spark.sql.DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "token")
      .join(broadcast(n))
      .withColumn("score", expr("tf * (n div df)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("tf").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col(idCol), col("token"), col("tf"), col("score"), col("rank"))
  }

  // --------------------------------------- lexicon-weighted quality score

  /** Model-as-table inference — the production shape of a trained quality
    * classifier: the model is a `(token, weight_mill)` DataFrame (a
    * fastText-style linear lexicon, weights in integer mills), shipped to
    * the corpus as a broadcast dimension rather than baked into the plan.
    * Per document: `n_tokens`, `n_scored` (tokens the lexicon knows) and
    * `w_sum_mill` (the BIGINT weight sum; unknown tokens contribute 0).
    * The sum is returned RAW instead of divided: a mean with a possibly
    * negative numerator floor-divides differently on Spark (`div`
    * truncates toward zero) vs DuckDB (`//` floors), so acting callers
    * use [[lexiconGate]]'s division-free cross-multiplication instead.
    * Zero-token documents are dropped (nothing to score — the
    * [[graft.ops.TrainPrepOps.applyMerges]] convention).
    *
    * 100 TB shape: the lexicon is vocabulary-sized and BROADCASTS; the
    * corpus token stream joins it with no corpus shuffle, and the per-doc
    * rollup is one hash agg on near-unique ids with map-side combine.
    * Retraining the classifier means replacing a table, not a deploy.
    */
  def scoreWithLexicon(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      weights: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(weights.select(col("token"), col("weight_mill"))),
        Seq("token"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        count(col("weight_mill")).cast("long").as("n_scored"),
        coalesce(sum(col("weight_mill")), lit(0L)).cast("long")
          .as("w_sum_mill"))

  /** Acting gate over [[scoreWithLexicon]]: keep documents whose mean
    * lexicon weight is at least `minMeanMill` — evaluated as
    * `w_sum_mill * 1000 >= minMeanMill * n_tokens * 1000` reduced to the
    * division-free cross-multiplication `w_sum_mill >= minMeanMill *
    * n_tokens` (n_tokens > 0, so the inequality direction is preserved
    * and NO floor-division semantics are involved — exact on any engine,
    * negative weights included). Returns the surviving scored rows.
    */
  def lexiconGate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, weights: org.apache.spark.sql.DataFrame,
      minMeanMill: Long): org.apache.spark.sql.DataFrame =
    scoreWithLexicon(docs, idCol, textCol, weights)
      .where(col("w_sum_mill") >= lit(minMeanMill) * col("n_tokens"))

  /** Integer-surprisal unigram LM scoring — perplexity's engine-portable
    * sibling: the corpus's own token frequencies are the model (the q65
    * vocabulary as a model-as-table), and a token's surprisal is the
    * INTEGER log2 gap `bitlen(N) − bitlen(cnt)` bits, where `bitlen(x)`
    * is the binary-digit count ⌊log2 x⌋+1 — exact on any engine as
    * `length(bin(x))`, no float log anywhere (the [[lmCoverage]] /
    * fixed-point discipline applied to language-model scoring). Tokens
    * unknown to the model (count < `minCount`) cost the full `bitlen(N)`
    * bits — one more than a count-1 token would. Output per doc:
    * `n_tokens`, `total_bits`, and `mean_bits_mill` by BIGINT floor
    * division — the gibberish/OOV-density signal a CCNet-style fluency
    * filter thresholds on (compose with [[graft.ops.CurationOps
    * .qualityGateByQuantile]] to act per stratum). Zero-token docs are
    * dropped (no signal — the [[graft.ops.SimilarityOps.hashEmbed]]
    * convention).
    *
    * 100 TB shape: the model agg keys on the lexicon-sized token with
    * map-side combine (a 10^8-occurrence stopword arrives as partials),
    * then BROADCASTS back; the corpus total joins as a 1-row broadcast
    * (documented benign BNLJ — the [[tfidfTopTerms]] pattern, no driver
    * collect); the only other shuffle is the near-unique per-doc rollup.
    */
  def surprisalStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long = 2L): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val model = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("token"), length(bin(col("cnt"))).cast("long").as("cnt_bits"))
    val total = toks.select(count(lit(1)).as("n_total"))
      .select(length(bin(col("n_total"))).cast("long").as("corpus_bits"))
    toks.join(broadcast(model), Seq("token"), "left_outer")
      .join(broadcast(total))
      .select(col(idCol),
        (col("corpus_bits") - coalesce(col("cnt_bits"), lit(0L))).as("bits"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("bits")).cast("long").as("total_bits"))
      .select(col(idCol), col("n_tokens"), col("total_bits"),
        expr("total_bits * 1000 div n_tokens").as("mean_bits_mill"))
  }

  // ------------------------------------------------------ inverted index

  /** Search-serving inverted index: one row per token with its document
    * frequency and a CAPPED posting list ordered by (tf desc, doc_id) —
    * the ranking a retrieval layer reads first. `df` counts ALL matching
    * docs (computed before the cap), so idf stays honest while hot
    * tokens' postings stay bounded.
    *
    * Scale shape: two shuffles on SHRINKING keys — (token, doc) for tf,
    * then token for the rank — and the cap is a rank-window FILTER, not
    * a post-collect slice: a stopword's postings never materialize as
    * one giant array anywhere; at most `maxPostings` structs per token
    * reach collect. The rank window is partitioned per token — no global
    * sort. Posting order inside the array is made deterministic by
    * sorting on the rank, not by collect order (collect_list is
    * partition-order-dependent).
    */
  def invertedIndex(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int = 50): org.apache.spark.sql.DataFrame = {
    require(maxPostings >= 1, "invertedIndex: maxPostings >= 1")
    val tf = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    val byTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
    val rank = byTok.orderBy(col("tf").desc, col("doc_id").asc)
    tf.withColumn("df", count(lit(1)).over(byTok))
      .withColumn("rn", row_number().over(rank))
      .where(col("rn") <= maxPostings)
      .groupBy("tok")
      .agg(
        max(col("df")).cast("long").as("df"),
        transform(
          sort_array(collect_list(struct(
            col("rn"), col("doc_id"), col("tf")))),
          e => struct(e.getField("doc_id").as("doc_id"),
            e.getField("tf").as("tf"))).as("postings"))
  }

  // ------------------------------------------------------------ BM25 rank

  /** BM25 ranking over the corpus for a table of queries — the retrieval
    * layer the [[invertedIndex]] postings feed. Fixed-point discipline
    * throughout (the [[surprisalStats]] rationale): BM25's idf is
    * `ln((N-df+0.5)/(df+0.5))` and `ln` is not correctly-rounded-portable,
    * while the integer-bits log2 quantizes to 1 bit — too coarse to rank
    * with. So the RSJ odds ratio itself rides in mills,
    * `idf_mill = (2(N-df)+1)*1000 div (2df+1)`, which is strictly monotone
    * in df: single-term rankings are EXACTLY BM25's, and multi-term scores
    * weight rare terms more aggressively than the log would (documented
    * surrogate, engine-exact). The tf saturation is BM25's own rational —
    * no log there — in mills with k1 = `k1Mill`/1000, b = `bMill`/1000:
    *
    *   norm_mill   = (1000-bMill) + bMill*(dl*1000000 div avgdl_mill) div 1000
    *   tfsat_mill  = tf*(1000+k1Mill)*1000 div (tf*1000 + k1Mill*norm_mill div 1000)
    *   score_mill  = Σ_terms idf_mill * tfsat_mill div 1000
    *
    * All operands are non-negative BIGINTs, so Spark `div` ≡ DuckDB `//`
    * and ranks replay bit-exactly. Query terms absent from the corpus
    * contribute 0 (no tf row — standard BM25). Ties break (score desc,
    * doc_id asc); docs with zero tokens never match.
    *
    * 100 TB shape: the only corpus-sized shuffles are the (tok, doc) tf
    * agg and the per-doc length agg, both map-side combinable; the df
    * model is restricted to QUERY terms before it broadcasts (a query
    * workload's vocabulary, not the corpus's); corpus totals join as a
    * 1-row broadcast (the [[tfidfTopTerms]] pattern); the final top-k is
    * a per-query rank window — no global sort.
    */
  def bm25Rank(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queries: org.apache.spark.sql.DataFrame,
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k: Int = 10,
      k1Mill: Long = 1200L,
      bMill: Long = 750L): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "bm25Rank: k >= 1")
    require(k1Mill >= 0 && bMill >= 0 && bMill <= 1000,
      "bm25Rank: k1Mill >= 0, bMill in [0, 1000]")
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("n_toks"))
      .select(col("n_docs"), expr("n_toks * 1000 div n_docs").as("avgdl_mill"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(tokens(col(queryTextCol))).as("tok")).distinct()
    val tf = toks.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    // df restricted to query terms BEFORE it broadcasts: the corpus-wide
    // agg keys on the token (map-side combine), but only the query
    // workload's vocabulary ever leaves it.
    val model = tf.groupBy("tok").agg(count(lit(1)).cast("long").as("df"))
      .join(broadcast(qterms.select("tok").distinct()), Seq("tok"))
    val scored = tf
      .join(broadcast(qterms), Seq("tok"))
      .join(broadcast(model), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(stats))
      .withColumn("idf_mill",
        expr("(2 * (n_docs - df) + 1) * 1000 div (2 * df + 1)"))
      .withColumn("norm_mill",
        // dl/avgdl in mills: dl*1000 (dl in mills) over avgdl_mill/1000
        // (avgdl out of mills) = dl*1000000 div avgdl_mill
        lit(1000L - bMill) +
          expr(s"$bMill * (dl * 1000000 div avgdl_mill) div 1000"))
      .withColumn("tfsat_mill",
        expr(s"tf * ${1000L + k1Mill} * 1000 div " +
          s"(tf * 1000 + $k1Mill * norm_mill div 1000)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(expr("idf_mill * tfsat_mill div 1000")).cast("long")
          .as("score_mill"),
        count(lit(1)).cast("long").as("n_terms_matched"))
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score_mill").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(byQ).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_mill"), col("n_terms_matched"))
  }
}
