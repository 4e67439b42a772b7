package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: language
 * identification, quality scoring, token counting, document fingerprinting.
 *
 * All operators are pure per-row Column expressions built from Catalyst
 * builtins — whole-stage codegen'd, no UDFs, no shuffle — so a 100 TB
 * documents table is processed at scan speed with zero data movement.
 * Each has an exact ANSI-SQL twin (used as the DuckDB oracle in
 * `SparkEntry.oracleSql`), which doubles as documentation of the semantics.
 */
object TextAnalysis {

  /** Occurrences of `marker` in `padded`, via the length-delta trick with
   *  non-regex replace() — exactly expressible in any SQL engine, no regex
   *  dialect drift. Note `/` on ints is double division in both Spark and
   *  DuckDB, and the operands are exact small ints, so results are
   *  bit-identical across engines. */
  private def occ(padded: Column, marker: String): Column =
    (length(padded) - length(replace(padded, lit(marker)))) / lit(marker.length)

  /** Stopword markers per language — padded with spaces so they match whole
   *  words only. The SQL oracle uses the same lists. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of ", " and ", " to "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des "),
    "de" -> Seq(" der ", " die ", " und ", " das ", " ein "),
    "es" -> Seq(" el ", " los ", " y ", " una ", " por ")
  )

  /**
   * N-gram/stopword language-ID heuristic: score each candidate language by
   * summed stopword occurrences per 100 words; predict the argmax, or
   * "unknown" when no marker fires. Deterministic ties broken by language
   * order (en > fr > de > es).
   */
  def withLangId(df: DataFrame, textCol: String, outCol: String = "lang_pred"): DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    // each language's score is projected ONCE as a column, so the argmax
    // below references it instead of copying its expression tree
    def scoreCol(lang: String) = s"__graft_lang_$lang"
    val langs = langMarkers.map(_._1)
    val scored = df.select(col("*") +: langMarkers.map { case (lang, markers) =>
      markers.map(m => occ(padded, m)).reduce(_ + _).as(scoreCol(lang))
    }: _*)
    val best = greatest(langs.map(l => col(scoreCol(l))): _*)
    // the first language in list order that reaches the max — the same
    // answer as a strict `>` fold from the first language
    val argmax = langs.init.foldRight(lit(langs.last)) { (lang, rest) =>
      when(col(scoreCol(lang)) === best, lit(lang)).otherwise(rest)
    }
    scored.withColumn(outCol, when(best > 0, argmax).otherwise(lit("unknown")))
      .withColumn(s"${outCol}_score", best.cast("long"))
      .drop(langs.map(scoreCol): _*)
  }

  /**
   * Quality-score features: word count, char count, mean word length,
   * punctuation count, stopword count, and a composite quality score in
   * [0,1]. All integer/exact arithmetic until the final ratio (computed with
   * a fixed 1e-4 floor grid so any engine produces identical doubles).
   */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = size(split(t, " "))
    val chars = length(t)
    val punct = length(t) - length(regexp_replace(t, "[\\.,;:!\\?]", ""))
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stops = langMarkers.flatMap(_._2).distinct.map(m => occ(padded, m)).reduce(_ + _)
    df.withColumn("n_words", words.cast("long"))
      .withColumn("n_chars_m", chars.cast("long"))
      .withColumn("n_punct", punct.cast("long"))
      .withColumn("n_stopwords", stops.cast("long"))
      // mean word length on a fixed 2-decimal grid: floor(100*chars/words)/100
      .withColumn("mean_word_len",
        (floor(lit(100) * chars.cast("double") / words.cast("double")) / 100.0))
      // composite score: fraction of "quality signals" present, exact /4 grid
      .withColumn("quality_score",
        ((when(words >= 10, 1).otherwise(0)
          + when(stops > 0, 1).otherwise(0)
          + when(punct <= chars / 10, 1).otherwise(0)
          + when(chars >= 50, 1).otherwise(0)).cast("double") / 4.0))
  }

  /**
   * Model-based quality scoring — the CCNet/fastText-style linear filter
   * that sits after the heuristic features ([[withQuality]]) in a web
   * pipeline: `logit = bias + Σ_token weight(lower(token))`, tokens split
   * on single spaces (the [[withQuality]] convention), unknown tokens
   * weigh 0; `outCol` is the logit and `outCol_p` the sigmoid.
   *
   * The model ships as ONE `typedLit` map literal — a single Catalyst
   * object in the task binary (broadcast once per stage), NOT per-entry
   * generated code — so real filter vocabularies (100k terms ≈ a few MB)
   * ride the plan and the score is one codegen `aggregate` over the token
   * array: zero shuffle, zero extra scans, corpus processed at scan
   * speed. For a model too large even for the task binary, use
   * [[scoreLinearJoin]].
   *
   * Exactness contract: with weights on an exact binary grid (integers,
   * halves, quarters...) the double sum is order-independent, so both
   * strategies and any SQL engine produce bit-identical logits (the q125
   * oracle rides on this). The sigmoid column is NOT order-sensitive
   * (one exp of an exact logit) but engines' `exp` may differ in the
   * last ulp — hash-gated comparisons should use the logit.
   */
  def scoreLinear(
      df: DataFrame,
      textCol: String,
      weights: Map[String, Double],
      bias: Double = 0.0,
      outCol: String = "lin_score"): DataFrame = {
    require(weights.nonEmpty, "scoreLinear needs a non-empty weight map")
    val wmap = typedLit(weights)
    df.withColumn(outCol,
        aggregate(split(lower(col(textCol)), " "), lit(bias),
          (acc, w) => acc + coalesce(element_at(wmap, w), lit(0.0))))
      .withColumn(s"${outCol}_p",
        lit(1.0) / (lit(1.0) + exp(-col(outCol))))
  }

  /**
   * [[scoreLinear]] for a model too large to ship in the plan: the
   * weights become a broadcast-joined table (ONE copy per executor), the
   * corpus contributes only exploded (id, token) pairs — document text
   * never enters a shuffle — and the result is the narrow (idCol,
   * outCol, outCol_p) score table. Downstream filters semi-join it
   * rather than re-attaching scores to full rows (re-attaching would
   * shuffle the corpus, which is exactly what this variant avoids).
   */
  def scoreLinearJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Map[String, Double],
      bias: Double = 0.0,
      outCol: String = "lin_score"): DataFrame = {
    require(weights.nonEmpty, "scoreLinearJoin needs a non-empty weight map")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF("__w_word", "__w_weight")
    df.select(col(idCol), explode(split(lower(col(textCol)), " ")).as("__w_tok"))
      .join(broadcast(wdf), col("__w_tok") === col("__w_word"), "left")
      .groupBy(col(idCol))
      .agg((sum(coalesce(col("__w_weight"), lit(0.0))) + bias).as(outCol))
      .withColumn(s"${outCol}_p",
        lit(1.0) / (lit(1.0) + exp(-col(outCol))))
  }

  /**
   * Token counting: whitespace tokens plus a BPE-ish estimate from a
   * tokenizer-style regex (letter runs / digit runs / single punctuation),
   * plus the chars/4 rule-of-thumb.
   */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(split(t, " ")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long"))
      .withColumn("est_bpe_tokens", ceil(length(t).cast("double") / 4.0).cast("long"))
  }

  /**
   * Document fingerprinting: md5 over whitespace-normalized lowercase text
   * (content-defined identity for exact dedup across formatting variants),
   * plus a 64-bit prefix for compact joins.
   */
  def withFingerprint(df: DataFrame, textCol: String, outCol: String = "fingerprint"): DataFrame = {
    val normalized = regexp_replace(lower(trim(col(textCol))), " +", " ")
    df.withColumn(outCol, md5(normalized))
      .withColumn(s"${outCol}_64",
        conv(substring(md5(normalized), 1, 15), 16, 10).cast("long"))
  }

  /**
   * Winnowing document fingerprint (the MOSS rolling-hash scheme): hash
   * every k-char gram, take the minimum of each w-wide sliding window of
   * gram hashes, and keep the sorted distinct minima. Two documents
   * sharing a sufficiently long substring are GUARANTEED to share a
   * selected hash (the winnowing coverage property), which plain
   * whole-document fingerprints ([[withFingerprint]]) cannot offer —
   * the standard primitive for overlap/plagiarism-style detection.
   *
   * Engine-portable by construction: the gram hash is the first 32 bits
   * of md5 (any md5-bearing engine agrees — the battery oracle replays
   * the whole selection in DuckDB with list functions). Implemented as
   * the native one-pass expression [[graft.functions.WinnowFingerprint]]
   * — the equivalent higher-order-function formulation evaluates one
   * interpreted md5 PER GRAM and stalled the sf0.1 overlap join (the
   * round-1 MinHash lesson); per-row, zero shuffle either way.
   *
   * Documents shorter than k chars fingerprint as their whole-text hash.
   */
  def winnowingFingerprint(text: Column, k: Int = 8, w: Int = 4): Column = {
    require(k >= 2, s"gram size k must be >= 2, got $k")
    require(w >= 1, s"window w must be >= 1, got $w")
    graft.functions.WinnowFingerprint(text, k, w)
  }

  def withWinnowing(
      df: DataFrame, textCol: String, k: Int = 8, w: Int = 4,
      outCol: String = "winnow_fp"): DataFrame =
    df.withColumn(outCol, winnowingFingerprint(col(textCol), k, w))

  /**
   * HTML/markup removal — the first pass over crawled web text before any
   * quality scoring or dedup sees it. Pure regexp_replace/replace chain
   * (whole-stage codegen, zero shuffle, linear in bytes):
   *
   *  1. `<script>`/`<style>` elements and `<!-- -->` comments removed
   *     WHOLESALE (their content is code, not prose — and may contain
   *     literal `<`/`>` that must not confuse the tag pass);
   *  2. every remaining tag `<...>` dropped;
   *  3. the core entities decoded exactly once, `&amp;` LAST — so escaped
   *     markup like `&lt;b&gt;` becomes literal text `<b>`, and
   *     double-escapes like `&amp;lt;` yield `&lt;` (never re-decoded);
   *  4. all whitespace collapsed to single spaces, trimmed — the normal
   *     form the quality/langid/fingerprint operators expect.
   *
   * Malformed markup degrades gracefully, never errors: a tag ends at the
   * first `>` (quoted `>` in attributes is browser-error-recovery
   * territory), and an unclosed `<` never matches and survives as text.
   */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def withStrippedHtml(
      df: DataFrame, htmlCol: String, outCol: String = "text_plain"): DataFrame =
    df.withColumn(outCol, stripHtml(col(htmlCol)))

  /**
   * Markdown removal — HTML's sibling pass for the other dominant crawled
   * text format. Same architecture as [[stripHtml]]: a codegen
   * regexp_replace chain, zero shuffle, ending in the whitespace normal
   * form. Rules, in application order (each is one pass):
   *
   *  1. the document splits on fence lines (``` …, up to 3 leading
   *     spaces/tabs per CommonMark — fences indented inside lists or
   *     blockquotes still count) into alternating
   *     prose/code segments: fenced CONTENT is kept VERBATIM — code is
   *     trainable text, and running the marker passes over it would
   *     corrupt it (`**kwargs` → `kwargs`, a bash `# comment` → bare
   *     text). Only the fences themselves disappear. An unclosed fence
   *     runs to the end of the document (CommonMark), so its content
   *     stays verbatim;
   *  2. within prose segments: images `![alt](url)` → alt, BEFORE links
   *     (an image is a link with a prefix); links `[text](url)` → text;
   *     inline code loses its backticks;
   *  3. ATX headers lose the leading `#`s, blockquotes the leading `>`;
   *     horizontal-rule lines (`---`/`===`/`___`) removed;
   *  4. `*`/`**`/`***` emphasis and `~~` strikethrough markers removed.
   *     Underscore emphasis is deliberately LEFT ALONE: `_` is ubiquitous
   *     inside identifiers (snake_case) and stripping it corrupts code
   *     even outside fences — the standard conservative choice.
   */
  def stripMarkdown(text: Column): Column = {
    def stripProse(seg: Column): Column = {
      val noImg = regexp_replace(seg, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
      val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
      val noCode = regexp_replace(noLink, "`([^`]*)`", "$1")
      val noHead = regexp_replace(noCode, "(?m)^#{1,6}[ \\t]+", "")
      val noQuote = regexp_replace(noHead, "(?m)^[ \\t]*>[ \\t]?", "")
      val noHr = regexp_replace(noQuote, "(?m)^(-{3,}|={3,}|_{3,})[ \\t]*$", " ")
      regexp_replace(regexp_replace(noHr, "\\*{1,3}", ""), "~~", "")
    }
    // split on fence lines -> segments alternate prose (even index) and
    // fenced code (odd index); only prose gets the marker passes
    val segments = split(text, "(?m)^[ \t]{0,3}```[^\n]*$")
    val stripped = transform(segments,
      (seg, i) => when(i % 2 === 1, seg).otherwise(stripProse(seg)))
    trim(regexp_replace(array_join(stripped, " "), "\\s+", " "))
  }

  def withStrippedMarkdown(
      df: DataFrame, mdCol: String, outCol: String = "text_plain"): DataFrame =
    df.withColumn(outCol, stripMarkdown(col(mdCol)))

  /** The required-stopword list of the Gopher rules (Rae et al. 2021,
   *  appendix A1.1): a document must contain at least `minStopwordHits`
   *  of these to pass. The SQL oracle uses the same list. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher-style quality rule flags (Rae et al. 2021, appendix A1.1) — the
   * standard heuristic filter battery a web corpus passes before model-based
   * scoring ([[scoreLinear]]) and dedup see it. One integer flag per rule
   * plus the conjunction, so a pipeline can either hard-filter
   * (`gopher_pass = 1`) or keep the flags as features:
   *
   *  - `flag_words`    — word count within [minWords, maxWords];
   *  - `flag_word_len` — mean word length within [minMeanWordLen,
   *    maxMeanWordLen], compared as `min·words ≤ Σlen ≤ max·words` — exact
   *    integer cross-multiplication, no division, no float grid;
   *  - `flag_symbol`   — `#` and `...` occurrences ≤ maxSymbolWordRatio ×
   *    words (the "symbol-to-word ratio" rule);
   *  - `flag_bullet`   — lines starting with a bullet (`- `, `* `, `• `)
   *    ≤ maxBulletLineFrac of all lines;
   *  - `flag_ellipsis` — lines ending in `...` ≤ maxEllipsisLineFrac;
   *  - `flag_alpha`    — words containing at least one [A-Za-z] character
   *    ≥ minAlphaWordFrac of all words;
   *  - `flag_stop`     — at least `minStopwordHits` distinct
   *    [[GopherStopwords]] present (whole-word, space-padded matching).
   *
   * Pure per-row codegen expressions (split / HOF filter / length-delta
   * counting), zero shuffle — corpus processed at scan speed like the rest
   * of this object. All comparisons are integer-exact or single IEEE
   * multiplications, so any engine replays them bit-identically (the q130
   * oracle recomputes every flag in DuckDB with list lambdas).
   */
  def withGopherFlags(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Int = 3,
      maxMeanWordLen: Int = 10,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopwordHits: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"word bounds out of order: [$minWords, $maxWords]")
    require(minMeanWordLen >= 1 && maxMeanWordLen >= minMeanWordLen,
      s"mean-word-length bounds out of order: [$minMeanWordLen, $maxMeanWordLen]")
    val t = col(textCol)
    val toks = split(t, " ")
    val words = size(toks)
    val sumLen = aggregate(toks, lit(0), (acc, w) => acc + length(w))
    val symbols = occ(t, "#") + occ(t, "...")
    val lines = split(t, "\n")
    val nLines = size(lines)
    val bulletLines = size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]")))
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stopHits = GopherStopwords
      .map(sw => when(occ(padded, s" $sw ") > 0, 1).otherwise(0))
      .reduce(_ + _)
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    df.withColumn("n_words", words.cast("long"))
      .withColumn("flag_words", flag(words >= minWords && words <= maxWords))
      .withColumn("flag_word_len",
        flag(sumLen >= lit(minMeanWordLen) * words && sumLen <= lit(maxMeanWordLen) * words))
      .withColumn("flag_symbol", flag(symbols <= lit(maxSymbolWordRatio) * words))
      .withColumn("flag_bullet", flag(bulletLines <= lit(maxBulletLineFrac) * nLines))
      .withColumn("flag_ellipsis", flag(ellipsisLines <= lit(maxEllipsisLineFrac) * nLines))
      .withColumn("flag_alpha", flag(alphaWords >= lit(minAlphaWordFrac) * words))
      .withColumn("flag_stop", flag(stopHits >= minStopwordHits))
      .withColumn("gopher_pass",
        flag(col("flag_words") === 1 && col("flag_word_len") === 1 &&
          col("flag_symbol") === 1 && col("flag_bullet") === 1 &&
          col("flag_ellipsis") === 1 && col("flag_alpha") === 1 &&
          col("flag_stop") === 1))
  }

  /** Hard-filter composition of [[withGopherFlags]]: rows passing every
   *  rule, flag columns dropped — the shape a curation chain consumes. */
  def filterGopher(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Int = 3,
      maxMeanWordLen: Int = 10,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopwordHits: Int = 2): DataFrame =
    withGopherFlags(df, textCol, minWords, maxWords, minMeanWordLen,
      maxMeanWordLen, maxSymbolWordRatio, maxBulletLineFrac,
      maxEllipsisLineFrac, minAlphaWordFrac, minStopwordHits)
      .filter(col("gopher_pass") === 1)
      .drop("n_words", "flag_words", "flag_word_len", "flag_symbol",
        "flag_bullet", "flag_ellipsis", "flag_alpha", "flag_stop", "gopher_pass")

  /**
   * Intra-document repetition: the fraction of duplicated word n-grams
   * (`1 - distinct/total`) — the Gopher-style "repeated n-gram" quality
   * signal used to drop boilerplate/looping documents before training.
   * 0 = no repeated n-gram; →1 = the document is one phrase looping.
   * Pure codegen'd array expressions, zero shuffles, engine-portable
   * (the battery oracle recomputes it in DuckDB and hash-matches).
   */
  def withRepetition(
      df: DataFrame,
      textCol: String,
      n: Int = 3,
      outCol: String = "rep_ratio"): DataFrame = {
    require(n >= 2, "n-gram size must be >= 2")
    val grams = wordGrams(col(textCol), n)
    df.withColumn(outCol,
      when(size(grams) > 0,
        lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
        .otherwise(lit(0.0)))
  }

  // ---------- Gopher repetition battery (§A1.1 repetition filters) -------

  /** Word n-grams of `text` (tokens of `split(text, " ")`), one native
   *  pass ([[graft.functions.WordNgrams]]); empty array when the document
   *  is shorter than n or null. */
  private def wordGrams(text: Column, n: Int): Column =
    coalesce(graft.functions.WordNgrams(text, n), array().cast("array<string>"))

  /** Fraction of elements that duplicate an earlier one:
   *  `(total - distinct) / total`, 0 on empty. One division, so the DuckDB
   *  oracle reproduces the exact double. */
  private def dupFrac(arr: Column): Column = {
    val t = size(arr)
    when(t === 0, lit(0.0))
      .otherwise((t - size(array_distinct(arr))).cast("double") / t.cast("double"))
  }

  /** Character-weighted twin of [[dupFrac]] with an explicit denominator:
   *  duplicated characters = Σ len over all occurrences − Σ len over
   *  distinct values (occurrences beyond the first, counted without
   *  overlap dedup — the convention the oracle replays). */
  private def dupCharFrac(arr: Column, denomChars: Column): Column = {
    val tot = aggregate(arr, lit(0L), (a, x) => a + length(x).cast("long"))
    val dis = aggregate(array_distinct(arr), lit(0L),
      (a, x) => a + length(x).cast("long"))
    when(denomChars === 0, lit(0.0))
      .otherwise(least(lit(1.0),
        (tot - dis).cast("double") / denomChars.cast("double")))
  }

  /** Characters covered by the most frequent n-gram (`count × gram length`,
   *  ties by larger char product) over the document's char count; 0 when no
   *  gram repeats. One sorted-run fold — O(grams) per row, no per-distinct
   *  rescan of the array. */
  private def topGramCharFrac(text: Column, n: Int): Column = {
    val s = array_sort(wordGrams(text, n))
    val st = aggregate(s,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("bestCnt"), lit(0L).as("bestChars")),
      (acc, x) => {
        val run2 = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        val cand = run2 * length(x).cast("long")
        struct(x.as("prev"), run2.as("run"),
          greatest(acc.getField("bestCnt"), run2).as("bestCnt"),
          when(run2 > acc.getField("bestCnt"), cand)
            .when(run2 === acc.getField("bestCnt"),
              greatest(acc.getField("bestChars"), cand))
            .otherwise(acc.getField("bestChars")).as("bestChars"))
      })
    when(length(text) === 0 || st.getField("bestCnt") < 2, lit(0.0))
      .otherwise(least(lit(1.0),
        st.getField("bestChars").cast("double") / length(text).cast("double")))
  }

  /**
   * Gopher repetition filters (Rae et al. 2021, appendix A1.1) — the
   * intra-document repetition battery that complements the
   * [[withGopherFlags]] shape rules: looping generations, boilerplate
   * walls, and copy-paste spam show up as duplicate lines/paragraphs and
   * top-heavy n-gram mass long before any cross-document dedup runs.
   *
   * Emitted per document (all ratios are single divisions of integer
   * counts, so an external engine reproduces the exact doubles):
   *  - `dup_line_frac` / `dup_line_char_frac` — lines (split on `\n`,
   *    empties dropped) duplicating an earlier line, by count and by
   *    character mass over the line characters;
   *  - `dup_para_frac` / `dup_para_char_frac` — same over paragraphs
   *    (split on `\n\n`);
   *  - `top_<n>gram_char_frac` for each n in `topNs` — characters covered
   *    by the most frequent word n-gram over the document's characters
   *    (0 unless some n-gram repeats; capped at 1 — overlapping
   *    occurrences are counted, not deduped);
   *  - `dup_<n>gram_char_frac` for each n in `dupNs` — characters in
   *    n-gram occurrences beyond each gram's first, over the document's
   *    characters (capped at 1);
   *  - `rep_pass` — 1 iff every metric is at or below its Gopher
   *    threshold.
   *
   * Zero exchanges: every metric is a per-row expression (the plan gate
   * lives in PlanQualitySpec next to the q130 shape battery).
   */
  def withRepetitionFlags(
      df: DataFrame,
      textCol: String,
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxDupParaFrac: Double = 0.30,
      maxDupParaCharFrac: Double = 0.20,
      topNs: Seq[(Int, Double)] =
        Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
      dupNs: Seq[(Int, Double)] =
        Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10))
      : DataFrame = {
    require(topNs.forall(_._1 >= 2) && dupNs.forall(_._1 >= 2),
      "n-gram sizes must be >= 2")
    val t = col(textCol)
    val lines = filter(split(t, "\n"), l => l =!= "")
    val lineChars = aggregate(lines, lit(0L), (a, x) => a + length(x).cast("long"))
    val paras = filter(split(t, "\n\n"), p => p =!= "")
    val paraChars = aggregate(paras, lit(0L), (a, x) => a + length(x).cast("long"))
    val base = df
      .withColumn("dup_line_frac", dupFrac(lines))
      .withColumn("dup_line_char_frac", dupCharFrac(lines, lineChars))
      .withColumn("dup_para_frac", dupFrac(paras))
      .withColumn("dup_para_char_frac", dupCharFrac(paras, paraChars))
    val withTop = topNs.foldLeft(base) { case (d, (n, _)) =>
      d.withColumn(s"top_${n}gram_char_frac", topGramCharFrac(t, n))
    }
    val withDup = dupNs.foldLeft(withTop) { case (d, (n, _)) =>
      d.withColumn(s"dup_${n}gram_char_frac",
        dupCharFrac(wordGrams(t, n), length(t).cast("long")))
    }
    val checks =
      Seq(col("dup_line_frac") <= maxDupLineFrac,
        col("dup_line_char_frac") <= maxDupLineCharFrac,
        col("dup_para_frac") <= maxDupParaFrac,
        col("dup_para_char_frac") <= maxDupParaCharFrac) ++
      topNs.map { case (n, mx) => col(s"top_${n}gram_char_frac") <= mx } ++
      dupNs.map { case (n, mx) => col(s"dup_${n}gram_char_frac") <= mx }
    withDup.withColumn("rep_pass",
      when(checks.reduce(_ && _), 1).otherwise(0))
  }

  /** Keep only documents passing [[withRepetitionFlags]]' thresholds. */
  /**
   * Unicode text normalization — the canonical-form pass run before
   * tokenization, hashing, or dedup so that byte-different but
   * render-identical strings collapse (NFC composes combining marks;
   * typographic quotes/dashes and exotic spaces unify; stray control
   * characters vanish). Steps, in order, all codegen'd:
   *
   *  1. NFC via [[graft.functions.UnicodeNormalize]] (UAX #15 — engine-
   *     portable by spec; free on already-normalized text);
   *  2. Unicode spaces (NBSP, en/em/figure/… U+2000-200B, narrow NBSP,
   *     ideographic space) → ASCII space;
   *  3. curly single/double quotes → ' / ", en/em/horizontal-bar dashes
   *     and the minus sign → '-';
   *  4. control characters other than \n and \t removed;
   *  5. runs of spaces/tabs collapsed to one space, lines trimmed.
   *
   * Lossy by design and therefore SEPARATE: [[stripAccents]] (NFD →
   * drop combining marks → NFC), for search keys and accent-insensitive
   * dedup, never for text that will be trained on verbatim.
   */
  def normalizeUnicode(text: Column): Column = {
    val nfc = graft.functions.UnicodeNormalize(text, "NFC")
    val spaces = regexp_replace(nfc, "[\\u00A0\\u1680\\u2000-\\u200B\\u202F\\u205F\\u3000]", " ")
    val quotes = regexp_replace(
      regexp_replace(spaces, "[\\u2018\\u2019\\u201A\\u201B]", "'"),
      "[\\u201C\\u201D\\u201E\\u201F]", "\"")
    val dashes = regexp_replace(quotes, "[\\u2012\\u2013\\u2014\\u2015\\u2212]", "-")
    val controls = regexp_replace(dashes, "[\\p{Cc}&&[^\\n\\t]]", "")
    trim(regexp_replace(controls, "[ \\t]+", " "))
  }

  /** Accent folding: NFD, drop combining marks, recompose. */
  def stripAccents(text: Column): Column =
    graft.functions.UnicodeNormalize(
      regexp_replace(graft.functions.UnicodeNormalize(text, "NFD"), "\\p{Mn}", ""),
      "NFC")

  def filterRepetition(df: DataFrame, textCol: String): DataFrame = {
    val flagged = withRepetitionFlags(df, textCol)
    flagged.filter(col("rep_pass") === 1)
      .drop(flagged.columns.filter(c => c.endsWith("_frac") || c == "rep_pass")
        .filterNot(df.columns.contains): _*)
  }
}
