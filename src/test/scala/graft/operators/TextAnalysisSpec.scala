package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on a mat and the dog barked at the mailman"),
    (2L, "le chat et la souris et les oiseaux des villes"),
    (3L, "der hund und die katze und das haus ein baum"),
    (4L, "xyzzy qwerty plugh"),
    (5L, "Data, pipelines; scale: fast! Really?"))
    .toDF("doc_id", "text")

  test("langid predicts via stopword markers, unknown when none fire") {
    val got = TextAnalysis.withLangId(docs, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "fr")
    assert(got(3L) === "de")
    assert(got(4L) === "unknown")
  }

  // Adversarial langid fixtures with hand-computed scores — expectations
  // are NOT derived from langMarkers, so a marker-list regression cannot
  // silently rewrite them.
  test("langid adversarial: mixed languages resolve to the dominant one") {
    val df = Seq((1L, "the cat und der hund und die katze")).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df, "text")
      .select("lang_pred", "lang_pred_score").as[(String, Long)].head()
    // en fires once (' the '), de fires four times (und x2, der, die)
    assert(got == ("de", 4L))
  }

  test("langid adversarial: markers embedded inside words never fire") {
    val df = Seq((1L, "theater lethal android bathe")).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df, "text")
      .select("lang_pred", "lang_pred_score").as[(String, Long)].head()
    assert(got == ("unknown", 0L))
  }

  test("langid adversarial: case-insensitive, and ties break by language order") {
    val caps = Seq((1L, "THE THE THE")).toDF("doc_id", "text")
    assert(TextAnalysis.withLangId(caps, "text")
      .select("lang_pred", "lang_pred_score").as[(String, Long)].head() == ("en", 2L))
    // one en marker vs one fr marker: strict > keeps the earlier language
    val tie = Seq((1L, "the le")).toDF("doc_id", "text")
    assert(TextAnalysis.withLangId(tie, "text")
      .select("lang_pred").as[String].head() == "en")
  }

  test("quality features: exact counts") {
    val got = TextAnalysis.withQuality(docs, "text")
      .select("doc_id", "n_words", "n_punct", "quality_score")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 13L) // 13 words
    assert(got(5L)._3 === 5L)  // one each of , ; : ! ?
    assert(got(1L)._4 === 1.0) // long, stopworded, unpunctuated, >= 50 chars
  }

  test("token counts: whitespace vs regex vs bpe estimate") {
    val got = TextAnalysis.withTokenCounts(docs, "text")
      .select("doc_id", "ws_tokens", "re_tokens", "est_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(4L)._2 === 3L)
    assert(got(4L)._3 === 3L)
    assert(got(4L)._4 === math.ceil("xyzzy qwerty plugh".length / 4.0).toLong)
    // punctuation becomes separate regex tokens
    assert(got(5L)._3 > got(5L)._2)
  }

  test("winnowing fingerprint matches a scala reference implementation") {
    def ref(text: String, k: Int, w: Int): Seq[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(s: String): Long = {
        val d = md.digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
      }
      val grams =
        if (text.length >= k) (0 to text.length - k).map(i => text.substring(i, i + k))
        else Seq(text)
      val hs = grams.map(h)
      val mins =
        if (hs.length >= w) (0 to hs.length - w).map(j => hs.slice(j, j + w).min)
        else Seq(hs.min)
      mins.distinct.sorted
    }
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "short"), // < k: whole-text gram
      (3L, "aaaaaaaaaaaa"), // degenerate repeats collapse to one hash
      (4L, "exactly8"))
    val got = texts.toDF("id", "text")
      .select(col("id"), TextAnalysis.winnowingFingerprint(col("text"), 8, 4))
      .as[(Long, Seq[Long])].collect().toMap
    texts.foreach { case (id, t) => assert(got(id) === ref(t, 8, 4), s"id=$id") }
  }

  test("winnowing guarantees shared hashes for shared substrings") {
    val common = "this exact shared passage is long enough to survive windowing"
    val df = Seq(
      (1L, s"prefix one $common suffix alpha"),
      (2L, s"a completely different lead-in $common and tail"),
      (3L, "no overlap with the others at all, entirely disjoint prose"))
      .toDF("id", "text")
    val fp = TextAnalysis.withWinnowing(df, "text")
      .select("id", "winnow_fp").as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L).toSet.intersect(fp(2L).toSet).nonEmpty) // coverage property
    assert(fp(1L).toSet.intersect(fp(3L).toSet).isEmpty)
  }

  test("stripHtml removes script/style/comments/tags, decodes entities, collapses ws") {
    def strip(h: String): String =
      Seq(h).toDF("html").select(TextAnalysis.stripHtml(col("html"))).as[String].head()
    assert(strip("<html><body><h1>Title</h1>\n<p>Hello  world</p></body></html>")
      === "Title Hello world")
    // script/style content removed wholesale, even with < > inside
    assert(strip("<script>if (a < b) { x(); }</script>before<style>p>a{}</style>after")
      === "before after")
    assert(strip("a<!-- hidden <b>not text</b> -->b") === "a b")
    // entities: one decode pass, &amp; last; escaped markup stays text
    assert(strip("&lt;b&gt;bold&lt;/b&gt; &amp;lt; &quot;q&#39; &nbsp;x")
      === "<b>bold</b> &lt; \"q' x")
    // attributes with > inside quotes are browser-recovery territory:
    // the tag pass ends at the first > and never throws
    assert(strip("<a href='x'>link</a> <img alt=\"a>b\">") === "link b\">")
    // an unclosed tag never finds its > and stays literal text
    assert(strip("text <b unclosed") === "text <b unclosed")
  }

  test("stripHtml feeds the quality/fingerprint normal form") {
    val html = Seq((1L, "<p>Hello&nbsp;&nbsp;World</p>"), (2L, "hello world"))
      .toDF("doc_id", "html")
    val out = TextAnalysis.withStrippedHtml(html, "html")
      .select("doc_id", "text_plain").as[(Long, String)].collect().toMap
    assert(out(1L) === "Hello World")
    val fp = TextAnalysis.withFingerprint(
      TextAnalysis.withStrippedHtml(html, "html"), "text_plain")
      .select("doc_id", "fingerprint").as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(2L)) // case+ws-invariant fingerprint agrees post-strip
  }

  test("stripMarkdown removes markup, keeps content, protects snake_case") {
    def strip(m: String): String =
      Seq(m).toDF("md").select(TextAnalysis.stripMarkdown(col("md"))).as[String].head()
    assert(strip("# Title\n\nBody **bold** and *ital* text") === "Title Body bold and ital text")
    assert(strip("See [the docs](http://x.com/a) and ![alt text](img.png)")
      === "See the docs and alt text")
    assert(strip("```scala\nval x = 1\n```\nafter") === "val x = 1 after")
    assert(strip("`inline code` rest") === "inline code rest")
    assert(strip("> quoted line\n> more") === "quoted line more")
    assert(strip("before\n---\nafter") === "before after")
    assert(strip("~~struck~~ plain") === "struck plain")
    // underscore emphasis untouched: snake_case must survive
    assert(strip("call some_function_name here") === "call some_function_name here")
    assert(strip("   ") === "")
  }

  test("stripMarkdown keeps fenced code VERBATIM: *, #, > inside fences survive") {
    def strip(m: String): String =
      Seq(m).toDF("md").select(TextAnalysis.stripMarkdown(col("md"))).as[String].head()
    assert(strip("intro\n```python\ndef f(**kwargs):\n    pass  # comment\n```\noutro")
      === "intro def f(**kwargs): pass # comment outro")
    assert(strip("```\nint *p = &x;\ncmd > /dev/null\n```")
      === "int *p = &x; cmd > /dev/null")
    // outside fences the same markers ARE markdown and get stripped
    assert(strip("# Header\n**bold**") === "Header bold")
    // unclosed fence runs to end of document (CommonMark): stays verbatim
    assert(strip("a\n```\ncode **kept**?") === "a code **kept**?")
    // fences indented up to 3 spaces (CommonMark, common inside lists)
    // still open/close a code block; their content stays verbatim
    assert(strip("- item\n  ```py\n  x = a ** b  # pow\n  ```\nafter")
      === "- item x = a ** b # pow after")
    assert(strip("   ```\n**raw**\n   ```") === "**raw**")
  }

  test("scoreLinear: hand-checked logits, case-insensitive, unknown words weigh 0") {
    val df = Seq(
      (1L, "the Spark scan"),          // 2.0 + 3.0 - 1.0 + bias
      (2L, "unknown words only"),      // bias
      (3L, ""))                        // one empty token -> bias
      .toDF("doc_id", "text")
    val w = Map("the" -> 2.0, "spark" -> 3.0, "scan" -> -1.0)
    val out = TextAnalysis.scoreLinear(df, "text", w, bias = 0.25)
      .select("doc_id", "lin_score").as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 4.25, 2L -> 0.25, 3L -> 0.25))
    val p = TextAnalysis.scoreLinear(df, "text", w, bias = 0.25)
      .select("doc_id", "lin_score_p").as[(Long, Double)].collect().toMap
    assert(p(1L) > 0.98 && math.abs(p(2L) - 1.0 / (1.0 + math.exp(-0.25))) < 1e-12)
  }

  test("scoreLinear: plan-literal and broadcast-join strategies agree exactly") {
    val df = Seq(
      (1L, "the fast scan joins the hash window"),
      (2L, "spark spark spark"),
      (3L, "nothing matches here"))
      .toDF("doc_id", "text")
    val w = Map("the" -> 2.0, "scan" -> -1.0, "hash" -> 0.5,
      "window" -> -0.25, "spark" -> 3.0)
    val planLit = TextAnalysis.scoreLinear(df, "text", w, bias = 0.5)
      .select("doc_id", "lin_score").as[(Long, Double)].collect().toMap
    val join = TextAnalysis.scoreLinearJoin(df, "doc_id", "text", w, bias = 0.5)
      .select("doc_id", "lin_score").as[(Long, Double)].collect().toMap
    assert(planLit === join)
    assert(planLit(2L) === 9.5 && planLit(3L) === 0.5)
  }

  // Gopher rules — expectations hand-computed per rule, not derived from
  // the implementation, so a flag regression cannot rewrite them.
  test("gopher flags: a clean prose document passes every rule") {
    val df = Seq((1L, "the quick brown foxes jumped over the fence and " +
      "that horse ran with speed of light")).toDF("doc_id", "text")
    val row = TextAnalysis.withGopherFlags(df, "text", minWords = 5).head()
    // 16 words, Σlen 67 within [48, 160], no symbols/bullets/ellipsis,
    // all words alphabetic, stopwords the/and/that/with/of >= 2
    assert(row.getAs[Long]("n_words") === 16L)
    for (f <- Seq("flag_words", "flag_word_len", "flag_symbol", "flag_bullet",
        "flag_ellipsis", "flag_alpha", "flag_stop", "gopher_pass"))
      assert(row.getAs[Int](f) === 1, f)
  }

  test("gopher flags: each rule fails on its own adversarial fixture") {
    val df = Seq(
      (1L, "one two three"),                          // too few words (min 5)
      (2L, "intro line\n- a\n- b\n- c"),              // 3 of 4 lines bulleted
      (3L, "# # # # word word"),                      // 4 symbols on 6 words
      (4L, "to be continued...\nmore soon..."),       // every line ends ...
      (5L, "12345 67890 99 the cat"),                 // 2/5 alphabetic words
      (6L, "extraordinarily incomprehensibilities"),  // mean word len > 10
      (7L, "zebra quail xylem verdant"))              // zero stopwords
      .toDF("doc_id", "text")
    val got = TextAnalysis.withGopherFlags(df, "text",
        minWords = 5, maxBulletLineFrac = 0.5, minStopwordHits = 2)
      .select(col("doc_id"), col("flag_words"), col("flag_bullet"),
        col("flag_symbol"), col("flag_ellipsis"), col("flag_alpha"),
        col("flag_word_len"), col("flag_stop"), col("gopher_pass"))
      .as[(Long, Int, Int, Int, Int, Int, Int, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 0, "flag_words")
    assert(got(2L)._3 === 0, "flag_bullet")
    assert(got(3L)._4 === 0, "flag_symbol")
    assert(got(4L)._5 === 0, "flag_ellipsis")
    assert(got(5L)._6 === 0, "flag_alpha")
    assert(got(6L)._7 === 0, "flag_word_len")
    assert(got(7L)._8 === 0, "flag_stop")
    assert(got.values.forall(_._9 === 0), "no fixture passes")
  }

  test("filterGopher keeps passers only and drops the flag columns") {
    val df = Seq(
      (1L, "the quick brown foxes jumped over the fence and " +
        "that horse ran with speed of light"),
      (2L, "one two three"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.filterGopher(df, "text", minWords = 5)
    assert(got.columns.toSeq === Seq("doc_id", "text"))
    assert(got.select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("fingerprint is invariant to case and extra whitespace") {
    val variants = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),
      (3L, "  HELLO WORLD  "),
      (4L, "different"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.withFingerprint(variants, "text")
      .select("doc_id", "fingerprint").as[(Long, String)].collect().toMap
    assert(fps(1L) === fps(2L) && fps(2L) === fps(3L))
    assert(fps(1L) !== fps(4L))
  }

  test("withRepetitionFlags: duplicate line/paragraph fractions, hand-computed") {
    val df = Seq(
      (1L, "a b\na b\nc d"),                 // line "a b" repeats
      (2L, "para one x\n\npara one x\n\npz") // paragraph repeats
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withRepetitionFlags(df, "text")
      .select("doc_id", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac")
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // doc 1: 3 lines, 2 distinct → 1/3 by count; 9 chars, 3 dup → 1/3
    assert(got(1L) === ((1.0 / 3, 3.0 / 9, 0.0, 0.0)))
    // doc 2: paragraphs ["para one x","para one x","pz"] → 1/3 by count,
    // 10/22 by chars; its LINES also duplicate ("para one x" twice of 3)
    assert(got(2L)._3 === 1.0 / 3)
    assert(got(2L)._4 === 10.0 / 22)
    assert(got(2L)._1 === 1.0 / 3)
  }

  test("withRepetitionFlags: top n-gram char fraction, ties and caps") {
    val df = Seq(
      (1L, "x y x y x y"),        // "x y" ×3 → 9 chars of 11
      (2L, "u v w z"),            // no repeated 2-gram → 0
      (3L, "p q r s t p q r s t p q r s t")) // 5-gram mass caps at 1
      .toDF("doc_id", "text")
    val got = TextAnalysis.withRepetitionFlags(df, "text",
        topNs = Seq(2 -> 0.20), dupNs = Seq(5 -> 0.15))
      .select("doc_id", "top_2gram_char_frac", "dup_5gram_char_frac", "rep_pass")
      .as[(Long, Double, Double, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L)._1 === 9.0 / 11)
    assert(got(2L)._1 === 0.0)
    // doc 3: 11 5-grams, 5 distinct → dup char mass 6×9=54 over 29 chars → cap
    assert(got(3L)._2 === 1.0)
    assert(got(1L)._3 === 0 && got(2L)._3 === 1 && got(3L)._3 === 0)
  }

  test("filterRepetition keeps clean docs and drops loopers, schema preserved") {
    val df = Seq(
      (1L, "a perfectly ordinary sentence with no internal repetition at all"),
      (2L, "buy now buy now buy now buy now buy now buy now buy now"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.filterRepetition(df, "text")
    assert(got.columns.toSeq === Seq("doc_id", "text"))
    assert(got.select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("langid: first max in language order, and the curation stage over a " +
      "file-backed frame compiles under whole-stage codegen") {
    val texts = Seq("the le", "le der", "der el", "el the", "the le der el",
      "le le the", "und und der the the", "los y el le", null, "", "plain words")
    // reference: the strict `>` fold over the languages in list order
    def expected(t: String): (String, java.lang.Long) =
      if (t == null) ("unknown", null)
      else {
        val padded = " " + t.toLowerCase + " "
        val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
          lang -> ms.map(m => (padded.length - padded.replace(m, "").length).toDouble / m.length).sum
        }
        val (lang, score) = scores.tail.foldLeft(scores.head) {
          case (best, cand) => if (cand._2 > best._2) cand else best
        }
        (if (score > 0) lang else "unknown", score.toLong)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft_langid_").toString + "/docs"
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val got = TextAnalysis.withLangId(docs, "text")
      .select("doc_id", "lang_pred", "lang_pred_score").collect()
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) null else Long.box(r.getLong(2))))
      .toMap
    assert(got === texts.zipWithIndex.map { case (t, i) => i.toLong -> expected(t) }.toMap)
    // q87's first stage: language id, quality features and their filter
    val stage = TextAnalysis.withQuality(TextAnalysis.withLangId(docs, "text"), "text")
      .filter(col("lang_pred") === "en" && col("quality_score") >= 0.75)
    val plan = stage.queryExecution.executedPlan
    assert(plan.collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }.nonEmpty)
    val compiled = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
    assert(compiled.nonEmpty && compiled.forall(_._3 !=
      org.apache.spark.sql.catalyst.expressions.codegen.ByteCodeStats.UNAVAILABLE),
      "a whole-stage codegen subtree failed to compile")
    stage.collect()
  }
}
