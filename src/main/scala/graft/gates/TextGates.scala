package graft
package gates

import graft.pipes.{Gate => _, _}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gates for text analysis and media: language id, quality rules, C4/Gopher
  * cleaners, normalization, HTML/URL extraction, vocabularies, LM quality
  * signals and the image/audio decode plumbing.
  */
private[gates] object TextGates {
  import GateSupport._

  /** Deterministic line/symbol structure planted over the single-line
    * word-soup corpus for the Gopher-rule gates: every " line " starts a
    * bullet line, every " slow " closes its line with an ellipsis,
    * doc_id%5 docs get a '# ' header symbol, doc_id%7 docs end "...".
    */
  private def plantedStructured(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("text",
      concat(
        when(col("doc_id") % 5 === 0, lit("# ")).otherwise(lit("")),
        replace(replace(col("text"), lit(" line "), lit("\n- line ")),
          lit(" slow "), lit("…\n")),
        when(col("doc_id") % 7 === 0, lit(" ...")).otherwise(lit(""))))

  /** Deterministic sentence structure + a shared three-sentence
    * boilerplate passage appended to doc_id%10<3 docs for the span-dedup
    * gate: " merge " ends a sentence with ". ", " join " with "! ", so
    * docs carry many sentences and ~a third of the planted docs produce
    * the identical trimmed final span, which must dedup to its global
    * first (doc_id, pos) occurrence.
    */
  private def plantedSpans(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("text",
      concat(
        replace(replace(col("text"), lit(" merge "), lit(". ")),
          lit(" join "), lit("! ")),
        when(col("doc_id") % 10 < 3,
          lit(" One shared passage sits here. It repeats across documents verbatim. Every planted page carries this boilerplate."))
          .otherwise(lit(""))))

  /** Deterministic messy URLs for the canonicalizer gate: uppercase
    * scheme/host, default ports on even ids, tracker params on ids%3,
    * fragments everywhere, and a non-URL row every 17 ids.
    */
  private def plantedUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 17 === 0, lit("not a url"))
        .otherwise(concat(
          lit("HTTP://Ex"), col("doc_id") % 7, lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit("")),
          lit("/Path/"), col("doc_id") % 13,
          when(col("doc_id") % 3 === 0,
            lit("?utm_source=news&b=2&a=1&fbclid=x"))
            .otherwise(lit("?z=9&y=8")),
          lit("#f"), col("doc_id") % 5)).as("url"))

  /** documents wrapped in markup with style/script PAYLOADS (must vanish
    * with their contents), a comment, attributes, and the six entities —
    * incl. the decode-order trap &amp;lt; (must come out as literal
    * "&lt;", not "<") — shared by the tx_html_extract gates.
    */
  private def plantedHtml(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), concat(
      lit("<html><head><title>T</title><style>p { color: red; }" +
        "</style></head><body><!-- drop me --><h1>H &amp;lt; X</h1>" +
        "<p class=\"a\">"),
      col("text"),
      lit(" &quot;q&#39;s&quot; &lt;tag&gt;&nbsp;end</p>" +
        "<script type=\"text/javascript\">var x = \"<p>not text</p>\";" +
        "</script></body></html>")).as("html"))

  /** Real image fixtures for the decode/resize gates: one BMP (even ids)
    * or PNG (odd ids) per doc_id < 200, pixel (x,y) = an exact integer
    * formula of (doc_id, x, y) so a SQL oracle can regenerate every RGB
    * value without reading the files. Both formats are lossless, so
    * ImageIO decode must reproduce the formula bit-exactly — that round
    * trip (formula → BufferedImage → encode → binaryFile scan → decode →
    * digest) is what the gates verify. Returns the fixture directory.
    */
  private def plantedImages(s: SparkSession, dir: String): String = {
    val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select("doc_id").collect().map(_.getLong(0))
    val out = new java.io.File(
      s"/tmp/graft-media-img/${new java.io.File(dir).getName}")
    out.mkdirs()
    ids.foreach { id =>
      val w = (8 + id % 9).toInt; val h = (6 + id % 7).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 7 + x * 13 + y * 31) % 256).toInt
          val g = ((id * 11 + x * 5 + y * 17) % 256).toInt
          val b = ((id * 3 + x * 23 + y * 29) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val fmt = if (id % 2 == 0) "bmp" else "png"
      javax.imageio.ImageIO.write(img, fmt,
        new java.io.File(out, f"$id%06d.$fmt"))
    }
    out.getAbsolutePath
  }

  /** Decoded images with the canonical pixel digest (md5 over the
    * comma-joined decimal RGB ints, row-major) — shared by the decode
    * and resize gates.
    */
  private def decodedImages(s: SparkSession, d: String): DataFrame = {
    val fixtures = plantedImages(s, d)
    s.read.format("binaryFile").load(fixtures + "/*.*")
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.(?:bmp|png)$", 1)
          .cast("long").as("doc_id"),
        col("content"))
  }

  /** Real WAV fixtures for the audio decode/resample gates: one 16-bit
    * little-endian signed PCM WAV per doc_id < 200, written through
    * `javax.sound.sampled.AudioSystem` itself, with sample (frame i,
    * channel c) = an exact integer formula of (doc_id, i, c) so a SQL
    * oracle regenerates every amplitude without reading the files. PCM is
    * lossless, so the decode must reproduce the formula bit-exactly —
    * that round trip (formula → AudioInputStream → WAV encode →
    * binaryFile scan → decode → digest) is what the gates verify.
    */
  private def plantedAudio(s: SparkSession, dir: String): String = {
    val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select("doc_id").collect().map(_.getLong(0))
    val out = new java.io.File(
      s"/tmp/graft-media-wav/${new java.io.File(dir).getName}")
    out.mkdirs()
    ids.foreach { id =>
      val sr = (8000 + (id % 3) * 4000).toInt
      val ch = (1 + id % 2).toInt
      val nf = (40 + id % 25).toInt
      val data = new Array[Byte](nf * ch * 2)
      var i = 0
      while (i < nf) {
        var c = 0
        while (c < ch) {
          val v = ((id * 31 + i * 17 + c * 101) % 65536).toInt - 32768
          val o = (i * ch + c) * 2
          data(o) = (v & 0xFF).toByte          // little-endian
          data(o + 1) = ((v >> 8) & 0xFF).toByte
          c += 1
        }
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        sr.toFloat, 16, ch, ch * 2, sr.toFloat, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nf.toLong)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.File(out, f"$id%06d.wav"))
    }
    out.getAbsolutePath
  }

  private def decodedAudio(s: SparkSession, d: String): DataFrame = {
    val fixtures = plantedAudio(s, d)
    s.read.format("binaryFile").load(fixtures + "/*.wav")
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.wav$", 1)
          .cast("long").as("doc_id"),
        col("content"))
  }

  val gates: Seq[Gate] = Seq(
    // ----- LLM data-pipeline: text analysis -----
    Gate("ta_langid", (s, d) =>
      graft.llm.LanguageIdPipe("text")(t(s, d, "documents"))
        .select("doc_id", "lang_pred").orderBy("doc_id"),
      langidOracle),
    Gate("ta_quality", (s, d) =>
      graft.llm.QualityScorePipe("text")(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "mean_token_len", "stopword_ratio",
          "digit_ratio", "upper_ratio", "quality")
        .orderBy("doc_id"),
      // quality replays the EXACT fixed-point rational (floor((2·num+den)/
      // (2·den))/1e4) — no double rounding step, boundary-free at any scale
      """WITH s AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks, CAST(length(text) AS DOUBLE) AS nc FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS nt, nc,
        | CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for','der','die','das','und','ist','von','mit','ein','zu','den','el','la','los','y','de','un','es','en','que','por','le','les','et','est','pour','shi','zai','he','you','wo','ta','men','bu'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_r,
        | (nc - length(regexp_replace(text, '[0-9]', '', 'g'))) / nc AS dig_r,
        | (nc - length(regexp_replace(text, '[A-Z]', '', 'g'))) / nc AS up_r,
        | CAST(len(toks) AS BIGINT) AS nti,
        | CAST(greatest(length(text), 1) AS BIGINT) AS nci,
        | CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for','der','die','das','und','ist','von','mit','ein','zu','den','el','la','los','y','de','un','es','en','que','por','le','les','et','est','pour','shi','zai','he','you','wo','ta','men','bu'))) AS BIGINT) AS si,
        | CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS ldi,
        | CAST(length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS lui
        | FROM s)
        |SELECT doc_id, CAST(nt AS INT) AS n_tokens,
        | round((nc - (nt - 1)) / nt, 4) AS mean_token_len,
        | round(stop_r, 4) AS stopword_ratio,
        | round(dig_r, 4) AS digit_ratio,
        | round(up_r, 4) AS upper_ratio,
        | CAST(floor(((80*least(nti,50)*nti*nci + 4000*least(4*si,nti)*nci + 1000*ldi*nti + 1000*lui*nti)*2 + nti*nci) / (nti*nci*2.0)) AS DOUBLE) / 10000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("ta_token_count", (s, d) =>
      graft.llm.TokenCountPipe("text")(t(s, d, "documents"))
        .select("doc_id", "ws_tokens", "word_tokens", "est_bpe_tokens")
        .orderBy("doc_id"),
      """SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS INT) AS ws_tokens,
        | CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), t -> length(t) > 0)) AS INT) AS word_tokens,
        | CAST(ceil(length(text)/4.0) AS INT) AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("ta_fingerprint", (s, d) =>
      graft.llm.FingerprintPipe("text")(t(s, d, "documents"))
        .select("doc_id", "fingerprint").orderBy("doc_id"),
      fingerprintOracle),
    Gate("ta_normalize", (s, d) =>
      // CCNet normalization: lower + digits→0 + strip ASCII punct +
      // collapse whitespace; four codegen'd string expressions, map-only
      graft.llm.TextNormalizePipe("text")(t(s, d, "documents"))
        .select(col("doc_id"), col("text_norm")).orderBy("doc_id"),
      normalizeOracle),
    Gate("ta_normalize_sql", (s, d) => {
      // the SQL front end of the same chain: GraftExtensions registers
      // ccnet_normalize and the parser resolves it to the SAME expression
      // tree the pipe plans — one engine, two surfaces, identical bytes
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_sql_docs")
      s.sql("SELECT doc_id, ccnet_normalize(text) AS text_norm " +
        "FROM graft_sql_docs ORDER BY doc_id")
    },
      // the SQL front end must equal the pipe's output exactly — same oracle
      normalizeOracle),
    Gate("ta_quality_sql", (s, d) => {
      // graft_quality(text) — the QualityScorePipe composite as a SQL
      // scalar (shared kernel, so the values are bit-identical)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_sql_docs")
      s.sql("SELECT doc_id, graft_quality(text) AS quality " +
        "FROM graft_sql_docs ORDER BY doc_id")
    }, """WITH s AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS nti,
        | CAST(greatest(length(text), 1) AS BIGINT) AS nci,
        | CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for','der','die','das','und','ist','von','mit','ein','zu','den','el','la','los','y','de','un','es','en','que','por','le','les','et','est','pour','shi','zai','he','you','wo','ta','men','bu'))) AS BIGINT) AS si,
        | CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS ldi,
        | CAST(length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS lui
        | FROM s)
        |SELECT doc_id, CAST(floor(((80*least(nti,50)*nti*nci + 4000*least(4*si,nti)*nci + 1000*ldi*nti + 1000*lui*nti)*2 + nti*nci) / (nti*nci*2.0)) AS DOUBLE) / 10000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("qg_gopher_rules", (s, d) => {
      // Gopher §A1.1 heuristic rule battery (word-count/mean-length
      // bounds, symbol + bullet/ellipsis-line ratios, alpha-word share,
      // distinct stopwords). The corpus is single-line word soup, so the
      // gate plants deterministic structure first: every " line " starts
      // a bullet line, every " slow " closes its line with an ellipsis,
      // doc_id%5 docs get a '# ' header symbol, doc_id%7 docs end "...".
      // Every rule is an integer comparison — no double arithmetic for
      // the oracle to diverge on at any scale.
      graft.llm.GopherQualityPipe("text")(plantedStructured(s, d))
        .select("doc_id", "n_words", "sum_word_len", "n_lines",
          "bullet_lines", "ellipsis_lines", "alpha_words", "symbol_count",
          "distinct_stopwords", "rule_word_count", "rule_mean_word_len",
          "rule_symbol_ratio", "rule_bullet_lines", "rule_ellipsis_lines",
          "rule_alpha_words", "rule_stopwords", "gopher_keep")
        .orderBy("doc_id")
    },
      // integer-exact replay of the Gopher rule battery over the
      // identically planted line/symbol structure
      """WITH s AS (SELECT doc_id,
        | (CASE WHEN doc_id % 5 = 0 THEN '# ' ELSE '' END) || replace(replace(text, ' line ', chr(10) || '- line '), ' slow ', '…' || chr(10)) || (CASE WHEN doc_id % 7 = 0 THEN ' ...' ELSE '' END) AS text
        | FROM documents),
        |m AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks, string_split(text, chr(10)) AS lines, text FROM s),
        |c AS (SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_words,
        | CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT) AS sum_word_len,
        | CAST(len(lines) AS BIGINT) AS n_lines,
        | CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS BIGINT) AS bullet_lines,
        | CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS BIGINT) AS ellipsis_lines,
        | CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        | CAST((length(text)-length(replace(text,'#',''))) + (length(text)-length(replace(text,'...','')))//3 + (length(text)-length(replace(text,'…',''))) AS BIGINT) AS symbol_count,
        | CAST(len(list_distinct(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for')))) AS BIGINT) AS distinct_stopwords
        | FROM m)
        |SELECT doc_id, n_words, sum_word_len, n_lines, bullet_lines, ellipsis_lines, alpha_words, symbol_count, distinct_stopwords,
        | (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
        | (sum_word_len >= n_words*3 AND sum_word_len <= n_words*10) AS rule_mean_word_len,
        | (symbol_count*10 <= n_words) AS rule_symbol_ratio,
        | (bullet_lines*10 <= n_lines*9) AS rule_bullet_lines,
        | (ellipsis_lines*10 <= n_lines*3) AS rule_ellipsis_lines,
        | (alpha_words*5 >= n_words*4) AS rule_alpha_words,
        | (distinct_stopwords >= 2) AS rule_stopwords,
        | (n_words >= 50 AND n_words <= 100000 AND sum_word_len >= n_words*3 AND sum_word_len <= n_words*10 AND symbol_count*10 <= n_words AND bullet_lines*10 <= n_lines*9 AND ellipsis_lines*10 <= n_lines*3 AND alpha_words*5 >= n_words*4 AND distinct_stopwords >= 2) AS gopher_keep
        |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("qg_gopher_sql", (s, d) => {
      // graft_gopher_keep(text) — the battery folded to its keep flag as
      // a SQL scalar (shared kernel with the pipe, same planted input)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      plantedStructured(s, d).createOrReplaceTempView("graft_sql_gopher")
      s.sql("SELECT doc_id, graft_gopher_keep(text) AS gopher_keep " +
        "FROM graft_sql_gopher ORDER BY doc_id")
    },
      // the SQL front end folds the same battery to its keep flag
      """WITH s AS (SELECT doc_id,
        | (CASE WHEN doc_id % 5 = 0 THEN '# ' ELSE '' END) || replace(replace(text, ' line ', chr(10) || '- line '), ' slow ', '…' || chr(10)) || (CASE WHEN doc_id % 7 = 0 THEN ' ...' ELSE '' END) AS text
        | FROM documents),
        |m AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks, string_split(text, chr(10)) AS lines, text FROM s),
        |c AS (SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_words,
        | CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT) AS sum_word_len,
        | CAST(len(lines) AS BIGINT) AS n_lines,
        | CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS BIGINT) AS bullet_lines,
        | CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS BIGINT) AS ellipsis_lines,
        | CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        | CAST((length(text)-length(replace(text,'#',''))) + (length(text)-length(replace(text,'...','')))//3 + (length(text)-length(replace(text,'…',''))) AS BIGINT) AS symbol_count,
        | CAST(len(list_distinct(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for')))) AS BIGINT) AS distinct_stopwords
        | FROM m)
        |SELECT doc_id,
        | (n_words >= 50 AND n_words <= 100000 AND sum_word_len >= n_words*3 AND sum_word_len <= n_words*10 AND symbol_count*10 <= n_words AND bullet_lines*10 <= n_lines*9 AND ellipsis_lines*10 <= n_lines*3 AND alpha_words*5 >= n_words*4 AND distinct_stopwords >= 2) AS gopher_keep
        |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cu_c4_clean", (s, d) => {
      // C4 §2.2 line battery over planted multi-line pages: terminal-
      // punct + ≥5-word + no-javascript line filter, page flags (lorem
      // ipsum / curly brace) on the ORIGINAL page, sentence-run count on
      // the cleaned page. Map-only; every rule integer/substring-exact.
      graft.llm.C4CleanPipe("text")(plantedC4(s, d))
        .select("doc_id", "text", "n_lines", "kept_lines", "n_sentences",
          "flag_lorem_ipsum", "flag_curly_brace", "rule_min_sentences",
          "c4_keep")
        .orderBy("doc_id")
    },
      // the C4 line battery replayed over the identically planted pages
      """WITH s AS (SELECT doc_id,
        | (CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet today.' || chr(10) ELSE '' END) || (CASE WHEN doc_id % 13 = 0 THEN '{ cfg }' || chr(10) ELSE '' END) || replace(replace(text, ' fast ', '.' || chr(10)), ' data ', '?' || chr(10)) || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Enable javascript to proceed now please.' ELSE '' END) AS text
        | FROM documents),
        |m AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM s),
        |k AS (SELECT doc_id, text, lines,
        | list_filter(lines, l -> regexp_matches(rtrim(l, ' ' || chr(9)), '[.!?"”]$') AND length(trim(rtrim(l, ' ' || chr(9)))) > 0 AND len(regexp_split_to_array(trim(rtrim(l, ' ' || chr(9))), '\s+')) >= 5 AND NOT contains(lower(rtrim(l, ' ' || chr(9))), 'javascript')) AS kept
        | FROM m),
        |c AS (SELECT doc_id, text, lines, kept, coalesce(array_to_string(kept, chr(10)), '') AS clean FROM k),
        |f AS (SELECT doc_id, clean,
        | CAST(len(lines) AS BIGINT) AS n_lines,
        | CAST(len(kept) AS BIGINT) AS kept_lines,
        | CAST(len(regexp_extract_all(clean, '[.!?]+')) AS BIGINT) AS n_sentences,
        | contains(lower(text), 'lorem ipsum') AS flag_lorem_ipsum,
        | contains(text, '{') AS flag_curly_brace
        | FROM c)
        |SELECT doc_id, clean AS text, n_lines, kept_lines, n_sentences, flag_lorem_ipsum, flag_curly_brace,
        | (n_sentences >= 3) AS rule_min_sentences,
        | (n_sentences >= 3 AND NOT flag_lorem_ipsum AND NOT flag_curly_brace) AS c4_keep
        |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cu_c4_clean_sql", (s, d) => {
      // graft_c4_clean(text) — the line battery folded to the cleaned
      // page as a SQL scalar (shared kernel with the pipe)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      plantedC4(s, d).createOrReplaceTempView("graft_sql_c4")
      s.sql("SELECT doc_id, graft_c4_clean(text) AS text " +
        "FROM graft_sql_c4 ORDER BY doc_id")
    },
      // the SQL front end folds the same battery to the cleaned page
      """WITH s AS (SELECT doc_id,
        | (CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet today.' || chr(10) ELSE '' END) || (CASE WHEN doc_id % 13 = 0 THEN '{ cfg }' || chr(10) ELSE '' END) || replace(replace(text, ' fast ', '.' || chr(10)), ' data ', '?' || chr(10)) || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Enable javascript to proceed now please.' ELSE '' END) AS text
        | FROM documents),
        |m AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM s)
        |SELECT doc_id, coalesce(array_to_string(list_filter(lines, l -> regexp_matches(rtrim(l, ' ' || chr(9)), '[.!?"”]$') AND length(trim(rtrim(l, ' ' || chr(9)))) > 0 AND len(regexp_split_to_array(trim(rtrim(l, ' ' || chr(9))), '\s+')) >= 5 AND NOT contains(lower(rtrim(l, ' ' || chr(9))), 'javascript')), chr(10)), '') AS text
        |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("dd_span_dedup", (s, d) => {
      // C4's cross-corpus three-sentence-span dedup over planted
      // sentence structure with a shared boilerplate passage: global
      // first (doc_id, pos) occurrence survives, every other exact span
      // is removed and each doc is rebuilt from its survivors in order.
      graft.llm.SpanDedupPipe("text", "doc_id")(plantedSpans(s, d))
        .select("doc_id", "text", "n_spans_removed")
        .orderBy("doc_id")
    },
      // tumbling three-sentence spans, global-first survivor, rebuild
      """WITH s AS (SELECT doc_id,
        | replace(replace(text, ' merge ', '. '), ' join ', '! ') || (CASE WHEN doc_id % 10 < 3 THEN ' One shared passage sits here. It repeats across documents verbatim. Every planted page carries this boilerplate.' ELSE '' END) AS text
        | FROM documents),
        |m AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]*[.!?]+') AS sents FROM s),
        |e AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(sents[(i-1)*3+1:(i-1)*3+3], '') AS span
        | FROM m, unnest(generate_series(1, CAST(ceil(len(sents)/3.0) AS INT))) AS u(i)),
        |r AS (SELECT doc_id, pos, span, row_number() OVER (PARTITION BY trim(span) ORDER BY doc_id, pos) AS rn FROM e),
        |b AS (SELECT doc_id, coalesce(string_agg(CASE WHEN rn = 1 THEN span END, '' ORDER BY pos), '') AS clean, sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS removed FROM r GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(b.clean, '') AS text, CAST(coalesce(b.removed, 0) AS BIGINT) AS n_spans_removed
        |FROM s LEFT JOIN b ON s.doc_id = b.doc_id ORDER BY s.doc_id""".stripMargin.replace("\n", " ")),
    Gate("ld_intra_doc", (s, d) => {
      // within-page repetition removal: every " line " in the soup plants
      // the SAME boilerplate line multiple times per doc; first
      // occurrence survives in order. Map-only (the shuffle-free half of
      // line dedup — corpus-frequency removal is ld_line_dedup).
      val planted = t(s, d, "documents").withColumn("text",
        replace(col("text"), lit(" line "),
          lit("\nRepeated boilerplate block.\n")))
      graft.llm.IntraDocLineDedupPipe("text")(planted)
        .select("doc_id", "text", "n_intra_removed").orderBy("doc_id")
    },
      // first-occurrence line filter replayed via the indexed list lambda
      """WITH s AS (SELECT doc_id, replace(text, ' line ', chr(10) || 'Repeated boilerplate block.' || chr(10)) AS text FROM documents),
        |m AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM s),
        |k AS (SELECT doc_id, lines, list_filter(lines, (l, i) -> list_position(lines, l) = i) AS kept FROM m)
        |SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text, CAST(len(lines) - len(kept) AS BIGINT) AS n_intra_removed
        |FROM k ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("mm_binary_ingest", (s, d) => {
      // multimodal INGEST through Spark's binaryFile source: a
      // deterministic fixture of media-like files (ASCII magic
      // stand-ins — real magic bytes aren't replayable through a SQL
      // oracle's string algebra) is laid down from the documents table,
      // read back as (path, length, content), and reduced to the typed
      // metadata + content-digest shape every downstream multimodal
      // pipe consumes. At scale this is the scan path for raw
      // image/audio blobs: one file per task slot, no decode on read.
      val rows = t(s, d, "documents").filter(col("doc_id") < 200)
        .select("doc_id", "text").collect()
      val dir = new java.io.File(
        s"/tmp/graft-media/${new java.io.File(d).getName}")
      dir.mkdirs()
      rows.foreach { r =>
        val id = r.getLong(0)
        val magic = (id % 3) match {
          case 0 => "PNG"; case 1 => "JPG"; case _ => "BIN" }
        val payload = magic + r.getString(1).take(64)
        java.nio.file.Files.write(
          new java.io.File(dir, f"$id%06d.bin").toPath,
          payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("binaryFile").load(dir.getAbsolutePath + "/*.bin")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length"),
          substring(col("content"), 1, 3).cast("string").as("format"),
          md5(col("content")).as("digest"))
        .orderBy("doc_id")
    },
      // byte-level replay of the fixture files the gate itself lays down
      """WITH s AS (SELECT doc_id,
        | (CASE doc_id % 3 WHEN 0 THEN 'PNG' WHEN 1 THEN 'JPG' ELSE 'BIN' END) || substr(text, 1, 64) AS payload
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id, CAST(length(payload) AS BIGINT) AS length, substr(payload, 1, 3) AS format, md5(payload) AS digest
        |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cu_url_canonicalize", (s, d) => {
      // crawl-key normalizer over planted messy URLs: case, default
      // ports, fragments, tracker params, param order — all map-only;
      // the oracle replays the identical anchored regex + list algebra.
      graft.llm.UrlCanonicalizePipe("url")(plantedUrls(s, d))
        .select("doc_id", "url_canonical", "url_host", "url_valid")
        .orderBy("doc_id")
    },
      // the identical anchored URL regex + list algebra over planted URLs
      """WITH s AS (SELECT doc_id,
        | CASE WHEN doc_id % 17 = 0 THEN 'not a url' ELSE 'HTTP://Ex' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM' || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END) || '/Path/' || CAST(doc_id % 13 AS VARCHAR) || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=news&b=2&a=1&fbclid=x' ELSE '?z=9&y=8' END) || '#f' || CAST(doc_id % 5 AS VARCHAR) END AS url
        | FROM documents),
        |m AS (SELECT doc_id, url,
        | regexp_matches(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$') AS valid,
        | lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS scheme,
        | lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2)) AS auth0,
        | regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3) AS path0,
        | regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS q
        | FROM s),
        |a AS (SELECT doc_id, valid,
        | CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '') WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '') ELSE auth0 END AS auth,
        | scheme, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        | list_sort(list_filter(string_split(q, '&'), p -> p <> '' AND NOT starts_with(string_split(p, '=')[1], 'utm_') AND string_split(p, '=')[1] NOT IN ('fbclid', 'gclid', 'msclkid', 'mc_eid'))) AS kept
        | FROM m)
        |SELECT doc_id,
        | CASE WHEN valid THEN scheme || '://' || auth || path || (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) END AS url_canonical,
        | CASE WHEN valid THEN regexp_replace(auth, ':[0-9]+$', '') END AS url_host,
        | valid AS url_valid
        |FROM a ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cu_url_canonical_sql", (s, d) => {
      // graft_url_canonical(url) — the normalizer folded to its canonical
      // form as a SQL scalar (shared kernel with the pipe)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      plantedUrls(s, d).createOrReplaceTempView("graft_sql_urls")
      s.sql("SELECT doc_id, graft_url_canonical(url) AS url_canonical " +
        "FROM graft_sql_urls ORDER BY doc_id")
    },
      // the SQL front end folds the same algebra to the canonical scalar
      """WITH s AS (SELECT doc_id,
        | CASE WHEN doc_id % 17 = 0 THEN 'not a url' ELSE 'HTTP://Ex' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM' || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END) || '/Path/' || CAST(doc_id % 13 AS VARCHAR) || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=news&b=2&a=1&fbclid=x' ELSE '?z=9&y=8' END) || '#f' || CAST(doc_id % 5 AS VARCHAR) END AS url
        | FROM documents),
        |m AS (SELECT doc_id, url,
        | regexp_matches(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$') AS valid,
        | lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS scheme,
        | lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2)) AS auth0,
        | regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3) AS path0,
        | regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS q
        | FROM s),
        |a AS (SELECT doc_id, valid,
        | CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '') WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '') ELSE auth0 END AS auth,
        | scheme, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        | list_sort(list_filter(string_split(q, '&'), p -> p <> '' AND NOT starts_with(string_split(p, '=')[1], 'utm_') AND string_split(p, '=')[1] NOT IN ('fbclid', 'gclid', 'msclkid', 'mc_eid'))) AS kept
        | FROM m)
        |SELECT doc_id,
        | CASE WHEN valid THEN scheme || '://' || auth || path || (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) END AS url_canonical
        |FROM a ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("tx_html_extract", (s, d) => {
      // C4-lineage HTML -> text extraction: every doc wrapped in markup
      // with style/script PAYLOADS (must vanish with their contents), a
      // comment, attributes, and the six entities — incl. the
      // decode-order trap &amp;lt; (must come out as literal "&lt;", not
      // "<"). The oracle replays the identical RE2 pattern chain.
      graft.llm.HtmlExtractPipe("html")(plantedHtml(s, d))
        .select(col("doc_id"), col("text_extracted")).orderBy("doc_id")
    }, htmlExtractOracle),
    Gate("tx_html_extract_sql", (s, d) => {
      // the SQL front end of the same chain: GraftExtensions registers
      // html_extract and the parser resolves it to the SAME expression
      // tree HtmlExtractPipe plans — identical bytes, same oracle
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      plantedHtml(s, d).createOrReplaceTempView("graft_sql_html")
      s.sql("SELECT doc_id, html_extract(html) AS text_extracted " +
        "FROM graft_sql_html ORDER BY doc_id")
    }, htmlExtractOracle),
    Gate("ta_langid_sql", (s, d) => {
      // graft_langid(text) — the LanguageIdPipe vote as a SQL scalar
      // (shared kernel, identical values, same oracle as ta_langid)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_sql_docs")
      s.sql("SELECT doc_id, graft_langid(text) AS lang_pred " +
        "FROM graft_sql_docs ORDER BY doc_id")
    }, langidOracle),
    Gate("ta_fingerprint_sql", (s, d) => {
      // graft_fingerprint(text) — the rolling document fingerprint as a
      // SQL scalar (shared kernel, same oracle as ta_fingerprint)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_sql_docs")
      s.sql("SELECT doc_id, graft_fingerprint(text) AS fingerprint " +
        "FROM graft_sql_docs ORDER BY doc_id")
    }, fingerprintOracle),
    Gate("ws_weighted_sample", (s, d) =>
      // Efraimidis-Spirakis weighted sampling without replacement:
      // global top-120 by ln(u)/w with the engine-reproducible hash u —
      // plans as TakeOrderedAndProject (O(k) per partition, no sort)
      graft.llm.WeightedSamplePipe("doc_id", "n_chars", 120)(
        t(s, d, "documents"))
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id"),
      weightedSampleOracle),
    Gate("ws_weighted_stratified", (s, d) =>
      // per-language stratum: same key, GroupTopK per lang
      graft.llm.WeightedSamplePipe("doc_id", "n_chars", 20, Seq("lang"))(
        t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
      """WITH s AS (SELECT doc_id, lang, n_chars, (doc_id*131 + 17) % 2147483647 AS s1
        | FROM documents WHERE n_chars > 0),
        |m AS (SELECT doc_id, lang, n_chars,
        | ln(((s1*s1 + s1) % 2147483647 + 1) / 2147483648.0) / CAST(n_chars AS DOUBLE) AS k FROM s),
        |r AS (SELECT doc_id, lang, n_chars, row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rn FROM m)
        |SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20 ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("ta_fold_accents", (s, d) => {
      // the native FoldAccents Catalyst expression inside the normalize
      // chain: accented text planted onto every doc (same literal on
      // both sides), folded NFD-style — DuckDB strip_accents replays it
      val planted = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" café Zürich niño àéîõü ÀÉÎÕÜ ç!")).as("text"))
      graft.llm.TextNormalizePipe("text", foldAccents = true)(planted)
        .select(col("doc_id"), col("text_norm")).orderBy("doc_id")
    }, """SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(lower(strip_accents(coalesce(text, '') || ' café Zürich niño àéîõü ÀÉÎÕÜ ç!')), '[0-9]', '0', 'g'), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("dd_norm_dedup", (s, d) => {
      // the CCNet use of normalization: dedup KEYS on the normalized
      // text, so planted case/punctuation variants collide with their
      // originals (dup_count = 2) where raw exact dedup would miss them
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = base.unionByName(base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      SequentialPipe(Seq(
        graft.llm.TextNormalizePipe("text"),
        graft.llm.ExactDedupPipe(Seq("text_norm"), "doc_id")))(planted)
        .select(col("doc_id"), col("dup_count")).orderBy("doc_id")
    }, """WITH base AS (SELECT doc_id, text FROM documents),
        |planted AS (SELECT doc_id, text FROM base
        | UNION ALL SELECT doc_id+500000, upper(text) || ' !!' FROM base WHERE doc_id < 50),
        |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(lower(coalesce(text, '')), '[0-9]', '0', 'g'), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS tn FROM planted)
        |SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM norm GROUP BY tn ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- LLM data-pipeline: multimodal plumbing -----
    Gate("mm_decode_real", (s, d) => {
      // REAL image decode: formula-pixel BMP/PNG fixtures laid down from
      // the documents table, scanned via binaryFile, decoded with
      // javax.imageio inside mapPartitions; the oracle regenerates every
      // RGB value from the same integer formula — so dims AND the
      // md5 pixel digest must match byte-exactly, proving the decode
      // (not a stub) end-to-end.
      val dec = graft.llm.DecodeImagePipe("content")(decodedImages(s, d))
      dec.select(col("doc_id"),
        col("image.width").as("width"),
        col("image.height").as("height"),
        col("image.channels").as("channels"),
        md5(array_join(
          transform(col("image.pixels"), p => p.cast("string")), ",")
          .cast("binary")).as("pix_digest"))
        .orderBy("doc_id")
    },
      // REAL decode oracle: the formula that painted the BMP/PNG fixtures
      // regenerates every RGB value — dims and the md5 pixel digest must
      // match the javax.imageio decode byte-exactly
      """WITH ids AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h FROM documents WHERE doc_id < 200),
        |pix AS (SELECT i.doc_id, i.w, i.h, yy.y AS y, xx.x AS x,
        | (i.doc_id*7 + xx.x*13 + yy.y*31) % 256 AS r,
        | (i.doc_id*11 + xx.x*5 + yy.y*17) % 256 AS g,
        | (i.doc_id*3 + xx.x*23 + yy.y*29) % 256 AS b
        | FROM ids i, generate_series(0, 11) AS yy(y), generate_series(0, 15) AS xx(x)
        | WHERE yy.y < i.h AND xx.x < i.w)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(3 AS INT) AS channels,
        | md5(string_agg(r || ',' || g || ',' || b, ',' ORDER BY y, x)) AS pix_digest
        |FROM pix GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("mm_resize_real", (s, d) => {
      // REAL image resize: decode + exact nearest-neighbor resample to
      // 7x5 (src = floor(dst*srcDim/dstDim)); the oracle computes the
      // same mapping over the formula pixels, so the resized digest
      // replays byte-exactly.
      val dec = graft.llm.ResizeImagePipe("content", targetW = 7,
        targetH = 5)(decodedImages(s, d))
      dec.select(col("doc_id"),
        col("image_resized.width").as("width"),
        col("image_resized.height").as("height"),
        md5(array_join(
          transform(col("image_resized.pixels"), p => p.cast("string")), ",")
          .cast("binary")).as("pix_digest"))
        .orderBy("doc_id")
    },
      // nearest-neighbor resample replay: out(x,y) = formula(x*w//7, y*h//5)
      """WITH ids AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h FROM documents WHERE doc_id < 200),
        |pix AS (SELECT i.doc_id, yy.y AS y, xx.x AS x,
        | (i.doc_id*7 + ((xx.x * i.w) // 7)*13 + ((yy.y * i.h) // 5)*31) % 256 AS r,
        | (i.doc_id*11 + ((xx.x * i.w) // 7)*5 + ((yy.y * i.h) // 5)*17) % 256 AS g,
        | (i.doc_id*3 + ((xx.x * i.w) // 7)*23 + ((yy.y * i.h) // 5)*29) % 256 AS b
        | FROM ids i, generate_series(0, 4) AS yy(y), generate_series(0, 6) AS xx(x))
        |SELECT doc_id, CAST(7 AS INT) AS width, CAST(5 AS INT) AS height,
        | md5(string_agg(r || ',' || g || ',' || b, ',' ORDER BY y, x)) AS pix_digest
        |FROM pix GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("mm_audio_decode", (s, d) => {
      // REAL audio decode: formula-sample PCM WAV fixtures scanned via
      // binaryFile, decoded with javax.sound.sampled inside
      // mapPartitions; the oracle regenerates every amplitude from the
      // same integer formula — format fields AND the md5 sample digest
      // must match byte-exactly, proving the decode end-to-end.
      val dec = graft.llm.DecodeAudioPipe("content")(decodedAudio(s, d))
      dec.select(col("doc_id"),
        col("audio.sample_rate").as("sample_rate"),
        col("audio.channels").as("channels"),
        col("audio.n_frames").as("n_frames"),
        md5(array_join(
          transform(col("audio.samples"), v => v.cast("string")), ",")
          .cast("binary")).as("sample_digest"))
        .orderBy("doc_id")
    },
      // REAL audio decode oracle: the formula that wrote the PCM WAV
      // fixtures regenerates every amplitude — format fields and the md5
      // sample digest must match the javax.sound.sampled decode exactly
      """WITH ids AS (SELECT doc_id, 8000 + (doc_id % 3)*4000 AS sr, 1 + doc_id % 2 AS ch, 40 + doc_id % 25 AS nf FROM documents WHERE doc_id < 200),
        |smp AS (SELECT i.doc_id, i.sr, i.ch, i.nf, ff.i AS frame, cc.c AS c,
        | ((i.doc_id*31 + ff.i*17 + cc.c*101) % 65536) - 32768 AS v
        | FROM ids i, generate_series(0, 64) AS ff(i), generate_series(0, 1) AS cc(c)
        | WHERE ff.i < i.nf AND cc.c < i.ch)
        |SELECT doc_id, CAST(sr AS INT) AS sample_rate, CAST(ch AS INT) AS channels, CAST(nf AS INT) AS n_frames,
        | md5(string_agg(v, ',' ORDER BY frame, c)) AS sample_digest
        |FROM smp GROUP BY doc_id, sr, ch, nf ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("mm_audio_resample", (s, d) => {
      // REAL audio resample: decode + exact nearest-neighbor frame
      // resample to 24 frames (src = floor(dst*nFrames/24), channels
      // copied); the oracle computes the same mapping over the formula
      // samples, so the resampled digest replays byte-exactly.
      val dec = graft.llm.ResampleAudioPipe("content", targetFrames = 24)(
        decodedAudio(s, d))
      dec.select(col("doc_id"),
        col("audio_resampled.sample_rate").as("sample_rate"),
        col("audio_resampled.channels").as("channels"),
        col("audio_resampled.n_frames").as("n_frames"),
        md5(array_join(
          transform(col("audio_resampled.samples"), v => v.cast("string")), ",")
          .cast("binary")).as("sample_digest"))
        .orderBy("doc_id")
    },
      // nearest-neighbor frame resample replay: out frame j reads source
      // frame (j*nf)//24, every channel copied
      """WITH ids AS (SELECT doc_id, 8000 + (doc_id % 3)*4000 AS sr, 1 + doc_id % 2 AS ch, 40 + doc_id % 25 AS nf FROM documents WHERE doc_id < 200),
        |smp AS (SELECT i.doc_id, i.sr, i.ch, jj.j AS frame, cc.c AS c,
        | ((i.doc_id*31 + ((jj.j*i.nf)//24)*17 + cc.c*101) % 65536) - 32768 AS v
        | FROM ids i, generate_series(0, 23) AS jj(j), generate_series(0, 1) AS cc(c)
        | WHERE cc.c < i.ch)
        |SELECT doc_id, CAST(sr AS INT) AS sample_rate, CAST(ch AS INT) AS channels, CAST(24 AS INT) AS n_frames,
        | md5(string_agg(v, ',' ORDER BY frame, c)) AS sample_digest
        |FROM smp GROUP BY doc_id, sr, ch ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("mm_media_meta", (s, d) => {
      val out = graft.llm.ToMediaColumnPipe("text")(t(s, d, "documents"))
      out.select(col("doc_id"),
        col("media_meta").getField("format").as("format"),
        col("media_meta").getField("n_bytes").as("n_bytes"))
        .orderBy("doc_id")
    }, "SELECT doc_id, 'utf8-text' AS format, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id"),
    Gate("mm_decode_stub", (s, d) => {
      val media = graft.llm.ToMediaColumnPipe("text")(
        t(s, d, "documents").select("doc_id", "text"))
      graft.llm.ByteFeaturesPipe("media", "doc_id", dim = 8)(media)
        .select(col("doc_id"),
          transform(col("media_features"), v => round(v, 4)).as("f"))
        .orderBy("doc_id")
    }, scl("""SELECT doc_id, list_transform(range(0, 8), j ->
        | round(list_avg(list_transform(range(j+1, length(text)+1, 8), i -> unicode(text[i]))) / 255, 4)) AS f
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
        "doc_id" -> "", "f" -> "d")),
    Gate("mm_frame_sample", (s, d) => {
      val media = graft.llm.ToMediaColumnPipe("text")(
        t(s, d, "documents").select("doc_id", "text"))
      graft.llm.FrameSamplePipe("media")(media)
        .select(col("doc_id"),
          transform(col("frames"), f => f.getField("offset")).as("offsets"),
          transform(col("frames"), f => f.getField("data").cast("string")).as("chunks"))
        .orderBy("doc_id")
    }, scl("""SELECT doc_id,
        | list_transform(range(0, length(text), 64)[1:8], x -> x) AS offsets,
        | list_transform(range(0, length(text), 64)[1:8], o -> substr(text, o+1, 16)) AS chunks
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
        "doc_id" -> "", "offsets" -> "i", "chunks" -> "s")),
    // ----- vocabulary learn + encode -----
    Gate("vb_vocab_encode", (s, d) => {
      val out = graft.llm.VocabEncodePipe("text", "doc_id", vocabSize = 25)(
        t(s, d, "documents"))
      out.select(col("doc_id"), col("token_ids"), col("n_oov"))
        .orderBy("doc_id")
    }, scl(
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |ex AS (SELECT doc_id, ln.i, t[ln.i] AS tok FROM tk, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i) ln),
        |cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
        |voc AS (SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) - 1 AS INT) AS id
        |        FROM (SELECT * FROM cnt ORDER BY c DESC, tok LIMIT 25)),
        |enc AS (SELECT ex.doc_id,
        |         list(CAST(coalesce(voc.id, -1) AS BIGINT) ORDER BY ex.i) AS token_ids,
        |         CAST(sum(CASE WHEN voc.id IS NULL THEN 1 ELSE 0 END) AS INT) AS n_oov
        |        FROM ex LEFT JOIN voc USING (tok) GROUP BY ex.doc_id)
        |SELECT doc_id, token_ids, n_oov FROM enc ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "doc_id" -> "", "token_ids" -> "i", "n_oov" -> "")),
    // ----- corpus-LM unigram NLL quality signal -----
    Gate("ug_unigram_nll", (s, d) =>
      graft.llm.UnigramLogProbPipe("text", "doc_id")(t(s, d, "documents"))
        .select("doc_id", "unigram_nll").orderBy("doc_id"),
      // per-token nll is fixed-point (x1e4 integers): exact order-free sums
      // make the mean bit-identical across engines and partitionings
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tk),
        |v AS (SELECT tok, CAST(round(-ln(count(*) / (SELECT total FROM n)) * 10000) AS BIGINT) AS f FROM tk GROUP BY tok),
        |sc AS (SELECT doc_id, CAST(floor((sum(f)*2 + count(*)) / (count(*) * 2.0)) AS DOUBLE) / 10000.0 AS unigram_nll
        |       FROM tk JOIN v USING (tok) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.unigram_nll, 0) AS unigram_nll
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),
    // ----- URL/domain blocklist filter (C4-style) -----
    Gate("ur_url_filter", (s, d) => {
      // plant blocked subdomain / clean / blocked apex URLs on a cycle
      val planted = t(s, d, "documents").withColumn("t2",
        when(col("doc_id") % 4 === 0, concat(col("text"),
          lit(" see http://ads"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/x")))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" see https://ok.org/page")))
        .when(col("doc_id") % 4 === 2,
          concat(col("text"), lit(" ref http://example.com")))
        .otherwise(col("text")))
      graft.llm.UrlFilterPipe("t2", Seq("example.com"))(planted)
        .select("doc_id", "n_urls", "url_blocked").orderBy("doc_id")
    }, """WITH p AS (SELECT doc_id, CASE
        | WHEN doc_id % 4 = 0 THEN text || ' see http://ads' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/x'
        | WHEN doc_id % 4 = 1 THEN text || ' see https://ok.org/page'
        | WHEN doc_id % 4 = 2 THEN text || ' ref http://example.com'
        | ELSE text END AS t2 FROM documents),
        |h AS (SELECT doc_id, regexp_extract_all(t2, 'https?://([A-Za-z0-9.-]+)', 1) AS hosts FROM p)
        |SELECT doc_id, CAST(len(hosts) AS INT) AS n_urls,
        | len(list_filter(hosts, x -> x = 'example.com' OR ends_with(x, '.example.com'))) > 0 AS url_blocked
        |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- media resize stub (nearest-neighbor byte resample) -----
    Gate("mm_resize", (s, d) => {
      // text payload as the media binary (ASCII -> byte pos == char pos,
      // so the oracle replays the resample on the string side)
      val media = graft.llm.ToMediaColumnPipe("text")(t(s, d, "documents"))
      graft.llm.ResampleBytesPipe("media", targetBytes = 32)(media)
        .select(col("doc_id"),
          col("media_resized").cast("string").as("resized_text"),
          col("resized_meta.n_bytes").as("n_bytes"))
        .orderBy("doc_id")
    },
      // nearest-neighbor resample out[i] = in[floor(i*n/32)], ASCII text so
      // byte positions equal char positions
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents)
        |SELECT doc_id,
        | CASE WHEN n > 0 THEN list_aggregate(list_transform(range(0, 32),
        |   i -> text[CAST((i*n - (i*n) % 32) / 32 AS INT) + 1]), 'string_agg', '')
        | ELSE '' END AS resized_text,
        | CAST(CASE WHEN n > 0 THEN 32 ELSE 0 END AS BIGINT) AS n_bytes
        |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " ")),
  )
}
