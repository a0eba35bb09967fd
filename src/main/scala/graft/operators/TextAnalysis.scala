package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting. All pure
  * per-row projections (narrow, no shuffle, fully codegen'd inside
  * WholeStageCodegen) — at 100 TB these run at scan speed and the
  * only shuffle is whatever aggregation the caller adds on top.
  */
object TextAnalysis {

  /** Documents scan, hash-repartitioned off the (single-split at test
    * scale) scan so per-row text work parallelizes; final orderBys
    * re-shuffle anyway, so this adds no extra exchange of substance. */
  private def docs(spark: SparkSession, dir: String) =
    Tables(spark, dir).documents.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  // ─── text_langid: n-gram/marker-heuristic language ID ───
  // Scores = marker-substring occurrence counts per language profile;
  // argmax with a fixed precedence for ties. Deterministic and
  // SQL-expressible so the oracle can replay it exactly.
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " de "),
    "de" -> Seq(" der ", " und ", " ein "),
    "fr" -> Seq(" le ", " et ", " la "),
    "zh" -> Seq(" shi ", " de ", " le "))

  private def countOcc(padded: Column, m: String): Column =
    (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(m), "")))
      ./(lit(m.length)).cast("long")

  private def countOccSql(m: String): String =
    s"CAST((length(padded) - length(replace(padded, '$m', ''))) / ${m.length} AS BIGINT)"

  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scored = docs(spark, dir)
      .withColumn("padded", padded)
      .select(col("doc_id") +: col("lang").as("actual_lang") +:
        profiles.map { case (l, ms) =>
          ms.map(countOcc(col("padded"), _)).reduce(_ + _).as(s"score_$l")
        }: _*)
    val mx = greatest(profiles.map(p => col(s"score_${p._1}")): _*)
    // CASE chain: first profile wins ties (same precedence in the SQL)
    val predFirst = profiles.foldLeft(Option.empty[Column]) {
      case (None, (l, _)) => Some(when(col(s"score_$l") === mx && mx > 0, lit(l)))
      case (Some(c), (l, _)) => Some(c.when(col(s"score_$l") === mx && mx > 0, lit(l)))
    }.get.otherwise(lit("und"))
    scored.select(
      col("doc_id") +: col("actual_lang") +: predFirst.as("pred_lang") +:
        profiles.map(p => col(s"score_${p._1}")): _*)
      .orderBy(col("doc_id"))
  }

  val textLangidSql: String = {
    val scoreCols = profiles.map { case (l, ms) =>
      ms.map(countOccSql).mkString(" + ") + s" AS score_$l"
    }.mkString(",\n  ")
    val mx = s"greatest(${profiles.map(p => s"score_${p._1}").mkString(", ")})"
    val pred = "CASE " + profiles.map { case (l, _) =>
      s"WHEN score_$l = $mx AND $mx > 0 THEN '$l'"
    }.mkString(" ") + " ELSE 'und' END"
    s"""SELECT doc_id, actual_lang, $pred AS pred_lang,
       |  ${profiles.map(p => s"score_${p._1}").mkString(", ")}
       |FROM (
       |  SELECT doc_id, lang AS actual_lang, $scoreCols
       |  FROM (SELECT doc_id, lang, ' ' || text || ' ' AS padded FROM documents)
       |) ORDER BY doc_id""".stripMargin
  }

  // ─── text_quality: length / punctuation / stopword / diversity ───
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(filter(words, _ =!= ""))
    val nDistinct = size(array_distinct(filter(words, _ =!= "")))
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(words, w => array_contains(stopArr, w)))
    val nPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    // greatest(…, 1): zero-word docs get 0-valued ratios instead of a
    // null/inf divergence between engines.
    def ratioBp(a: Column, b: Column): Column =
      floor(a.cast("double") * 10000.0 / greatest(b, lit(1)) + lit(0.5)).cast("long")
    docs(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        nWords.cast("long").as("n_words"),
        ratioBp(nDistinct, nWords).as("distinct_bp"),
        ratioBp(nStop, nWords).as("stop_bp"),
        nPunct.cast("long").as("n_punct"))
      .withColumn("quality_bp",
        col("distinct_bp") - floor(col("stop_bp") / 2).cast("long"))
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, len_chars, n_words, distinct_bp, stop_bp, n_punct,
       |  distinct_bp - CAST(floor(stop_bp / 2) AS BIGINT) AS quality_bp
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS len_chars,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
       |    CAST(floor(len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) * 10000.0
       |      / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1) + 0.5) AS BIGINT) AS distinct_bp,
       |    CAST(floor(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) * 10000.0
       |      / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1) + 0.5) AS BIGINT) AS stop_bp,
       |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
       |  FROM documents
       |) ORDER BY doc_id""".stripMargin
  }

  // ─── text_tokens: whitespace + BPE-ish regex token counting ───
  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(expr(s"regexp_extract_all(lower(text), '$bpePattern', 0)"))
          .cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"),
        col("n_chars").as("n_chars_meta"))
      .orderBy(col("doc_id"))

  val textTokensSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '$bpePattern')) AS BIGINT) AS re_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_actual,
       |  n_chars AS n_chars_meta
       |FROM documents ORDER BY doc_id""".stripMargin

  // ─── text_fingerprint: polynomial rolling hash over characters ───
  // h = fold(chars, h*31 + code mod 1e9+7), as ONE native codegen
  // expression (graft_poly_hash, round 17): the old aggregate() HOF
  // fold ran interpreted per character. The oracle replays it with
  // list_reduce; parity with the old fold pinned by TextKernelsSpec.
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        call_function("graft_poly_hash", col("text")).as("fp"))
      .withColumn("fp_bucket", pmod(col("fp"), lit(1024)))
      .orderBy(col("doc_id"))

  val textFingerprintSql: String =
    """SELECT doc_id, fp, fp % 1024 AS fp_bucket FROM (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  /** Adjacent-bigram array straight from the text, as one native
    * codegen pass (graft_bigrams, round 17). The previous zip_with
    * construction was already safe against the HOF-inlining hazard
    * but still evaluated INTERPRETED (zip_with/filter are
    * CodegenFallback, per-element boxed); the kernel tokenizes and
    * builds the n−1 bigram strings in a single JIT loop. Parity
    * (including the <2-token empty case) pinned by TextKernelsSpec. */
  private def bigramArr(text: Column): Column =
    call_function("graft_bigrams", text)

  // ─── text_ngram_top: top bigrams per language by document frequency ───
  // Corpus-level n-gram statistics (contamination checks, boilerplate
  // detection, vocabulary drift): distinct bigrams PER DOCUMENT
  // (document frequency, not raw term count — a single spammy doc
  // can't dominate), aggregated per (lang, bigram) with map-side
  // combine, then a per-language top-5 window. Tokens materialize in
  // their own projection before the bigram lambda (HOF re-evaluation
  // pitfall — see Dedup.docShingles).
  private val topN = 5

  def textNgramTop(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("df").desc, col("bigram"))
    docs(spark, dir)
      .select(col("lang"), array_distinct(bigramArr(col("text"))).as("bg"))
      .select(col("lang"), explode_outer(col("bg")).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("lang"), col("rank"), col("bigram"), col("df"))
      .orderBy(col("lang"), col("rank"))
  }

  val textNgramTopSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS w
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
       |  FROM tok),
       |rows_ AS (SELECT lang, unnest(b) AS bigram FROM bg),
       |dfc AS (SELECT lang, bigram, count(*) AS df FROM rows_ GROUP BY 1, 2),
       |rk AS (
       |  SELECT lang, bigram, df,
       |    CAST(row_number() OVER (
       |      PARTITION BY lang ORDER BY df DESC, bigram) AS BIGINT) AS rank
       |  FROM dfc)
       |SELECT lang, rank, bigram, df FROM rk WHERE rank <= $topN
       |ORDER BY lang, rank""".stripMargin

  // ─── text_pii_redact: regex PII scrub with audit counts ───
  // The pre-training hygiene pass: match emails / phone numbers /
  // 16-digit card-like ids, count per class (the audit trail), and
  // replace with class tags. Patterns stay in the Java∩RE2 regex
  // subset so the DuckDB oracle replays them byte-exactly (\b is an
  // ASCII word boundary in both). Pure codegen'd string expressions,
  // no UDF — at 100 TB this runs at scan speed, map-only, zero
  // shuffle before the output sort.
  //
  // The shared testdata is deliberately PII-free, so the query plants
  // deterministic markers first (doc_id-derived, every 3rd/4th/7th
  // doc) — the fixture makes hit counts verifiable in both engines;
  // production callers run the redaction columns on raw text.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private val cardRe = "\\b[0-9]{16}\\b"

  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" user"), col("doc_id"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" 415-555-"), lpad(col("doc_id") % 10000, 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" 4111111111"), lpad(col("doc_id") % 1000000, 6, "0")))
        .otherwise(lit("")))
    // Round-18 (guide §1.2, the r17 "not yet optimized" item 1): the
    // card and phone patterns are FIXED-WIDTH (16 chars → '[CARD]' = 6,
    // 12 chars → '[PHONE]' = 7), so their counts fall out of the
    // replace passes' length deltas — 4 regex passes over the text
    // instead of 6. Equivalence is exact, not approximate:
    // regexp_count and regexp_replace run the same java.util.regex
    // find() loop, so the replace pass rewrites exactly the spans the
    // count pass counted; and the card replace cannot create or
    // destroy a phone match because both patterns are \b-bounded digit
    // spans — a card match can never abut a digit (the \b would fail),
    // so every phone span and its boundary context is byte-identical
    // before and after the card pass. The email count stays a
    // regexp_count on raw (variable-width) and all three replaces are
    // untouched, so redacted_md5 is bit-identical. The intermediates
    // are each referenced more than once and regexp_replace is not
    // "cheap", so CollapseProject keeps them single-evaluation
    // (the physical plan shows 3 regexp_replace, 1 regexp_count).
    Tables(spark, dir).parallelized("documents")
      .select(col("doc_id"), planted.as("raw"))
      .withColumn("c", regexp_replace(col("raw"), cardRe, "[CARD]"))
      .withColumn("p", regexp_replace(col("c"), phoneRe, "[PHONE]"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        expr("(length(c) - length(p)) div 5").as("n_phones"),
        expr("(length(raw) - length(c)) div 10").as("n_cards"),
        md5(regexp_replace(col("p"), emailRe, "[EMAIL]")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val textPiiRedactSql: String = {
    val planted =
      """text ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN ' user' || doc_id || '@mail.example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0
        |    THEN ' 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0
        |    THEN ' 4111111111' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')
        |    ELSE '' END""".stripMargin
    s"""WITH raw AS (SELECT doc_id, $planted AS raw FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$phoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(raw, '$cardRe')) AS BIGINT) AS n_cards,
       |  md5(regexp_replace(
       |    regexp_replace(regexp_replace(raw, '$cardRe', '[CARD]', 'g'),
       |      '$phoneRe', '[PHONE]', 'g'),
       |    '$emailRe', '[EMAIL]', 'g')) AS redacted_md5
       |FROM raw ORDER BY doc_id""".stripMargin
  }

  // ─── text_repetition: Gopher-style repetition quality signals ───
  // The repetition family of the Gopher data-quality rules (Rae et
  // al. 2021, "Scaling Language Models", table A1): documents whose
  // token stream is dominated by a few repeated words/bigrams are
  // boilerplate or spam, and a training pipeline filters them before
  // dedup even sees them. Per doc: unique-word ratio, most-frequent-
  // word share, most-frequent-bigram share (basis points — exact
  // integers cross-engine). Two explode→count→aggregate chains, each
  // partitioned by doc_id off the same pre-repartitioned scan, then a
  // co-partitioned left join (docs with <2 words have no bigrams).
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    val words = base
      .select(col("doc_id"),
        explode(call_function("graft_tokens", col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_uniq"),
        max(col("c")).as("top_w"))
    val bigrams = base
      .select(col("doc_id"), explode(bigramArr(col("text"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bi"), max(col("c")).as("top_bi"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        floor(col("n_uniq") * 10000.0 / col("n_words") + 0.5).cast("long")
          .as("uniq_bp"),
        floor(col("top_w") * 10000.0 / col("n_words") + 0.5).cast("long")
          .as("top_word_bp"),
        coalesce(
          floor(col("top_bi") * 10000.0 / col("n_bi") + 0.5).cast("long"),
          lit(0L)).as("top_bigram_bp"))
      .withColumn("repetitive",
        col("uniq_bp") < 5000 || col("top_word_bp") > 2000 ||
          col("top_bigram_bp") > 1000)
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      |  FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS c
      |       FROM (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY 1, 2),
      |wagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |    count(*) AS n_uniq, max(c) AS top_w
      |  FROM wc GROUP BY doc_id),
      |bc AS (SELECT doc_id, b, count(*) AS c
      |       FROM (SELECT doc_id,
      |               unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS b
      |             FROM tok) GROUP BY 1, 2),
      |bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi, max(c) AS top_bi
      |  FROM bc GROUP BY doc_id),
      |bp AS (
      |  SELECT w.doc_id, w.n_words,
      |    CAST(floor(w.n_uniq * 10000.0 / w.n_words + 0.5) AS BIGINT) AS uniq_bp,
      |    CAST(floor(w.top_w * 10000.0 / w.n_words + 0.5) AS BIGINT) AS top_word_bp,
      |    COALESCE(CAST(floor(b.top_bi * 10000.0 / b.n_bi + 0.5) AS BIGINT), 0)
      |      AS top_bigram_bp
      |  FROM wagg w LEFT JOIN bagg b USING (doc_id))
      |SELECT doc_id, n_words, uniq_bp, top_word_bp, top_bigram_bp,
      |  (uniq_bp < 5000 OR top_word_bp > 2000 OR top_bigram_bp > 1000)
      |    AS repetitive
      |FROM bp ORDER BY doc_id""".stripMargin

  // ─── text_tfidf: top distinctive terms per document ───
  // The retrieval/keyword-extraction staple: term frequency weighted
  // against corpus-wide document frequency, top 3 terms per doc. The
  // idf weight is the exact rational tf·10⁴ div df (integer division)
  // rather than tf·ln(N/df): ranking by tf/df orders identically to
  // tf·ln(N/df) for fixed tf ties broken by term, and integer math is
  // bit-exact cross-engine where libm's ln is not. Plan: one explode →
  // tf aggregate (shuffle on (doc_id, term)); df is a second aggregate
  // OVER tf whose exchange ReuseExchange shares with the join's left
  // side; final per-doc top-k window shuffles on doc_id. df rides a
  // shuffle join, not a broadcast — at 100 TB the vocabulary is
  // unbounded (typos, ids), and AQE will broadcast it when it is small.
  private val tfidfTopK = 3
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(col("text"), " "), w => w =!= "")
    val tf = docs(spark, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wnd = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_bp").desc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("score_bp", expr("tf * 10000 div df"))
      .withColumn("rank", row_number().over(wnd).cast("long"))
      .filter(col("rank") <= tfidfTopK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score_bp"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val textTfidfSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, idf.df,
       |    tf.tf * 10000 // idf.df AS score_bp,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * 10000 // idf.df DESC, tf.term) AS rank
       |  FROM tf JOIN idf USING (term))
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score_bp
       |FROM s WHERE rank <= $tfidfTopK ORDER BY doc_id, rank""".stripMargin

  // ─── text_zipf: corpus frequency-rank structure ───
  // Top-20 corpus terms with their Zipf deviation: zipf_bp =
  // n·rank·10⁴ DIV n₁ (≈10⁴ for an ideal Zipf corpus), all integer
  // so both engines agree bit-for-bit. Scale shape: one map-side-
  // combining term count (vocabulary-sized output, ≪ corpus), then
  // the top-20 via orderBy+limit — Spark plans TakeOrdered, a
  // distributed partial top-k, NOT a single-partition rank window —
  // and the rank/deviation windows run on 20 rows.
  private val zipfTopK = 20

  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy(lit(1))
    val byN = all.orderBy(col("n").desc, col("term"))
    docs(spark, dir)
      .select(explode(filter(split(col("text"), " "), w => w =!= "")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(zipfTopK)
      .withColumn("rank", row_number().over(byN).cast("long"))
      .withColumn("zipf_bp",
        floor(col("n") * col("rank") * 10000L / max(col("n")).over(all))
          .cast("long"))
      .select(col("rank"), col("term"), col("n"), col("zipf_bp"))
      .orderBy(col("rank"))
  }

  val textZipfSql: String =
    s"""WITH tc AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> ''))
       |    AS term
       |  FROM documents),
       |cnt AS (SELECT term, count(*) AS n FROM tc GROUP BY 1
       |  ORDER BY n DESC, term LIMIT $zipfTopK)
       |SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank,
       |  term, n,
       |  CAST((n * row_number() OVER (ORDER BY n DESC, term) * 10000)
       |    // max(n) OVER () AS BIGINT) AS zipf_bp
       |FROM cnt ORDER BY rank""".stripMargin

  // ─── text_hashvec: feature-hashing vectorizer (hashing trick) ───
  // The fixed-width featurization that needs NO vocabulary pass: each
  // token hashes into one of 256 dims (md5 → the repo's cross-engine
  // hash), per-doc dim counts are the sparse vector. Output is the
  // sparse (doc, dim, count) triple form — the join-friendly layout
  // downstream trainers bucket-join on. Map-side explode + one
  // (doc, dim)-keyed combine; no global state of any kind, which is
  // the entire point of the hashing trick at 100 TB.
  private val hashDims = 256

  def textHashvec(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("term"))
      .select(col("doc_id"),
        (conv(substring(md5(col("term")), 1, 15), 16, 10)
          .cast("long") % hashDims).as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("dim"))

  val textHashvecSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % $hashDims AS dim,
       |  count(*) AS n
       |FROM t GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin

  // ─── text_readability: integer Flesch-style reading score ───
  // The readability quality signal, in pure integer parts so both
  // engines agree exactly: words (whitespace tokens), sentences
  // ([.!?]+ runs, min 1), syllable proxy (vowel-group runs — the
  // standard approximation). score_c = 20682 − 101·(words·100/sents)
  // − 8460·(syll·100/words)/100, i.e. Flesch×100 with the classic
  // 206.835/1.015/84.6 coefficients ×100 and integer division at
  // each step — not a linguistic claim, a deterministic ranking
  // signal. Map-only over the scan; no shuffle before the sort.
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= ""))
          .cast("long").as("words"),
        greatest(size(filter(split(col("text"), "[.!?]+"), s => trim(s) =!= ""))
          .cast("long"), lit(1L)).as("sents"),
        greatest(size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("long"), lit(1L)).as("sylls"))
      // divisor floors at 1: an all-whitespace doc must yield a row,
      // not a division-by-zero null that differs across engines
      .withColumn("wps_c", floor(col("words") * 100L / col("sents")).cast("long"))
      .withColumn("spw_c",
        floor(col("sylls") * 100L / greatest(col("words"), lit(1L))).cast("long"))
      .withColumn("score_c",
        (lit(20682L) - floor(col("wps_c") * 101L / 100L).cast("long")
          - floor(col("spw_c") * 8460L / 100L).cast("long")).cast("long"))
      .orderBy(col("doc_id"))

  val textReadabilitySql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
      |      AS words,
      |    greatest(CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
      |      s -> trim(s) <> '')) AS BIGINT), 1) AS sents,
      |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS BIGINT), 1) AS sylls
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, words, sents, sylls,
      |    CAST(words * 100 // sents AS BIGINT) AS wps_c,
      |    CAST(sylls * 100 // greatest(words, 1) AS BIGINT) AS spw_c
      |  FROM p)
      |SELECT doc_id, words, sents, sylls, wps_c, spw_c,
      |  CAST(20682 - (wps_c * 101 // 100) - (spw_c * 8460 // 100) AS BIGINT)
      |    AS score_c
      |FROM d ORDER BY doc_id""".stripMargin

  // ─── text_bm25: BM25-lite keyword retrieval over the corpus ───
  // The keyword-retrieval counterpart of text_tfidf: score every
  // document against a fixed query-term set with the BM25 saturation
  // form (k1=1.2, b=0.75) and return the top 10. Determinism
  // strategy: the idf factor is the same integer rational surrogate
  // text_tfidf uses (N·10⁴ div df — order-equivalent to ln(N/df) for
  // the ranking); the tf-saturation factor is ONE double expression
  // evaluated in the identical shape in both engines (IEEE doubles
  // are bit-deterministic for a fixed op order — the
  // sample_temperature precedent); each per-term contribution is
  // floored to a BIGINT BEFORE the per-doc sum, so the cross-term
  // accumulation is exact integer math with no float ordering
  // sensitivity. Plan shape: the term filter prunes the exploded
  // token stream before any shuffle; tf aggregates on (doc_id, term);
  // df is a tiny per-term aggregate AQE broadcasts back; the corpus
  // length stats ride a 1-row broadcast crossJoin; final top-k is a
  // TakeOrdered, not a global sort.
  private val bm25Terms = Seq("spark", "join", "vector")
  private val bm25TopK = 10

  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => w =!= "")
    val base = docs(spark, dir).select(col("doc_id"), toks.as("t"))
    val dl = base.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val termArr = array(bm25Terms.map(lit): _*)
    val tf = base
      .select(col("doc_id"), explode(col("t")).as("term"))
      .filter(array_contains(termArr, col("term")))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dlNorm = (col("dl") * col("n_docs")).cast("double") / col("sum_dl")
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * dlNorm))
    val idfSur = expr("n_docs * 10000 div df")
    tf.join(dl, Seq("doc_id"))
      .join(df, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_c", floor(idfSur.cast("double") * sat).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_c")).as("score_c"))
      .orderBy(col("score_c").desc, col("doc_id")).limit(bm25TopK)
      .select(col("doc_id"), col("n_terms"), col("score_c"))

  }

  val textBm25Sql: String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
       |  FROM documents),
       |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(t) AS term FROM base)
       |  WHERE term IN ($termList) GROUP BY 1, 2),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(floor(CAST(s.n_docs * 10000 // idf.df AS DOUBLE) *
       |      ((tf.tf * 2.2) /
       |       (tf.tf + 1.2 * (0.25 + 0.75 *
       |         (CAST(dl.dl * s.n_docs AS DOUBLE) / s.sum_dl))))) AS BIGINT)
       |      AS contrib_c
       |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (term) CROSS JOIN stats s)
       |SELECT doc_id, count(*) AS n_terms, CAST(sum(contrib_c) AS BIGINT) AS score_c
       |FROM contrib GROUP BY doc_id
       |ORDER BY score_c DESC, doc_id LIMIT $bm25TopK""".stripMargin
  }

  // ─── text_collocation: bigram lift (PMI surrogate) over the corpus ───
  // Collocation mining: which adjacent word pairs co-occur more than
  // their unigram frequencies predict. The association score is
  // integer lift (observed·total·10⁴ div expected) rather than log-PMI
  // — identical ordering, zero libm. Plan: one unigram count and one
  // bigram count off the same tokenized projection (both map-side
  // combining, vocabulary-sized outputs), two joins of the bigram
  // counts against the unigram counts (AQE broadcasts the smaller
  // side), the corpus token total on a 1-row broadcast crossJoin, and
  // a distributed TakeOrdered top-20. Support floor c_xy ≥ 5 keeps
  // the tail noise out, as any collocation extractor would at scale.
  private val collocTopK = 20
  private val collocMinCount = 5

  def textCollocation(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    val uni = base.select(explode(call_function("graft_tokens", col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val bi = base.select(explode(bigramArr(col("text"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= collocMinCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .withColumn("lift_bp", expr("c_xy * n_tok * 10000 div (c_x * c_y)"))
      .orderBy(col("lift_bp").desc, col("bigram")).limit(collocTopK)
      .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"), col("lift_bp"))
  }

  val textCollocationSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
       |  FROM documents),
       |uni AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM base) GROUP BY w),
       |ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
       |bi AS (
       |  SELECT bigram, count(*) AS c_xy,
       |    string_split(bigram, ' ')[1] AS w1,
       |    string_split(bigram, ' ')[2] AS w2
       |  FROM (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
       |          AS bigram
       |        FROM base)
       |  GROUP BY bigram HAVING count(*) >= $collocMinCount)
       |SELECT bigram, c_xy, u1.c AS c_x, u2.c AS c_y,
       |  c_xy * n_tok * 10000 // (u1.c * u2.c) AS lift_bp
       |FROM bi
       |JOIN uni u1 ON bi.w1 = u1.w
       |JOIN uni u2 ON bi.w2 = u2.w
       |CROSS JOIN ntok
       |ORDER BY lift_bp DESC, bigram LIMIT $collocTopK""".stripMargin

  // ─── text_diversity: Simpson lexical diversity per document ───
  // Entropy-style diversity WITHOUT libm: the Gini-Simpson index
  // 1 − Σ(c_i/N)² needs only integer sums (the collision-probability
  // complement), so it hash-matches cross-engine where Shannon's
  // −Σ p·ln p would diverge in the last ulp. ttr_bp (type-token
  // ratio) alongside for the classic lexical-richness number. One
  // (doc, word) count then a per-doc aggregate — the second shuffle
  // carries one row per distinct word per doc, already shrunk by the
  // first map-side combine. Zero-word docs drop out at explode (no
  // rows), keeping the integer divisions total.
  def textDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => w =!= "")
    docs(spark, dir)
      .select(col("doc_id"), explode(toks).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        expr("n_types * 10000 div n_words").as("ttr_bp"),
        expr("(n_words * n_words - sum_c2) * 10000 div (n_words * n_words)")
          .as("simpson_bp"))
      .orderBy(col("doc_id"))
  }

  val textDiversitySql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      |  FROM documents),
      |pw AS (SELECT doc_id, w, count(*) AS c FROM base GROUP BY doc_id, w),
      |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |        count(*) AS n_types, CAST(sum(c * c) AS BIGINT) AS sum_c2
      |      FROM pw GROUP BY doc_id)
      |SELECT doc_id, n_words, n_types,
      |  n_types * 10000 // n_words AS ttr_bp,
      |  (n_words * n_words - sum_c2) * 10000 // (n_words * n_words) AS simpson_bp
      |FROM d ORDER BY doc_id""".stripMargin

  // ─── text_filter_gate: C4-style composite quality gate ───
  // The keep/drop decision of corpus cleaning, with an auditable
  // reason BITMASK instead of a silent filter — at 100 TB you need
  // to know WHY 30% of a crawl was dropped. Gates: 1 = too short
  // (<10 words), 2 = too long (>2000), 4 = no stopword (C4's "must
  // contain a common word" heuristic), 8 = mean word length outside
  // [3, 10] (boilerplate/code smell). Every gate is a per-row
  // codegen'd projection (counts via split/filter, mean length in
  // tenths via integer div) — map-only, runs at scan speed, the
  // composed keep flag is reasons = 0.
  private val gateMinWords = 10L
  private val gateMaxWords = 2000L

  def textFilterGate(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), " "), w => w =!= "")
    val stopArr = array(stopwords.map(lit): _*)
    docs(spark, dir)
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        size(filter(words, w => array_contains(stopArr, w))).cast("long")
          .as("n_stop"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_wchars"))
      .withColumn("mean_wl10",
        expr("CASE WHEN n_words > 0 THEN n_wchars * 10 div n_words ELSE 0 END"))
      .withColumn("reasons",
        when(col("n_words") < gateMinWords, lit(1L)).otherwise(lit(0L)) +
          when(col("n_words") > gateMaxWords, lit(2L)).otherwise(lit(0L)) +
          when(col("n_stop") === 0, lit(4L)).otherwise(lit(0L)) +
          when(col("mean_wl10") < 30 || col("mean_wl10") > 100, lit(8L))
            .otherwise(lit(0L)))
      .select(col("doc_id"), col("n_words"), col("mean_wl10"), col("reasons"),
        when(col("reasons") === 0, lit(1L)).otherwise(lit(0L)).as("keep"))
      .orderBy(col("doc_id"))
  }

  val textFilterGateSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_wchars
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_words, n_stop,
       |    CASE WHEN n_words > 0 THEN n_wchars * 10 // n_words ELSE 0 END AS mean_wl10
       |  FROM g),
       |r AS (
       |  SELECT doc_id, n_words, mean_wl10,
       |    (CASE WHEN n_words < $gateMinWords THEN 1 ELSE 0 END
       |     + CASE WHEN n_words > $gateMaxWords THEN 2 ELSE 0 END
       |     + CASE WHEN n_stop = 0 THEN 4 ELSE 0 END
       |     + CASE WHEN mean_wl10 < 30 OR mean_wl10 > 100 THEN 8 ELSE 0 END)
       |      AS reasons
       |  FROM m)
       |SELECT doc_id, n_words, mean_wl10, CAST(reasons AS BIGINT) AS reasons,
       |  CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ─── text_bpe_pairs: tokenizer-training pair statistics ───
  // The first step of BPE tokenizer training: count every adjacent
  // character pair inside every word of the corpus and surface the
  // top merge candidates (count desc, pair asc — a total order, so
  // the cut is deterministic). The pair explosion is a narrow,
  // codegen'd transform (sequence + substring per word); the count is
  // one map-side-combining aggregate on a ≤ |alphabet|² key space —
  // tiny — and the top-k is TakeOrdered (per-partition heaps merged
  // at the driver, never a global sort). At 100 TB this is scan-bound.
  private val bpeTopK = 40

  def textBpePairs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 1)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("pair")).limit(bpeTopK)

  val textBpePairsSql: String =
    s"""WITH w AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |p AS (
       |  SELECT substr(w, CAST(gs AS INTEGER), 2) AS pair
       |  FROM w, unnest(generate_series(1, length(w) - 1)) AS t(gs)
       |  WHERE length(w) > 1)
       |SELECT pair, CAST(count(*) AS BIGINT) AS n_pair FROM p
       |GROUP BY pair ORDER BY n_pair DESC, pair LIMIT $bpeTopK""".stripMargin

  // ─── text_bpe_encode: apply the mined merges — real token counts ───
  // text_bpe_pairs MINES merge candidates; this APPLIES them, turning
  // the whitespace/regex token approximations every packing/mixture
  // decision keys on into real subword counts. The top-R pairs by
  // mined rank (count desc, pair asc — the same total order as
  // text_bpe_pairs) are applied SEQUENTIALLY in rank order, exactly
  // like BPE training applies its merge list.
  //
  // Representation trick that makes the merge engine-portable: each
  // character token is wrapped as "(c)" (the corpus alphabet is
  // lowercase + space, TESTDATA.md, so parens are unambiguous
  // delimiters), and merge (a,b)→ab is the plain string replacement
  // "(a)(b)" → "(ab)". Both engines' replace() scans left-to-right
  // non-overlapping — which IS the BPE simultaneous-merge rule
  // ("aaa" + merge(a,a) → [aa, a]) — so one replace per rank replays
  // the merge bit-for-bit in DuckDB. Spaces are singleton "( )"
  // tokens; mined pairs come from inside words (split on space), so
  // no merge can cross a word boundary. Per-row work is R linear
  // string passes — scan-bound, embarrassingly parallel, no shuffle
  // until the final orderBy; the merge table itself is a broadcast
  // 1-row array (TakeOrdered top-R, never a driver collect loop).
  private val bpeEncodeRounds = 8

  /** Unsorted per-doc core of text_bpe_encode: (doc_id, lang, source,
    * base_tokens, bpe_tokens). Public because it doubles as the
    * Pipeline family's REAL token counter (Pipeline.TokenCounter.Bpe)
    * — packing and mixture decisions read these counts directly.
    * lang/source ride along from the same documents scan so counter
    * consumers never need a doc_id join back to documents (which
    * would re-scan the corpus). No orderBy here: counter consumers
    * aggregate, only the registered query needs the display sort. */
  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    // struct(-n_pair, pair) sorts ascending = (count desc, pair asc):
    // the array IS the merge list in mined-rank order. The merge
    // APPLICATION is the native graft_bpe_token_count kernel (round
    // 17): the old aggregate() fold — a per-char regexp_replace to
    // build the wrapped representation plus one full string replace
    // pass per merge rank, all interpreted — is simulated on a
    // codepoint array in one JIT pass (slow-path literal replay when
    // the input could alias the '(x)' delimiters; TextKernelsSpec
    // pins both paths against the old fold).
    val merges = textBpePairs(spark, dir).limit(bpeEncodeRounds)
      .agg(sort_array(collect_list(
        struct((-col("n_pair")).as("neg_n"), col("pair").as("pair"))))
        .as("ms"))
      // 1-row frame: this transform() runs once, not per document
      .select(transform(col("ms"), m => m.getField("pair")).as("pairs"))
    docs(spark, dir).crossJoin(broadcast(merges))
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("base_tokens"),
        call_function("graft_bpe_token_count", col("text"), col("pairs"))
          .as("bpe_tokens"))
  }

  def textBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeTokenCounts(spark, dir)
      .select(col("doc_id"), col("base_tokens"), col("bpe_tokens"),
        (col("base_tokens") - col("bpe_tokens")).as("merges_applied"),
        expr("bpe_tokens * 10000 div greatest(base_tokens, 1)")
          .as("compress_bp"))
      .orderBy(col("doc_id"))

  /** CTE block (w, p, m, e0…eR, bpe_counts) computing per-doc
    * bpe_tokens in DuckDB, with extra document columns carried through
    * every round — `carryDefs` is (sql-expression-over-documents,
    * alias) pairs. The merge list replays textBpePairsSql's ranking,
    * then one unrolled replace() per rank (scalar subqueries — the
    * merge table is 8 rows). coalesce to the no-op pattern "()"
    * (never present: every token is non-empty) keeps rounds past the
    * mined-pair count as identities, matching the Spark fold over a
    * short array. Returned UNstripped (| margins intact) so consumers
    * interpolate it and .stripMargin the final text — shared by
    * textBpeEncodeSql and Pipeline's pack_chunks_bpe oracle. */
  private[operators] def bpeTokensCtes(
      carryDefs: Seq[(String, String)]): String = {
    val cols = ("doc_id" +: carryDefs.map(_._2)).mkString(", ")
    val e0Cols = ("doc_id" +:
      carryDefs.map { case (e, a) => s"$e AS $a" }).mkString(", ")
    val rounds = (1 to bpeEncodeRounds).map { r =>
      s"""e$r AS (
         |  SELECT $cols, replace(s,
         |    coalesce((SELECT '(' || pair[1] || ')(' || pair[2] || ')'
         |              FROM m WHERE rk = $r), '()'),
         |    coalesce((SELECT '(' || pair || ')' FROM m WHERE rk = $r),
         |             '()')) AS s
         |  FROM e${r - 1})"""
    }.mkString(",\n")
    s"""w AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |p AS (
       |  SELECT substr(w, CAST(gs AS INTEGER), 2) AS pair
       |  FROM w, unnest(generate_series(1, length(w) - 1)) AS t(gs)
       |  WHERE length(w) > 1),
       |m AS (
       |  SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
       |  FROM p GROUP BY pair
       |  ORDER BY count(*) DESC, pair LIMIT $bpeEncodeRounds),
       |e0 AS (
       |  SELECT $e0Cols,
       |    regexp_replace(text, '(.)', '(\\1)', 'g') AS s
       |  FROM documents),
       |$rounds,
       |bpe_counts AS (
       |  SELECT $cols,
       |    CAST(length(s) - length(replace(s, '(', '')) AS BIGINT)
       |      AS bpe_tokens
       |  FROM e$bpeEncodeRounds)"""
  }

  val textBpeEncodeSql: String =
    s"""WITH ${bpeTokensCtes(
           Seq("CAST(length(text) AS BIGINT)" -> "base_tokens"))}
       |SELECT doc_id, base_tokens, bpe_tokens,
       |  base_tokens - bpe_tokens AS merges_applied,
       |  bpe_tokens * 10000 // greatest(base_tokens, 1) AS compress_bp
       |FROM bpe_counts ORDER BY doc_id""".stripMargin

  // ─── text_boilerplate: repeated-shingle boilerplate profile ───
  // The C4/RefinedWeb cleanup heuristic: a 5-word shingle occurring
  // in ≥ 3 DISTINCT documents is boilerplate (template headers,
  // license blocks, navigation chrome); report each affected doc's
  // boilerplate fraction in bp. The shingle explosion is the
  // dedup_ngram shape (corpus × word-count rows through one hash
  // shuffle on the shingle); the boilerplate set is corpus-dependent
  // but typically tiny, and the rejoin is a semi-marking left join on
  // the same shingle key — the shuffle is reused, no second
  // corpus-wide exchange. countDistinct rides the same shuffle as a
  // two-level exact aggregate.
  private val boilerMinDocs = 3

  def textBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    // Raw-token 5-word shingles via the native span kernel (round 17;
    // raw mode reproduces the unfiltered split() semantics, where a
    // span is a contiguous slice of the document — TextKernelsSpec).
    // The old size(ws) >= 5 guard is subsumed by the kernel's empty
    // array below w (explode of [] emits no rows).
    val sh = docs(spark, dir)
      .select(col("doc_id"), col("source"), explode(
        call_function("graft_spans", col("text"), lit(5), lit(0), lit(0)))
        .as("shingle"))
    val boiler = sh.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= boilerMinDocs)
      .select(col("shingle"), lit(1L).as("isb"))
    sh.join(boiler, Seq("shingle"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("isb"), lit(0L))).as("n_boiler"))
      .filter(col("n_boiler") > 0)
      .select(col("doc_id"), col("source"), col("n_shingles"), col("n_boiler"),
        expr("n_boiler * 10000 div n_shingles").as("boiler_bp"))
      .orderBy(col("doc_id"))
  }

  val textBoilerplateSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       |sg AS (
       |  SELECT doc_id, source,
       |    array_to_string(ws[CAST(gs AS BIGINT):CAST(gs AS BIGINT) + 4], ' ')
       |      AS shingle
       |  FROM ws, unnest(generate_series(1, len(ws) - 4)) AS t(gs)
       |  WHERE len(ws) >= 5),
       |b AS (
       |  SELECT shingle FROM (
       |    SELECT shingle, count(DISTINCT doc_id) AS nd FROM sg GROUP BY shingle)
       |  WHERE nd >= $boilerMinDocs),
       |m AS (
       |  SELECT s.doc_id, s.source,
       |    CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(count(b.shingle) AS BIGINT) AS n_boiler
       |  FROM sg s LEFT JOIN b ON s.shingle = b.shingle
       |  GROUP BY s.doc_id, s.source)
       |SELECT doc_id, source, n_shingles, n_boiler,
       |  n_boiler * 10000 // n_shingles AS boiler_bp
       |FROM m WHERE n_boiler > 0 ORDER BY doc_id""".stripMargin

  // ─── text_lang_confusion: language-ID quality matrix ───
  // The eval harness for text_langid: the actual×predicted confusion
  // matrix with each cell's share of its actual-language row in bp
  // (the diagonal is per-language recall). Classifier eval as an
  // aggregate, not a collect: the matrix is ≤ (|langs|+1)² rows, the
  // per-actual totals broadcast back onto it, and the corpus is
  // touched exactly once by the scoring projection.
  def textLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cell = textLangid(spark, dir)
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val per = cell.groupBy(col("actual_lang"))
      .agg(sum(col("n_docs")).as("n_actual"))
    cell.join(broadcast(per), Seq("actual_lang"))
      .select(col("actual_lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 10000 div n_actual").as("cell_bp"))
      .orderBy(col("actual_lang"), col("pred_lang"))
  }

  val textLangConfusionSql: String =
    s"""WITH p AS ($textLangidSql),
       |c AS (
       |  SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM p GROUP BY actual_lang, pred_lang),
       |a AS (SELECT actual_lang, CAST(sum(n_docs) AS BIGINT) AS n_actual
       |      FROM c GROUP BY actual_lang)
       |SELECT c.actual_lang, c.pred_lang, c.n_docs,
       |  c.n_docs * 10000 // a.n_actual AS cell_bp
       |FROM c JOIN a USING (actual_lang)
       |ORDER BY actual_lang, pred_lang""".stripMargin

  // ─── text_rake: RAKE keyword extraction ───
  // Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
  // phrases are the maximal stopword-free token runs; each word
  // scores deg(w)/freq(w) over the candidate corpus (deg = summed
  // length of phrases containing w — favors words that live in long
  // collocations); a phrase scores the sum of its word scores; top-3
  // phrases per doc. Integer discipline: score_x100(w) = deg·100 div
  // freq, phrase score = Σ integer word scores — ranking replays
  // bit-for-bat cross-engine. Shape: phrase islands via the
  // gaps-and-islands trick on the per-doc position stream (window
  // partitioned by doc), word stats are vocabulary-sized map-combined
  // aggregates joined back onto the exploded membership, and the
  // top-3 is a per-doc window over each doc's own phrases.
  private val rakeTopK = 3

  def textRake(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    val byDocRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_x100").desc, col("phrase"))
    // Candidate phrases per document in ONE native pass
    // (graft_rake_phrases, round 17): the old posexplode → stopword
    // filter → per-doc row_number window → groupBy(grp) sorted-
    // collect_list pipeline cost TWO corpus-wide exchanges just to
    // reassemble runs that were adjacent in the row to begin with.
    // posexplode's pos is the run index — the grp surrogate (same
    // within-doc join key role); phrase strings and plen are
    // identical (TextKernelsSpec pins the pipeline parity).
    val phrases = docs(spark, dir)
      .select(col("doc_id"),
        posexplode(call_function("graft_rake_phrases", col("text"), stopArr))
          .as(Seq("grp", "phrase")))
      .withColumn("plen", size(split(col("phrase"), " ")).cast("long"))
    val member = phrases
      .select(col("doc_id"), col("grp"), col("plen"),
        explode(split(col("phrase"), " ")).as("w"))
    val wordStats = member.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("score_x100", expr("deg * 100 div freq"))
    phrases
      .join(member.join(wordStats, Seq("w"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(sum(col("score_x100")).as("score_x100")),
        Seq("doc_id", "grp"))
      .withColumn("rank", row_number().over(byDocRank).cast("long"))
      .filter(col("rank") <= rakeTopK)
      .select(col("doc_id"), col("rank"), col("phrase"), col("plen"),
        col("score_x100"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val textRakeSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, pos, w,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM (
       |    SELECT doc_id, i AS pos, t[i + 1] AS w
       |    FROM (SELECT doc_id,
       |            list_filter(string_split(text, ' '), x -> x <> '') AS t,
       |            unnest(range(0, len(list_filter(string_split(text, ' '),
       |              x -> x <> '')))) AS i
       |          FROM documents))
       |  WHERE w NOT IN ($stopList)),
       |phrases AS (
       |  SELECT doc_id, grp,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase,
       |    CAST(count(*) AS BIGINT) AS plen
       |  FROM tok GROUP BY doc_id, grp),
       |member AS (
       |  SELECT doc_id, grp, plen, unnest(string_split(phrase, ' ')) AS w
       |  FROM phrases),
       |ws AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(sum(plen) AS BIGINT) AS deg,
       |    CAST(sum(plen) AS BIGINT) * 100 // CAST(count(*) AS BIGINT)
       |      AS score_x100
       |  FROM member GROUP BY w),
       |ps AS (
       |  SELECT m.doc_id, m.grp,
       |    CAST(sum(ws.score_x100) AS BIGINT) AS score_x100
       |  FROM member m JOIN ws USING (w)
       |  GROUP BY m.doc_id, m.grp),
       |ranked AS (
       |  SELECT p.doc_id, p.phrase, p.plen, s.score_x100,
       |    CAST(row_number() OVER (PARTITION BY p.doc_id
       |      ORDER BY s.score_x100 DESC, p.phrase) AS BIGINT) AS rank
       |  FROM phrases p JOIN ps s ON p.doc_id = s.doc_id AND p.grp = s.grp)
       |SELECT doc_id, rank, phrase, plen, score_x100
       |FROM ranked WHERE rank <= $rakeTopK
       |ORDER BY doc_id, rank""".stripMargin
  }

  // ─── text_winnowing: winnowed fingerprint selection (MOSS) ───
  // The winnowing algorithm (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
  // the MOSS plagiarism detector): hash every k-token span, slide a
  // w-window over the span-hash sequence, keep the MINIMUM hash per
  // window (rightmost on ties). Guarantees: any shared passage of
  // ≥ w+k−1 tokens yields a shared selected fingerprint, and expected
  // density is 2/(w+1) — a principled sub-sample of dedup_substring's
  // full span index for when storing every span hash is too much.
  // Cross-engine argmin discipline: (hash, rightmost-pos) packs into
  // ONE BIGINT — h·2²³ + (2²³−1−pos) — so the window aggregate is a
  // plain integer MIN both engines replay exactly (no struct-min or
  // arg_min semantics to align). Shape: the span index is linear in
  // corpus tokens; the min-window and the distinct both key per doc;
  // the shared-fingerprint df is a map-side-combinable count on the
  // 5-byte hash — never a pair join.
  private val winK = 5   // tokens per span (dedup_substring's subW)
  private val winW = 4   // spans per winnowing window
  private val winPosBits = 23

  def textWinnowing(spark: SparkSession, dir: String): DataFrame = {
    // The whole per-document selection — span hashes, position-packed
    // keys, sliding window minima, kept positions, per-doc distinct —
    // runs inside TWO composed native kernels (graft_span_hashes →
    // graft_winnow_mins, round 17). This DELETES the old plan's
    // corpus×spans posexplode + per-doc window (one full Exchange of
    // every span hash) and the post-window .distinct() exchange: the
    // window was per-doc over positions already available per row.
    // Selection parity (same wmin sets) pinned by TextKernelsSpec
    // against the old posexplode/window pipeline verbatim.
    val picked = docs(spark, dir)
      .select(col("doc_id"),
        call_function("graft_span_hashes",
          col("text"), lit("win:"), lit(winK), lit(10)).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        explode(call_function("graft_winnow_mins",
          col("hs"), lit(winW), lit(winPosBits))).as("wmin"))
      .withColumn("h", expr(s"wmin div ${1L << winPosBits}"))
    val df = picked.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("docf"))
    val shared = picked.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("docf") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
    // Report side: n_spans recomputed from the native token count
    // (n_spans = max(tokens − k + 1, 0)) — cheaper than re-hashing.
    docs(spark, dir)
      .select(col("doc_id"),
        greatest(call_function("graft_ntokens", col("text"), lit(1))
          - (winK - 1), lit(0L)).as("n_spans"))
      .filter(col("n_spans") > 0)
      .join(shared, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("n_fp"),
        expr("n_fp * 10000 div n_spans").as("density_bp"),
        col("n_shared_fp"))
      .orderBy(col("doc_id"))
  }

  val textWinnowingSql: String = {
    val scale = 1L << winPosBits
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, t,
       |    greatest(CAST(len(t) - ${winK - 1} AS BIGINT), 0) AS n_spans
       |  FROM tok WHERE len(t) >= $winK),
       |spans AS (
       |  SELECT doc_id, n_spans, i - 1 AS pos,
       |    CAST(('0x' || substr(md5('win:' || t[i] || ' ' || t[i+1] || ' ' ||
       |      t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]), 1, 10)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, n_spans, t,
       |          unnest(range(1, len(t) - ${winK - 2})) AS i
       |        FROM base)),
       |keyed AS (
       |  SELECT doc_id, n_spans, pos,
       |    h * $scale + ($scale - 1 - pos) AS key
       |  FROM spans),
       |picked AS (
       |  SELECT DISTINCT doc_id, n_spans, wmin
       |  FROM (
       |    SELECT doc_id, n_spans, pos,
       |      min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN CURRENT ROW AND ${winW - 1} FOLLOWING) AS wmin
       |    FROM keyed)
       |  WHERE pos <= n_spans - $winW OR pos = 0),
       |ph AS (SELECT doc_id, n_spans, wmin // $scale AS h FROM picked),
       |df AS (
       |  SELECT h, CAST(count(*) AS BIGINT) AS docf
       |  FROM (SELECT DISTINCT h, doc_id FROM ph) GROUP BY h),
       |shared AS (
       |  SELECT ph.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
       |    CAST(sum(CASE WHEN df.docf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared_fp
       |  FROM ph JOIN df USING (h)
       |  GROUP BY ph.doc_id)
       |SELECT b.doc_id, b.n_spans, s.n_fp,
       |  s.n_fp * 10000 // b.n_spans AS density_bp, s.n_shared_fp
       |FROM base b JOIN shared s USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  // ─── text_lm_score: bigram-LM perplexity-proxy quality score ───
  // The classic LM-based quality filter (CCNet/Gopher style: rank
  // documents by how surprising a language model finds them) with a
  // corpus-trained add-one-smoothed bigram model. Cross-engine float
  // discipline: instead of −Σ log₂ p (libm, last-ulp divergence) each
  // bigram's surprisal is QUANTIZED to whole bits via pure integer
  // arithmetic — p(w₂|w₁) = (c₁₂+1)/(c₁+V), so surprisal_bits =
  // ⌊log₂((c₁+V) div (c₁₂+1))⌋ = length(bin(q)) − 1, exact in both
  // engines (`bin` renders the identical base-2 string). A doc's
  // avg_bits_x100 is then a deterministic integer — high = unusual /
  // low-quality text, low = fluent under the corpus model.
  // Plan: one tokenized projection feeds (doc,bigram) instance counts
  // (map-side combined, one shuffle on the bigram key), the model
  // tables are vocabulary-sized aggregates off the same projection,
  // and scoring is two key joins (bigram → c₁₂, first word → c₁)
  // plus a 1-row broadcast V — no collect, no cross join, the corpus
  // is read once. Self-scoring means every bigram exists in the
  // model (c₁₂ ≥ 1); the +1 smoothing keeps the formula total for
  // held-out scoring too.
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    val pairs = base
      .select(col("doc_id"), explode(bigramArr(col("text"))).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("k"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val uni = base.select(explode(call_function("graft_tokens", col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_x"))
    val bi = pairs.groupBy(col("bigram")).agg(sum(col("k")).as("c_xy"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    pairs
      .join(bi, Seq("bigram"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        length(bin(expr("(c_x + v) div (c_xy + 1)"))) - lit(1))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        expr("sum_bits * 100 div n_bigrams").as("avg_bits_x100"))
      .orderBy(col("doc_id"))
  }

  val textLmScoreSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS k,
      |    string_split(bigram, ' ')[1] AS w1
      |  FROM (SELECT doc_id,
      |          unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
      |            AS bigram
      |        FROM base)
      |  GROUP BY doc_id, bigram),
      |uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c_x
      |  FROM (SELECT unnest(t) AS w FROM base) GROUP BY w),
      |bi AS (SELECT bigram, CAST(sum(k) AS BIGINT) AS c_xy
      |       FROM pairs GROUP BY bigram),
      |vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |scored AS (
      |  SELECT p.doc_id, p.k,
      |    length(bin((u.c_x + vocab.v) // (b.c_xy + 1))) - 1 AS bits
      |  FROM pairs p
      |  JOIN bi b USING (bigram)
      |  JOIN uni u ON p.w1 = u.w
      |  CROSS JOIN vocab)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |  CAST(sum(k * bits) AS BIGINT) AS sum_bits,
      |  CAST(sum(k * bits) AS BIGINT) * 100 // CAST(sum(k) AS BIGINT)
      |    AS avg_bits_x100
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ─── text_source_quality: per-source quality scorecard ───
  // The mixture-decision table: text_quality's per-doc signals
  // rolled up BY SOURCE — which feeds get down-weighted (or cut) is
  // decided on exactly these columns. Same integer-exact component
  // derivation as text_quality (one map-only projection), one
  // grouped aggregate; means are sum·100 div n, so every cell is
  // engine-exact. Sorted worst-first by mean quality so the cut
  // line reads top-down.
  def textSourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(filter(words, _ =!= ""))
    val nDistinct = size(array_distinct(filter(words, _ =!= "")))
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(words, w => array_contains(stopArr, w)))
    def ratioBp(a: Column, b: Column): Column =
      floor(a.cast("double") * 10000.0 / greatest(b, lit(1)) + lit(0.5)).cast("long")
    docs(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("len_chars"),
        nWords.cast("long").as("n_words"),
        ratioBp(nDistinct, nWords).as("distinct_bp"),
        ratioBp(nStop, nWords).as("stop_bp"))
      .withColumn("quality_bp",
        col("distinct_bp") - floor(col("stop_bp") / 2).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(len_chars) * 100 div count(1)").as("mean_chars_x100"),
        expr("sum(n_words) * 100 div count(1)").as("mean_words_x100"),
        expr("sum(distinct_bp) div count(1)").as("mean_distinct_bp"),
        expr("sum(stop_bp) div count(1)").as("mean_stop_bp"),
        expr("sum(quality_bp) div count(1)").as("mean_quality_bp"))
      .orderBy(col("mean_quality_bp"), col("source"))
  }

  val textSourceQualitySql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH comp AS (
       |  SELECT source,
       |    CAST(length(text) AS BIGINT) AS len_chars,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
       |      AS BIGINT) AS n_words,
       |    CAST(floor(len(list_distinct(list_filter(string_split(text, ' '),
       |        w -> w <> ''))) * 10000.0
       |      / greatest(len(list_filter(string_split(text, ' '),
       |        w -> w <> '')), 1) + 0.5) AS BIGINT) AS distinct_bp,
       |    CAST(floor(len(list_filter(string_split(text, ' '),
       |        w -> list_contains([$stopList], w))) * 10000.0
       |      / greatest(len(list_filter(string_split(text, ' '),
       |        w -> w <> '')), 1) + 0.5) AS BIGINT) AS stop_bp
       |  FROM documents),
       |q AS (
       |  SELECT *,
       |    distinct_bp - CAST(floor(stop_bp / 2) AS BIGINT) AS quality_bp
       |  FROM comp)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len_chars) AS BIGINT) * 100 // count(*) AS mean_chars_x100,
       |  CAST(sum(n_words) AS BIGINT) * 100 // count(*) AS mean_words_x100,
       |  CAST(sum(distinct_bp) AS BIGINT) // count(*) AS mean_distinct_bp,
       |  CAST(sum(stop_bp) AS BIGINT) // count(*) AS mean_stop_bp,
       |  CAST(sum(quality_bp) AS BIGINT) // count(*) AS mean_quality_bp
       |FROM q GROUP BY source
       |ORDER BY mean_quality_bp, source""".stripMargin
  }

  // ─── text_length_hist: token-length histogram (packing design) ───
  // The distribution that picks a context length: ⌊log₂⌋ bins of
  // per-doc token counts with document AND token shares plus the
  // cumulative token coverage — "what fraction of corpus tokens live
  // in docs ≤ 2ᵇ tokens" is exactly the sequence-packing / truncation
  // budget question. One map-only token count, one ≤64-bin rollup,
  // carries over the bounded bin frame. ⌊log₂⌋ via length(bin(n))−1,
  // no libm.
  def textLengthHist(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val cum = all.orderBy(col("len_bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs(spark, dir)
      .select(greatest(
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long"),
        lit(1L)).as("n_tok"))
      .groupBy((length(bin(col("n_tok"))) - 1).cast("long").as("len_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("doc_share_bp",
        Ranks.idiv(col("n_docs") * 10000L, sum(col("n_docs")).over(all)))
      .withColumn("tok_share_bp",
        Ranks.idiv(col("n_tokens") * 10000L, sum(col("n_tokens")).over(all)))
      .withColumn("cum_tok_bp",
        Ranks.idiv(sum(col("n_tokens")).over(cum) * 10000L,
          sum(col("n_tokens")).over(all)))
      .orderBy(col("len_bin"))
  }

  val textLengthHistSql: String =
    """WITH t AS (
      |  SELECT greatest(CAST(len(list_filter(string_split(text, ' '),
      |    w -> w <> '')) AS BIGINT), 1) AS n_tok
      |  FROM documents),
      |h AS (
      |  SELECT CAST(length(bin(n_tok)) - 1 AS BIGINT) AS len_bin,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY 1)
      |SELECT len_bin, n_docs, n_tokens,
      |  CAST(n_docs * 10000 // (sum(n_docs) OVER ()) AS BIGINT)
      |    AS doc_share_bp,
      |  CAST(n_tokens * 10000 // (sum(n_tokens) OVER ()) AS BIGINT)
      |    AS tok_share_bp,
      |  CAST(sum(n_tokens) OVER (ORDER BY len_bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
      |    // (sum(n_tokens) OVER ()) AS BIGINT) AS cum_tok_bp
      |FROM h ORDER BY len_bin""".stripMargin

  // ─── text_vocab_growth: Heaps-law vocabulary accumulation curve ───
  // How fast does NEW vocabulary arrive as the corpus grows? The
  // curve Heaps' law (V ∝ nᵝ) predicts sub-linear — a corpus whose
  // vocabulary keeps growing linearly is full of noise/IDs, one that
  // flatlines early is templated; either tail is a data-quality
  // smell. Ingestion order is simulated by doc_id buckets of 50.
  // The accumulation trick: a term contributes to vocabulary AT its
  // FIRST bucket (min-per-term aggregate — one shuffle on the term),
  // so "distinct so far" becomes a plain cumulative sum over the
  // bounded bucket frame. Token totals ride the same bucket rollup.
  private val vocabBucketDocs = 50L

  def textVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(expr(s"doc_id div $vocabBucketDocs").as("bucket"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("term"))
      .localCheckpoint(eager = false)
    val perBucket = toks.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val firstSeen = toks.groupBy(col("term"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
    val byBucket = Window.partitionBy(lit(1)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(byBucket))
      .withColumn("vocab", sum(col("new_terms")).over(byBucket))
      .select(col("bucket"), col("n_tokens"), col("cum_tokens"),
        col("new_terms"), col("vocab"))
      .orderBy(col("bucket"))
  }

  val textVocabGrowthSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id // $vocabBucketDocs AS bucket,
       |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
       |  FROM documents),
       |pb AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM toks GROUP BY 1),
       |fs AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS new_terms FROM (
       |    SELECT term, min(bucket) AS bucket FROM toks GROUP BY term)
       |  GROUP BY 1),
       |j AS (
       |  SELECT pb.bucket, pb.n_tokens,
       |    coalesce(fs.new_terms, 0) AS new_terms
       |  FROM pb LEFT JOIN fs USING (bucket))
       |SELECT bucket, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tokens,
       |  new_terms,
       |  CAST(sum(new_terms) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS vocab
       |FROM j ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_vocab_growth" -> textVocabGrowth,
    "text_length_hist" -> textLengthHist,
    "text_source_quality" -> textSourceQuality,
    "text_rake" -> textRake,
    "text_winnowing" -> textWinnowing,
    "text_lm_score" -> textLmScore,
    "text_lang_confusion" -> textLangConfusion,
    "text_bpe_pairs" -> textBpePairs,
    "text_bpe_encode" -> textBpeEncode,
    "text_boilerplate" -> textBoilerplate,
    "text_diversity" -> textDiversity,
    "text_filter_gate" -> textFilterGate,
    "text_bm25" -> textBm25,
    "text_collocation" -> textCollocation,
    "text_readability" -> textReadability,
    "text_hashvec" -> textHashvec,
    "text_zipf" -> textZipf,
    "text_tfidf" -> textTfidf,
    "text_repetition" -> textRepetition,
    "text_pii_redact" -> textPiiRedact,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_ngram_top" -> textNgramTop)

  val oracle: Map[String, String] = Map(
    "text_vocab_growth" -> textVocabGrowthSql,
    "text_length_hist" -> textLengthHistSql,
    "text_source_quality" -> textSourceQualitySql,
    "text_rake" -> textRakeSql,
    "text_winnowing" -> textWinnowingSql,
    "text_lm_score" -> textLmScoreSql,
    "text_lang_confusion" -> textLangConfusionSql,
    "text_bpe_pairs" -> textBpePairsSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "text_boilerplate" -> textBoilerplateSql,
    "text_diversity" -> textDiversitySql,
    "text_filter_gate" -> textFilterGateSql,
    "text_bm25" -> textBm25Sql,
    "text_collocation" -> textCollocationSql,
    "text_readability" -> textReadabilitySql,
    "text_hashvec" -> textHashvecSql,
    "text_zipf" -> textZipfSql,
    "text_tfidf" -> textTfidfSql,
    "text_repetition" -> textRepetitionSql,
    "text_pii_redact" -> textPiiRedactSql,
    "text_langid" -> textLangidSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_ngram_top" -> textNgramTopSql)
}
