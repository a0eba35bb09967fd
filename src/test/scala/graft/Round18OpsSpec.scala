package graft

import graft.operators.Events
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 optimization equivalence pins: each test asserts the
  * rewritten path produces bit-identical results to the formulation it
  * replaced (on the sf0.001 corpus plus adversarial synthetic rows),
  * on top of the full DuckDB crosscheck.  */
class Round18OpsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val dir = "/root/testdata/sf0.001"

  // ── text_pii_redact: replace-pass length-delta counts ──
  // The rewrite derives n_phones/n_cards from the fixed-width replace
  // deltas instead of two extra regexp_count passes. Equivalence needs
  // the phone match set to be IDENTICAL on raw and card-replaced text;
  // the synthetic rows below exercise the adjacency edge cases of that
  // argument (digit-abutting candidates, card directly before a phone,
  // back-to-back phones where only the first matches).
  test("pii redact: delta counts == regexp_count, all passes equal") {
    import spark.implicits._
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    val cardRe = "\\b[0-9]{16}\\b"
    val rows = Seq(
      "", "plain text no pii",
      "a@b.co and 415-555-0000 and 4111111111111111",
      "4111111111111111-123-456-7890",          // card directly before phone
      "41111111111111112 123-456-7890",         // 17 digits: no card match
      "123-456-7890123-456-7890",               // only first phone matches
      "9123-456-78901",                          // digit-abutted: no phone
      "x 4111111111111111 4111111111111111 y",  // two cards
      "café 415-555-0001 ünïcode 4222222222222222",
      "aaa@bbb.example.com 415-555-9999aaa@b.co", // email after phone digits?
      "4111111111111111415-555-0000")            // 19+ digits then phone tail
    val df = rows.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "raw")
    val oldDf = df.select(col("doc_id"),
      regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"),
      regexp_count(col("raw"), lit(cardRe)).cast("long").as("n_cards"),
      md5(regexp_replace(
        regexp_replace(regexp_replace(col("raw"), cardRe, "[CARD]"),
          phoneRe, "[PHONE]"),
        emailRe, "[EMAIL]")).as("redacted_md5"))
    val newDf = df
      .withColumn("c", regexp_replace(col("raw"), cardRe, "[CARD]"))
      .withColumn("p", regexp_replace(col("c"), phoneRe, "[PHONE]"))
      .select(col("doc_id"),
        expr("(length(c) - length(p)) div 5").as("n_phones"),
        expr("(length(raw) - length(c)) div 10").as("n_cards"),
        md5(regexp_replace(col("p"), emailRe, "[EMAIL]")).as("redacted_md5"))
    val o = oldDf.orderBy("doc_id").collect()
    val n = newDf.orderBy("doc_id").collect()
    assert(o.toSeq == n.toSeq)
  }

  test("pii redact: new operator == old 6-pass formulation on corpus") {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    val cardRe = "\\b[0-9]{16}\\b"
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
    val oldOut = Tables(spark, dir).documents
      .select(col("doc_id"), planted.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(col("raw"), lit(cardRe)).cast("long").as("n_cards"),
        md5(regexp_replace(
          regexp_replace(regexp_replace(col("raw"), cardRe, "[CARD]"),
            phoneRe, "[PHONE]"),
          emailRe, "[EMAIL]")).as("redacted_md5"))
      .orderBy(col("doc_id")).collect()
    val newOut = operators.TextAnalysis.textPiiRedact(spark, dir).collect()
    assert(oldOut.toSeq == newOut.toSeq)
  }

  // ── ts_theil_sen: span-gated blocked join ──
  test("theil-sen: blocked and unblocked joins yield identical slopes") {
    import spark.implicits._
    // synthetic hourly series spanning ~5 blocks (5400 h), two types,
    // irregular gaps so block straddles are exercised
    val rows = for {
      et <- Seq("click", "view")
      h <- 0L.to(5400L, 7L) // every 7 hours
    } yield (et, h, (h * 13 + et.length) % 997)
    val hourly = rows.toDF("event_type", "hour", "hc")
    val un = Events.theilSenSlopes(hourly, blocked = false)
      .groupBy("event_type", "slope", "h1", "h2").count()
    val bl = Events.theilSenSlopes(hourly, blocked = true)
      .groupBy("event_type", "slope", "h1", "h2").count()
    assert(un.exceptAll(bl).isEmpty && bl.exceptAll(un).isEmpty)
    assert(un.count() > 0)
  }

  // ── ev_next_entropy: window → aggregate identity ──
  test("next-entropy: aggregate h_milli == windowed h_milli") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables(spark, dir).events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("cur_type"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val oldPer = counts
      .withColumn("n_c", sum(col("c")).over(Window.partitionBy(col("cur_type"))))
      .groupBy(col("cur_type"))
      .agg(max(col("n_c")).as("n_out"),
        count(lit(1)).as("n_next_types"),
        expr("sum(c * (length(bin(n_c)) - length(bin(c)))) * 1000 div max(n_c)")
          .as("h_milli"))
      .orderBy("cur_type").collect()
    val newOut = operators.Events.evNextEntropy(spark, dir)
      .filter(col("cur_type") =!= "__all__")
      .select("cur_type", "n_out", "n_next_types", "h_milli")
      .orderBy("cur_type").collect()
    assert(oldPer.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == newOut.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
  }

  // ── BpeTokenCount: null / short pair entries are no-op merges ──
  test("bpe token count: null and <2-codepoint pairs are skipped") {
    def arr(xs: Seq[String]): ArrayData =
      new GenericArrayData(xs.map(s =>
        if (s == null) null else UTF8String.fromString(s)).toArray[Any])
    val text = UTF8String.fromString("abab cd")
    val clean = functions.BpeTokenCount.count(text, arr(Seq("ab", "cd")))
    val dirty = functions.BpeTokenCount.count(
      text, arr(Seq("ab", null, "x", "", "cd")))
    assert(clean == dirty)
    // paren slow path with dirty pairs
    val ptext = UTF8String.fromString("a(b)ab")
    val pc = functions.BpeTokenCount.count(ptext, arr(Seq("ab")))
    val pd = functions.BpeTokenCount.count(ptext, arr(Seq(null, "", "ab", "x")))
    assert(pc == pd)
  }

  // ── WinnowMins: monotonic deque vs naive reference ──
  test("winnow mins: deque matches naive sliding minimum") {
    def naive(arr: Array[Long], winW: Int, posBits: Int): Seq[Long] = {
      val scale = 1L << posBits
      val posMask = scale - 1
      val n = arr.length
      if (n == 0) return Seq.empty
      val lastP = math.max(0, n - winW)
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      for (p <- 0 to lastP) {
        val hi = math.min(p + winW - 1, n - 1)
        seen += (p to hi).map(q => arr(q) * scale + (posMask - q)).min
      }
      seen.toSeq
    }
    val rnd = new scala.util.Random(18)
    for (n <- Seq(0, 1, 2, 3, 7, 64, 257); winW <- Seq(1, 2, 4, 31, 300)) {
      val arr = Array.fill(n)(rnd.nextLong(1L << 40))
      val got = functions.WinnowMins.mins(new GenericArrayData(arr), winW, 20)
        .toLongArray().toSeq
      assert(got == naive(arr, winW, 20), s"n=$n winW=$winW")
    }
  }
}
