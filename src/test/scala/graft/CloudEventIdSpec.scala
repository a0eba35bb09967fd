package graft

import graft.functions.CloudEventId
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the faithful sha1-base64 CloudEvent id (reference
  * lib/trike/cloud_event.ex:34) against java.security.MessageDigest. */
class CloudEventIdSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  import java.nio.charset.StandardCharsets.UTF_8

  private def expected(timeIso: String, msg: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest((timeIso + msg).getBytes(UTF_8))
    java.util.Base64.getEncoder.encodeToString(d)
  }

  test("sha1Base64 matches MessageDigest over sample messages") {
    import spark.implicits._
    val rows = Seq(
      ("2024-01-02T03:04:05.123456Z", "4,050,TMOV"),
      ("2024-01-02T03:04:05.123456Z", ""),
      ("2026-08-12T00:00:00.000000Z", "click,12345"))
    val got = rows.toDF("t", "m")
      .select(CloudEventId.sha1Base64(col("t"), col("m"))).as[String]
      .collect()
    assert(got.toSeq == rows.map { case (t, m) => expected(t, m) })
  }
}
