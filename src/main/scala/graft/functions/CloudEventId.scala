package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** CloudEvent id construction, faithful to the reference:
  * `id = Base.encode64(:crypto.hash(:sha, [iso8601(time), message]))`
  * (reference lib/trike/cloud_event.ex:34). Erlang's iolist hashing
  * concatenates the parts, so this is base64(sha1(time_iso ++ msg)).
  *
  * Pure codegen'd built-ins (sha1 → hex, unhex → bytes, base64), so it
  * runs inside WholeStageCodegen at scan speed. The batch oracle
  * queries hash with sha256 inline instead (DuckDB has no sha1,
  * `Trike.scala`); this is the faithful variant, pinned by
  * CloudEventIdSpec against java.security.MessageDigest.
  */
object CloudEventId {

  def sha1Base64(timeIso: Column, message: Column): Column =
    base64(unhex(sha1(concat(timeIso, message))))
}
