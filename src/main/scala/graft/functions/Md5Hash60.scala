package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}

/** The library's replayable 60-bit hash: the first 15 hex digits of a
  * value's md5 as a number, i.e. its first 8 digest bytes shifted right
  * by 4. DuckDB replays it as
  * `CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT)`. */
object Md5Hash60 {
  /** The hash of `x` (a string hashes its UTF-8 bytes) as a long column. */
  def apply(x: Column): Column = ofHex(md5(x))

  /** The hash from an md5 hex column, for a caller that keeps the md5. */
  def ofHex(hex: Column): Column = conv(substring(hex, 1, 15), 16, 10).cast("long")

  /** The hash from an md5 digest. */
  def ofDigest(digest: Array[Byte]): Long = {
    var x = 0L
    var b = 0
    while (b < 8) { x = (x << 8) | (digest(b) & 0xffL); b += 1 }
    x >>> 4
  }
}
