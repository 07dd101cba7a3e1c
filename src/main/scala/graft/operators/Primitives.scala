package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The portable md5-prefix-to-int64 hash used everywhere a hash must be
  * bit-identical between Spark and the DuckDB oracle (MinHash shingle
  * hashing, the contamination membership probe, winnowing fingerprints):
  * the first 14 hex chars (56 bits — safely inside int64) of md5, parsed
  * base-16. ONE definition with ONE SQL twin, so the cross-operator
  * assumption "contamination hashes exactly like MinHash" is enforced by
  * construction rather than by three copies staying in sync. */
object Hashing {
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("long")

  def md5LongSql(e: String): String =
    s"('0x' || substr(md5($e), 1, 14))::BIGINT"

  /** Spark-SQL-text twin of [[md5Long]] — for the operators that need the
    * hash INSIDE a lambda of an `expr(...)` string (higher-order array
    * functions take SQL text, not Columns). Must stay expression-identical
    * to the Column form; HashingSpec pins the equivalence. */
  def md5LongSparkSql(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 14), 16, 10) AS LONG)"

  /** Driver-side JVM twin of [[md5Long]] — for the handful of constant
    * probe keys an operator needs hashed OUTSIDE a Catalyst expression
    * (e.g. the streaming CMS probe cells). Must stay bit-identical to the
    * Column form; HashingSpec pins the equivalence. */
  def md5LongJvm(s: String): Long =
    top56(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** The digest's first 7 bytes as a big-endian unsigned 56-bit value —
    * what parsing its first 14 hex chars base-16 gives, with no text in
    * between. */
  def top56(digest: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < 7) {
      acc = (acc << 8) | (digest(i) & 0xffL)
      i += 1
    }
    acc
  }
}

/** Checkpoint policy for CORPUS-SCALE shared artifacts (the tokenized
  * document frame, the shingle stream): SERIALIZED storage instead of
  * localCheckpoint's deserialized-object default. Java object form costs
  * 2–5× the serialized bytes AND keeps every row in the GC-scanned graph —
  * at the sf100 decade the flagship's two checkpoints held tens of GB of
  * live objects and task allocation raced the ContextCleaner to OOM (the
  * round-11 audit's finding). Serialized blocks are byte arrays the GC
  * walks in O(1), spill to local dirs under pressure, and deserialize
  * streaming on iteration — the standard Spark posture for large cached
  * working sets. Row-bounded frames (a |langs| rollup, a probe set) keep
  * the plain deserialized default; only corpus-scale frames pay the
  * per-iteration deserialization. */
object Checkpoints {
  def ser(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
}

/** In-bucket pair expansion shared by every LSH-family operator (MinHash
  * bands, SRP codes, winnowing fingerprints): a bucket's sorted member
  * array expands to its (i < j) pairs INSIDE the bucket — the shape whose
  * shuffle is bounded by bucket keys, never by corpus². One definition so
  * a future change (fan-out cap, indexing) cannot silently diverge across
  * the three paths. */
object BucketPairs {
  /** `buckets` must carry a sorted array column `ids`; returns one row per
    * unordered pair, columns named (`aName`, `bName`). */
  def expand(buckets: DataFrame, aName: String, bName: String): DataFrame =
    buckets.select(explode(expr(
      s"flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS $aName, y AS $bName))))"
    )).as("p"))
      .select(col(s"p.$aName"), col(s"p.$bName"))
}
