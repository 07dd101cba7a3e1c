package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver testdata star schema (TESTDATA.md).
  *
  * All queries take an `sfDir` (scale-factor directory) so the same logical
  * plan runs unchanged from sf0.001 smoke tests up to a 100 TB production
  * layout — at scale the only change is the path (e.g. a partitioned
  * object-store prefix) and cluster sizing, never the operator code.
  *
  * == Canonical logical schema (physical-type tolerance) ==
  *
  * The testdata generator is free to change PHYSICAL parquet types between
  * rounds (it did: `events.ts` flipped from TIMESTAMP(NANOS) to
  * timestamp[us] between rounds 4 and 5, which, under the sessions'
  * `spark.sql.legacy.parquet.nanosAsLong=true`, changed the arriving Spark
  * type from LONG to TIMESTAMP_NTZ and failed analysis in every
  * integer-time expression). Loaders therefore normalize each column the
  * ENGINE has an internal contract for to one canonical logical type,
  * branching on the arriving type:
  *
  *   - `events.ts` → '''int64 nanoseconds since epoch''' (the contract all
  *     of EventOps/StreamingOps integer time arithmetic is written
  *     against; see EventOps.scala design note). TIMESTAMP(NANOS) data
  *     arrives as LONG ns via `nanosAsLong` and passes through;
  *     timestamp[us] (tz or ntz) converts via
  *     `unix_micros(cast(ts as timestamp)) * 1000` — exact, since µs data
  *     has no sub-µs digits, and timezone-safe because every session in
  *     this repo pins `spark.sql.session.timeZone=UTC`.
  *   - `lineitem.l_shipdate`, `orders.o_orderdate` → '''timestamp''' (the
  *     contract Relational's date-literal pushdown filters are written
  *     against). timestamp[us] passes through; TIMESTAMP(NANOS)-as-LONG
  *     converts via `timestamp_micros(x div 1000)`.
  *
  * Columns with NO engine-internal contract (ids, values, strings) pass
  * through untouched ON PURPOSE: the DuckDB oracle reads the SAME parquet
  * files, so a physical-type drift in a passthrough column shifts both
  * engines in lockstep and parity is preserved — whereas a Spark-side-only
  * coercion would DESYNC the two engines' output schemas. Normalize only
  * what the engine itself computes on; let everything else drift in
  * lockstep. SchemaDriftSpec writes synthetic parquet in every plausible
  * physical variant and proves these loaders normalize.
  *
  * == One schema inference per table per session ==
  *
  * `spark.read.parquet(path)` infers the schema with a one-task Spark job
  * (the footer read) on every call, a fixed cost of tens of milliseconds
  * paid by every query for every table it reads. [[table]] therefore
  * infers each table's raw `StructType` once ([[rawSchema]]) and reads
  * through `spark.read.schema(s).parquet(path)`, which starts no job. The
  * cache key has three parts, each there so a hit is never stale:
  *
  *   - the path, the table's identity;
  *   - the (file, length, mtime) listing of every file under it, taken
  *     with the session's Hadoop conf (so the same filesystem client, and
  *     its credentials, as the read itself): an in-place rewrite with a
  *     different physical type, the round-5 incident above, changes the
  *     listing and re-infers instead of serving the old type to
  *     [[tsToLongNs]]/[[toTimestamp]];
  *   - the session's Parquet type-mapping confs ([[SchemaConfs]]): the
  *     same footer maps to a different Spark type under another
  *     `nanosAsLong`, `binaryAsString`, `int96AsTimestamp` or
  *     `inferTimestampNTZ`, so a session with other settings never gets
  *     this one's schema.
  *
  * The normalizers still branch on the cached schema, which is exactly the
  * schema inference would return for the same files under the same confs.
  */
object Tables {
  /** Session confs under which the same Parquet footer infers to a
    * different Spark schema (see the object doc). */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private final case class SchemaKey(path: String, confs: Seq[Option[String]])
  private final case class Inferred(files: Seq[(String, Long, Long)], schema: StructType)
  private val schemas = new java.util.concurrent.ConcurrentHashMap[SchemaKey, Inferred]()

  /** (file, length, mtime) of every file at or under `path`, or None when
    * the path does not exist. Reads no permissions: on the local
    * filesystem those fork a process per file. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: org.apache.hadoop.fs.FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    try Some(walk(fs.getFileStatus(p)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The table's schema as the Parquet reader infers it, before any
    * normalization: what a `readStream` over the raw files needs. Inferred
    * once per (path, listing, confs); a missing path falls through to
    * Spark's own inference, and so to its error. */
  private[graft] def rawSchema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val path = s"$sfDir/$name.parquet"
    def infer() = spark.read.parquet(path).schema
    listing(spark, path).fold(infer()) { files =>
      val key = SchemaKey(path, SchemaConfs.map(spark.conf.getOption))
      Option(schemas.get(key)).filter(_.files == files).getOrElse {
        val fresh = Inferred(files, infer())
        schemas.put(key, fresh)
        fresh
      }.schema
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(rawSchema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")

  /** ts-column → canonical int64 ns. Works on batch AND streaming frames
    * (pure projection). Fails loudly on a physical type no branch handles —
    * a silent pass-through would surface as 28 analysis errors downstream. */
  private[graft] def tsToLongNs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as int64 ns via nanosAsLong
      case TimestampType | TimestampNTZType =>
        df.withColumn(c, expr(s"unix_micros(cast($c as timestamp)) * 1000"))
      case other =>
        throw new IllegalStateException(
          s"unsupported physical type for ns-contract column '$c': $other " +
            "- add a normalization branch in Tables.tsToLongNs")
    }

  /** date-ish column → canonical timestamp (LTZ under the repo-wide UTC
    * session). The inverse of [[tsToLongNs]], for columns whose engine
    * contract is timestamp comparison/extraction, not integer arithmetic. */
  private[graft] def toTimestamp(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case TimestampType => df
      case TimestampNTZType => df // NTZ compares/extracts identically under UTC
      case LongType => // TIMESTAMP(NANOS) read as int64 ns via nanosAsLong
        df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case other =>
        throw new IllegalStateException(
          s"unsupported physical type for timestamp-contract column '$c': $other " +
            "- add a normalization branch in Tables.toTimestamp")
    }

  /** Normalization applied to every events frame — exposed (not inlined in
    * [[events]]) because streaming readers that `readStream` the RAW
    * parquet must apply the same projection on the stream side. */
  private[graft] def normalizeEvents(df: DataFrame): DataFrame = tsToLongNs(df, "ts")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    toTimestamp(table(spark, sfDir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    toTimestamp(table(spark, sfDir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(table(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
