package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

/** Physical-parquet-type drift tolerance (the round-5 incident, generalized).
  *
  * The testdata generator changed `events.ts` from parquet TIMESTAMP(NANOS)
  * to timestamp[us] between rounds and zeroed 28 queries: every loader
  * contract must therefore survive ANY plausible physical layout of its
  * contracted columns. This spec writes the same logical events/lineitem
  * /orders rows in each physical variant and proves:
  *
  *   1. `Tables.events` always yields ts as canonical int64 ns with the
  *      SAME values;
  *   2. `Tables.lineitem`/`Tables.orders` always yield timestamp date
  *      columns with the same values;
  *   3. a representative time query (EventOps.hourly) is bit-identical
  *      across variants — the end-to-end guarantee the round artifact
  *      actually depends on.
  *
  * Variant construction notes: a parquet TIMESTAMP(NANOS) file arrives in
  * Spark as LongType ns (via `spark.sql.legacy.parquet.nanosAsLong=true`,
  * set in every session in this repo) — Spark cannot WRITE ns parquet, so
  * the long-column variant below is exactly what the engine sees from ns
  * data, which is the contract under test. timestamp[us] with
  * isAdjustedToUTC=0 (the current generator) arrives as TIMESTAMP_NTZ;
  * with isAdjustedToUTC=1 as TIMESTAMP — both written natively here.
  */
class SchemaDriftSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Epoch-µs values straddling an hour boundary + a pre-1970 row (the
  // rounding-mode edge the EventOps design note calls out).
  private val rowsUs: Seq[(Long, Long, Long, String, Double)] = Seq(
    (1L, 1700000000000000L, 10L, "click", 1.5),
    (2L, 1700000000000000L + 3599L * 1000000L, 10L, "click", 2.5),
    (3L, 1700000000000000L + 3600L * 1000000L, 11L, "purchase", 3.25),
    (4L, -1234567L * 1000000L, 12L, "click", 0.5))

  /** Write one physical variant of the events table under a fresh sfDir. */
  private def writeEventsVariant(tmp: Path, variant: String): String = {
    val dir = Files.createTempDirectory(tmp, variant).toString
    val base = rowsUs.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
    val df = variant match {
      case "long_ns" => base.withColumn("ts", col("us") * 1000L)
      case "ts_ltz" => base.withColumn("ts", timestamp_micros(col("us")))
      case "ts_ntz" => base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val variants = Seq("long_ns", "ts_ltz", "ts_ntz")

  for (v <- variants) test(s"Tables.events normalizes ts physical variant '$v' to int64 ns") {
    withTempDir("graft-drift-") { tmp =>
      val dir = writeEventsVariant(tmp, v)
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType === LongType,
        s"variant $v: ts must arrive as canonical long ns, got ${got.schema("ts").dataType}")
      val byId = got.select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      for ((id, us, _, _, _) <- rowsUs)
        assert(byId(id) === us * 1000L, s"variant $v: ts value drifted for event $id")
    }
  }

  test("EventOps.hourly is bit-identical across every ts physical variant") {
    withTempDir("graft-drift-") { tmp =>
      val results = variants.map { v =>
        val dir = writeEventsVariant(tmp, v)
        v -> graft.operators.EventOps.hourly(spark, dir)
          .orderBy("hour_epoch", "event_type").collect().toSeq
      }
      val (refName, ref) = results.head
      for ((v, got) <- results.tail)
        assert(got === ref, s"hourly($v) != hourly($refName)")
    }
  }

  /** Date-contract drift for the relational family: a regeneration back to
    * TIMESTAMP(NANOS) must not break timestamp-literal pushdown filters. */
  for (v <- variants) test(s"lineitem/orders date columns normalize to timestamp under variant '$v'") {
    withTempDir("graft-drift-") { tmp =>
      val dir = Files.createTempDirectory(tmp, s"rel-$v").toString
      val dateUs = 867715200000000L // 1997-07-01 00:00:00 UTC
      def dateCol(c: org.apache.spark.sql.Column) = v match {
        case "long_ns" => c * 1000L
        case "ts_ltz" => timestamp_micros(c)
        case "ts_ntz" => timestamp_micros(c).cast(TimestampNTZType)
      }
      Seq((1L, 2L, 3L, 1, 4.0, 100.0, 0.01, 0.02, "N", "O"))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
        .withColumn("l_shipdate", dateCol(lit(dateUs)))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Seq((1L, 2L, "O", 100.0, "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .withColumn("o_orderdate", dateCol(lit(dateUs)))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")

      def check(df: DataFrame, c: String): Unit = {
        assert(df.schema(c).dataType == TimestampType || df.schema(c).dataType == TimestampNTZType,
          s"variant $v: $c must arrive timestamp-typed, got ${df.schema(c).dataType}")
        // The actual engine contract: timestamp-literal comparison + epoch
        // extraction both analyze and produce the right values.
        val r = df.filter(col(c) < lit("1998-01-01").cast("timestamp"))
          .select(unix_timestamp(col(c))).collect()
        assert(r.map(_.getLong(0)).toSeq === Seq(dateUs / 1000000L), s"variant $v: $c value drifted")
      }
      check(Tables.lineitem(spark, dir), "l_shipdate")
      check(Tables.orders(spark, dir), "o_orderdate")
    }
  }

  test("TESTDATA.md documents the ts contract that the loaders actually enforce") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("TESTDATA.md")), "UTF-8")
    // Doc ↔ code drift assert (CoverageDocSpec discipline): the contract
    // section must name the canonical type, the normalization point, and
    // every accepted physical layout this spec exercises.
    for (required <- Seq("int64 nanoseconds", "Tables.events", "TIMESTAMP(NANOS)",
        "TIMESTAMP_NTZ", "nanosAsLong", "l_shipdate", "o_orderdate", "SchemaDriftSpec"))
      assert(doc.contains(required), s"TESTDATA.md ts-contract section lost '$required'")
    // And the REAL testdata must arrive canonical through the loaders.
    assert(Tables.events(spark, "/root/testdata/sf0.001").schema("ts").dataType === LongType)
    val shipT = Tables.lineitem(spark, "/root/testdata/sf0.001").schema("l_shipdate").dataType
    assert(shipT == TimestampType || shipT == TimestampNTZType, s"got $shipT")
  }

  test("int32-id / decimal-value physical drift still analyzes and keeps cardinalities") {
    // Ids and values are PASSTHROUGH columns (both engines read the same
    // file, so a drift shifts them in lockstep — Tables.scala note); the
    // engine-side guarantee to prove is weaker but real: every operator
    // must still ANALYZE (Spark's numeric coercion absorbs the types) and
    // produce the same row cardinalities. Regression target: a Row
    // accessor or case-class encoder hard-bound to LongType/DoubleType
    // would throw here.
    withTempDir("graft-drift-") { tmp =>
      val dir = Files.createTempDirectory(tmp, "narrow").toString
      rowsUs.toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
        .withColumn("user_id", col("user_id").cast(IntegerType)) // int32 drift
        .withColumn("value", col("value").cast(DecimalType(9, 3))) // decimal drift
        .withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val canonical = writeEventsVariant(tmp, "ts_ntz")
      for (q <- Seq("events_hourly", "events_sliding", "events_first_per_user",
          "row_quality_gate", "events_type_pivot")) {
        val drifted = SparkEntry.queries(q)(spark, dir).count()
        val base = SparkEntry.queries(q)(spark, canonical).count()
        assert(drifted === base, s"$q cardinality drifted under int32/decimal physical types")
      }
    }
  }

  // ---- embedding / documents drift (round-6 verdict gap #1) -------------
  //
  // Tables.documents/embeddings are deliberate passthroughs (lockstep note
  // in Tables.scala), but the engine COMPUTES on `embedding` via
  // toDoubleVec, so a regeneration to list<float64> (or an arrow
  // fixed-size list, which parquet stores as an ordinary LIST group that
  // Spark reads as array) must still analyze AND produce the same values.
  // Vector values are multiples of 0.25 — exactly representable in
  // float32 — so every physical variant carries identical doubles and the
  // results must be BIT-identical, not just analyzable. Output rows are
  // compared via Row.toString so an int32 id drift (engine emits int where
  // canonical emits long — lockstep with what the oracle would emit from
  // the same file) doesn't fail the value comparison on type alone.

  private val embDim = 8
  private def embVal(i: Int, j: Int): Double = ((i * 7 + j * 3) % 16) / 4.0

  /** Write one physical variant of the embeddings table (20 × dim-8). */
  private def writeEmbeddingsVariant(tmp: Path, variant: String): String = {
    val dir = Files.createTempDirectory(tmp, s"emb-$variant").toString
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until embDim).map(j => embVal(i, j)).toArray, (i % 3))
    }.toDF("vec_id", "embedding", "label")
    val df = variant match {
      case "f64" => base // array<double> as written
      case "f32" => base.withColumn("embedding",
        col("embedding").cast(ArrayType(FloatType))) // the current generator layout
      case "i32" => base
        .withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
        .withColumn("vec_id", col("vec_id").cast(IntegerType))
        .withColumn("label", col("label").cast(LongType))
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val annQueries = Seq("knn_brute", "knn_ivf", "dedup_embedding_srp")

  test("ANN queries are value-identical across embedding physical variants (f32/f64/i32-ids)") {
    withTempDir("graft-drift-") { tmp =>
      def run(dir: String): Map[String, Seq[String]] =
        annQueries.map { q =>
          q -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted
        }.toMap
      val ref = run(writeEmbeddingsVariant(tmp, "f32"))
      assert(ref("knn_brute").nonEmpty && ref("dedup_embedding_srp").nonEmpty,
        "drift fixture must actually exercise the operators")
      for (v <- Seq("f64", "i32")) {
        val got = run(writeEmbeddingsVariant(tmp, v))
        for (q <- annQueries)
          assert(got(q) === ref(q), s"$q drifted under embedding variant '$v'")
      }
    }
  }

  test("an arrow fixed-size-list embedding file analyzes and matches the list<float32> layout") {
    // Checked-in pyarrow fixture: same 20×8 values written as
    // fixed_size_list<float>[8] (src/test/resources/graft/drift/). Parquet
    // stores it as a LIST group + arrow schema metadata; the contract under
    // test is that Spark's reader lands it as array<float> and every ANN
    // query stays in lockstep with the Spark-written float32 layout.
    withTempDir("graft-drift-") { tmp =>
      val fsl = getClass.getResource("/graft/drift/embeddings_fsl").getPath
      val arrived = Tables.embeddings(spark, fsl).schema("embedding").dataType
      assert(arrived.isInstanceOf[ArrayType],
        s"fixed-size-list embedding must arrive as array, got $arrived")
      val ref = writeEmbeddingsVariant(tmp, "f32")
      for (q <- annQueries) {
        val got = SparkEntry.queries(q)(spark, fsl).collect().map(_.toString).toSeq.sorted
        val want = SparkEntry.queries(q)(spark, ref).collect().map(_.toString).toSeq.sorted
        assert(got === want, s"$q drifted under fixed-size-list embedding layout")
      }
    }
  }

  test("text queries survive int32 doc_id/n_chars drift on documents (value lockstep)") {
    withTempDir("graft-drift-") { tmp =>
      def writeDocs(narrow: Boolean): String = {
        val dir = Files.createTempDirectory(tmp, s"docs-$narrow").toString
        val base = Seq(
          (1L, "the quick brown fox jumps over the lazy dog", "en", "web"),
          (2L, "the quick brown fox jumps over the lazy dog", "en", "web"), // exact dup
          (3L, "le renard brun rapide saute par dessus le chien", "fr", "web"),
          (4L, "pack my box with five dozen liquor jugs", "en", "books"),
          (5L, "", "en", "web") // empty text edge
        ).toDF("doc_id", "text", "lang", "source")
          .withColumn("n_chars", length(col("text")).cast(LongType))
        val df = if (narrow) base
          .withColumn("doc_id", col("doc_id").cast(IntegerType))
          .withColumn("n_chars", col("n_chars").cast(IntegerType))
        else base
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
        dir
      }
      val canonical = writeDocs(narrow = false)
      val narrow = writeDocs(narrow = true)
      for (q <- Seq("dedup_exact", "text_quality", "lang_id")) {
        val want = SparkEntry.queries(q)(spark, canonical).collect().map(_.toString).toSeq.sorted
        val got = SparkEntry.queries(q)(spark, narrow).collect().map(_.toString).toSeq.sorted
        assert(want.nonEmpty, s"$q fixture must produce rows")
        assert(got === want, s"$q drifted under int32 doc_id/n_chars physical types")
      }
    }
  }

  // ---- the per-session schema cache (Tables.rawSchema) -----------------
  //
  // These cases run in ONE session on ONE path, where a cache keyed too
  // loosely would serve a stale schema. The fixture is written with
  // parquet's own example writer, not Spark's: a Spark-written file carries
  // Spark's schema in its footer metadata, which the reader prefers over
  // the Parquet types, so only a foreign file (like the generator's) shows
  // a type-mapping conf at work.

  /** Writes `events.parquet` under `dir` as ONE file, (event_id, ts) with
    * ts an int64 TIMESTAMP of `unit` (NANOS: the ns-era generator; MICROS
    * with isAdjustedToUTC=false: the current one), replacing any file there. */
  private def writeTsFile(dir: Path, unit: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter.Mode
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; " +
        s"required int64 ts (TIMESTAMP($unit,${unit == "NANOS"})); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(dir.resolve("events.parquet")))
      .withType(schema).withWriteMode(Mode.OVERWRITE).build()
    val rows = new SimpleGroupFactory(schema)
    try for ((id, us, _, _, _) <- rowsUs)
      w.write(rows.newGroup().append("event_id", id)
        .append("ts", if (unit == "NANOS") us * 1000L else us))
    finally w.close()
  }

  private def tsById(df: DataFrame): Map[Long, Long] =
    df.select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val wantNs = rowsUs.map { case (id, us, _, _, _) => id -> us * 1000L }.toMap

  test("Tables.events follows an in-place rewrite of its file to another ts physical type") {
    withTempDir("graft-drift-") { dir =>
      writeTsFile(dir, "NANOS")
      assert(Tables.rawSchema(spark, dir.toString, "events")("ts").dataType === LongType)
      assert(tsById(Tables.events(spark, dir.toString)) === wantNs)
      writeTsFile(dir, "MICROS") // same path, same file name
      assert(Tables.rawSchema(spark, dir.toString, "events")("ts").dataType === TimestampNTZType,
        "the rewritten file must be re-inferred, not served the cached LongType")
      assert(tsById(Tables.events(spark, dir.toString)) === wantNs)
      writeTsFile(dir, "NANOS") // and back
      assert(Tables.rawSchema(spark, dir.toString, "events")("ts").dataType === LongType)
      assert(tsById(Tables.events(spark, dir.toString)) === wantNs)
    }
  }

  test("a session with another nanosAsLong never gets this session's cached schema") {
    withTempDir("graft-drift-") { dir =>
      writeTsFile(dir, "NANOS")
      val path = dir.resolve("events.parquet").toString
      assert(Tables.rawSchema(spark, dir.toString, "events")("ts").dataType === LongType)
      val other = spark.newSession()
      other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      // What an uncached inference says in the other session: a failure or
      // another type, never the first session's LongType.
      def outcome(f: => StructType): String =
        scala.util.Try(f("ts").dataType).fold(e => s"fails: ${e.getMessage}", _.toString)
      val fresh = outcome(other.read.parquet(path).schema)
      assert(fresh !== LongType.toString)
      assert(outcome(Tables.rawSchema(other, dir.toString, "events")) === fresh)
      // and the first session still gets its own
      assert(Tables.rawSchema(spark, dir.toString, "events")("ts").dataType === LongType)
    }
  }

  test("a warm Tables.documents call starts no Spark job; a cold one infers once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // Count only the jobs of this thread's job group: other suites may share
    // the context.
    val group = s"tables-warm-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet(): Unit
    }
    def jobsOf(body: => Any): Int = {
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      jobs.set(0)
      body
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      jobs.get
    }
    withTempDir("graft-drift-") { dir =>
      Seq((1L, "some text")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "Tables schema cache")
      try {
        assert(jobsOf(Tables.documents(spark, dir.toString).schema) >= 1,
          "the cold call infers the schema with a job, or this listener sees nothing")
        assert(jobsOf(Tables.documents(spark, dir.toString).schema) === 0)
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
  }

  test("an unnormalizable ts physical type fails loudly at the loader, not downstream") {
    withTempDir("graft-drift-") { tmp =>
      val dir = Files.createTempDirectory(tmp, "bad").toString
      rowsUs.toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", lit("not-a-time"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val e = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(e.getMessage.contains("tsToLongNs"))
    }
  }
}
