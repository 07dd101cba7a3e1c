package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built: every main (Bench, Verify,
  * Probe, Explain, MrSubmit) gets the same contract confs from here, so no
  * copy can drift from another. */
object GraftSession {

  /** Local thread count: `SPARK_GRAFT_CPUS`, else the host's processors. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session over the data in `sfDir`. Any `-Dspark.k=v`
    * system property reaches the `SparkConf` on top of these. */
  def local(cpus: Int, sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // ts canonicalization: ns parquet reads as long via this flag; other
      // physical layouts normalize in Tables.scala (TESTDATA.md contract)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // custom SQL functions + the ts-normalization pushdown rule (static
      // conf: must be set when the SparkContext is created)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // tmpfs-by-default shuffle dirs (GRAFT_LOCAL_DIR overrides): host disk
      // is intermittently throttled and was measured turning 3 s shuffles
      // into minutes (DiskBlockObjectWriter-bound)
      .config("spark.local.dir", LocalDirs.sparkLocalDir)
      .config("spark.sql.adaptive.enabled", "true")
      // Shuffle parallelism must SCALE WITH DATA, not with local cores: a
      // fixed 32 meant ~30M-row final-aggregation hash states per task at
      // the sf100 decade (AGGREGATE_OUT_OF_MEMORY, round 11). Shuffles
      // start at a count derived from the input size and AQE coalesces
      // them to the advisory size, so small inputs keep their effective
      // parallelism while large ones keep per-task state bounded (see
      // BenchCore.scaleInitialPartitions); on a real cluster this is the
      // knob ops sets to O(cores × a few). Streaming micro-batches plan
      // without AQE coalescing and the demos pin their own state partition
      // count, so for them the knob is inert.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        BenchCore.initialPartitions(sfDir, cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
