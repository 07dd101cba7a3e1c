package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

/** Source/sink coverage beyond parquet: the engine's operators are
  * format-agnostic DataFrame expressions, so what needs proving is that the
  * surrounding IO layer (a) round-trips CSV / JSON-lines / text losslessly
  * and (b) lays data out for scale — partitioned directories whose
  * partition filters prune at planning time, the layout a 100 TB corpus
  * actually ships in. Parquet scan behavior (PushedFilters / pruning) is
  * covered in PlanAuditSpec; bucketed layouts in BucketingSpec; the part-%05d
  * text sink in MrJobSpec. */
class SourcesSinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  /** Runs `body` on a path not yet written, inside a scratch dir under
    * `graft-io/` that is deleted when `body` ends. */
  private def withScratch[A](name: String)(body: String => A): A =
    withTempDir(s"$name-", s"${LocalDirs.scratchRoot}/graft-io")(d => body(s"$d/data"))

  private def docRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("CSV round-trip: documents written and re-read losslessly (quoted text, explicit schema)") {
    withScratch("csv") { dir =>
      val docs = Tables.documents(spark, Sf)
      docs.write.option("header", "true").option("quoteAll", "true").csv(dir)
      val back = spark.read.schema(docSchema).option("header", "true").csv(dir)
      assert(docRows(back) === docRows(docs))
    }
  }

  test("JSON-lines round-trip: documents written and re-read losslessly") {
    withScratch("json") { dir =>
      val docs = Tables.documents(spark, Sf)
      docs.write.json(dir)
      val back = spark.read.schema(docSchema).json(dir)
      assert(docRows(back) === docRows(docs))
    }
  }

  test("text source: raw lines read as one column, matching the MR engine's input contract") {
    withScratch("text") { dir =>
      val docs = Tables.documents(spark, Sf).select(col("text"))
      docs.write.text(dir)
      val back = spark.read.text(dir)
      assert(back.schema.fields.map(_.name).toSeq === Seq("value"))
      assert(back.collect().map(_.getString(0)).sorted.toSeq ===
        docs.collect().map(_.getString(0)).sorted.toSeq)
    }
  }

  test("ORC round-trip with predicate pushdown reaching the ORC scan") {
    withScratch("orc") { dir =>
      val docs = Tables.documents(spark, Sf)
      docs.write.orc(dir)
      val back = spark.read.orc(dir)
      assert(docRows(back) === docRows(docs))
      // ORC scans take pushed filters just like parquet — the operators are
      // format-agnostic, the IO layer keeps the scan-level optimizations.
      val q = back.filter(col("n_chars") > 100L).select(col("doc_id"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("n_chars"),
        s"n_chars filter must reach the ORC scan:\n$plan")
      assert(q.count() === docs.filter(col("n_chars") > 100L).count())
    }
  }

  test("sortWithinPartitions parquet layout: row-group min/max enables range-pruned scans") {
    withScratch("sorted") { dir =>
      // The write-side layout step a 100 TB corpus ships with: range-partition
      // by the filter column, sort within files, so low-selectivity scans can
      // skip whole row groups on min/max stats.
      Tables.documents(spark, Sf)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions(col("n_chars"))
        .write.parquet(dir)
      val back = spark.read.parquet(dir)
      assert(docRows(back) === docRows(Tables.documents(spark, Sf)))
      val q = back.filter(col("n_chars") > 400L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThan(n_chars,400)"),
        s"range filter must reach PushedFilters for stats-based skipping:\n$plan")
      assert(q.count() ===
        Tables.documents(spark, Sf).filter(col("n_chars") > 400L).count())
    }
  }

  test("partitioned parquet sink: lang=... directories, filters become PartitionFilters (no data read from other partitions)") {
    withScratch("part") { dir =>
      Tables.documents(spark, Sf).write.partitionBy("lang").parquet(dir)
      // layout: one directory per lang value
      val langDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(langDirs.forall(_.startsWith("lang=")), langDirs.mkString(","))
      val back = spark.read.parquet(dir)
      val q = back.filter(col("lang") === "en").select(col("doc_id"), col("n_chars"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("lang"),
        s"lang filter must prune partitions at planning time:\n$plan")
      // pruning is semantic, not just cosmetic: counts match the unpartitioned source
      val expected = Tables.documents(spark, Sf).filter(col("lang") === "en").count()
      assert(q.count() === expected)
      // a partition-pruned scan lists only the matching directory
      val files = q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.toString.linesIterator.filter(_.contains("Location"))).mkString
      assert(!files.contains("lang=fr") || expected == 0)
    }
  }

  test("end-to-end materialization: curated mix → md5 shards → partitioned sink → pruned reader") {
    import org.apache.spark.sql.functions.broadcast
    withScratch("trainset") { dir =>
      // The full pipeline a training run consumes: every hygiene gate
      // (training_mix_full), deterministic shard assignment, shard=N/
      // directory layout — then a reader that loads ONE shard with partition
      // pruning, the way shard-parallel data loaders actually read.
      val mix = operators.Sampling.trainingMixFull(spark, Sf)
      val shards = operators.Sampling.shardAssign(spark, Sf)
      val trainSet = mix.join(shards, Seq("doc_id"))
      trainSet.write.partitionBy("shard").parquet(dir)
      val back = spark.read.parquet(dir)
      assert(back.count() === mix.count())
      val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
      assert(shardDirs.nonEmpty && shardDirs.forall(_.startsWith("shard=")))
      // one-shard read prunes to that directory
      val one = back.filter(col("shard") === 3L)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("shard"),
        s"shard filter must prune at planning time:\n$plan")
      val expected = trainSet.filter(col("shard") === 3L).count()
      assert(one.count() === expected)
    }
  }

  test("partitioned sink round-trips the partition column's values") {
    withScratch("part2") { dir =>
      val docs = Tables.documents(spark, Sf)
      docs.write.partitionBy("source").parquet(dir)
      val back = spark.read.parquet(dir)
      assert(docRows(back) === docRows(docs))
    }
  }
}
