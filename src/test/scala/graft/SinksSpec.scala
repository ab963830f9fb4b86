package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.io.Sinks

/** File sinks: formatted-text result lines (S3) and CSV (S2/S5). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writeResultText produces reference [page] [score] line format") {
    val top = Seq((4037L, 0.004607174503437372), (15L, 0.0036798701695717694))
      .toDF("id", "rank")
    val dir = Files.createTempDirectory("sink_text").toString
    Sinks.writeResultText(top, s"$dir/out")
    val part = Files.list(Paths.get(s"$dir/out")).iterator().asScala
      .find(_.toString.endsWith(".txt")).get
    val lines = Files.readAllLines(part).asScala.toList
    assert(lines == List(
      "[4037] [0.004607174503437372]",
      "[15] [0.0036798701695717694]"))
  }

  test("csvBase64Href rejects an over-cap frame instead of collecting it") {
    // The href sink is presentation-layer (reference embeds top-100/20
    // tables): a frame past MaxHrefRows must be REFUSED, with the driver
    // fetch bounded at cap+1 rows — not silently truncated, not collected.
    val over = spark.range(Sinks.MaxHrefRows + 1L).toDF("id")
    val err = intercept[IllegalArgumentException] {
      Sinks.csvBase64Href(over, "too_big.csv")
    }
    assert(err.getMessage.contains("writeCsv"))
    // At exactly the cap the sink still works end-to-end.
    val atCap = Seq((1L, "a,b"), (2L, "plain")).toDF("id", "v")
    val href = Sinks.csvBase64Href(atCap.orderBy($"id"), "ok.csv")
    val b64 = "base64,([A-Za-z0-9+/=]+)".r.findFirstMatchIn(href).get.group(1)
    val csv = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
    assert(csv == "id,v\n1,\"a,b\"\n2,plain")
  }

  test("json-lines sink/source round-trips with explicit schema") {
    val dir = Files.createTempDirectory("sink_jsonl").toString
    val docs = Tables.documents(spark, Sf001)
      .select($"doc_id", $"text", $"n_chars")
    docs.write.mode("overwrite").json(s"$dir/docs")
    // Schema imposed at read — never inferred (same rule as the csv scan:
    // inference is a second full pass at 100 TB and can drift types).
    val back = spark.read
      .schema("doc_id LONG, text STRING, n_chars LONG")
      .json(s"$dir/docs")
    assert(back.count() === docs.count())
    val a = docs.orderBy("doc_id").collect()
    val b = back.orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("partitioned parquet sink prunes partitions at the scan") {
    val dir = Files.createTempDirectory("sink_part").toString
    val docs = Tables.documents(spark, Sf01)
      .select($"doc_id", $"text", $"lang")
    Sinks.writePartitioned(docs, s"$dir/docs", "lang")
    // Hive layout on disk: one directory per language.
    val subdirs = Files.list(Paths.get(s"$dir/docs")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSet
    val langs = docs.select("lang").distinct().as[String].collect().toSet
    assert(subdirs == langs.map(l => s"lang=$l"))

    val pruned = Sinks.readPruned(spark, s"$dir/docs", "lang", "en")
    // Correctness: identical rows to the filtered original.
    assert(pruned.count() === docs.filter($"lang" === "en").count())
    // Plan: the predicate must appear as a PartitionFilter (directory-level
    // pruning before any file opens), not merely a pushed data filter.
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      s"partition filter missing from plan:\n$plan")
  }

  test("schema evolution: mergeSchema unions batches with differing columns") {
    // Corpus batches gain columns over time (a new quality score, a new
    // provenance field); mergeSchema reads old+new together with nulls
    // where the column predates the batch — the layout-evolution story a
    // long-lived 100 TB corpus needs.
    val dir = Files.createTempDirectory("sink_evolve").toString
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs/batch=1")
    Seq((2L, "beta", 0.9)).toDF("doc_id", "text", "quality")
      .write.parquet(s"$dir/docs/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/docs")
    assert(merged.columns.toSet == Set("doc_id", "text", "quality", "batch"))
    val rows = merged.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), Option(r.get(r.fieldIndex("quality")))))
    assert(rows.toSeq == Seq((1L, None), (2L, Some(0.9))))
  }

  test("orc sink/source round-trips with explicit schema") {
    val dir = Files.createTempDirectory("sink_orc").toString
    val docs = Tables.documents(spark, Sf001)
      .select($"doc_id", $"text", $"n_chars")
    docs.write.mode("overwrite").orc(s"$dir/docs")
    val back = spark.read
      .schema("doc_id LONG, text STRING, n_chars LONG")
      .orc(s"$dir/docs")
    assert(back.count() === docs.count())
    assert(back.orderBy("doc_id").collect()
      .sameElements(docs.orderBy("doc_id").collect()))
  }

  test("writeCsv round-trips with header") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dir = Files.createTempDirectory("sink_csv").toString
    Sinks.writeCsv(df, s"$dir/out", single = true)
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.count() == 2)
  }

  test("trainingShards: deterministic layout, sorted runs, honest manifest") {
    val dir = Files.createTempDirectory("sink_shards").toString
    val docs = Tables.documents(spark, Sf001).select($"doc_id", $"text")
    val manifest = Sinks.trainingShards(docs, s"$dir/out", "doc_id", shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // Every row landed in its hash-assigned shard, and nothing was lost.
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == docs.count())
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    assert(back.filter(
      col("shard") =!= pmod(xxhash64(col("doc_id")), lit(4L))).count() == 0)

    // Manifest counts match the written data per shard.
    val counts = back.groupBy("shard").count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(manifest.view.mapValues(_._1).toMap == counts)

    // Each shard file is one sorted run by the key.
    val shard0 = spark.read.parquet(s"$dir/out/shard=0")
      .select("doc_id").collect().map(_.getLong(0))
    assert(shard0.sameElements(shard0.sorted))

    // Re-export is byte-stable: same manifest on a second run.
    val again = Sinks.trainingShards(docs, s"$dir/out2", "doc_id", shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == manifest)
  }

  test("trainingShards: empty input yields an empty manifest, not a crash") {
    val dir = Files.createTempDirectory("sink_shards_empty").toString
    val docs = Tables.documents(spark, Sf001)
      .select($"doc_id", $"text").filter($"doc_id" < 0)
    val manifest = Sinks.trainingShards(docs, s"$dir/out", "doc_id", shards = 4)
    assert(manifest.count() == 0)
  }

  test("trainingShards: rejects an input that already has a shard column") {
    val dir = Files.createTempDirectory("sink_shards_col").toString
    val docs = Tables.documents(spark, Sf001)
      .select($"doc_id", $"text").withColumn("shard", $"doc_id")
    intercept[IllegalArgumentException] {
      Sinks.trainingShards(docs, s"$dir/out", "doc_id", shards = 4)
    }
  }
}
