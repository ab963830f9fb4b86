package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: restrict to the named queries (dev spot-check;
    // the driver always passes exactly <sfDir> <outDir> → full run).
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Not Bench.session: this session keeps Spark's default
    // sort-based-aggregation fallback threshold, so that path stays
    // covered by the oracle compare.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Query helpers cache intermediates (shingle indexes, edge sets);
      // release them between queries so 80+ runs in one session don't
      // accumulate dead cached partitions. clearCache only reaches
      // CacheManager entries — raw persistent RDDs (GraphX graphs,
      // checkpoint backings of iterative results) need the explicit sweep.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Scale-regime guards: an oracle that is exact only below a documented
    // data size (the sketch rollups) is probed against the ACTUAL data; a
    // violated guard WITHDRAWS the oracle — loudly — instead of
    // hash-failing on a scale bump (r8 ADVICE). Note the precise effect:
    // a missing key makes the driver record `no_oracle` (rows_match=null),
    // i.e. the entry is UNCHECKED that run, not rows-only — the driver has
    // no rows-only compare mode, and any sentinel SQL would hash-FAIL.
    // The parquet dump still happens, so the row count is inspectable.
    val demoted = SparkEntry.oracleRegimeGuards.flatMap { case (name, probe) =>
      try probe(spark, sfDir).map { reason =>
        System.err.println(
          s"[verify] $name oracle WITHDRAWN (driver will record no_oracle; " +
            s"entry unchecked this run): $reason")
        name
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name regime probe failed (${e.getMessage}); keeping oracle")
        None
      }
    }.toSet
    val json = (SparkEntry.oracleSql -- demoted)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
