package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.operators.IterCache
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // hold the full suite's generated classes (see graft.Bench)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // same execution mode as Bench (SparkEntry.ObjAggFallbackThreshold)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        SparkEntry.ObjAggFallbackThreshold)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional subset (SparkEntry.onlyFilter, shared with Bench): lets a
    // local iteration dump one new query in seconds instead of the full
    // registry; the driver sets no filter and always gets the full dump
    val onlyFilter = SparkEntry.onlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.filter(kv => onlyFilter(kv._1)).foreach { case (name, fn) =>
      try IterCache.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run: a regressed query
        // must surface as missing, not silently pass on old results
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(dir)
        }
      }
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
    // PARTIAL (self-referential) oracles: a query whose candidate set is
    // not SQL-replayable (float-sign LSH buckets, iterative centroids)
    // can still have its VALUES verified — the oracle SQL reads the ids
    // this dump just wrote (`__DUMP__/<name>/*.parquet`) and recomputes
    // the exact per-id values from the corpus tables in DuckDB. The
    // token is substituted here because only Verify knows the outDir.
    val dumpRoot = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__DUMP__", dumpRoot))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty)
      System.err.println(s"[verify] failed: ${failed.sorted.mkString(",")}")
    spark.stop()
  }
}
