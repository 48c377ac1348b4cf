package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.operators.IterCache

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`. Batch lanes only (streaming lanes' memory-sink plan
  * says nothing; use StreamDiag/PlanAudit's micro-batch capture there).
  *
  * Run: sbt "runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"
  * writes <outDir>/<query>_<suffix>.txt for each named query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]")
      sys.exit(2)
    }
    val Array(outDir, suffix, names) = args.take(3)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        graft.SparkEntry.ObjAggFallbackThreshold)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      // scoped: a later lane's plan must not show this lane's cached
      // substrate as an InMemoryRelation
      val txt = IterCache.scope(graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
