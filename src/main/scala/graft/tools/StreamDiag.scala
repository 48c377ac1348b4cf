package graft.tools

import org.apache.spark.sql.SparkSession
import graft.operators.IterCache

/** Streaming-lane attribution instrument (round 13). Runs one
  * registered streaming lane SPARK_GRAFT_DIAG_RUNS times in a single
  * JVM and prints, per run, the wall seconds plus every micro-batch's
  * FULL progress JSON (`StreamingQueryProgress.json` — the
  * `durationMs` breakdown: addBatch / walCommit / commitOffsets /
  * getBatch / queryPlanning / triggerExecution, and the state
  * operators' commitTimeMs). This is the instrument the r12 verdict
  * asked for: per-batch wall alone (the BatchProgress capture) showed
  * the tier 2.4–2.65× over its floors but could not say WHERE inside
  * a batch the time went, nor whether cost grows run-over-run inside
  * one JVM (the bench's warm lane re-runs every lane 3× in the same
  * session and r13's isolation repro measured warm SLOWER than cold).
  */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = sys.env.getOrElse("SPARK_GRAFT_DIAG_Q", "stream_outer_join")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val runs = sys.env.get("SPARK_GRAFT_DIAG_RUNS").map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val full = sys.env.get("SPARK_GRAFT_DIAG_FULL_JSON").exists(_.nonEmpty)
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // extra confs under test, e.g.
    // SPARK_GRAFT_DIAG_CONF='spark.sql.streaming.stateStore.maintenanceInterval=3600s'
    val spark = sys.env.getOrElse("SPARK_GRAFT_DIAG_CONF", "")
      .split(';').map(_.trim).filter(_.contains('='))
      .foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // A/B inside one warmed JVM: SPARK_GRAFT_DIAG_AB='k=v;k=v' applies
    // the listed DYNAMIC confs from run AB_AT onward (default: halfway)
    val ab = sys.env.getOrElse("SPARK_GRAFT_DIAG_AB", "")
      .split(';').map(_.trim).filter(_.contains('=')).toSeq
    val abAt = sys.env.get("SPARK_GRAFT_DIAG_AB_AT").map(_.toInt)
      .getOrElse(runs / 2 + 1)
    (1 to runs).foreach { i =>
      if (ab.nonEmpty && i == abAt) ab.foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"AB: set $k=$v from run $i")
      }
      qs.foreach { q =>
        graft.streaming.StreamingQueries.captureProgressJson = true
        val b = graft.Bench.jvmCosts()
        val t0 = System.nanoTime()
        try IterCache.scope(force(graft.SparkEntry.queries(q)(spark, sfDir)))
        finally graft.streaming.StreamingQueries.captureProgressJson = false
        val sec = (System.nanoTime() - t0) / 1e9
        val a = graft.Bench.jvmCosts()
        val ps = graft.streaming.StreamingQueries.lastRunProgressJson
        val batchSum = ps.flatMap(
          """"batchDuration":(\d+)""".r.findFirstMatchIn(_).map(_.group(1).toLong)).sum
        println(f"RUN $i q=$q wall=$sec%.3f s batch_sum=${batchSum / 1000.0}%.3f " +
          f"jit_ms=${a.jitMs - b.jitMs} gc_ms=${a.gcMs - b.gcMs} " +
          f"codegen=${a.codegenCompiles - b.codegenCompiles} " +
          f"classes=${a.classesLoaded - b.classesLoaded} heap_mb=${a.heapUsedMb} " +
          f"codecache_mb=${a.codeCacheMb}")
        if (full) ps.foreach(j => println(s"  $j"))
      }
    }
    spark.stop()
  }
}
