package org.apache.spark.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the records: strings, numbers, booleans, null,
  * sequences and string-keyed maps.
  */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Host CPU shares from the aggregate line of /proc/stat. */
object HostStat {
  /** user nice system idle iowait irq softirq steal, in ticks. */
  def read(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  /** (steal %, iowait %) of the ticks between two reads. */
  def pct(a: Array[Long], b: Array[Long]): (Double, Double) =
    if (a.length < 8 || b.length < 8) (Double.NaN, Double.NaN)
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = math.max(d.sum, 1L).toDouble
      (100.0 * d(7) / total, 100.0 * d(4) / total)
    }
}

/** JVM-wide figures read at the end of the measured passes. */
object Jvm {
  private val Mb = 1024.0 * 1024.0

  /** Peak resident set size of this process, from /proc/self/status. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** Heap in use after full collections: the memory the process retains.
    * Spark's ContextCleaner frees the broadcast and shuffle blocks of
    * dropped plans only after a collection has enqueued their references,
    * so the cleaner gets time between collections.
    */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  }

  def snapshot(): Seq[(String, Any)] = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val codeCache = pools.filter(p => p.getType == MemoryType.NON_HEAP &&
      p.getName.toLowerCase.contains("code")).map(_.getUsage.getUsed).sum
    val heapAfterGc = pools.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    Seq(
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "code_cache_mb" -> codeCache / Mb,
      "heap_after_gc_mb" -> heapAfterGc / Mb,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0,
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb())
  }
}
