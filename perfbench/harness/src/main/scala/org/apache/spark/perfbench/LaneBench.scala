package org.apache.spark.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Lane benchmark: prices registered lanes one at a time, each on its own
  * session, and writes one JSON record per lane sample.
  *
  * Usage:
  * {{{
  *   LaneBench --data DIR --lanes SPEC --seed N --seconds S --trace 0|1
  *             --records FILE
  *   LaneBench --prepare --data DIR --lanes SPEC
  *   LaneBench --list SPEC        (print the lanes SPEC resolves to)
  *   LaneBench --setup-only       (time the session set-up and exit)
  * }}}
  *
  * Pass 0 is the cold pass, the first in the JVM. Pass 1 is untimed: it
  * writes each lane's result to parquet under `dump/` in the working
  * directory for the oracle check, plus `dump/oracle_sql.json`. Warm passes
  * follow until `--seconds` of warm lane time is spent (at least two).
  * The cold pass runs the lanes in registry order: the first lane in a
  * fresh JVM pays the engine's first-query costs, which differ by lane, so
  * a drawn order would move the cold figure with the seed. Every later pass
  * runs the lanes in an order drawn from the seed and the pass number. With `--trace 1`, the cold pass and every other warm pass are
  * traced, so the traced and untraced warm passes of one run give the
  * tracing overhead.
  *
  * `--prepare` runs every lane once, untimed, and exits. Some lanes build
  * replay fixtures on first use under the working directory's `target/`
  * (the program calls that build one-time set-up, not part of any plan), so
  * a prepared working directory gives every timed sample the same fixtures.
  *
  * The package sits under `org.apache.spark` only to reach the listener
  * bus's `waitUntilEmpty`, which is `private[spark]`.
  */
object LaneBench {

  /** The reference word-count lane reads a corpus outside the table dir. */
  val Excluded: Set[String] = Set("wordcount_reference")

  def resolve(spec: String): Seq[String] = {
    val keep = SparkEntry.onlyFilter(Some(spec))
    SparkEntry.registry.map(_.name).filter(n => keep(n) && !Excluded(n))
  }

  private final case class Opts(data: String = "", lanes: String = "",
      seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
      records: String = "")

  def main(args: Array[String]): Unit = args.toList match {
    case "--list" :: spec :: Nil => resolve(spec).foreach(println)
    case "--setup-only" :: Nil =>
      val (spark, setupS) = startSession()
      spark.stop()
      println(Json.obj("setup_s" -> setupS))
    case "--prepare" :: rest => prepare(parse(rest, Opts()))
    case rest => run(parse(rest, Opts()))
  }

  @annotation.tailrec
  private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--lanes" :: v :: t => parse(t, o.copy(lanes = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--records" :: v :: t => parse(t, o.copy(records = v))
    case other => sys.error(s"unknown arguments: ${other.mkString(" ")}")
  }

  /** The session every lane session derives from: the same conf as
    * `graft.Bench`, at `local[cores]` with one shuffle partition per core.
    * Returns it with the seconds from JVM start until it was ready.
    */
  private def startSession(): (SparkSession, Double) = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        SparkEntry.ObjAggFallbackThreshold)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val started = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis - started) / 1000.0)
  }

  private def lanesOf(o: Opts): Seq[String] = {
    require(o.data.nonEmpty && o.lanes.nonEmpty, "--data and --lanes are required")
    require(new File(o.data).isDirectory, s"no table directory ${o.data}")
    val lanes = resolve(o.lanes)
    require(lanes.nonEmpty, s"no lane matches ${o.lanes}")
    lanes
  }

  /** Drops what a lane left cached, so the next lane starts clean. */
  private def cleanUp(spark: SparkSession, s: SparkSession): Unit = {
    s.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SparkSession.clearActiveSession()
  }

  private def prepare(o: Opts): Unit = {
    val lanes = lanesOf(o)
    val (spark, _) = startSession()
    for (lane <- lanes) {
      val s = spark.newSession()
      SparkSession.setActiveSession(s)
      // a lane that fails here fails again in the timed passes, where it counts
      try SparkEntry.queries(lane)(s, o.data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[perfbench] $lane failed: ${e.getMessage}") }
      finally cleanUp(spark, s)
    }
    spark.stop()
  }

  private def run(o: Opts): Unit = {
    require(o.records.nonEmpty, "--records is required")
    val lanes = lanesOf(o)
    val (spark, setupS) = startSession()
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val out = new PrintWriter(o.records, "UTF-8")
    def emit(fields: (String, Any)*): Unit = out.println(Json.obj(fields: _*))
    val tracer = if (o.trace) Some(new Tracer(sc)) else None
    emit("kind" -> "setup", "setup_s" -> setupS, "lanes" -> lanes.size,
      "cpus" -> Runtime.getRuntime.availableProcessors)

    /** One lane sample on a fresh session; returns its wall seconds. */
    def sample(pass: Int, kind: String, lane: String, traced: Boolean,
        sink: (String, DataFrame) => Unit): Double = {
      val s = spark.newSession()
      SparkSession.setActiveSession(s)
      val probe = if (traced) tracer.map(_.begin(s)) else None
      val t0 = System.nanoTime
      val wall0 = System.currentTimeMillis
      var t1 = t0
      var built = wall0
      val err = try {
        val df = fns(lane)(s, o.data)
        t1 = System.nanoTime
        built = System.currentTimeMillis
        sink(lane, df)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val t2 = System.nanoTime
      val wall1 = System.currentTimeMillis
      val layers = probe.map(_.end(built)).getOrElse(Nil)
      cleanUp(spark, s)
      val wall = (t2 - t0) / 1e9
      emit(Seq[(String, Any)]("kind" -> kind, "pass" -> pass, "lane" -> lane,
        "ok" -> err.isEmpty, "error" -> err.orNull, "traced" -> traced,
        "build_s" -> (if (err.isEmpty) (t1 - t0) / 1e9 else 0.0),
        "wall_s" -> wall, "start_ms" -> wall0, "end_ms" -> wall1) ++ layers: _*)
      if (err.nonEmpty) System.err.println(s"[perfbench] $lane failed: ${err.get}")
      wall
    }

    def noop(lane: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def pass(n: Int, kind: String, traced: Boolean,
        sink: (String, DataFrame) => Unit): Double = {
      val order = if (n == 0) lanes else new scala.util.Random(o.seed * 1000003L + n).shuffle(lanes)
      val cpu0 = HostStat.read()
      val total = order.map(l => sample(n, kind, l, traced, sink)).sum
      val (steal, iowait) = HostStat.pct(cpu0, HostStat.read())
      emit("kind" -> "pass", "pass" -> n, "pass_kind" -> kind, "traced" -> traced,
        "wall_s" -> total, "host_steal_pct" -> steal, "host_iowait_pct" -> iowait)
      out.flush()
      total
    }

    pass(0, "cold", o.trace, noop)
    // the untimed pass: it lets the JIT settle before the warm passes and
    // writes each lane's result for the oracle check
    val root = new File("dump").getAbsoluteFile
    root.mkdirs()
    pass(1, "dump", traced = false, (lane, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(new File(root, lane).getPath))
    val oracles = SparkEntry.oracleSql.filter(kv => lanes.contains(kv._1))
      .map { case (k, v) => k -> v.replace("__DUMP__", root.getPath) }
    val w = new PrintWriter(new File(root, "oracle_sql.json"), "UTF-8")
    try w.print(Json.obj(oracles.toSeq.sortBy(_._1): _*)) finally w.close()
    // two warm passes at least: a median over more than one sample per
    // lane, and in a traced run one untraced and one traced pass. The JVM
    // figures are read after the last pass: the full collections they
    // force would slow a pass that followed them.
    var warm = 0.0
    var n = 2
    while (n < 4 || warm < o.seconds) {
      warm += pass(n, "warm", o.trace && n % 2 == 1, noop)
      n += 1
    }
    emit(Seq[(String, Any)]("kind" -> "jvm") ++ Jvm.snapshot(): _*)
    out.close()
    spark.stop()
  }
}
