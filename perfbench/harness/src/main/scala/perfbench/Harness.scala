package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.PerfBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark of the program's declared queries.
  *
  * One caller runs one query at a time and waits for its result, on a
  * single `local[4]` session. The program sees only query names and a
  * data directory; every layer is measured from outside, by timing the
  * calls into public functions (the `ensure*` layout preparations,
  * `SparkEntry.queries(name)(spark, dir)`, and `count()` or
  * `write.parquet`) and, in a traced run, through Spark's listeners.
  *
  * Arguments (all required unless noted):
  *   --workload NAME --seed N --seconds S --trace 0|1
  *   --mode count|write   how each result is consumed
  *   --data DIR           the tables the timed queries read
  *   --warm-data DIR      the tables the warm-up pass reads
  *   --layouts a,b        `ensure*` preparations (may be empty)
  *   --spec FILE          lines of "query expected_rows"
  *   --work DIR           scratch directory (layouts, outputs)
  *   --out FILE           where the result JSON goes
  * or `--dump-oracle FILE q1,q2,...` to write the queries' oracle SQL.
  */
object Harness {
  val Cores = 4
  /** Setup is repeated this many times (layouts only) and its median
    * reported, so one slow repetition does not move `setup_s`. */
  val SetupReps = 3
  val MinPasses = 3

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      write: Boolean, data: String, warmData: String,
      layouts: Seq[String], queries: Seq[(String, Long)],
      work: String, out: String)

  /** Layout preparations a workload may name; each is memoized by the
    * program per (application, data dir), so a fresh session redoes it. */
  val Layouts: Map[String, (SparkSession, String) => Any] = Map(
    "ensureBucketed" -> graft.queries.JoinQueries.ensureBucketed,
    "ensurePartitionedOrders" -> graft.queries.ScanQueries.ensurePartitionedOrders,
    "ensureEvolvedOrders" -> graft.queries.ScanQueries.ensureEvolvedOrders,
    "ensureLangModel" -> graft.queries.TextQueries.ensureLangModel,
    "ensureEdgeList" -> graft.queries.AnalyticsQueries.ensureEdgeList,
    "ensureAffinityGraph" -> graft.queries.GraphMediaQueries.ensureAffinityGraph)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      val names = args(2).split(',').toSeq
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(args(1)), Json.obj(
        names.filter(sql.contains).map(n => n -> Json.str(sql(n)))))
      return
    }
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing argument $k"))
    val conf = Conf(
      workload = arg("--workload"), seed = arg("--seed").toLong,
      seconds = arg("--seconds").toDouble, trace = arg("--trace") == "1",
      write = arg("--mode") == "write", data = arg("--data"),
      warmData = arg("--warm-data"),
      layouts = arg("--layouts").split(',').filter(_.nonEmpty).toSeq,
      queries = scala.io.Source.fromFile(arg("--spec")).getLines()
        .map(_.trim).filter(_.nonEmpty).map { l =>
          val Array(n, e) = l.split("\\s+"); n -> e.toLong
        }.toSeq,
      work = arg("--work"), out = arg("--out"))
    val unknown = conf.queries.map(_._1).filterNot(graft.SparkEntry.queries.contains) ++
      conf.layouts.filterNot(Layouts.contains)
    if (unknown.nonEmpty) sys.error(s"unknown names: ${unknown.mkString(", ")}")
    Files.writeString(Paths.get(conf.out), new Harness(conf).run())
  }

  /** One timed execution: build + action seconds, and its checked output. */
  final case class Exec(name: String, pass: Int, buildS: Double,
      totalS: Double, rows: Long, ok: Boolean, sinkFiles: Long,
      sinkBytes: Long)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

class Harness(conf: Harness.Conf) {
  import Harness._

  private val entry = graft.SparkEntry.queries
  private val tracer = if (conf.trace) Some(new Tracer) else None
  private var spark: SparkSession = _

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.attach(s))
    s
  }

  /** Runs `body` as the traced phase `key`, draining the listener bus
    * at both ends so that asynchronous events land on the right key. */
  private def phase[T](key: String, parent: String)(body: => T): T = {
    tracer.foreach { t => PerfBus.drain(spark.sparkContext); t.begin(key, parent) }
    spark.sparkContext.setJobGroup(key, key)
    try body
    finally {
      tracer.foreach { t => PerfBus.drain(spark.sparkContext); t.end(key) }
      spark.sparkContext.clearJobGroup()
    }
  }

  private val heap = ManagementFactory.getMemoryMXBean
  private var heapPeak = 0L
  private var gcS = 0.0

  private def execute(name: String, pass: Int, parent: String, data: String): Exec = {
    val id = s"$name#$pass"
    val outDir = s"${conf.work}/out/$name"
    val t0 = now()
    var tb = t0
    var rows = -1L
    var error: Option[Throwable] = None
    phase(id, parent) {
      try {
        val df: DataFrame = phase(s"$id/build", id) { entry(name)(spark, data) }
        tb = now()
        phase(s"$id/action", id) {
          if (conf.write) df.coalesce(1).write.mode("overwrite").parquet(outDir)
          else rows = df.count()
        }
      } catch { case e: Throwable => error = Some(e) }
    }
    val t1 = now()
    if (tb == t0) tb = t1
    var files, bytes = 0L
    if (conf.write && error.isEmpty) {
      val parts = Option(new File(outDir).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      files = parts.size
      bytes = parts.map(_.length).sum
      rows = parts.map(f => footerRows(f.getPath)).sum
    }
    // live heap at a timed query's end, before its caches are dropped
    if (pass > 0) {
      val tg = now()
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      gcS += secs(tg, now())
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new File(outDir))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val expected = conf.queries.find(_._1 == name).get._2
    error.foreach(e => System.err.println(s"perfbench: $id FAILED: $e"))
    if (error.isEmpty && rows != expected)
      System.err.println(s"perfbench: $id returned $rows rows, expected $expected")
    Exec(name, pass, secs(t0, tb), secs(t0, t1), rows,
      error.isEmpty && rows == expected, files, bytes)
  }

  private def footerRows(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  def run(): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // the run span starts with the process, like setup.session
    tracer.foreach(_.begin("run", "",
      now() - (System.currentTimeMillis() - jvmStart) * 1000000L))
    // setup: the session (timed from process start), the workload's
    // layout preparations, then one untimed warm-up pass over its queries
    // so that timed passes do not pay first-use JIT and codegen (on small
    // tables: the generated code is the same, the scan cost is not). Only
    // the layouts repeat, each time on a fresh session because the
    // program memoizes them per application.
    spark = newSession()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    tracer.foreach(_.span("setup.session", "run", sessionS))
    val layoutS = (1 to (if (conf.layouts.isEmpty) 1 else SetupReps)).map { rep =>
      if (rep > 1) { spark.stop(); spark = newSession() }
      val t = now()
      phase(s"setup.layout#$rep", "run") {
        conf.layouts.foreach(l => Layouts(l)(spark, conf.data))
      }
      secs(t, now())
    }
    val names = conf.queries.map(_._1)
    def order(pass: Int) = new Random(conf.seed * 1000003L + pass).shuffle(names)
    val tw = now()
    phase("setup.warmup", "run") { order(0).foreach(execute(_, 0, "setup.warmup", conf.warmData)) }
    val warmupS = secs(tw, now())
    val setupS = sessionS + median(layoutS) + warmupS

    // measurement: whole passes, each in the seed's order; at least three
    // (so that the median pass is not the first, on which the JIT is
    // still compiling), and another only while it is expected to end
    // within the time
    val execs = mutable.ArrayBuffer[Exec]()
    val passWall = mutable.ArrayBuffer[Double]()
    val tStart = now()
    var pass = 0
    while (pass < MinPasses || secs(tStart, now()) + median(passWall.toSeq) <= conf.seconds) {
      pass += 1
      val done = order(pass).map(execute(_, pass, "run", conf.data))
      execs ++= done
      passWall += done.map(_.totalS).sum
    }
    tracer.foreach { t => PerfBus.drain(spark.sparkContext); t.end("run") }
    spark.stop()

    val lat = execs.map(_.totalS).sorted
    // the highest percentile with at least ten samples above it (a run
    // has at least three passes, so twelve samples with four queries)
    val tailIdx = math.max(0, lat.size - 11)
    val failed = execs.count(!_.ok)
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "wall_s" -> median(passWall.toSeq),
      "query_p50_s" -> median(lat.toSeq),
      "query_tail_s" -> lat(tailIdx),
      "heap_live_peak_mb" -> heapPeak / 1048576.0)
    val info = Seq(
      "failed_frac" -> Json.num(failed.toDouble / execs.size),
      "passes" -> pass.toString,
      "gc_s" -> Json.num(gcS),
      "query_tail_pct" -> Json.num(100.0 * (tailIdx + 1) / lat.size),
      "query_samples" -> lat.size.toString,
      "pass_wall_s" -> Json.arr(passWall.map(Json.num)),
      "setup_layout_s" -> Json.arr(layoutS.map(Json.num)))
    val perQuery = names.map { n =>
      val es = execs.filter(_.name == n)
      n -> Json.obj(Seq(
        "median_s" -> Json.num(median(es.map(_.totalS).toSeq)),
        "build_s" -> Json.num(median(es.map(_.buildS).toSeq)),
        "rows" -> es.last.rows.toString,
        "expected" -> conf.queries.find(_._1 == n).get._2.toString,
        "failed" -> es.count(!_.ok).toString))
    }
    val layers = tracer.map { t =>
      t.layers(execs.toSeq, passWall.toSeq, conf.write, sessionS, warmupS, layoutS)
    }
    tracer.foreach(t => Files.writeString(
      Paths.get(conf.out.stripSuffix(".json") + ".spans.json"), t.spansJson()))
    Json.obj(Seq(
      "workload" -> Json.str(conf.workload),
      "seed" -> conf.seed.toString,
      "attempted" -> execs.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(info),
      "queries" -> Json.obj(perQuery)) ++
      layers.map(l => "layers" -> Json.obj(l.map { case (k, v) => k -> Json.num(v) })))
  }
}
