package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counts of a traced run, kept in memory.
  *
  * A span is opened and closed by the harness around each call into the
  * program. Spark's events are attributed to a span by the job group the
  * harness set (jobs, stages, tasks) or, for events that carry no group
  * (block updates, query executions, codegen), by the span open when the
  * event was handled; the harness drains the listener bus at every span
  * boundary so that the two agree.
  */
object Tracer {
  final case class Span(id: String, parent: String, start: Long, var end: Long)
}

class Tracer {
  import Tracer.Span

  final class Counts {
    var jobs, stages, tasks = 0L
    var delayMs, runMs, cpuNs, gcMs = 0L
    var inputBytes, inputRows, shuffleReadBytes, shuffleWriteBytes,
      spillBytes = 0L
    var executions, analysisMs, optimizationMs, planningMs = 0L
    var compiles, compileNs = 0L
    var blocksPut, cachedPeakBytes = 0L
    def json: Seq[(String, String)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "scheduler_delay_ms" -> delayMs, "task_run_ms" -> runMs,
      "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
      "input_rows" -> inputRows, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "executions" -> executions, "analysis_ms" -> analysisMs,
      "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
      "compiles" -> compiles, "compile_ns" -> compileNs,
      "blocks_put" -> blocksPut, "cached_peak_bytes" -> cachedPeakBytes)
      .filter(_._2 != 0).map { case (k, v) => k -> v.toString }
  }

  private val counts = mutable.HashMap[String, Counts]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(String, Long, Long)]()
  private val stageKey = mutable.HashMap[Int, String]()
  private val liveBlocks = mutable.HashMap[String, Long]()
  @volatile private var current = ""

  private def c(key: String): Counts = synchronized(counts.getOrElseUpdate(key, new Counts))
  private def codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def begin(id: String, parent: String, start: Long = System.nanoTime()): Unit = synchronized {
    val (n, ns) = codegen
    open.push((current, n, ns))
    spans += Span(id, parent, start, 0L)
    current = id
  }

  def end(id: String): Unit = synchronized {
    val (prev, n0, ns0) = open.pop()
    val (n, ns) = codegen
    // nested spans are closed first, so this span's codegen excludes theirs
    val k = c(id)
    k.compiles += n - n0 - spans.filter(_.parent == id).map(s => c(s.id).compiles).sum
    k.compileNs += ns - ns0 - spans.filter(_.parent == id).map(s => c(s.id).compileNs).sum
    spans.findLast(_.id == id).foreach(_.end = System.nanoTime())
    current = prev
  }

  /** A span that ended now and was measured elsewhere. */
  def span(id: String, parent: String, seconds: Double): Unit = synchronized {
    val t = System.nanoTime()
    spans += Span(id, parent, t - (seconds * 1e9).toLong, t)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val key = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(current)
      e.stageIds.foreach(stageKey(_) = key)
      c(key).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(c(stageKey.getOrElse(e.stageInfo.stageId, current)).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val k = c(stageKey.getOrElse(e.stageId, current))
      k.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        k.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.inputBytes += m.inputMetrics.bytesRead
        k.inputRows += m.inputMetrics.recordsRead
        k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val k = c(current)
        if (b.storageLevel.isValid) {
          k.blocksPut += 1
          liveBlocks(b.blockId.name) = b.memSize + b.diskSize
        } else liveBlocks.remove(b.blockId.name)
        k.cachedPeakBytes = math.max(k.cachedPeakBytes, liveBlocks.values.sum)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized {
      val k = c(current)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      k.executions += 1
      k.analysisMs += ms("analysis")
      k.optimizationMs += ms("optimization")
      k.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Per-layer metrics: each is computed per pass and the median over
    * passes reported, like `wall_s`; setup metrics are per run. */
  def layers(execs: Seq[Harness.Exec], passWall: Seq[Double], write: Boolean,
      sessionS: Double, warmupS: Double, layoutS: Seq[Double]): Seq[(String, Double)] =
    synchronized {
      val perPass = passWall.indices.map { i =>
        val p = i + 1
        val es = execs.filter(_.pass == p)
        val b = es.map(e => c(s"${e.name}#$p/build"))
        val all = b ++ es.map(e => c(s"${e.name}#$p/action"))
        def sum(f: Counts => Long, in: Seq[Counts] = all) = in.map(f).sum.toDouble
        val mb = 1048576.0
        val runS = sum(_.runMs) / 1e3
        val buildS = es.map(_.buildS).sum
        Seq(
          "queries.build_s" -> buildS,
          "queries.build_jobs" -> sum(_.jobs, b),
          "queries.build_share" -> buildS / passWall(i),
          "catalyst.analysis_s" -> sum(_.analysisMs) / 1e3,
          "catalyst.optimization_s" -> sum(_.optimizationMs) / 1e3,
          "catalyst.planning_s" -> sum(_.planningMs) / 1e3,
          "catalyst.executions" -> sum(_.executions),
          "codegen.compiles" -> sum(_.compiles),
          "codegen.compile_s" -> sum(_.compileNs) / 1e9,
          "scheduler.jobs" -> sum(_.jobs),
          "scheduler.stages" -> sum(_.stages),
          "scheduler.tasks" -> sum(_.tasks),
          "scheduler.tasks_per_stage" -> sum(_.tasks) / math.max(1.0, sum(_.stages)),
          "scheduler.delay_s" -> sum(_.delayMs) / 1e3,
          "exec.task_run_s" -> runS,
          "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
          "exec.core_util" -> runS / (passWall(i) * Harness.Cores),
          "exec.gc_s" -> sum(_.gcMs) / 1e3,
          "exec.input_mb" -> sum(_.inputBytes) / mb,
          "exec.input_rows" -> sum(_.inputRows),
          "exec.shuffle_read_mb" -> sum(_.shuffleReadBytes) / mb,
          "exec.shuffle_write_mb" -> sum(_.shuffleWriteBytes) / mb,
          "exec.spill_mb" -> sum(_.spillBytes) / mb,
          "storage.blocks_put" -> sum(_.blocksPut),
          "storage.cached_mb_peak" -> all.map(_.cachedPeakBytes).maxOption.getOrElse(0L) / mb,
          "sink.write_s" -> (if (write) es.map(e => e.totalS - e.buildS).sum else 0.0),
          "sink.output_mb" -> es.map(_.sinkBytes).sum / mb,
          "sink.files" -> es.map(_.sinkFiles).sum.toDouble,
          "trace.wall_s" -> passWall(i))
      }
      Seq(
        "setup.session_s" -> sessionS,
        "setup.warmup_s" -> warmupS,
        "setup.layout_s" -> Harness.median(layoutS)) ++
        perPass.head.map(_._1).map { k =>
          k -> Harness.median(perPass.map(_.find(_._1 == k).get._2))
        }
    }

  /** Every span with its self time (its duration less the time its
    * children cover; children never overlap) and its own counts. */
  def spansJson(): String = synchronized {
    Json.arr(spans.map { s =>
      val dur = (s.end - s.start) / 1e9
      val kids = spans.filter(_.parent == s.id).map(k => (k.end - k.start) / 1e9).sum
      Json.obj(Seq(
        "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "duration_s" -> Json.num(dur), "self_s" -> Json.num(dur - kids)) ++
        counts.get(s.id).map(_.json).getOrElse(Nil))
    })
  }
}
