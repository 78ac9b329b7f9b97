package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans and counters of a traced run, all taken from outside the program:
  * spans around calls into its public functions, a `SparkListener`
  * (scheduler and executor), a `StreamingQueryListener` (micro-batch
  * progress) and `CodegenMetrics` deltas. With `enabled` false nothing is
  * recorded and no listener is ever registered.
  *
  * Listener events are attributed to the op whose wall-clock interval holds
  * the job's submission (or the micro-batch's trigger) time; ops run one at
  * a time, so the attribution is exact up to the clock's millisecond. */
final class Trace(enabled: Boolean) {
  import Trace._

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val exec = new ExecListener
  private val streams = new StreamListener
  private val codegenDeltas = ArrayBuffer.empty[(Int, Boolean, Long, Long)]
  var attached = false

  /** Runs `f` inside a span named `name`; `iter` -1 inherits the parent's. */
  def span[T](name: String, iter: Int)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.getOrElse(-1)
      val it = if (iter >= 0 || parent < 0) iter else spans(parent).iter
      val id = spans.size
      spans += Span(id, parent, name, it, System.nanoTime(), 0L)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  def durations(name: String): Seq[Double] =
    spans.toSeq.filter(_.name == name).map(s => (s.end - s.start) / 1e9)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(streams)
    attached = true
  }

  def codegenIteration(iter: Int, traced: Boolean, before: (Long, Long)): Unit = {
    val (c, t) = codegen()
    codegenDeltas += ((iter, traced, c - before._1, t - before._2))
  }

  /** Per-layer metrics, per traced warm iteration (mean over them). Call
    * after the session stopped, which drains the listener buses. */
  def layers(ops: Seq[Harness.OpTime], queries: Seq[String]): Seq[(String, Double)] = {
    val tracedOps = ops.filter(o => o.traced && o.iter > 0)
    val iters = tracedOps.map(_.iter).distinct.size.max(1).toDouble
    def opOf(ms: Long): Option[Harness.OpTime] =
      tracedOps.find(o => o.startMs - 1 <= ms && ms <= o.endMs + 1)
    val jobs = exec.jobs.toSeq.flatMap { case (job, ms) => opOf(ms).map(job -> _) }.toMap
    val stageJob = exec.stageJob.toMap
    def inScope(stage: Int) = stageJob.get(stage).exists(jobs.contains)
    val tasks = exec.tasks.toSeq.filter(t => inScope(t.stage))
    val runS = tasks.map(_.runMs).sum / 1e3
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    val mb = (1 << 20).toDouble
    val batches = streams.progress.toSeq.filter(p => opOf(p.startMs).isDefined)
    def perIter(v: Double) = v / iters
    val cg = codegenDeltas.toSeq
    val warmCg = cg.filter(c => c._2 && c._1 > 0)
    def warmPipeline(stage: String) =
      median(tracedOps.filter(_.name == stage).map(_.secs))
    val tracedIterIds = tracedOps.map(_.iter).toSet
    def tracedSpanSum(name: String) =
      spans.toSeq.filter(s => s.name == name && tracedIterIds(s.iter))
        .map(s => (s.end - s.start) / 1e9).sum
    val perQuery = queries.flatMap { q =>
      val short = q.takeWhile(_ != '_')
      val untracedWarm = ops.filter(o => o.name == q && o.iter >= Harness.WarmFrom && !o.traced)
      Seq(s"$short.wall_s" -> median(untracedWarm.map(_.secs)),
        s"$short.jobs" -> perIter(jobs.values.count(_.name == q).toDouble))
    }
    Seq(
      "pipeline.etl_s" -> warmPipeline("etl"),
      "pipeline.eda_s" -> warmPipeline("eda"),
      "pipeline.model_s" -> warmPipeline("model"),
      "ops.construct_s" -> perIter(tracedSpanSum("ops.construct")),
      "ops.plan_s" -> perIter(tracedSpanSum("ops.plan")),
      "ops.exec_s" -> perIter(tracedSpanSum("ops.exec")),
      "exec.jobs" -> perIter(jobs.size.toDouble),
      "exec.stages" -> perIter(exec.stages.count(inScope).toDouble),
      "exec.tasks" -> perIter(tasks.size.toDouble),
      "exec.task_run_s" -> perIter(runS),
      "exec.task_cpu_s" -> perIter(cpuS),
      "exec.task_wait_ratio" -> (if (runS > 0) 1.0 - cpuS / runS else 0.0),
      "exec.gc_s" -> perIter(tasks.map(_.gcMs).sum / 1e3),
      "exec.shuffle_write_mb" -> perIter(tasks.map(_.shuffleWrite).sum / mb),
      "exec.spill_mb" -> perIter(tasks.map(_.spill).sum / mb),
      "exec.output_mb" -> perIter(tasks.map(_.output).sum / mb),
      "streaming.batches" -> perIter(batches.size.toDouble),
      "streaming.trigger_ms" -> perIter(batches.map(_.d("triggerExecution")).sum),
      "streaming.add_batch_ms" -> perIter(batches.map(_.d("addBatch")).sum),
      "streaming.planning_ms" -> perIter(batches.map(_.d("queryPlanning")).sum),
      "streaming.wal_commit_ms" -> perIter(batches.map(_.d("walCommit")).sum),
      "streaming.state_commit_ms" -> perIter(batches.map(_.stateCommitMs).sum.toDouble),
      "streaming.state_rows" -> perIter(batches.map(_.stateRows).sum.toDouble),
      "codegen.cold_classes" -> cg.filter(_._1 == 0).map(_._3).sum.toDouble,
      "codegen.cold_compile_s" -> cg.filter(_._1 == 0).map(_._4).sum / 1e9,
      "codegen.classes" -> (if (warmCg.isEmpty) 0.0 else warmCg.map(_._3).sum.toDouble / warmCg.size),
      "codegen.compile_s" -> (if (warmCg.isEmpty) 0.0 else warmCg.map(_._4).sum / 1e9 / warmCg.size)
    ) ++ perQuery
  }

  /** Every span as one JSON line, times relative to the run's start; self
    * time is the duration minus the time its child spans cover. */
  def writeSpans(path: Path): Unit = if (enabled) {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    val lines = spans.map { s =>
      json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "iter" -> s.iter,
        "start_ns" -> (s.start - t0), "end_ns" -> (s.end - t0),
        "self_ns" -> (s.end - s.start - childNs.getOrElse(s.id, 0L))))
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, iter: Int, start: Long, end: Long)
  final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, output: Long)
  final case class Progress(startMs: Long, durations: Map[String, Long],
      stateCommitMs: Long, stateRows: Long) {
    def d(key: String): Double = durations.getOrElse(key, 0L).toDouble
  }

  final class ExecListener extends SparkListener {
    val jobs = ArrayBuffer.empty[(Int, Long)]
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    val stages = ArrayBuffer.empty[Int]
    val tasks = ArrayBuffer.empty[TaskRec]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += e.jobId -> e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  final class StreamListener extends StreamingQueryListener {
    val progress = ArrayBuffer.empty[Progress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numRowsUpdated).sum)
    }
  }

  /** (classes compiled, compile nanoseconds) so far in this JVM. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def loadAverage(): Double =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** Copies a flat directory of input files; each copy gets a fresh mtime. */
  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(f => Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root))
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: Path, v: Any): Unit = json.writeValue(path.toFile, v)
}
