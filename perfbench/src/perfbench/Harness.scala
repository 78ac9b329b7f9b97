package perfbench

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.functions.{ArrayMath, BpeOps, JaroWinklerSim, Lsh, Shingles, TextHash}
import graft.pipeline.Walmart
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark: one workload in one JVM.
  *
  *   Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cpus>
  *           <query,query,...|-> <result.json>
  *
  * Set-up is timed once, from entering `main` to a ready session, so it is
  * the cold set-up a one-shot job pays. Iterations then run back to back
  * until `seconds` is spent: iteration 0 is the cold one, iteration 1 is
  * warm-up (the JIT is still compiling the hot paths), the rest are warm,
  * and there are always at least three warm ones. Every iteration reads a fresh copy
  * of `dataDir` (new path and mtime, so the in-session quantile and model
  * memos cannot serve it from an earlier iteration) and clears the cache
  * between ops, outside the timer. An op is one registry query
  * (construction plus a noop sink) or one stage of the Walmart DAG.
  *
  * With trace 1, iteration 2 is a further warm-up and the later warm
  * iterations alternate traced, untraced, untraced, traced (blocks of four,
  * so a steady warm-up trend cancels out of the tracing overhead). The
  * listeners of [[Trace]] are attached once, before iteration 3, and only
  * events inside traced ops are counted; each query in a traced iteration
  * is split into construction, planning and execution. The final
  * iteration's results are written under `workDir/check` for the output
  * check. The metrics go to `result.json`: the end-to-end ones always, the
  * per-layer ones in traced runs. */
object Harness {

  final case class OpTime(iter: Int, name: String, secs: Double, ok: Boolean,
      traced: Boolean, startMs: Long, endMs: Long)

  /** One unit of timed work: `in` is the iteration's input copy, `out` its
    * output directory; returns the frame to check, if any. */
  final case class Op(name: String, run: (String, String, Boolean) => Option[DataFrame])

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val Array(workload, dataDir, workDir, secondsArg, traceArg, cpusArg,
      queriesArg, resultPath) = args
    val (seconds, traced, cpus) = (secondsArg.toDouble, traceArg == "1", cpusArg.toInt)
    val queries = if (queriesArg == "-") Seq.empty[String] else queriesArg.split(",").toSeq
    val work = Paths.get(workDir)
    val trace = new Trace(traced)
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = ArrayBuffer.empty[String]

    // ---- set-up ------------------------------------------------------
    val load1 = Trace.loadAverage()
    if (load1 > cpus / 2.0)
      System.err.println(s"[perfbench] WARNING: 1-min load average $load1 at " +
        s"startup with local[$cpus] requested; timings will include contention")
    val localDir = Files.createDirectories(work.resolve("spark-local")).toString
    val s = trace.span("session.build", -1)(newSession(cpus, localDir))
    trace.span("session.register", -1)(GraftExtensions.register(s))
    trace.span("session.tune", -1)(Tables.tuneVectorBatch(s, dataDir))
    val setupSecs = (System.nanoTime() - mainStart) / 1e9

    // ---- ops -----------------------------------------------------------
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val ops: Seq[Op] =
      if (workload == "walmart_dag") Seq(
        Op("etl", (in, out, _) => { Walmart.runEtl(s, in, out); None }),
        Op("eda", (_, out, _) => { Walmart.runEda(s, out); None }),
        Op("model", (_, out, _) => { Walmart.runModel(s, out); None }))
      else {
        val registry = SparkEntry.queries
        queries.map { q =>
          val fn = registry.getOrElse(q, sys.error(s"unknown query $q"))
          Op(q, (in, _, split) =>
            if (!split) { val df = fn(s, in); noop(df); Some(df) }
            else {
              val df = trace.span("ops.construct", -1)(fn(s, in))
              trace.span("ops.plan", -1)(df.queryExecution.executedPlan)
              trace.span("ops.exec", -1)(noop(df))
              Some(df)
            })
        }
      }

    // ---- measurement window --------------------------------------------
    val times = ArrayBuffer.empty[OpTime]
    val iterSecs = ArrayBuffer.empty[(Double, Boolean)]
    var lastFrames = Seq.empty[(String, DataFrame)]
    var lastIterDir: Path = null
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    var k = 0
    var more = true
    while (more) {
      val traceThis = traced && k >= BlocksFrom && Set(0, 3)((k - BlocksFrom) % 4)
      if (traceThis && !trace.attached) trace.attach(s)
      val iterDir = work.resolve(s"iter$k")
      val in = iterDir.resolve("in")
      Trace.copyTree(Paths.get(dataDir), in)
      val codegen0 = Trace.codegen()
      val frames = ArrayBuffer.empty[(String, DataFrame)]
      val itSecs = trace.span("iteration", k) {
        ops.map { op =>
          val t0 = System.nanoTime()
          val m0 = System.currentTimeMillis()
          val ok = try {
            trace.span(op.name, k) {
              op.run(in.toString, iterDir.resolve("out").toString, traceThis)
            }.foreach(df => frames += op.name -> df)
            true
          } catch { case e: Throwable =>
            errors += s"${op.name} (iteration $k): ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
            false
          }
          val secs = (System.nanoTime() - t0) / 1e9
          times += OpTime(k, op.name, secs, ok, traceThis, m0, System.currentTimeMillis())
          s.catalog.clearCache()
          secs
        }.sum
      }
      if (traced) trace.codegenIteration(k, traceThis, codegen0)
      iterSecs += itSecs -> traceThis
      if (lastIterDir != null) Trace.deleteTree(lastIterDir)
      lastIterDir = iterDir
      lastFrames = frames.toSeq
      k += 1
      val warm = iterSecs.drop(WarmFrom).map(_._1).toSeq
      val estimate = if (warm.isEmpty) iterSecs.last._1 else Trace.median(warm)
      // a traced run ends only on a whole traced/untraced block
      more = if (traced) k < BlocksFrom + 4 || (k - BlocksFrom) % 4 != 0 ||
          elapsed + 4 * estimate <= seconds
        else k < WarmFrom + MinWarm || elapsed + estimate <= seconds
      more = more && k < 200
    }

    // ---- metrics -------------------------------------------------------
    val warmTimes = times.toSeq.filter(o => o.iter >= WarmFrom && o.ok && !o.traced)
    val warmOps = warmTimes.map(_.secs)
    // the median op: each op's median warm latency, then the median over
    // the ops. One median over all samples would sit in the gap between a
    // slow and a fast op (q76 and q23 differ 5x) and jump with their extremes.
    val opMedians = warmTimes.groupBy(_.name).values.map(ts => Trace.median(ts.map(_.secs))).toSeq
    val endToEnd = Map(
      "setup_s" -> setupSecs,
      "cold_s" -> iterSecs.head._1,
      "warm_s" -> Trace.median(iterSecs.drop(WarmFrom).filterNot(_._2).map(_._1).toSeq),
      "op_p50_s" -> Trace.median(opMedians))
    // op latency at the highest percentile with ten warm samples above it,
    // once that percentile reaches p90 (101 samples); with fewer samples, the
    // slowest warm op
    val (tail, tailPct) = {
      val xs = warmOps.sorted
      val i = if (xs.size >= 101) xs.size - 11 else xs.size - 1
      if (xs.isEmpty) (0.0, 100.0) else (xs(i), 100.0 * i / math.max(1, xs.size - 1))
    }
    if (traced) {
      for (name <- Seq("session.build", "session.register"))
        layers(name + "_s") = trace.durations(name).head
      // both sides from the first block on, in traced/untraced blocks of four
      def blockWarm(t: Boolean) = iterSecs.drop(BlocksFrom).filter(_._2 == t).map(_._1).toSeq
      layers("trace.overhead_s") = Trace.median(blockWarm(true)) - Trace.median(blockWarm(false))
      layers("op_tail_s") = tail
      // the kernels' input columns (text, embeddings) exist only in the
      // corpus workload's tables; elsewhere the layer reads 0
      val kernels =
        if (workload == "corpus_dedup") kernelPasses(s, lastIterDir.resolve("in").toString, trace)
        else Kernels.map(_._1 -> 0.0)
      kernels.foreach { case (n, v) => layers(s"functions.${n}_s") = v }
    }

    // ---- outputs for the check (outside every timer) ---------------------
    val checkDir = Files.createDirectories(work.resolve("check"))
    if (workload == "walmart_dag")
      Files.move(lastIterDir.resolve("out"), checkDir.resolve("walmart"))
    else {
      lastFrames.foreach { case (name, df) =>
        try df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
        catch { case e: Throwable =>
          errors += s"$name (check dump): ${e.getClass.getSimpleName}"
        }
      }
      Trace.writeJson(checkDir.resolve("oracle_sql.json"),
        SparkEntry.oracleSql.filter(kv => queries.contains(kv._1)))
    }
    Files.move(lastIterDir.resolve("in"), checkDir.resolve("in"))

    // the run record's conf leaves out what differs between any two runs
    val conf = s.conf.getAll.filter(_._1.startsWith("spark."))
      .filterNot(kv => kv._1.startsWith("spark.app.") || kv._1.contains("id") ||
        kv._1.contains("host") || kv._1.contains("port") || kv._1.contains("dir"))
    s.stop()
    if (traced) {
      layers ++= trace.layers(times.toSeq, queries)
      layers("peak_rss_mb") = Trace.peakRssMb()
    }
    trace.writeSpans(Paths.get(resultPath).resolveSibling("spans.jsonl"))

    val record = Map[String, Any](
      "workload" -> workload, "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cpus]", "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "load1_at_start" -> load1, "spark_conf" -> conf.toSeq.sortBy(_._1).toMap,
      "iterations" -> iterSecs.map { case (v, t) => Map("secs" -> v, "traced" -> t) }.toSeq,
      "op_tail" -> Map("percentile" -> tailPct, "n" -> warmOps.size))
    Trace.writeJson(Paths.get(resultPath), Map[String, Any](
      "ops" -> times.map(t => Map("name" -> t.name, "iter" -> t.iter, "ok" -> t.ok)).toSeq,
      "final_iter" -> (k - 1),
      "errors" -> errors.toSeq,
      "end_to_end" -> endToEnd,
      "layers" -> layers.toMap,
      "record" -> record))
  }

  /** The first warm iteration, the fewest warm iterations of a run, and
    * the first iteration of a traced run's traced/untraced blocks. */
  val WarmFrom = 2
  val MinWarm = 3
  val BlocksFrom = 3

  /** The session `graft.Bench` builds for its board, with scratch space
    * under the run's own directory. */
  def newSession(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The custom Catalyst kernels, each a projection of the corpus's
    * documents (`text`, `tokens`) or embeddings (`embedding`, `codes`). */
  val Kernels: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = {
    val rules = Seq("s" -> "p", "e" -> "r", "a" -> "t", "t" -> "h", "th" -> "e", "sp" -> "a")
    Seq(
      "word_shingles" -> ((d, _) => d.select(Shingles.wordShingles(col("text"), 3))),
      "simhash64" -> ((d, _) => d.select(TextHash.simhash64(col("tokens")))),
      "winnow" -> ((d, _) => d.select(TextHash.winnow(col("text")))),
      "symbol_sum" -> ((d, _) => d.select(BpeOps.symbolSum(col("tokens"), rules))),
      "jaro_winkler" -> ((d, _) => d.select(JaroWinklerSim.jaroWinkler(
        substring(col("text"), 1, 40), substring(col("text"), 41, 40)))),
      "hyperplane_bands" -> ((_, v) => v.select(Lsh.hyperplaneBands(col("embedding"), 8, 8, 64))),
      "cosine" -> ((_, v) => v.select(ArrayMath.cosine(col("embedding"), col("embedding")))),
      "quant_dot" -> ((_, v) => v.select(ArrayMath.quantDot(col("codes"), col("codes")))))
  }

  /** Each of [[Kernels]] as a standalone pass over the corpus's own columns
    * (replicated 10x and cached, so the kernel rather than the scan
    * dominates), noop sink; median of three passes after one warm-up. */
  def kernelPasses(spark: SparkSession, in: String, trace: Trace): Seq[(String, Double)] = {
    val rep = spark.range(10).withColumnRenamed("id", "rep")
    val docs = spark.read.parquet(s"$in/documents.parquet").crossJoin(rep)
      .select(col("text"), split(col("text"), " ").as("tokens")).cache()
    val vecs = spark.read.parquet(s"$in/embeddings.parquet").crossJoin(rep)
      .select(col("embedding"), ArrayMath.int8Codes(col("embedding")).as("codes")).cache()
    docs.count(); vecs.count()
    val out = Kernels.map { case (name, pass) =>
      val df = pass(docs, vecs)
      df.write.mode("overwrite").format("noop").save()
      name -> Trace.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        trace.span(s"functions.$name", -1)(
          df.write.mode("overwrite").format("noop").save())
        (System.nanoTime() - t0) / 1e9
      })
    }
    docs.unpersist(); vecs.unpersist()
    out
  }
}
