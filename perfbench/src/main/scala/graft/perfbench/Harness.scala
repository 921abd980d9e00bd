package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SessionTuning, SparkEntry}
import graft.operators.WordCount
import graft.sources.IndexStore

/** The benchmark's engine-side driver: one JVM per run, one closed-loop
  * client (this thread), the engine reached only through its public entry
  * points over inputs generated beforehand by `perfbench/gen.py`.
  *
  * {{{
  * Harness --workload W --inputs DIR --work DIR --seconds S --trace 0|1 --out result.json
  * }}}
  *
  * Writes `result.json` (job walls, setup times, host record, outputs to
  * check) and, when tracing, `spans.jsonl` next to it. Derived metrics are
  * computed by `perfbench/run.py`; nothing here decides pass or fail except
  * the byte compare of the word-count output.
  */
object Harness {
  val IndexQueries = Seq("dedup_minhash_stored", "cur_novelty_stored")
  val StreamQuery = "stream_pipeline_samples_ttl"

  final case class Job(query: String, wallS: Double, ok: Boolean, traced: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace, jvmStartMs)
    val wl: Workload = workload match {
      case "wc_corpus" => new WcCorpus(inputs, work)
      case "index_delta" => new BatchQueries(IndexQueries, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Setup, timed from JVM start: session build, then the cold job of
    // every query, IndexStore artifact writes included.
    tracer.record(true)
    val setupSpan = tracer.open("setup", "session", atMs = Some(jvmStartMs.toDouble))
    val spark = tracer.span("session.start", "session")(
      buildSession(cores, s"$work/index", work))
    tracer.attach(spark)
    wl.setup(spark, tracer)
    // warm-up jobs take negative indices: their spans are not measured jobs
    for (k <- 1 to wl.warmJobs) {
      val warm = tracer.span("warm_job", "session")(wl.measure(spark, tracer, -k, traced = trace))
      warm.find(!_.ok).foreach(j => sys.error(s"warm-up job ${j.query} failed: ${j.error}"))
    }
    tracer.drain(spark)
    tracer.close(setupSpan)
    val setupS = (tracer.nowMs - jvmStartMs) / 1000.0
    tracer.detach(spark)
    val indexBytes = dirBytes(new File(s"$work/index"))

    // Closed loop: the next job starts only when the previous one ended,
    // in whole cycles over the workload's queries so every run holds the
    // same mix. In a traced run, whole cycles alternate traced / untraced
    // so the tracing overhead is measured within the same run.
    val jobs = mutable.ArrayBuffer[Job]()
    val loop0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loop0) / 1e9 < seconds || i % wl.cycle != 0 ||
        (trace && i < 2 * wl.cycle)) {
      val traced = trace && (i / wl.cycle) % 2 == 0
      if (traced) tracer.attach(spark)
      jobs ++= wl.measure(spark, tracer, i, traced)
      if (traced) { tracer.drain(spark); tracer.detach(spark) }
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    if (trace) { tracer.attach(spark); wl.kernelSpans(spark, tracer); tracer.drain(spark); tracer.detach(spark) }
    val checks = wl.writeChecks(spark)

    // Retained driver heap, session still alive: collect until the heap
    // stops shrinking, so the ContextCleaner has released what the
    // previous collection made unreachable.
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var heapMb = Double.MaxValue
    var prev = Double.MaxValue
    var rounds = 0
    while (rounds < 8 && (rounds < 2 || heapMb < prev * 0.99)) {
      System.gc()
      Thread.sleep(300)
      prev = heapMb
      heapMb = mem.getHeapMemoryUsage.getUsed / 1e6
      rounds += 1
    }

    val conf = spark.sparkContext.getConf
    val localDir = conf.getOption("spark.local.dir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val shm = new File("/dev/shm")
    val host = Map(
      "nproc" -> cores.toString,
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1e6).round.toString,
      "spark_version" -> spark.version,
      "spark_local_dir" -> localDir,
      "tmpfs_default_free_gib" -> f"${if (shm.isDirectory) shm.getUsableSpace / 1073741824.0 else 0.0}%.2f",
      "master" -> spark.sparkContext.master)
    if (trace) tracer.dump(s"$work/spans.jsonl")
    spark.stop()

    val sb = new StringBuilder("{")
    sb ++= s""""workload":${q(workload)},"setup_s":$setupS,"""
    sb ++= s""""loop_s":$loopS,"heap_retained_mb":$heapMb,"index_bytes":${indexBytes._1},"index_files":${indexBytes._2},"""
    sb ++= s""""input_bytes_per_job":${wl.inputBytesPerJob},"""
    sb ++= "\"jobs\":" + jobs.map(j =>
      s"""{"query":${q(j.query)},"wall_s":${j.wallS},"ok":${j.ok},"traced":${j.traced},"error":${q(j.error)}}""")
      .mkString("[", ",", "]") + ","
    sb ++= "\"checks\":" + checks.map { case (k, p) => s"""{"query":${q(k)},"path":${q(p)}}""" }
      .mkString("[", ",", "]") + ","
    sb ++= "\"oracle_sql\":" + checks.map(_._1).distinct.map(k =>
      q(k) + ":" + q(SparkEntry.oracleSql(k))).mkString("{", ",", "}") + ","
    sb ++= "\"host\":" + host.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    sb ++= "}"
    Files.writeString(Paths.get(opt("out")), sb.toString + "\n")
  }

  /** One shuffle partition per core, as graft.Verify and graft.BenchStream
    * configure their sessions. */
  def buildSession(cores: Int, indexDir: String, work: String): SparkSession = {
    val spark = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config(IndexStore.DirKey, indexDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.install(spark)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def dirBytes(d: File): (Long, Int) =
    if (!d.exists) (0L, 0)
    else if (d.isFile) (d.length, 1)
    else d.listFiles.map(dirBytes).foldLeft((0L, 0)) { case ((a, b), (c, e)) => (a + c, b + e) }

  // ---- workloads --------------------------------------------------------

  trait Workload {
    def setup(spark: SparkSession, t: Tracer): Unit
    /** Jobs per cycle of the closed loop. */
    def cycle: Int = 1
    /** Jobs run after the cold ones, within setup, until the JIT settles. */
    def warmJobs: Int = 0
    def measure(spark: SparkSession, t: Tracer, i: Int, traced: Boolean): Seq[Job]
    def kernelSpans(spark: SparkSession, t: Tracer): Unit = ()
    def writeChecks(spark: SparkSession): Seq[(String, String)]
    def inputBytesPerJob: Double
  }

  private def attempt(query: String, traced: Boolean)(f: => Boolean): Job = {
    val t0 = System.nanoTime()
    def job(ok: Boolean, err: String) = Job(query, (System.nanoTime() - t0) / 1e9, ok, traced, err)
    try job(f, null)
    catch { case scala.util.control.NonFatal(e) => job(ok = false, e.toString) }
  }

  /** The reference's own query: `WordCount.formattedBytes` written to a
    * file; every output is compared byte for byte with the generator's. */
  final class WcCorpus(inputs: String, work: String) extends Workload {
    // the generator writes the corpus files as text00.txt, text01.txt, …
    // and the expected output next to them
    private val paths = new File(inputs).listFiles.map(_.getPath)
      .filter(_.matches(".*/text\\d+\\.txt")).sorted.toSeq
    private val expected = Files.readAllBytes(Paths.get(inputs, "expected.txt"))
    private val outDir = new File(s"$work/out"); outDir.mkdirs()
    def inputBytesPerJob: Double = paths.map(new File(_).length).sum.toDouble
    def writeChecks(spark: SparkSession): Seq[(String, String)] = Nil
    // after 6 warm-up jobs walls still fell ~15% through the loop
    override def warmJobs: Int = 12

    private def run(spark: SparkSession, t: Tracer, i: Int): Boolean = {
      val out = new File(outDir, s"wc-$i.txt")
      t.span("wc.formatted_bytes", "operators") {
        Files.write(out.toPath,
          WordCount.formattedBytes(spark, paths, paths.head, includeUnique = true))
      }
      val ok = t.span("check", "bench")(java.util.Arrays.equals(Files.readAllBytes(out.toPath), expected))
      out.delete()
      ok
    }
    def setup(spark: SparkSession, t: Tracer): Unit =
      t.span("cold_job:wc", "session")(require(run(spark, t, -1), "word-count output differs in setup"))
    def measure(spark: SparkSession, t: Tracer, i: Int, traced: Boolean): Seq[Job] = {
      val s = t.open(s"job:wc#$i", "bench", job = Some(i))
      val j = attempt("wc_corpus", traced)(run(spark, t, i))
      t.close(s)
      Seq(j)
    }
    /** Kernel isolation: tokenize the corpus into a noop sink. */
    override def kernelSpans(spark: SparkSession, t: Tracer): Unit =
      for (k <- 0 until 3) {
        val s = t.open(s"kernel:tokenize#$k", "functions")
        noop(WordCount.tokenize(WordCount.linesFromFiles(spark, paths), "value"))
        t.close(s, Map("input_bytes" -> inputBytesPerJob))
      }
  }

  /** A cycle of driver-contract queries to a noop sink; one checked
    * execution per query after the loop. A traced run adds the streaming
    * layer: the samples pipeline's streaming transform over the same
    * documents split into small files, one file per micro-batch, into a
    * checkpointed parquet sink (as graft.BenchStream runs it). */
  final class BatchQueries(queries: Seq[String], inputs: String, work: String) extends Workload {
    def inputBytesPerJob: Double = new File(s"$inputs/documents.parquet").length.toDouble
    private val streamSrc = s"$inputs/stream_src"
    private var streamSink: Option[String] = None
    private def run(spark: SparkSession, t: Tracer, name: String): Unit = {
      val df = t.span("build", "operators")(SparkEntry.queries(name)(spark, inputs))
      t.plan(df.queryExecution) // the analysis done while building the frame
      t.span("execute", "exec")(noop(df))
    }
    override def cycle: Int = queries.size
    // job walls keep falling ~30% over the first dozen cycles after the
    // cold one (JIT of the planning and scheduling path); most of the fall
    // is behind after 8
    override def warmJobs: Int = 8 * queries.size
    def setup(spark: SparkSession, t: Tracer): Unit =
      queries.foreach(n => t.span(s"cold_job:$n", "session")(run(spark, t, n)))
    def measure(spark: SparkSession, t: Tracer, i: Int, traced: Boolean): Seq[Job] = {
      val name = queries(math.floorMod(i, queries.size))
      val s = t.open(s"job:$name#$i", "bench", job = Some(i))
      val j = attempt(name, traced) { run(spark, t, name); true }
      t.close(s)
      Seq(j)
    }
    def writeChecks(spark: SparkSession): Seq[(String, String)] = queries.map { n =>
      val p = s"$work/check/$n"
      SparkEntry.queries(n)(spark, inputs).write.mode("overwrite").parquet(p)
      n -> p
    } ++ streamSink.map(StreamQuery -> _)

    /** A warm pass over the first 8 files, then the measured pass over all. */
    override def kernelSpans(spark: SparkSession, t: Tracer): Unit =
      if (new File(streamSrc).isDirectory) {
        t.span("kernel:stream_warm", "streaming")(stream(spark, t, Some("part-0000[0-7].parquet"), s"$work/stream/warm"))
        t.span("kernel:stream", "streaming")(stream(spark, t, None, s"$work/stream/pass"))
        streamSink = Some(s"$work/stream/pass/sink")
      }

    private def stream(spark: SparkSession, t: Tracer, glob: Option[String], dir: String): Unit = {
      import spark.implicits._
      val reader = spark.readStream.schema(spark.read.parquet(streamSrc).schema)
        .option("maxFilesPerTrigger", "1")
      val docs = glob.fold(reader)(g => reader.option("pathGlobFilter", g)).parquet(streamSrc)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + pmod($"doc_id", lit(3600))))
      val query = graft.streaming.Streaming.pipelineSamplesTTLTransform(docs, "1 hour")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/sink").option("checkpointLocation", s"$dir/ckpt").start()
      try query.processAllAvailable() finally query.stop()
      t.batches(query.recentProgress.toSeq)
    }
  }

  // ---- tracing ----------------------------------------------------------

  /** Spans kept in memory and written out when the run ends. Benchmark
    * spans are opened here around calls into the engine; Spark job and
    * stage spans come from a benchmark-owned SparkListener, planning-phase
    * spans from a QueryExecutionListener, micro-batch spans from
    * StreamingQueryProgress. Times are epoch milliseconds. */
  final class Tracer(val enabled: Boolean, jvmStartMs: Long) {
    final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
      val job: Int, val start: Double, var end: Double, var attrs: Map[String, Double])
    private val spans = mutable.ArrayBuffer[Span]()
    private val stack = mutable.Stack[Span]()
    private val nano0 = System.nanoTime()
    private val epoch0 = System.currentTimeMillis().toDouble
    private var nextId = 0
    private var currentJob = -1
    var spark: SparkSession = _
    def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    private val PropKey = "perfbench.span"

    private def add(parent: Int, name: String, layer: String, job: Int, start: Double,
        end: Double, attrs: Map[String, Double]): Span = synchronized {
      val s = new Span(nextId, parent, name, layer, job, start, end, attrs)
      nextId += 1
      spans += s
      s
    }

    private val Dummy = new Span(-1, -1, "", "", -1, 0.0, 0.0, Map.empty)
    // spans are recorded only in a traced run, and there only for the
    // setup, the traced jobs and the kernel spans
    @volatile private var rec = false
    def record(on: Boolean): Unit = rec = enabled && on

    def open(name: String, layer: String, job: Option[Int] = None, atMs: Option[Double] = None): Span = {
      job.foreach(currentJob = _)
      if (!rec) return Dummy
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = add(parent, name, layer, currentJob, atMs.getOrElse(nowMs), Double.NaN, Map.empty)
      stack.push(s)
      if (spark != null) spark.sparkContext.setLocalProperty(PropKey, s.id.toString)
      s
    }
    def close(s: Span, attrs: Map[String, Double] = Map.empty): Unit = {
      if (s.name.startsWith("job:")) currentJob = -1
      if (s.id < 0) return
      s.end = nowMs
      s.attrs ++= attrs
      stack.pop()
      if (spark != null) spark.sparkContext.setLocalProperty(PropKey,
        stack.headOption.map(_.id.toString).orNull)
    }
    def span[T](name: String, layer: String)(f: => T): T = {
      val s = open(name, layer)
      try f finally close(s)
    }

    // Listeners are attached only while tracing; untraced jobs run bare.
    private var attached = false
    def attach(sp: SparkSession): Unit = {
      spark = sp
      sp.sparkContext.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
      if (enabled && !attached) {
        sp.sparkContext.addSparkListener(sparkListener)
        classic(sp).listenerManager.register(qeListener)
        attached = true
      }
      record(true)
    }
    def detach(sp: SparkSession): Unit = {
      if (attached) {
        sp.sparkContext.removeSparkListener(sparkListener)
        classic(sp).listenerManager.unregister(qeListener)
        attached = false
      }
      record(false)
    }
    def drain(sp: SparkSession): Unit =
      if (attached) org.apache.spark.graftshim.ListenerShim.drain(sp.sparkContext, 60000L)
    private def classic(sp: SparkSession) = sp.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

    /** Micro-batch spans; the run's Spark jobs are re-parented to the batch
      * whose interval holds them when the dump is analysed. */
    def batches(progs: Seq[StreamingQueryProgress]): Unit = if (enabled && attached) {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      progs.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.doubleValue }.toMap
        val st = p.stateOperators.toSeq
        val stAttrs = Map(
          "state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
          "state_bytes" -> st.map(_.memoryUsedBytes).sum.toDouble,
          "state_rows_removed" -> st.map(_.numRowsRemoved).sum.toDouble,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum.toDouble,
          "input_rows" -> p.numInputRows.toDouble,
          "batch_id" -> p.batchId.toDouble)
        add(parent, s"microbatch#${p.batchId}", "streaming", currentJob, start,
          start + d.getOrElse("ms.triggerExecution", 0.0), d ++ stAttrs)
      }
    }

    private final case class StageAcc(var launches: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer(),
      var durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer())
    private val jobSpans = mutable.Map[Int, Span]()
    private val stageJob = mutable.Map[Int, Int]()
    private val stageTasks = mutable.Map[(Int, Int), StageAcc]()

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
        val job = synchronized(if (parent >= 0) spans(parent).job else -1)
        jobSpans(e.jobId) = add(parent, s"spark_job#${e.jobId}", "exec", job, e.time.toDouble, Double.NaN, Map.empty)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobSpans.get(e.jobId).foreach(_.end = e.time.toDouble)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val acc = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), StageAcc())
        acc.launches += e.taskInfo.launchTime
        acc.durations += e.taskInfo.duration
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val acc = stageTasks.remove((info.stageId, info.attemptNumber())).getOrElse(StageAcc())
        val parent = stageJob.get(info.stageId).flatMap(jobSpans.get)
        val start = info.submissionTime.getOrElse(0L).toDouble
        val m = info.taskMetrics
        val durs = acc.durations.sorted
        val attrs = Map(
          "tasks" -> info.numTasks.toDouble,
          "task_busy_ms" -> durs.sum.toDouble,
          "task_wait_ms" -> acc.launches.map(l => math.max(0.0, l - start)).sum,
          "task_max_ms" -> (if (durs.isEmpty) 0.0 else durs.last.toDouble),
          "task_median_ms" -> (if (durs.isEmpty) 0.0 else durs(durs.size / 2).toDouble),
          "run_ms" -> (if (m == null) 0.0 else m.executorRunTime.toDouble),
          "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
          "gc_ms" -> (if (m == null) 0.0 else m.jvmGCTime.toDouble),
          "input_bytes" -> (if (m == null) 0.0 else m.inputMetrics.bytesRead.toDouble),
          "scan_tasks" -> (if (m == null || m.inputMetrics.bytesRead == 0) 0.0 else durs.size.toDouble),
          "shuffle_read_bytes" -> (if (m == null) 0.0 else m.shuffleReadMetrics.totalBytesRead.toDouble),
          "shuffle_write_bytes" -> (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten.toDouble),
          "spill_bytes" -> (if (m == null) 0.0 else m.diskBytesSpilled.toDouble),
          "result_bytes" -> (if (m == null) 0.0 else m.resultSize.toDouble))
        add(parent.map(_.id).getOrElse(-1), s"stage#${info.stageId}.${info.attemptNumber()}", "exec",
          parent.map(_.job).getOrElse(-1), start, info.completionTime.getOrElse(0L).toDouble, attrs)
      }
    }

    private object PlanHelper extends AdaptiveSparkPlanHelper
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe, executed = true)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe, executed = true)
    }
    /** A planning span from a query's tracker: one attribute per phase
      * (analysis, optimization, planning) and, for an executed query, the
      * physical plan's size. */
    def plan(qe: QueryExecution, executed: Boolean = false): Unit = if (rec) {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min.toDouble
        val end = phases.values.map(_.endTimeMs).max.toDouble
        val nodes = if (!executed) 0
          else try PlanHelper.collectWithSubqueries(qe.executedPlan) { case p => p }.size
          catch { case scala.util.control.NonFatal(_) => 0 }
        val attrs = phases.map { case (k, v) => s"ms.$k" -> v.durationMs.toDouble }.toMap +
          ("nodes" -> nodes.toDouble)
        // parent is resolved by time containment in the analysis step
        add(-1, "plan", "plan", -1, start, end, attrs)
      }
    }

    def dump(path: String): Unit = {
      val w = Files.newBufferedWriter(Paths.get(path))
      try synchronized {
        w.write(s"""{"jvm_start_ms":$jvmStartMs}""" + "\n")
        spans.foreach { s =>
          val attrs = s.attrs.map { case (k, v) => q(k) + ":" + (if (v.isNaN || v.isInfinite) "null" else v.toString) }
          w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"layer":${q(s.layer)},""" +
            s""""job":${s.job},"start":${s.start},"end":${if (s.end.isNaN) "null" else s.end.toString},""" +
            s""""attrs":${attrs.mkString("{", ",", "}")}}""" + "\n")
        }
      } finally w.close()
    }
  }
}
