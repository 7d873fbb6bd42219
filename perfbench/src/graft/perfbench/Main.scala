package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run in one JVM: set up, time one workload, check its
  * outputs untimed, and write the raw record (timings, commit logs, spans,
  * listener totals) as JSON. `run.py` turns the raw record into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cores> <fixtures>
  *        <workDir> <outJson>
  */
object Main {

  /** A workload phase whose set-up is done: its timed region, then its
    * untimed check. */
  trait Phase {
    def timed(): Unit
    def check(): Unit
  }

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, fixtures: String, work: String,
      out: String)

  /** Everything a workload needs: the session, its arguments, and the
    * record it fills in. */
  final class Ctx(val spark: SparkSession, val args: Args,
      val listener: Option[JobListener]) {
    val record = new java.util.LinkedHashMap[String, Any]()
    private val failures = new ConcurrentLinkedQueue[String]()
    val attempted = new AtomicLong(0)
    def fail(what: String, e: Throwable): Unit = {
      System.err.println(s"[perfbench] FAILED $what: $e")
      failures.add(s"$what: ${String.valueOf(e.getMessage).take(300)}")
      ()
    }
    def mismatch(what: String): Unit = {
      System.err.println(s"[perfbench] MISMATCH $what")
      failures.add(s"mismatch: $what")
      ()
    }
    def failureList: Seq[String] = failures.asScala.toSeq
    def sf(name: String): String = s"${args.fixtures}/$name"
    def dir(name: String): String = s"${args.work}/$name"

    /** The source files the harness staged for this run (stage.py), with
      * their row counts. */
    lazy val manifest: com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(dir("manifest.json")))
    def staged(key: String): Seq[(java.nio.file.Path, Long)] =
      manifest.get(key).elements().asScala.toSeq.map(f =>
        (java.nio.file.Paths.get(f.get("path").asText()), f.get("rows").asLong()))

    /** Runs one timed region: tracing and the listeners are on inside it
      * only. A workload may have several; their walls add up. */
    def timedRegion(body: => Unit): Unit = {
      val first = firstOpEpochMs.compareAndSet(0L, System.currentTimeMillis())
      listener.foreach(_.active = true)
      val t0 = System.nanoTime()
      if (first) Trace.epoch(t0)
      Trace.on = args.trace
      try body finally {
        Trace.on = false
        listener.foreach(_.active = false)
      }
      wallS += (System.nanoTime() - t0) / 1e9
      record.put("wall_s", wallS)
      record.put("peak_rss_mb", peakRssMb())
    }
    private var wallS = 0.0
    val firstOpEpochMs = new AtomicLong(0L)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4).toInt, argv(5), argv(6), argv(7))
    val launchMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = graft.core.Sessions.local(a.cores.toString)
    val listener = if (a.trace) Some(new JobListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.streams.addListener(l.streams)
    }
    val ctx = new Ctx(spark, a, listener)
    ctx.record.put("setup_session_s",
      (System.currentTimeMillis() - launchMs) / 1e3)
    try a.workload match {
      case "headline_batch" => Headline.run(ctx)
      case "reference_stream" =>
        // the two graphs set up concurrently, run in turn, and are checked
        // concurrently
        val phases = concurrently(Seq(() => GmallStream.setup(ctx),
          () => CorpusStream.setup(ctx)))
        phases.foreach(_.timed())
        concurrently(phases.map(p => () => p.check()))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch { case e: Throwable => ctx.fail("workload", e) }
    ctx.record.put("first_op_epoch_ms", ctx.firstOpEpochMs.get())
    ctx.record.put("attempted", ctx.attempted.get())
    ctx.record.put("failures", ctx.failureList)
    ctx.record.put("cores", a.cores)
    ctx.record.put("end_epoch_ms", System.currentTimeMillis())
    if (a.trace) {
      ctx.record.put("spans", Trace.dump(s"${a.workload}-${a.seed}"))
      listener.foreach(l => ctx.record.put("spark", l.summary()))
    }
    Json.write(a.out, ctx.record)
    // the record is on disk and every query has stopped; ending the JVM
    // here skips Spark's shutdown, whose temp dirs live in the work dir the
    // next run wipes
    Runtime.getRuntime.halt(0)
  }

  /** Peak resident memory of this process (VmHWM), MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Runs each body on its own thread; rethrows the first failure. */
  def concurrently[A](bodies: Seq[() => A]): Seq[A] = {
    val out = new Array[Either[Throwable, Any]](bodies.size)
    val threads = bodies.zipWithIndex.map { case (f, i) =>
      new Thread(() =>
        out(i) = try Right(f()) catch { case e: Throwable => Left(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq.map(_.fold(e => throw e, _.asInstanceOf[A]))
  }

  /** Runs `body` over `items` on `n` threads; each thread releases its own
    * barrier blocks after every item. */
  def parallel(spark: SparkSession, n: Int, items: Seq[String])(
      body: String => Unit): Unit = {
    val it = items.iterator
    def next(): Option[String] = it.synchronized(it.nextOption())
    val threads = (1 to n).map { _ =>
      new Thread(() => {
        var q = next()
        while (q.isDefined) {
          try body(q.get) finally graft.core.Barrier.releaseAll(spark)
          q = next()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

/** Spans kept in memory for the traced run, written once at the end. The
  * parent of a span is the innermost open span on its thread, or, for a
  * stream thread, the span the driver declared with [[adopt]]. */
object Trace {
  @volatile var on = false
  private final case class Span(id: Int, name: String, start: Long,
      end: Long, parent: Int, thread: String)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var adopted = 0
  @volatile private var t0 = System.nanoTime()

  def epoch(t: Long): Unit = t0 = t
  private def parentId: Int = open.get.headOption.getOrElse(adopted)

  /** Times `body`; records a span when tracing is on. Returns the result
    * and the elapsed seconds either way. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val rec = on
    val id = if (rec) ids.incrementAndGet() else 0
    val parent = parentId
    if (rec) open.set(id :: open.get)
    val s = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - s) / 1e9)
    } finally if (rec) {
      open.set(open.get.tail)
      spans.add(Span(id, name, s, System.nanoTime(), parent,
        Thread.currentThread().getName))
    }
  }
  def span[A](name: String)(body: => A): A = timed(name)(body)._1

  /** Opens a span on the driver thread that stream-thread spans without an
    * open parent attach to; returns a closer. */
  def adopt(name: String): () => Unit = {
    val rec = on
    val id = if (rec) ids.incrementAndGet() else 0
    val s = System.nanoTime()
    adopted = id
    () => if (rec) {
      adopted = 0
      spans.add(Span(id, name, s, System.nanoTime(), 0,
        Thread.currentThread().getName))
    }
  }

  /** A span reported after the fact as a duration ending now (the
    * program's own phase timers report that way). */
  def ended(name: String, seconds: Double): Unit = if (on) {
    val e = System.nanoTime()
    spans.add(Span(ids.incrementAndGet(), name, e - (seconds * 1e9).toLong,
      e, parentId, Thread.currentThread().getName))
  }

  def dump(runId: String): Seq[Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.start).map(s => Map(
      "id" -> s.id, "name" -> s.name, "start" -> (s.start - t0) / 1e9,
      "end" -> (s.end - t0) / 1e9, "parent" -> s.parent,
      "thread" -> s.thread, "run_id" -> runId))
}

/** Spark's public listener APIs, aggregated over the timed region: job
  * intervals and per-label job counts, stage/task counts, task time and
  * I/O totals, and the streaming progress events. */
final class JobListener extends SparkListener {
  @volatile var active = false
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  private val jobLabel = new ConcurrentHashMap[Int, String]()
  private val stages = new AtomicLong(0)
  private val tasks = new AtomicLong(0)
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def add(k: String, v: Double): Unit = {
    sums.merge(k, v, (a, b) => a + b); ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    jobs.put(e.jobId, Array(e.time, -1L))
    Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.Label)))
      .foreach(jobLabel.put(e.jobId, _))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (active) { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      add("executor_run_s", m.executorRunTime / 1e3)
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("scheduler_delay_s", math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime) / 1e3)
      add("scan_input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("scan_rows", m.inputMetrics.recordsRead.toDouble)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spill_mb",
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }

  /** Progress events of every streaming query (active region only). */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
        : Unit = if (active) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      progress.add(Map(
        "name" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "addbatch_ms" -> d.getOrElse("addBatch", 0L),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
      ()
    }
  }

  def summary(): Map[String, Any] = {
    val done = jobs.asScala.toSeq.collect {
      case (id, Array(s, e)) if e >= 0 => (id, s, e)
    }
    // busy time = union of the job intervals
    var busy = 0L
    var reach = Long.MinValue
    done.map(j => (j._2, j._3)).sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { busy += e - math.max(s, reach); reach = e }
    }
    val perLabel = done.flatMap(j => Option(jobLabel.get(j._1)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    sums.asScala.map { case (k, v) => k -> (v.doubleValue(): Any) }.toMap ++
      Map("jobs" -> done.size, "stages" -> stages.get(),
        "tasks" -> tasks.get(), "job_busy_s" -> busy / 1e3,
        "jobs_by_label" -> perLabel, "progress" -> progress.asScala.toSeq)
  }
}

object JobListener {
  /** Local property naming the benchmark op a job belongs to. */
  val Label = "perfbench.op"
}

/** Minimal JSON writer over Jackson (shipped with Spark). */
object Json {
  private def conv(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, conv(x)) }
      out
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, conv(x)) }
      out
    case s: Iterable[_] => s.map(conv).toSeq.asJava
    case c: java.util.Collection[_] => c.asScala.map(conv).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case o: Option[_] => o.map(conv).orNull
    case x => x
  }
  def write(path: String, v: Any): Unit = {
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), conv(v))
  }
}
