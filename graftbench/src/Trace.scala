package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced call into a layer: identity, the span that caused it, the
  * op (root span) it belongs to, wall-clock bounds, and counters that
  * the listener and the caller add while it is open. */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = Long.MaxValue
  val counters = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)
}

/** Spans kept in memory and written when the run ends. `span` is a
  * no-op pass-through while tracing is off, so the untraced run pays
  * nothing; when on, it sets the calling thread's Spark job group to the
  * span id so the listener can charge each job to the span that ran it. */
object Trace {
  @volatile var enabled = false
  @volatile var listener: Option[Listener] = None
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val open = ConcurrentHashMap.newKeySet[Span]()
  private val current = new ThreadLocal[Span]
  val GroupPrefix = "graftbench-span-"

  def start(context: SparkContext): Listener = {
    sc = context
    val l = new Listener
    sc.addSparkListener(l)
    listener = Some(l)
    enabled = true
    l
  }

  /** Stops tracing: waits until the listener has seen every event posted
    * so far, then unregisters it. Spans and counters stay readable. */
  def stop(): Unit = {
    enabled = false
    GraftBench.drainListenerBus(sc)
    listener.foreach(sc.removeSparkListener)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val id = ids.incrementAndGet()
      val s = new Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.op, name)
      spans.add(s); byId.put(id, s); open.add(s)
      current.set(s)
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      val (cpu0, io0) = if (parent == null) (GraftBench.processCpuS(), GraftBench.procIoWriteMb()) else (0.0, 0.0)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        if (parent == null) {
          s.add("process_cpu_s", GraftBench.processCpuS() - cpu0)
          s.add("io.write_mb", GraftBench.procIoWriteMb() - io0)
        }
        open.remove(s)
        current.set(parent)
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(GroupPrefix + parent.id, parent.name, interruptOnCancel = false)
      }
    }

  def lookup(id: Long): Option[Span] = Option(byId.get(id))

  /** The most recently started span still open at `timeMs`: the fallback
    * owner of a job whose thread carried no (or a stale) job group. */
  def innermostOpenAt(timeMs: Long): Option[Span] = {
    var best: Span = null
    open.forEach { s =>
      if (s.startMs <= timeMs && (best == null || s.startNs > best.startNs)) best = s
    }
    Option(best)
  }
}

/** Charges Spark jobs, stages and task metrics to the span whose job
  * group launched them. Jobs launched from threads that carry no span
  * group, or the group of a span already closed (a pooled thread keeps
  * the group it inherited when it was created), fall back to the
  * innermost open span and are counted as unattributed; the first
  * `graft.*` frame of their SQL execution's call site names the layer. */
final class Listener extends SparkListener {
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  val jobs = new AtomicLong(0)
  val unattributed = new AtomicLong(0)
  val fallbackFrames = new ConcurrentHashMap[String, AtomicLong]()
  val totals = new Span(-1, 0, -1, "run")

  private val GraftFrame = """(graft\.[A-Za-z0-9_.$]+)\(""".r

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execSite.put(e.executionId, e.details); ()
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val props = Option(js.properties)
    val direct = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Trace.GroupPrefix))
      .flatMap(g => Trace.lookup(g.stripPrefix(Trace.GroupPrefix).toLong))
      .filter(s => js.time <= s.endMs)
    val span = direct.orElse {
      unattributed.incrementAndGet()
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(js.stageInfos.map(_.details).mkString("\n"))
      val frame = GraftFrame.findFirstMatchIn(site).map(_.group(1).split('.').take(2).mkString("."))
        .getOrElse("none")
      fallbackFrames.computeIfAbsent(frame, _ => new AtomicLong).incrementAndGet()
      Trace.innermostOpenAt(js.time)
    }
    span.foreach { s =>
      s.add("spark.jobs", 1)
      s.add("spark.stages", js.stageInfos.size)
      jobSpan.put(js.jobId, s)
      js.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
    }
    jobStages.put(js.jobId, js.stageIds)
    totals.add("spark.jobs", 1)
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
    submitted.add(ss.stageInfo.stageId); ()
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val skipped = Option(jobStages.remove(je.jobId)).map(_.count(id => !submitted.contains(id))).getOrElse(0)
    Option(jobSpan.remove(je.jobId)).foreach(_.add("spark.stages_skipped", skipped))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val targets = Seq(totals) ++ Option(stageSpan.get(te.stageId))
    val info = te.taskInfo
    val m = te.taskMetrics
    targets.foreach { s =>
      s.add("spark.tasks", 1)
      if (info != null && !info.successful) s.add("spark.tasks_failed", 1)
      if (m != null) {
        s.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        s.add("spark.executor_run_s", m.executorRunTime / 1e3)
        s.add("spark.gc_s", m.jvmGCTime / 1e3)
        s.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        s.add("spark.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        s.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        if (info != null) {
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult
          s.add("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
        }
      }
    }
  }
}
