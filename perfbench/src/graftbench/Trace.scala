package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the benchmark: `name` is the layer call it wraps
  * (`streaming.process_batch`, `tools.daily_ingest`, `queries.q59_...`),
  * `parent` the enclosing span. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work of one stage, charged to the span that was open when its
  * job was submitted (the job group the tracer set) and to the repo
  * module of its call site (`save at Lake.scala:50` -> lake). */
final case class StageWork(span: Int, callSite: String, module: String, jobDesc: String,
                           tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleRead: Long, shuffleWrite: Long, spill: Long,
                           inputRecords: Long, bytesWritten: Long)

final case class JobWork(span: Int, desc: String, submitted: Long, var ended: Long)

/** The benchmark's own tracing: a span recorder plus one SparkListener.
  *
  * Spans are kept in memory and written to a file at exit. Each span
  * sets the thread's job group to its id, so every job the layer call
  * submits carries it in its properties; the listener charges jobs and
  * stages to spans through it. DailyIngest's own job descriptions
  * (`ingest <day>: <stage>`) ride along on the jobs and name the
  * ingest stages. Counters are read only after [[drain]]. */
final class Tracer(sc: SparkContext, modules: Map[String, String]) {
  private val spanList = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  // span id -> module prefix of its name ("tools.daily_ingest" -> tools)
  private val spanModule = new ConcurrentHashMap[Int, String]()
  private var nextId = 0

  private val jobs = new ConcurrentHashMap[Int, JobWork]()
  // SQL execution id -> call site of the action that started it: stages
  // that adaptive execution submits from its own threads carry a
  // CompletableFuture call site, the execution keeps the real one
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val stageSpan = new ConcurrentHashMap[Int, (Int, String, Option[String])]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageWork]()
  private val failedTasks = new java.util.concurrent.atomic.AtomicLong

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(GroupKey)))
        .flatMap(_.stripPrefix("bench-").toIntOption).getOrElse(-1)
      val desc = props.flatMap(p => Option(p.getProperty(DescKey))).getOrElse("")
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).flatMap(id => Option(execSite.get(id)))
      jobs.put(e.jobId, JobWork(span, desc, System.nanoTime(), 0L))
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, (span, desc, site)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, s.description)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.ended = System.nanoTime())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val (span, desc, site) = Option(stageSpan.get(i.stageId)).getOrElse((-1, "", None))
      val callSite = site.filter(s => moduleOf(s) != "other").getOrElse(i.name)
      // a call site outside the repo (a stage adaptive execution submits
      // from its own thread, or the benchmark's own action on a frame a
      // layer built) is charged to the module the span called
      val module = Some(moduleOf(callSite)).filterNot(Set("other", "bench"))
        .orElse(Option(spanModule.get(span))).getOrElse("other")
      val m = i.taskMetrics
      if (m != null) stages.add(StageWork(span, callSite, module, desc,
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
  }
  sc.addSparkListener(listener)

  /** `save at Lake.scala:50` -> the repo module holding Lake.scala. */
  def moduleOf(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val file = (if (at >= 0) callSite.substring(at + 4) else callSite)
      .takeWhile(_ != ':').trim
    modules.getOrElse(file, "other")
  }

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val mod = name.takeWhile(_ != '.')
    if (mod != name) spanModule.put(id, mod)
    else Option(spanModule.get(parent)).foreach(spanModule.put(id, _))
    val prevGroup = sc.getLocalProperty(GroupKey)
    open.push((id, name, System.nanoTime()))
    sc.setLocalProperty(GroupKey, s"bench-$id")
    try f
    finally {
      val (_, _, start) = open.pop()
      spanList += Span(id, name, parent, start, System.nanoTime())
      sc.setLocalProperty(GroupKey, prevGroup)
    }
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def spans: Seq[Span] = spanList.toSeq

  /** Span ids of `root` and every span nested under it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spanList.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root)
  }

  def stagesIn(ids: Set[Int]): Seq[StageWork] =
    stages.asScala.filter(s => ids(s.span)).toSeq

  def jobsIn(ids: Set[Int]): Seq[JobWork] =
    jobs.values.asScala.filter(j => ids(j.span)).toSeq

  def taskFailures: Long = failedTasks.get

  /** Spans as JSON lines (name, start and end in ns relative to the
    * first span, parent), then one line per completed stage with the
    * span it is charged to, its call site and executor run time. */
  def write(path: String): Unit = {
    val t0 = spanList.map(_.start).minOption.getOrElse(0L)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spanList.sortBy(_.start).foreach { s =>
        w.println(s"""{"span":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
          s""""start_ns":${s.start - t0},"end_ns":${s.end - t0}}""")
      }
      stages.asScala.foreach { st =>
        w.println(s"""{"stage_of":${st.span},"call_site":${q(st.callSite)},""" +
          s""""module":${q(st.module)},"job":${q(st.jobDesc)},"tasks":${st.tasks},""" +
          s""""run_ms":${st.runMs},"shuffle_write":${st.shuffleWrite}}""")
      }
    } finally w.close()
  }
}

/** Per-layer metrics every traced run reports: the Spark work of the
  * measured loop, per op, in total and by call-site module. */
object Layers {
  val CallSiteModules: Seq[String] =
    Seq("streaming", "lake", "state", "materialize", "tools", "functions", "queries", "bench", "other")

  def spark(ctx: Ctx, t: Tracer): Unit = {
    val L = ctx.result.layer
    val loop = t.spans.find(_.name == "loop").get
    val ops = math.max(1, t.spans.count(_.parent == loop.id)).toDouble
    val st = t.stagesIn(t.subtree(loop.id))
    def per(x: Double) = x / ops
    L("spark.cpu_s") = (per(st.map(_.cpuNs).sum / 1e9), "s")
    L("spark.gc_s") = (per(st.map(_.gcMs).sum / 1e3), "s")
    L("spark.shuffle_read_bytes") = (per(st.map(_.shuffleRead).sum.toDouble), "B")
    L("spark.spill_bytes") = (per(st.map(_.spill).sum.toDouble), "B")
    L("spark.input_records") = (per(st.map(_.inputRecords).sum.toDouble), "count")
    L("spark.tasks") = (per(st.map(_.tasks).sum.toDouble), "count")
    L("spark.stages") = (per(st.size.toDouble), "count")
    L("spark.task_failures") = (t.taskFailures.toDouble, "count")
    val byModule = st.groupBy(s => if (CallSiteModules.contains(s.module)) s.module else "other")
    CallSiteModules.foreach { m =>
      L(s"callsite.$m.task_s") =
        (per(byModule.getOrElse(m, Nil).map(_.runMs).sum / 1e3), "s")
    }
  }
}
