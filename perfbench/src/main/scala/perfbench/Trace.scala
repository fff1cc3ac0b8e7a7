package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Trace {
  /** Local property under which Spark keeps the job group id. */
  val JobGroupKey = "spark.jobGroup.id"
}
import Trace.JobGroupKey

/** Per-call counters the listener accumulates for one job group. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Attributes Spark jobs, tasks and bytes to the harness call that started
  * them. Before each call the harness sets a job group (`Trace.span`); the
  * listener keys every job, and through its stages every task, on that
  * group. Inside one group it also splits by the source file of the job's
  * call site (the first frame outside Spark, which Spark records as the
  * stage name), so a pipeline stage's own jobs and the ledger writes it
  * makes are told apart without touching the program.
  */
final class GroupListener extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  private val stageScopes = new ConcurrentHashMap[Int, Seq[String]]()
  private val counts = new ConcurrentHashMap[(String, String), Counts]()

  private def get(k: (String, String)): Counts =
    counts.computeIfAbsent(k, _ => new Counts)

  private def siteFile(name: String): String = {
    // "parquet at Ledger.scala:223" -> "Ledger.scala"
    val at = name.lastIndexOf(" at ")
    if (at < 0) name else name.substring(at + 4).takeWhile(_ != ':')
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("untraced")
    val file = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => siteFile(s.name)).getOrElse("?")
    val c = get((group, file))
    c.synchronized { c.jobs += 1 }
    e.stageInfos.foreach { s =>
      stageKey.put(s.stageId, (group, file))
      stageScopes.put(s.stageId, org.apache.spark.PerfbenchBridge.scopeNames(s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = Option(stageKey.get(e.stageId)).getOrElse(("untraced", "?"))
    val m = e.taskMetrics
    if (m == null) return
    val c = get(key)
    c.synchronized {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.recordsWritten += m.outputMetrics.recordsWritten
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
    // the only Dataset.mapPartitions in the pipeline is FileTransfer's
    // per-group transfer
    if (stageScopes.getOrDefault(e.stageId, Nil).contains("MapPartitions")) {
      val t = get((key._1, "transfer"))
      t.synchronized { t.tasks += 1 }
    }
  }

  /** Sum over groups matching `groupPred` and call-site files matching
    * `filePred`.
    */
  def sum(groupPred: String => Boolean, filePred: String => Boolean = _ => true): Counts = {
    val out = new Counts
    counts.asScala.foreach { case ((g, f), c) =>
      if (groupPred(g) && filePred(f) && f != "transfer") c.synchronized(out.add(c))
    }
    out
  }

  def transferTasks(groupPred: String => Boolean): Long =
    counts.asScala.collect { case ((g, "transfer"), c) if groupPred(g) => c.tasks }.sum
}

/** A timed section of the harness: name, start and end (ns since the run
  * started), the span that contains it, and the run id.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, runId: String)

/** Spans and job groups for one benchmark run. With tracing off, `span`
  * only runs its body: no listener is attached and no job group is set, so
  * the untraced run measures the program alone.
  */
final class Trace(val enabled: Boolean, val runId: String, sc: SparkContext) {
  val listener: GroupListener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Run `body` as a span named `name`; when tracing, the jobs it starts
    * are tagged with the job group `name`.
    */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = System.nanoTime() - t0
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    stack = id :: stack
    sc.setJobGroup(name, name)
    try body
    finally {
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      spans += Span(id, parent, name, start, System.nanoTime() - t0, runId)
    }
  }

  /** Total seconds of the spans named `name`. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  /** Write the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":"${s.runId}"}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
