package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder. A span has a name, start, end, parent and
  * trace id (one trace per workload run); spans are written out once,
  * when the run ends. Times are nanoseconds on the JVM's monotonic
  * clock; `epochMsToNs` maps Spark's event timestamps onto it. */
final class Tracer(val traceId: String) {
  final case class Span(id: Int, parent: Int, name: String,
      start: Long, var end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[Int]()
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  def epochMsToNs(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  def begin(name: String): Int = synchronized {
    val id = spans.size
    spans += Span(id, open.headOption.getOrElse(-1), name, System.nanoTime(), -1L)
    open.push(id)
    id
  }

  def end(id: Int): Unit = synchronized {
    spans(id).end = System.nanoTime()
    while (open.nonEmpty && open.top != id) open.pop()
    if (open.nonEmpty) open.pop()
  }

  def span[T](name: String)(body: => T): T = {
    val id = begin(name)
    try body finally end(id)
  }

  /** A closed span recorded after the fact (Spark jobs, streaming
    * progress phases) under an explicit parent. */
  def add(name: String, parent: Int, start: Long, end: Long): Unit = synchronized {
    spans += Span(spans.size, parent, name, start, end)
  }

  /** Span duration minus the part of its interval its children cover. */
  def selfTimes: Map[String, Double] = synchronized {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Double]
    spans.filter(_.end >= 0).foreach { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil).filter(_.end >= 0)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).toSeq)
      self(s.name) = self.getOrElse(s.name, 0.0) + (s.end - s.start - covered) / 1e9
    }
    self.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("trace" -> Json.str(traceId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> (s.start - nano0).toString, "end_ns" -> (s.end - nano0).toString)))
      w.newLine()
    } finally w.close()
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-group Spark counters. A group is the job group the benchmark sets
  * around an op, or `batch-<id>` for a streaming micro-batch. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runNs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runNs += o.runNs; cpuNs += o.cpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    jobIntervals ++= o.jobIntervals
  }
}

/** SparkListener attaching jobs, stages and tasks to benchmark groups.
  * Only registered for traced passes. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stats = mutable.Map.empty[String, GroupStats]
  @volatile private var pending = 0

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("batch-" + _)
      .orElse(Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("none")

  private def g(name: String): GroupStats = stats.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val grp = groupOf(e.properties)
    jobGroup(e.jobId) = grp
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = grp)
    g(grp).jobs += 1
    pending += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val grp = jobGroup.getOrElse(e.jobId, "none")
    val s = tracer.epochMsToNs(jobStart.getOrElse(e.jobId, e.time))
    g(grp).jobIntervals += ((s, tracer.epochMsToNs(e.time)))
    pending -= 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    g(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = g(stageGroup.getOrElse(e.stageId, "none"))
    st.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.runNs += m.executorRunTime * 1000000L
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Listener events arrive asynchronously; wait until every started
    * job has reported its end (bounded wait). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (pending > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def group(name: String): GroupStats = synchronized {
    val out = new GroupStats
    stats.get(name).foreach(out += _)
    out
  }
}
