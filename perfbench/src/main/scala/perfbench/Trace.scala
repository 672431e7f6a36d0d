package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work done under one job group. */
final class LayerStats {
  var jobs = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L // read + write

  def add(o: LayerStats): Unit = {
    jobs += o.jobs; taskMs += o.taskMs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
  }
}

/** Files every job, task millisecond and byte under the job group that
  * was set on the calling thread when the job started. The benchmark sets
  * the group to the name of the layer call it is making, so the totals per
  * group are the Spark work of that layer. */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, LayerStats]()
  @volatile private var flushSeen = false

  private def stat(group: String): LayerStats =
    stats.computeIfAbsent(group, _ => new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.Untraced)
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val s = stat(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobGroup.get(e.jobId) == LayerListener.FlushGroup) flushSeen = true

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stat(stageGroup.getOrDefault(e.stageId, LayerListener.Untraced))
      s.synchronized {
        s.taskMs += m.executorRunTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleBytes +=
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Runs one tiny job and waits until the listener has seen it end. The
    * listener bus delivers events in order, so by then every earlier job's
    * events are counted. */
  def flush(sc: SparkContext): Unit = {
    flushSeen = false
    sc.setJobGroup(LayerListener.FlushGroup, LayerListener.FlushGroup)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!flushSeen && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Totals over every group whose name starts with `prefix`. */
  def sum(prefix: String): LayerStats = {
    val out = new LayerStats
    stats.forEach((g, s) => if (g.startsWith(prefix)) s.synchronized(out.add(s)))
    out
  }
}

object LayerListener {
  val FlushGroup = "perfbench.flush"
  val Untraced = "untraced"
}

/** One layer call: `request` is shared by every span of one benchmark
  * request (one ingest step, one micro-batch). */
final case class Span(
    id: Int, parent: Int, request: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans at each layer call the benchmark makes, kept in memory and written
  * when the run ends. Each span also labels the Spark jobs it runs with its
  * name as the job group, so [[LayerListener]] can attribute them. The
  * listener is registered only in a traced run (`traced`), and spans are
  * recorded only while `on`; otherwise `span` only runs its body. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val listener: LayerListener = new LayerListener
  if (traced) sc.addSparkListener(listener)
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String, request: Long)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, request, name, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((_, p)) => sc.setJobGroup(p, p)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Durations in ms of every finished span called `name`. */
  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toSeq

  def all: Seq[Span] = spans.toSeq
}
