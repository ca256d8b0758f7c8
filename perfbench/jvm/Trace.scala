package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed region around a public call the harness makes. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, var endNs: Long = 0L)

/** Scheduler totals attributed to one job group (= one span). */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes)
}

/** Attributes jobs, stages, tasks, shuffle and spill to the job group that
  * was set when the job started. Events arrive on the single listener-bus
  * thread, so the totals need no locking; read them after
  * [[org.apache.spark.perfbench.ListenerDrain]].
  */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, GroupTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def totals(g: String) = byGroup.computeIfAbsent(g, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    totals(g).jobs += 1
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    totals(stageGroup.getOrDefault(e.stageInfo.stageId, "untagged")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = totals(stageGroup.getOrDefault(e.stageId, "untagged"))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.taskRunMs += m.executorRunTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans around the harness's own calls. Disabled, `span` is a plain call:
  * no listener, no job groups, nothing recorded. Enabled, each span tags
  * its Spark work with `setJobGroup("span-<id>")` so [[GroupListener]]
  * attributes it; spans stay in memory until [[toRecords]].
  */
final class Tracer(sc: SparkContext, runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var listener: GroupListener = null

  private var on = false

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    if (listener == null) listener = new GroupListener
    sc.addSparkListener(listener)
    on = true
  }

  /** Untraced again: no spans, no job groups, and the listener removed. */
  def disable(): Unit = if (on) {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val sp = Span(spans.length + 1, name, stack.headOption.map(_.id).getOrElse(0),
        runId, System.nanoTime())
      spans += sp
      stack = sp :: stack
      sc.setJobGroup(s"span-${sp.id}", name, interruptOnCancel = false)
      try f
      finally {
        sp.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Seconds of the most recent span with this name. */
  def seconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).getOrElse(Double.NaN)

  /** Totals of job groups that are not spans (e.g. the groups a streaming
    * query sets on its own micro-batch thread).
    */
  def otherGroups(): Map[String, Long] = {
    if (listener == null) return Map.empty
    org.apache.spark.perfbench.ListenerDrain(sc)
    listener.byGroup.asScala.toSeq.filterNot(_._1.startsWith("span-")).map(_._2.toMap)
      .foldLeft(Map.empty[String, Long])((acc, m) => m.map { case (k, v) => k -> (acc.getOrElse(k, 0L) + v) })
  }

  def toRecords(t0Ns: Long): Seq[Map[String, Any]] = {
    if (listener != null) org.apache.spark.perfbench.ListenerDrain(sc)
    spans.toSeq.map { s =>
      val g = if (listener == null) null else listener.byGroup.get(s"span-${s.id}")
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "spark" -> (if (g == null) new GroupTotals().toMap else g.toMap))
    }
  }
}

/** Highest heap use right after a full collection. Sampled at fixed
  * points (after set-up and after every iteration, outside the timed
  * regions), so it reads the data a run retains, not where young
  * collections happened to fall. Collections repeat until the heap stops
  * shrinking: Spark's ContextCleaner frees checkpoint and broadcast blocks
  * only after a collection has found their owners unreachable.
  */
object HeapWatch {
  private var peak = 0L

  private def used(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def sample(): Unit = {
    System.gc()
    var last = used()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 10) {
      Thread.sleep(150)
      System.gc()
      val now = used()
      settled = last - now < (2L << 20)
      last = now
      rounds += 1
    }
    if (last > peak) peak = last
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
