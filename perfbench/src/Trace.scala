package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One recorded span: a call the benchmark made into one layer. `parent`
  * is the enclosing span's id (-1 at the top), `op` the operation it
  * served (-1 during set-up). Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, `apply` is just the body: the
  * untraced run pays nothing. Enabled, every span also tags the Spark jobs
  * its body submits (thread-local job properties) with the span name and
  * op id, so [[SparkCounters]] can attribute task metrics to them. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  var op: Long = -1L
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      spans += null
      stack = (id, name) :: stack
      sc.setLocalProperty(Tracer.SpanKey, name)
      sc.setLocalProperty(Tracer.OpKey, op.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_._2).orNull)
        // outside every span (the harness's own checks) jobs belong to no op
        if (stack.isEmpty) sc.setLocalProperty(Tracer.OpKey, null)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the union of its children's
    * intervals (children of one span never overlap: one driver thread). */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)
    }.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

/** Task-level counters summed per (op, span) key, fed by the benchmark's
  * own SparkListener. Stage wall time minus the stage's longest task is
  * the time the stage waited on scheduling and stragglers' siblings. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var inputRows = 0L; var resultBytes = 0L
    var schedWaitMs = 0L; var stageWallMs = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }
  type Key = (Long, String)
  private val accs = new ConcurrentHashMap[Key, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, Key]()
  private val stageMaxTask = new ConcurrentHashMap[Int, java.lang.Long]()

  private def acc(k: Key): Acc = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Tracer.OpKey))).map(_.toLong).getOrElse(-1L)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).getOrElse("")
    val k = (op, span)
    acc(k).synchronized { acc(k).jobs += 1 }
    e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = stageKey.get(e.stageId)
    val m = e.taskMetrics
    if (k != null && m != null) {
      val a = acc(k)
      val dur = e.taskInfo.duration
      stageMaxTask.merge(e.stageId, dur, (x, y) => math.max(x, y))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.inputRows += m.inputMetrics.recordsRead
        a.resultBytes += m.resultSize
        a.taskMs += dur
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val k = stageKey.get(s.stageId)
    if (k != null) {
      val wall = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(0L)
      val longest = Option(stageMaxTask.remove(s.stageId)).map(_.longValue).getOrElse(0L)
      val a = acc(k)
      a.synchronized {
        a.stages += 1; a.stageWallMs += wall; a.schedWaitMs += math.max(0L, wall - longest)
      }
    }
  }

  /** Counters of every key whose op is in `ops` (and whose span matches). */
  def select(ops: Set[Long], span: String => Boolean = _ => true): Seq[Acc] =
    accs.asScala.collect { case ((op, sp), a) if ops(op) && span(sp) => a }.toSeq
}

/** JVM-wide probes from the platform MX beans and /proc. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Process high-water resident set (Linux VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
