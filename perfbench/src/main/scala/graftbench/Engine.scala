package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters, gathered by a listener the benchmark registers.
  *
  * Work is attributed to a tag: the benchmark sets the job group
  * (`SparkContext.setJobGroup`) to the tag before it calls into graft, and
  * every job, and every task of that job's stages, counts toward it. The
  * listener bus is asynchronous, so [[settle]] waits until the counts stop
  * changing before a reader takes them.
  */
final class Engine extends SparkListener {
  import Engine.Counts

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val total = new Counts
  @volatile private var events = 0L

  private def of(tag: String): Counts = counts.computeIfAbsent(tag, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events += 1
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageTag.put(_, tag))
    Seq(of(tag), total).foreach(c => c.synchronized(c.jobs += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageTag.getOrDefault(e.stageId, ""))
      Seq(c, total).foreach(x => x.synchronized {
        x.tasks += 1
        x.taskMs += m.executorRunTime
        x.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        x.spillBytes += m.diskBytesSpilled
      })
    }
  }

  /** Blocks until no listener event has arrived for 200 ms (at most 5 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (last != events && System.nanoTime() < deadline) {
      last = events
      Thread.sleep(200)
    }
  }

  def forTag(tag: String): Counts = of(tag).synchronized(of(tag).copy)
  def all: Counts = total.synchronized(total.copy)
}

object Engine {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def copy: Counts = {
      val c = new Counts
      c.jobs = jobs; c.tasks = tasks; c.taskMs = taskMs
      c.shuffleBytes = shuffleBytes; c.spillBytes = spillBytes
      c
    }
  }

  def install(sc: SparkContext): Engine = {
    val e = new Engine
    sc.addSparkListener(e)
    e
  }

  /** Runs `f` with every job it starts tagged `tag`. */
  def tagged[A](sc: SparkContext, tag: String)(f: => A): A = {
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** Total GC time of this JVM so far, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Sum of the heap pools' peak usage since [[resetHeapPeak]], in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
}
