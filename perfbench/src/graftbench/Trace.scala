package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** In-memory spans, written out when the run ends. */
final class Spans {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)
  private val ids = new AtomicInteger(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  /** Record a finished interval; returns its id. */
  def add(name: String, op: Long, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, op, name, startNs, endNs))
    id
  }

  /** Time `body` as a span whose id `body` may use as a parent. */
  def time[T](name: String, op: Long, parent: Int)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally buf.add(Span(id, parent, op, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Spans {
  /** Total length of a set of possibly overlapping intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

/** Spark-side counters of the ops that run under a job group starting
  * with [[LayerListener.Prefix]]: the scheduler and executors through the
  * job, stage and task events, the Catalyst phases through the
  * `qe.tracker.phases` of each SQL execution. An execution's start event
  * names its job group; its end event carries the QueryExecution (the
  * object QueryExecutionListeners receive, which itself has no id that
  * matches the execution's). */
final class LayerListener extends SparkListener {
  import LayerListener._

  final class Acc {
    var jobs, stages, tasks = 0L
    var schedDelayMs, runMs, cpuMs, gcMs = 0.0
    var inputBytes, shuffleWriteBytes, spillBytes = 0L
    val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val acc = new ConcurrentHashMap[String, Acc]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPhases = new ConcurrentHashMap[Long, Map[String, Long]]()

  private def accOf(g: String): Acc = acc.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Prefix)).foreach { g =>
        jobGroup.put(e.jobId, g)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(stageGroup.put(_, g))
        accOf(g).synchronized(accOf(g).jobs += 1)
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val a = accOf(g)
      a.synchronized(a.jobIntervals += ((jobStartMs.get(e.jobId), e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = accOf(g)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = accOf(g)
      val m = e.taskMetrics
      val i = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // the Spark UI's scheduler delay: task wall minus the executor's
          // own deserialize, run and result-serialize time
          val overhead = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
          a.schedDelayMs += math.max(0L, i.duration - overhead - i.gettingResultTime)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(Prefix)).foreach(execGroup.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd if execGroup.containsKey(end.executionId) =>
      org.apache.spark.sql.GraftBenchSql.queryExecution(end).foreach { qe =>
        execPhases.put(end.executionId, qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
      }
    case _ => ()
  }

  /** Counters of one op's group; call after draining the listener bus. */
  def take(group: String): OpCounters = {
    val a = Option(acc.remove(group)).getOrElse(new Acc)
    val execs = execGroup.asScala.collect { case (id, g) if g == group => id }.toSeq
    val phases = execs.flatMap(id => Option(execPhases.remove(id)))
    execs.foreach(execGroup.remove)
    def phase(n: String) = phases.map(_.getOrElse(n, 0L)).sum.toDouble
    val execMs = Spans.union(a.jobIntervals.toSeq).toDouble
    OpCounters(a.jobs, a.stages, a.tasks, a.schedDelayMs, a.runMs, a.cpuMs, a.gcMs,
      a.inputBytes, a.shuffleWriteBytes, a.spillBytes, execMs,
      phase("analysis"), phase("optimization"), phase("planning"))
  }
}

object LayerListener {
  val Prefix = "graftbench-"
}

/** What the Spark layers did for one op. `execMs` is the union of the
  * op's job intervals; `runMs` sums task run time over all cores. */
final case class OpCounters(jobs: Long, stages: Long, tasks: Long,
    schedDelayMs: Double, runMs: Double, cpuMs: Double, gcMs: Double,
    inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, execMs: Double,
    analysisMs: Double, optimizeMs: Double, planMs: Double)

/** Process-level meters read at the edges of the timed window. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Process CPU time, all threads (Spark's local executors included). */
  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = jit.getTotalCompilationTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum

  /** Heap in use after full collections, MiB. Spark's ContextCleaner
    * frees broadcasts and shuffles only after a collection has found them
    * unreachable, so it gets time to run between collections. */
  def liveHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Longest single collection pause seen since [[resetMaxPause]]. */
  @volatile private var maxPause = 0L
  def resetMaxPause(): Unit = maxPause = 0L
  def maxPauseMs: Long = maxPause

  locally {
    gcs.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (!info.getGcCause.contains("Concurrent"))
              maxPause = math.max(maxPause, info.getGcInfo.getDuration)
          }
        }, null, null)
      case _ => ()
    }
  }
}
