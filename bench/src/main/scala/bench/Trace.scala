package bench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans and counters of a traced run. Spans are kept in memory and
  * written out when the run ends; times are epoch milliseconds (fractional).
  *
  * Two kinds of span:
  *   - the benchmark's own calls into each layer (`span(...)`), nested by
  *     the calling thread's stack;
  *   - listener-derived spans: micro-batch phases from streaming progress
  *     events and stages from the scheduler, parented to the benchmark span
  *     open when the listener was attached.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 0L

  def current: Long = synchronized(stack.headOption.getOrElse(0L))

  def span[A](name: String, attrs: (String, Any)*)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        nextId += 1; val p = stack.headOption.getOrElse(0L); stack.push(nextId); (nextId, p)
      }
      val start = Clock.nowMs
      try body
      finally synchronized {
        stack.pop()
        spans += Span(id, parent, name, start, Clock.nowMs, attrs.toMap)
      }
    }

  def add(name: String, parent: Long, startMs: Double, endMs: Double,
      attrs: (String, Any)*): Long = synchronized {
    nextId += 1
    if (enabled) spans += Span(nextId, parent, name, startMs, endMs, attrs.toMap)
    nextId
  }

  /** Writes one JSON object per line; returns the span count. */
  def write(path: String): Int = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }.mkString(",")
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"attrs":{$attrs}}""")
    } finally w.close()
    spans.size
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any])
}

/** Wall clock with sub-millisecond resolution: epoch ms anchored once,
  * advanced by the monotonic clock. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Task metrics summed from the scheduler's task-end events, attributed to
  * the `bench.tag` local property of the job that ran them. */
final class TaskStats(tracer: Tracer) extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spillDisk = 0L; var spillMem = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]
  private var started = 0L
  private var ended = 0L
  @volatile var spanParent = 0L

  def acc(tag: String): Acc = synchronized(byTag.getOrElse(tag, new Acc))
  def tags: Seq[String] = synchronized(byTag.keys.toSeq)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("bench.tag"))).getOrElse("")
    stageTag(e.stageInfo.stageId) = tag
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.add("spark.stage", spanParent, s.toDouble, c.toDouble,
        "stage" -> i.stageId, "tasks" -> i.numTasks,
        "tag" -> synchronized(stageTag.getOrElse(i.stageId, "")))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized(started += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ended += 1
    val a = byTag.getOrElseUpdate(stageTag.getOrElse(e.stageId, ""), new Acc)
    a.tasks += 1
    a.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDisk += m.diskBytesSpilled
      a.spillMem += m.memoryBytesSpilled
    }
  }

  /** Waits (bounded) until every started task's end event has arrived. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      if (synchronized(started == ended)) stable += 1 else stable = 0
    }
  }
}

/** Progress events of streaming queries, one per batch id (the last one
  * wins when a batch re-runs after a restart). */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  private val byBatch = mutable.TreeMap.empty[Long, StreamingQueryProgress]
  @volatile var spanParent = 0L

  def all: Seq[StreamingQueryProgress] = synchronized(byBatch.values.toSeq)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    synchronized(byBatch(p.batchId) = p)
    // phases in the order MicroBatchExecution runs them
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
    val batch = tracer.add("microbatch", spanParent, start,
      start + d.getOrElse("triggerExecution", 0L), "batch" -> p.batchId,
      "rows" -> p.numInputRows)
    var t = start
    for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets"); ms <- d.get(ph)) {
      tracer.add(s"microbatch.$ph", batch, t, t + ms)
      t += ms
    }
  }
}

/** Tiny JSON writer for flat values. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** JVM-level probes: process CPU, GC time, memory use and heap after GC. */
object Jvm {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** VmRSS of this process, in MB. */
  def rssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Memory the program needs: the largest resident memory outside the
    * heap (RSS − committed heap, sampled every 20 ms; the heap is
    * pre-touched, so all of it is resident) plus the heap still live after a
    * full collection at the end of the measured phases. Unlike the process's
    * peak RSS it does not follow the heap's size limits, and unlike the heap
    * occupancy after young collections it counts no garbage waiting in the
    * old generation. */
  final class MemUse {
    @volatile private var nonHeapMb = 0.0
    private var liveHeapMb = 0.0
    @volatile private var running = true
    private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    private val sampler = new Thread(() => while (running) {
      val committed = mem.getHeapMemoryUsage.getCommitted / 1048576.0
      nonHeapMb = math.max(nonHeapMb, rssMb - committed)
      Thread.sleep(20)
    }, "bench-mem-sampler")
    sampler.setDaemon(true)
    sampler.start()

    /** Runs a full collection: call it once, at the end of the measured phases. */
    def mb(): Double = {
      System.gc()
      liveHeapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      nonHeapMb + liveHeapMb
    }
    override def toString: String = f"non-heap peak $nonHeapMb%.0f MB + live heap $liveHeapMb%.0f MB"
    def close(): Unit = { running = false; sampler.join() }
  }

  /** Tracks the largest heap occupancy right after a collection, through the
    * collectors' notifications. */
  final class HeapAfterGc {
    @volatile var peakMb = 0.0
    private val listener: javax.management.NotificationListener = (n, _) => {
      import com.sun.management.GarbageCollectionNotificationInfo
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakMb = math.max(peakMb, used / 1048576.0)
      }
    }
    private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: javax.management.NotificationEmitter => e }
    beans.foreach(_.addNotificationListener(listener, null, null))
    def close(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
  }
}

/** Listeners of one traced run. `attach`/`detach` switch the Spark
  * listeners on and off (their counts add up over every attached stretch);
  * the heap tracker runs from the first `attach` to `close`. */
final class Probes(spark: SparkSession, tracer: Tracer) {
  val tasks = new TaskStats(tracer)
  val progress = new ProgressLog(tracer)
  private var heap: Jvm.HeapAfterGc = _

  def attach(): Unit = {
    tasks.spanParent = tracer.current
    progress.spanParent = tracer.current
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(progress)
    if (heap == null) heap = new Jvm.HeapAfterGc
  }

  def detach(): Unit = {
    tasks.drain()
    spark.sparkContext.removeSparkListener(tasks)
    spark.streams.removeListener(progress)
  }

  def close(): Unit = if (heap != null) heap.close()

  def heapAfterGcPeakMb: Double = if (heap == null) 0.0 else heap.peakMb
}
