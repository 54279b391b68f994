package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer, as the traced run records it. Times are
  * `System.nanoTime`; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    family: String, startNs: Long, endNs: Long, thread: String)

/** Spans around the benchmark's calls into the engine's layers. When
  * disabled every `span` call is just its body. When enabled each span
  * also tags the Spark jobs it launches with its own job group, so
  * [[RuntimeListener]] can charge their tasks to it.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val families = new ConcurrentHashMap[Long, String]()

  def span[T](layer: String, name: String, family: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      val fam = if (family.nonEmpty) family
        else Option(families.get(parent)).getOrElse("")
      if (fam.nonEmpty) families.put(id, fam)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack.set(id :: outer)
      sc.setJobGroup(Tracer.group(runId, id), s"$layer:$name")
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, sc.getLocalProperty("spark.job.description"))
        done.add(Span(id, parent, layer, name, fam, t0, t1, Thread.currentThread.getName))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** The span that owns a job group, if it is one of ours. */
  def spanOf(group: String): Option[Span] =
    Tracer.spanId(runId, group).flatMap(id => spans.find(_.id == id))

  /** Self time per layer: a span's duration minus the part of it that
    * its child spans cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Stats.json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "family" -> s.family, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "thread" -> s.thread))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def group(runId: String, id: Long): String = s"perfbench-$runId-$id"
  def spanId(runId: String, group: String): Option[Long] =
    if (group != null && group.startsWith(s"perfbench-$runId-"))
      Some(group.stripPrefix(s"perfbench-$runId-").toLong)
    else None
}

/** Task-level totals for one job group. */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, schedMs, durMs, shuffleRead, shuffleWrite, spill, gcMs, fetchWaitMs = 0L
  var peakMem = 0L

  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    schedMs += o.schedMs; durMs += o.durMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** Charges every job, stage and task to the job group that launched it:
  * a [[Tracer]] span, or a streaming query's run id.
  */
final class RuntimeListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = accs.computeIfAbsent(Option(g).getOrElse(""), _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val key = Option(g).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, key))
    acc(key).synchronized { acc(key).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = acc(g); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        a.durMs += info.duration
        if (m != null) {
          a.runMs += m.executorRunTime
          a.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }

  def reset(): Unit = accs.clear()

  def byGroup: Map[String, Acc] = accs.asScala.toMap

  /** Sum of the groups selected by `keep`. */
  def total(keep: String => Boolean): Acc = {
    val t = new Acc
    byGroup.foreach { case (g, a) => if (keep(g)) a.synchronized(t.add(a)) }
    t
  }
}

object RuntimeListener {
  /** The per-layer runtime metrics of one group total, under `prefix`. */
  def metrics(prefix: String, a: Acc, wallMs: Double, cores: Int,
      only: Set[String] = Set.empty): Map[String, Double] = {
    val all = Map(
      "jobs" -> a.jobs.toDouble,
      "stages" -> a.stages.toDouble,
      "tasks" -> a.tasks.toDouble,
      "task_run_ms" -> a.runMs.toDouble,
      "sched_delay_ms" -> a.schedMs.toDouble,
      "core_busy_frac" -> (if (wallMs > 0) a.durMs / (wallMs * cores) else 0.0),
      "shuffle_read_bytes" -> a.shuffleRead.toDouble,
      "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
      "spill_bytes" -> a.spill.toDouble,
      "gc_ms" -> a.gcMs.toDouble,
      "fetch_wait_ms" -> a.fetchWaitMs.toDouble,
      "peak_exec_mem_mb" -> a.peakMem / 1048576.0)
    all.filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"$prefix.$k" -> v }
  }
}

/** One streaming micro-batch, from its progress event. `endMs` is the
  * trigger start plus the trigger's duration: when its commit finished.
  */
final case class Batch(query: String, batchId: Long, endMs: Long, rows: Long,
    durations: Map[String, Long])

/** Records every progress event of the session's streaming queries and
  * lets a workload react to each committed batch.
  */
final class StreamRecorder extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var onBatch: Batch => Unit = _ => ()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val b = Batch(Option(p.name).getOrElse(p.id.toString), p.batchId,
      start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d)
    batches.add(b)
    onBatch(b)
  }

  def all: Seq[Batch] = batches.asScala.toSeq
}
