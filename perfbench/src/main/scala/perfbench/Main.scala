package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val opts: Map[String, String], val work: Path,
    val cores: Int) {
  val seconds: Int = opts("seconds").toInt
  val streams = new StreamRecorder
  /** Set in a traced run: charges Spark work to spans. */
  @volatile var listener: Option[RuntimeListener] = None
  spark.streams.addListener(streams)

  private var n = 0
  /** A fresh directory under the run's work directory. */
  def freshDir(tag: String): Path = synchronized {
    n += 1
    Files.createDirectories(work.resolve(f"$tag-$n%02d"))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the JVM so far, in seconds: every thread (tasks, driver,
    * GC) but the JIT compiler threads, which mostly measure how far the
    * JVM's warm-up has got. The guest kernel accounts stolen time
    * separately, so time the host gives to other machines does not count
    * here.
    */
  def cpuS(): Double = os.getProcessCpuTime / 1e9 - Ctx.jitCpuS()

  /** Heap in use after full collections, in MiB. The pauses let Spark's
    * context cleaner drop the blocks whose references the previous
    * collection cleared.
    */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Ctx {
  /** CPU time of the JIT compiler threads so far, in seconds, from
    * `/proc/self/task/<tid>/stat` (clock ticks of 10 ms). The runner keeps
    * every compiler thread alive (`-XX:-UseDynamicNumberOfCompilerThreads`),
    * so none of their time is lost with a thread.
    */
  def jitCpuS(): Double = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) return 0.0
    val ds = Files.list(tasks)
    try ds.iterator.asScala.map { t =>
      try {
        val stat = Files.readString(t.resolve("stat"))
        val open = stat.indexOf('(')
        val close = stat.lastIndexOf(')')
        if (!stat.substring(open + 1, close).contains("CompilerThre")) 0L
        else {
          val f = stat.substring(close + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
    finally ds.close()
  }
}

/** A workload: a set-up round that can be repeated, and a measured phase
  * over the state the last round left. Both record into the phase's one
  * [[Outcome]], so a failure in a round that is not measured still counts.
  */
trait Workload {
  type State
  /** Builds the run's inputs once, before the set-up rounds. */
  def stage(ctx: Ctx): Unit = ()
  /** Builds this round's inputs and warms the engine on them. */
  def setup(ctx: Ctx, tr: Tracer, out: Outcome): State
  /** Releases a round that will not be measured. */
  def discard(ctx: Ctx, s: State): Unit
  /** Runs the timed phase, then the correctness gates, and stops
    * everything it started.
    */
  def measure(ctx: Ctx, s: State, tr: Tracer, out: Outcome): Unit
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--out <dir>]`: runs one workload and prints one
  * `PERFBENCH_RESULT {json}` line with every metric it measured.
  */
object Main {
  /** The layers spans are recorded for. */
  val Layers = Seq("sources", "streaming", "binlog", "plans", "ops")
  /** Set-up rounds of an untraced run; set-up time is their median. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opt("workload") match {
      case "binlog_live" => Live
      case "corpus_batch" => Corpus
      case other => sys.error(s"unknown workload $other")
    }
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = opt.get("out").map(Paths.get(_).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors
    val census = LogCensus.install()
    val spark = graft.Tables.session("perfbench", s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opt, work, cores)
    try {
      val st0 = System.nanoTime()
      workload.stage(ctx)
      val stagingS = (System.nanoTime() - st0) / 1e9 + opt.get("staging-s").map(_.toDouble).getOrElse(0.0)
      System.err.println(f"[perfbench] staging $stagingS%.1f s")
      val plain = new Tracer(false, spark)
      val (setupS, o, _) = phase(ctx, workload, plain, SetupRounds)
      val result = new Outcome
      result.e2e ++= o.e2e
      result.e2e("setup_s") = stagingS + setupS
      result.report ++= o.report
      result.attempted = o.attempted
      result.failed = o.failed
      result.failures ++= o.failures
      if (traced) {
        val listener = new RuntimeListener
        spark.sparkContext.addSparkListener(listener)
        ctx.listener = Some(listener)
        val tr = new Tracer(true, spark)
        val census0 = census.snapshot
        val (tSetup, t, wallMs) = phase(ctx, workload, tr, rounds = 1, listener = Some(listener))
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        result.layers ++= t.layers
        result.layers ++= RuntimeListener.metrics("spark",
          listener.total(_ => true), wallMs, cores)
        val self = tr.selfMsByLayer
        Layers.foreach(l => result.layers(s"self_ms.$l") = self.getOrElse(l, 0.0))
        result.layers ++= LogCensus.metrics(census0, census.snapshot)
        val traced = t.e2e + ("setup_s" -> (stagingS + tSetup))
        result.e2e.foreach { case (k, v) =>
          result.layers(s"trace.overhead.$k") = traced.getOrElse(k, Double.NaN) - v
        }
        result.attempted += t.attempted
        result.failed += t.failed
        result.failures ++= t.failures
        out.foreach { dir =>
          Files.createDirectories(dir)
          tr.write(dir.resolve(s"spans-${opt("workload")}-${opt("seed")}.jsonl"))
        }
        spark.sparkContext.removeSparkListener(listener)
      }
      System.err.println(s"[perfbench] census ${census.snapshot.toSeq.sorted.mkString(" ")}")
      result.report.foreach { case (k, v) => System.err.println(f"[perfbench] $k = $v%.3f") }
      result.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
      println("PERFBENCH_RESULT " + Stats.json(Map(
        "correct" -> (result.failed == 0),
        "attempted" -> result.attempted,
        "failed" -> result.failed,
        "e2e" -> result.e2e,
        "layers" -> result.layers,
        "report" -> result.report)))
    } finally spark.stop()
  }

  /** (all, steal) CPU ticks of the machine so far, from `/proc/stat`;
    * zeros where it is not readable.
    */
  def hostTicks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** `rounds` set-up rounds, each but the last released before the next
    * starts, then the measured phase on the last. Returns the set-up time
    * (the median round), the outcome, and the measured phase's wall time
    * in ms.
    */
  private def phase(ctx: Ctx, w: Workload, tr: Tracer, rounds: Int,
      listener: Option[RuntimeListener] = None): (Double, Outcome, Double) = {
    val out = new Outcome
    val times = mutable.ArrayBuffer.empty[Double]
    var s: w.State = null.asInstanceOf[w.State]
    (1 to rounds).foreach { r =>
      if (r > 1) w.discard(ctx, s)
      val t0 = System.nanoTime()
      s = w.setup(ctx, tr, out)
      times += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] set-up rounds ${times.map(t => f"$t%.1f").mkString(",")} s")
    listener.foreach { l => org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext); l.reset() }
    val t0 = System.nanoTime()
    val host0 = Main.hostTicks()
    val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    w.measure(ctx, s, tr, out)
    val measureMs = (System.nanoTime() - t0) / 1e6
    val host1 = Main.hostTicks()
    val stealPct = 100.0 * (host1._2 - host0._2) / math.max(1L, host1._1 - host0._1)
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0
    System.err.println(f"[perfbench] measured phase and checks ${measureMs / 1000}%.1f s, " +
      f"host steal $stealPct%.1f%%, JIT $jitMs ms")
    (Stats.median(times), out, measureMs)
  }
}
