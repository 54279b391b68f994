package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.binlog.{DailyCounts, Ingest, Pipeline, TransactionStats}
import graft.sources.BinlogSources
import graft.streaming.{StreamingIngest, StreamingMVs}

/** `binlog_live`: the paper's ingest dataflow running continuously, then
  * its compute job over what landed.
  *
  * Open loop: chunk files of the seeded event replay (staged by
  * `live_data.py`) are renamed into the source directory on a fixed
  * schedule: 2 000 rows/s as one 400-row file every 200 ms, plus a burst of
  * ten 5 000-row files within one second, every 20 s with the last one
  * due 2 s before the timed feed ends. `BinlogSources.replay` feeds `StreamingIngest.transform`,
  * whose rows go to `StreamingIngest.writer` and
  * `StreamingMVs.partialsWriter`, both triggered every 2.5 s. Once the
  * feed has landed, `Pipeline.runCompute` runs back to back, each pass
  * publishing every closed window of the landed table into a fresh layout.
  * `p50_ms` is the ingest freshness p50 of the timed chunks, `cpu_s` the
  * JVM's CPU time over the timed feed, its drain and the compute passes.
  */
object Live extends Workload {
  /** Compute passes measured after the feed. */
  val ComputePasses = 3
  /** Trigger interval of both streaming queries. */
  val TriggerMs = 1000L
  /** Where the feed starts within a trigger interval. A chunk waits for
    * the next trigger, and with one chunk every 200 ms that wait depends on
    * the phase between the two schedules: left to the clock, the median
    * wait moved by up to 200 ms between runs. At 150 ms every run has the
    * same waits (850, 650, 450, 250 and 50 ms), and no file lands on a
    * trigger boundary.
    */
  val FeedPhaseMs = 150L

  /** The `events` columns the chunk files carry. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** One chunk file of the feed; `dueMs` is its offset from the start of
    * its feed (warm or timed), `burst` its burst number or -1.
    */
  final case class Chunk(idx: Int, rows: Int, dueMs: Long, burst: Int, timed: Boolean) {
    def name: String = f"chunk_$idx%05d.parquet"
  }

  /** Order-independent fingerprint of a frame: row count and the sum of
    * each row's 64-bit hash.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Chunks landed by each query, read back from its file-source log. */
  final class Landing(chunks: IndexedSeq[Chunk], maxTsMs: IndexedSeq[Long]) {
    val ingest = new ConcurrentHashMap[Int, Long]()
    val mv = new ConcurrentHashMap[Int, Long]()
    @volatile private var prefix = -1

    def record(target: ConcurrentHashMap[Int, Long], ckpt: String, b: Batch): Unit = {
      Live.filesOfBatch(ckpt, b.batchId).foreach(i => target.putIfAbsent(i, b.endMs))
      if (target eq ingest) synchronized {
        while (prefix + 1 < chunks.size && ingest.containsKey(prefix + 1)) prefix += 1
      }
    }

    /** Event-time high-water mark (epoch ms) of the landed prefix. */
    def hwmMs: Long = if (prefix < 0) Long.MinValue else maxTsMs(prefix)
  }

  private val Entry = """"path":"[^"]*chunk_(\d+)\.parquet".*"batchId":(\d+)""".r.unanchored

  /** Chunk indices the file source logged for `batchId`. */
  def filesOfBatch(ckpt: String, batchId: Long): Seq[Int] = {
    val dir = java.nio.file.Paths.get(ckpt, "sources", "0")
    Seq(dir.resolve(batchId.toString), dir.resolve(s"$batchId.compact"))
      .find(Files.exists(_)).toSeq
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case Entry(i, b) if b.toLong == batchId => i.toInt }
  }

  final case class Pass(startMs: Long, endMs: Long, nowMs: Long, written: Int, files: Int)

  /** Runs `Pipeline.runCompute` and records each pass. */
  final class Compute(spark: SparkSession, tr: Tracer, out: Outcome) {
    val passes = mutable.ArrayBuffer.empty[Pass]

    def run(layout: Pipeline.Layout, nowMs: Long): Unit = {
      val files = if (tr.enabled) Live.countFiles(Path.of(layout.eventTable)) else 0
      val t0 = System.currentTimeMillis()
      try {
        val n = tr.span("binlog", "Pipeline.runCompute") {
          Pipeline.runCompute(spark, layout, new Timestamp(nowMs))
        }
        passes += Pass(t0, System.currentTimeMillis(), nowMs, n, files)
      } catch { case e: Exception => out.fail(s"runCompute(now=$nowMs): $e") }
    }
  }

  final class State(val base: Path, val watch: Path, val layout: Pipeline.Layout,
      val chunks: IndexedSeq[Chunk], val staged: Map[Int, Path], val maxTsMs: IndexedSeq[Long],
      val landing: Landing, val ingest: StreamingQuery, val mv: StreamingQuery,
      val compute: Compute, val renamedMs: mutable.Map[Int, Long],
      val dueMs: mutable.Map[Int, Long])

  def countFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.count(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("/_")).toInt
      finally s.close()
    }

  private var round = 0

  /** The staged chunk files (written by the caller into `--data`) and the
    * largest event time of each, from its manifest.
    */
  private var manifest: Option[(Path, IndexedSeq[Chunk], IndexedSeq[Long])] = None

  override def stage(ctx: Ctx): Unit = {
    val dir = Path.of(ctx.opts("data"))
    val rows = Files.readAllLines(dir.resolve("manifest.tsv")).asScala.filter(_.nonEmpty)
      .map(_.split('\t')).toIndexedSeq
    manifest = Some((dir,
      rows.map(f => Chunk(f(0).toInt, f(1).toInt, f(2).toLong, f(3).toInt, f(4) == "1")),
      rows.map(_(5).toLong)))
  }

  /** Set-up round: a fresh pipeline on fresh directories with its own copy
    * of the staged chunks, both queries started and the warm feed landed
    * at the timed rate. The JVM's first round also warms the compute job
    * with one pass over the warm feed; set-up time is the median round, so
    * a warm one.
    */
  def setup(ctx: Ctx, tr: Tracer, out: Outcome): State = {
    val spark = ctx.spark
    round += 1
    val (staged0, chunks, maxTsMs) = manifest.get
    val base = ctx.freshDir("live")
    val watch = Files.createDirectories(base.resolve("in"))
    val layout = Pipeline.Layout(base.resolve("out").toString)
    val staging = Files.createDirectories(base.resolve("staging"))
    val staged = chunks.map(c => c.idx -> Files.copy(staged0.resolve(c.name), staging.resolve(c.name))).toMap

    val landing = new Landing(chunks, maxTsMs)
    val (ingestName, mvName) = (s"ingest-$round", s"mv-$round")
    ctx.streams.onBatch = b =>
      if (b.durations.contains("addBatch")) {
        if (b.query == ingestName) landing.record(landing.ingest, layout.checkpointIngest, b)
        else if (b.query == mvName) landing.record(landing.mv, layout.checkpointMv, b)
      }
    val (ingest, mv) = tr.span("streaming", "start") {
      val raw = tr.span("sources", "BinlogSources.replay") {
        BinlogSources.replay(spark, watch.toString, schema, maxFilesPerTrigger = 100000)
      }
      val shaped = StreamingIngest.transform(raw, Ingest.jsonPropsDecoder, "props", "error")
      val q1 = StreamingIngest.writer(shaped, layout.eventTable, layout.checkpointIngest)
        .queryName(ingestName).trigger(Trigger.ProcessingTime(TriggerMs)).start()
      val q2 = StreamingMVs.partialsWriter(shaped.select(col("execute_time"), col("event_type")),
        layout.mvPartials, layout.checkpointMv)
        .queryName(mvName).trigger(Trigger.ProcessingTime(TriggerMs)).start()
      (q1, q2)
    }
    val compute = new Compute(spark, tr, out)
    val s = new State(base, watch, layout, chunks, staged, maxTsMs, landing, ingest, mv,
      compute, mutable.Map.empty, mutable.Map.empty)
    val warm = chunks.filter(!_.timed)
    feed(s, warm)
    if (!awaitLanded(s, warm, 60000)) out.fail("warm chunks did not land within 60 s")
    if (round == 1) compute.run(layout, landing.hwmMs)
    s
  }

  /** Renames `cs` in on schedule, starting `FeedPhaseMs` after the next
    * trigger boundary (processing-time triggers fire at multiples of the
    * interval since the epoch).
    */
  private def feed(s: State, cs: Seq[Chunk]): Long = {
    val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + FeedPhaseMs
    cs.foreach { c =>
      val due = t0 + c.dueMs
      var now = System.currentTimeMillis()
      while (now < due) {
        LockSupport.parkNanos((due - now) * 1000000L)
        now = System.currentTimeMillis()
      }
      val dst = s.watch.resolve(c.name)
      Files.move(s.staged(c.idx), dst, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(now))
      s.dueMs(c.idx) = due
      s.renamedMs(c.idx) = System.currentTimeMillis()
    }
    t0
  }

  /** Waits until both queries landed `cs`. */
  private def awaitLanded(s: State, cs: Seq[Chunk], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = cs.forall(c => s.landing.ingest.containsKey(c.idx) &&
      s.landing.mv.containsKey(c.idx))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(10)
    done
  }

  def discard(ctx: Ctx, s: State): Unit = {
    s.ingest.stop()
    s.mv.stop()
  }

  def measure(ctx: Ctx, s: State, tr: Tracer, out: Outcome): Unit = {
    val spark = ctx.spark
    val timed = s.chunks.filter(_.timed)
    val batches0 = ctx.streams.all.size
    val c0 = ctx.cpuS()
    val t0 = feed(s, timed)
    val drained = awaitLanded(s, timed, 90000)
    val t1 = System.currentTimeMillis()
    s.ingest.stop()
    s.mv.stop()
    if (!drained) out.fail("timed chunks did not land within 90 s of the last due time")
    val feedCpuS = ctx.cpuS() - c0

    // the compute job over everything landed, as a closed loop of passes
    // that each publish every window from scratch into a fresh layout
    val passes0 = s.compute.passes.size
    var computeCpuS = 0.0
    val layouts = (1 to ComputePasses).map { k =>
      val l = Pipeline.Layout(s.base.resolve(s"compute-$k").toString)
      copyTree(Path.of(s.layout.eventTable), Path.of(l.eventTable))
      val c = ctx.cpuS()
      s.compute.run(l, s.landing.hwmMs)
      computeCpuS += ctx.cpuS() - c
      l
    }
    val passes = s.compute.passes.drop(passes0).toSeq
    out.e2e("retained_heap_mb") = ctx.retainedHeapMb()

    val due = s.dueMs
    val ingestFresh = timed.flatMap(c => Option(s.landing.ingest.get(c.idx)).map(e => (e - due(c.idx)).toDouble))
    val mvFresh = timed.flatMap(c => Option(s.landing.mv.get(c.idx)).map(e => (e - due(c.idx)).toDouble))
    out.attempted += timed.size * 2L + ComputePasses
    out.failed += timed.size * 2L - ingestFresh.size - mvFresh.size

    val bursts = timed.filter(_.burst >= 0).groupBy(_.burst).values.map { cs =>
      val start = cs.map(c => due(c.idx)).min
      cs.flatMap(c => Option(s.landing.ingest.get(c.idx))).maxOption.map(e => (e - start).toDouble)
    }.flatten.toSeq
    val genLate = timed.map(c => (s.renamedMs(c.idx) - due(c.idx)).toDouble)

    out.e2e("p50_ms") = Stats.median(ingestFresh)
    out.e2e("cpu_s") = feedCpuS + computeCpuS
    out.report ++= Seq(
      "binlog_live.mv_fresh_p50_ms" -> Stats.median(mvFresh),
      "binlog_live.burst_catchup_ms" -> Stats.median(bursts),
      "binlog_live.compute_passes" -> passes.size.toDouble)

    if (tr.enabled) {
      val phaseMs = (t1 - t0).toDouble
      val batches = ctx.streams.all.drop(batches0).filter(_.durations.contains("addBatch"))
      def q(name: String, ckptTable: String, qb: Seq[Batch]): Map[String, Double] = {
        def d(k: String) = Stats.median(qb.map(_.durations.getOrElse(k, 0L).toDouble))
        Map(
          "batches" -> qb.size.toDouble,
          "rows_per_batch_p50" -> Stats.median(qb.map(_.rows.toDouble)),
          "trigger_ms_p50" -> d("triggerExecution"),
          "add_batch_ms_p50" -> d("addBatch"),
          "query_planning_ms_p50" -> d("queryPlanning"),
          "wal_commit_ms_p50" -> d("walCommit"),
          "commit_offsets_ms_p50" -> d("commitOffsets"),
          "busy_frac" -> qb.map(_.durations.getOrElse("triggerExecution", 0L)).sum / phaseMs,
          "files_written" -> countFiles(Path.of(ckptTable)).toDouble
        ).map { case (k, v) => s"streaming.$name.$k" -> v }
      }
      val ib = batches.filter(_.query == s.ingest.name)
      val mb = batches.filter(_.query == s.mv.name)
      out.layers ++= q("ingest", s.layout.eventTable, ib)
      out.layers ++= q("mv", s.layout.mvPartials, mb)
      // rows renamed in before a batch ended that it did not take
      val lag = ib.map { b =>
        timed.filter(c => s.renamedMs(c.idx) <= b.endMs &&
          Option(s.landing.ingest.get(c.idx)).forall(_ > b.endMs)).map(_.rows.toDouble).sum
      }
      out.layers ++= Map(
        "sources.read_lag_rows_p50" -> Stats.median(lag),
        "sources.read_lag_rows_max" -> (if (lag.isEmpty) Double.NaN else lag.max),
        "sources.latest_offset_ms_p50" -> Stats.median(ib.map(_.durations.getOrElse("latestOffset", 0L).toDouble)),
        "sources.get_batch_ms_p50" -> Stats.median(ib.map(_.durations.getOrElse("getBatch", 0L).toDouble)),
        "sources.gen_late_ms_p99" -> Stats.pct(genLate, 99),
        "binlog.compute.passes" -> passes.size.toDouble,
        "binlog.compute.pass_ms_p50" -> Stats.median(passes.map(p => (p.endMs - p.startMs).toDouble)),
        "binlog.compute.files_read_per_pass" -> Stats.median(passes.map(_.files.toDouble)),
        "binlog.compute.windows_written" -> passes.map(_.written.toDouble).sum,
        "binlog.live.ingest_fresh_p50_ms" -> out.e2e("p50_ms"),
        "binlog.live.ingest_fresh_p95_ms" -> Stats.pct(ingestFresh, 95),
        "binlog.live.mv_fresh_p50_ms" -> out.report("binlog_live.mv_fresh_p50_ms"),
        "binlog.live.feed_cpu_s" -> feedCpuS,
        "binlog.compute.cpu_s" -> computeCpuS,
        "binlog.live.burst_catchup_ms" -> out.report("binlog_live.burst_catchup_ms"))
    }

    verify(spark, s, layouts.last, out, tr)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val w = Files.walk(src)
    try w.iterator.asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally w.close()
  }

  /** The correctness gates, outside the timed region. */
  private def verify(spark: SparkSession, s: State, computed: Pipeline.Layout, out: Outcome,
      tr: Tracer): Unit = {
    def gate(what: String)(ok: => Boolean): Unit = {
      out.attempted += 1
      val pass = try ok catch { case e: Exception => out.fail(s"$what: $e"); return }
      if (!pass) out.fail(what)
    }
    val input = spark.read.schema(schema).parquet(s.watch.toString)
    val expected = StreamingIngest.transform(input, Ingest.jsonPropsDecoder, "props", "error")
    val landed = spark.read.parquet(s.layout.eventTable).persist()
    val stable = Seq("binlog_pos", "event_type", "is_ddl", "execute_time_sec", "execute_time",
      "gtid", "single_statement_affected_rows", "single_statement_size", "k")
    if (tr.enabled) {
      val t0 = System.nanoTime()
      tr.span("binlog", "StreamingIngest.transform(static)") {
        StreamingIngest.transform(input, Ingest.jsonPropsDecoder, "props", "error")
          .queryExecution.toRdd.count()
      }
      out.layers("binlog.ingest.transform_ms") = (System.nanoTime() - t0) / 1e6
      out.layers("binlog.ingest.rows_in") = input.count().toDouble
      out.layers("binlog.ingest.rows_landed") = landed.count().toDouble
    }
    gate("landed table equals StreamingIngest.transform of the input") {
      fingerprint(landed.select(stable.map(col): _*)) ==
        fingerprint(expected.select(stable.map(col): _*))
    }
    gate("MV re-sum equals DailyCounts.dailyEventCounts") {
      val a = Pipeline.readDailyCounts(spark, s.layout)
        .select("day", "event_type", "event_count").collect().map(_.toString).sorted.toSeq
      val b = DailyCounts.dailyEventCounts(landed)
        .select("day", "event_type", "event_count").collect().map(_.toString).sorted.toSeq
      a == b
    }
    val lastNow = new Timestamp(s.landing.hwmMs)
    TransactionStats.metrics.foreach { m =>
      // equal fingerprints mean the same multiset of rows, so also exactly
      // one row per closed window
      gate(s"stats_$m: one row per closed window, equal to top1PerWindow") {
        val got = spark.read.parquet(computed.statTable(m))
        val want = TransactionStats.top1PerWindow(landed, m)
          .filter(col("end_time") <= lit(lastNow)).select(got.columns.toSeq.map(col): _*)
        fingerprint(got) == fingerprint(want)
      }
    }
    landed.unpersist()
  }
}
