package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, TimestampType}

/** `corpus_batch`: one pass is three registry entries in name order, each
  * called through `SparkEntry.queries` on the seeded tables in `--data`
  * and materialized with `queryExecution.toRdd.count()`. The timed phase
  * runs a fixed number of passes back to back: one per `NominalPassS` of
  * `--seconds`, however fast they are; `p50_ms` is the median pass time
  * and `cpu_s` the median CPU time of a pass. Set-up is the table generation
  * (done by the caller, its time passed as `--staging-s`) and the set-up
  * rounds (see `setup`).
  */
object Corpus extends Workload {
  /** Entry → family, in pass order. */
  val Entries: Seq[(String, String)] = Seq(
    "d15_block_dedup" -> "dedup", "m3_modality_stats" -> "multimodal",
    "t32_pagerank" -> "graph")
  val Families: Seq[String] = Seq("dedup", "graph", "multimodal")
  /** Timed passes per second of `--seconds`, as a pass length. */
  val NominalPassS = 2.0
  /** Plain passes in each set-up round after the first. */
  val WarmPasses = 1
  /** The Spark runtime metrics reported per family. */
  val FamilyMetrics = Set("jobs", "task_run_ms", "shuffle_write_bytes", "spill_bytes",
    "gc_ms", "peak_exec_mem_mb")

  private lazy val queries = graft.SparkEntry.queries

  final case class Run(entry: String, ms: Double, planMs: Double, rows: Long, persisted: Int)

  final class State(val dir: String)

  private var round = 0
  /** Row count of each result written for the oracle check. */
  private var written = Map.empty[String, Long]

  /** The JVM's first round writes each entry's result for the oracle
    * check, cold; every later round is `WarmPasses` plain passes. Set-up
    * time is the median round, so a warm one.
    */
  def setup(ctx: Ctx, tr: Tracer, out: Outcome): State = {
    round += 1
    val dir = ctx.opts("data")
    if (round == 1) written = writeResults(ctx, dir, out)
    else (1 to WarmPasses).foreach { _ =>
      val p = pass(ctx.spark, dir, tr)
      out.attempted += p.size
      p.collect { case Left(e) => e }.foreach(out.fail)
    }
    new State(dir)
  }

  def discard(ctx: Ctx, s: State): Unit = ()

  /** One pass; failures are returned, not thrown. */
  def pass(spark: SparkSession, dir: String, tr: Tracer): Seq[Either[String, Run]] = {
    val p = Entries.map { case (name, family) =>
      val t0 = System.nanoTime()
      try {
        var planMs = 0.0
        val rows = tr.span("ops", name, family) {
          val df = queries(name)(spark, dir)
          if (tr.enabled) {
            val p0 = System.nanoTime()
            tr.span("plans", "executedPlan") { df.queryExecution.executedPlan }
            planMs = (System.nanoTime() - p0) / 1e6
          }
          df.queryExecution.toRdd.count()
        }
        Right(Run(name, (System.nanoTime() - t0) / 1e6, planMs, rows,
          spark.sparkContext.getPersistentRDDs.size))
      } catch { case e: Exception => Left(s"$name: $e") }
    }
    System.err.println("[perfbench] pass " + p.map {
      case Right(r) => f"${r.entry.takeWhile(_ != '_')}=${r.ms}%.0f"
      case Left(e) => e
    }.mkString(" "))
    p
  }

  def measure(ctx: Ctx, s: State, tr: Tracer, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = s.dir
    val passes = (1 to math.max(1, math.round(ctx.seconds / NominalPassS).toInt)).map { _ =>
      val t0 = System.nanoTime()
      val c0 = ctx.cpuS()
      val p = pass(spark, dir, tr)
      ((System.nanoTime() - t0) / 1e9, ctx.cpuS() - c0, p)
    }
    out.e2e("retained_heap_mb") = ctx.retainedHeapMb()
    val runs = passes.flatMap(_._3.collect { case Right(r) => r })
    passes.flatMap(_._3.collect { case Left(e) => e }).foreach(out.fail)
    out.attempted += passes.map(_._3.size).sum
    out.e2e("p50_ms") = Stats.median(passes.map(_._1 * 1000))
    out.e2e("cpu_s") = Stats.median(passes.map(_._2))
    out.report("corpus_batch.passes") = passes.size.toDouble

    if (tr.enabled) {
      Entries.foreach { case (e, _) =>
        out.layers(s"corpus.$e.s") = Stats.median(runs.filter(_.entry == e).map(_.ms)) / 1000
      }
      out.layers("corpus.pass_ms_p50") = out.e2e("p50_ms")
      out.layers("corpus.pass_cpu_s") = out.e2e("cpu_s")
      out.layers("spark.rdds_persisted_after") = runs.map(_.persisted.toDouble).max
      Families.foreach { f =>
        val names = Entries.filter(_._2 == f).map(_._1).toSet
        out.layers(s"plans.corpus.$f.plan_ms_p50") =
          Stats.median(runs.filter(r => names(r.entry)).map(_.planMs))
      }
      ctx.listener.foreach { l =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val famOf = l.byGroup.keys.map(g => g -> tr.spanOf(g).map(_.family).getOrElse("")).toMap
        Families.foreach { f =>
          out.layers ++= RuntimeListener.metrics(s"spark.$f", l.total(g => famOf(g) == f),
            0, ctx.cores, FamilyMetrics)
        }
      }
    }
    // every timed run must return the row count of the result the oracle
    // checks
    runs.filter(r => !written.get(r.entry).contains(r.rows)).foreach { r =>
      out.fail(s"${r.entry}: a timed run returned ${r.rows} rows, the checked result has ${written.get(r.entry)}")
    }
  }

  /** Writes each entry's result for the oracle check (done by the caller
    * with DuckDB, which reads `oracle_sql.json` next to the results) and
    * returns the row count of each.
    */
  private def writeResults(ctx: Ctx, dir: String, out: Outcome): Map[String, Long] = {
    val results = ctx.work.resolve("results")
    val rows = Entries.flatMap { case (name, _) =>
      out.attempted += 1
      try {
        val path = results.resolve(name).toString
        ntz(queries(name)(ctx.spark, dir)).write.mode("overwrite").parquet(path)
        Some(name -> ctx.spark.read.parquet(path).count())
      } catch { case e: Exception => out.fail(s"$name (result write): $e"); None }
    }
    Files.writeString(results.resolve("oracle_sql.json"),
      Stats.json(Entries.map { case (n, _) => n -> graft.SparkEntry.oracleSql(n) }.toMap))
    rows.toMap
  }

  /** Instants as TIMESTAMP_NTZ, the representation DuckDB's oracle results
    * use (the session time zone is UTC).
    */
  private def ntz(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map {
      case StructField(n, TimestampType, _, _) => col(n).cast("timestamp_ntz").as(n)
      case f => col(f.name)
    }: _*)
}
