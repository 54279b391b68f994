package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Counts WARN-and-worse log events by (logger, message class) through a
  * programmatic log4j2 appender on the root logger.
  */
final class LogCensus private
    extends AbstractAppender("perfbench-census", null, null, true, Property.EMPTY_ARRAY) {

  private val counts = new ConcurrentHashMap[String, LongAdder]()

  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
      val logger = Option(e.getLoggerName).getOrElse("root").split('.').last
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      val thrown = Option(e.getThrown)
      val cls =
        if (msg.contains("cannot be recomputed after unpersisting")) "recompute_after_unpersist"
        else if (msg.contains("Broadcasting large task binary")) "large_task_binary"
        else if (msg.contains("already exists")) "already_exists"
        else if (thrown.exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
          msg.contains("FileNotFoundException")) "file_not_found"
        else "other"
      counts.computeIfAbsent(s"$logger.$cls", _ => new LongAdder).increment()
    }

  def snapshot: Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.sum }.toMap
}

object LogCensus {
  /** The classes reported as their own per-layer metric; every other
    * (logger, class) pair is summed into `log.warn.other`.
    */
  val Named: Seq[String] = Seq(
    "MapPartitionsRDD.recompute_after_unpersist",
    "DAGScheduler.large_task_binary",
    "BlockManager.already_exists",
    "FileStreamSink.file_not_found")

  def install(): LogCensus = {
    val app = new LogCensus
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    app
  }

  /** Per-layer metrics for the events counted between two snapshots. */
  def metrics(before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = {
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
    Named.map(n => s"log.warn.$n" -> delta.getOrElse(n, 0L).toDouble).toMap +
      ("log.warn.other" -> delta.filter { case (k, _) => !Named.contains(k) }.values.sum.toDouble)
  }
}
