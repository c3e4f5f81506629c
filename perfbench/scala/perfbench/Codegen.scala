package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics

/** Code-generation counters: compile time from Spark's CodegenMetrics
  * histogram (count × reservoir mean, exact while a run compiles fewer
  * than ~1000 classes) and fallbacks counted from the warnings Spark
  * logs when whole-stage or expression codegen gives up and falls back
  * to interpreted evaluation. */
object Codegen {
  final case class Snap(compiles: Long, compileMs: Double, fallbacks: Long) {
    def -(o: Snap): Double = (compileMs - o.compileMs) / 1e3
  }

  private val fallbackCount = new AtomicLong
  private val loggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")
  private val fallbackText = "(?i).*(fall(ing)? ?back|disabled|failed to compile).*"

  /** Route WARN and above of the codegen loggers to a counting appender
    * (not to the console), independently of the root log level. */
  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (Option(e.getMessage).exists(_.getFormattedMessage.matches(fallbackText)))
          fallbackCount.incrementAndGet()
    }
    app.start()
    loggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.WARN, false)
      lc.addAppender(app, Level.WARN, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def snapshot: Snap = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(h.getCount, h.getCount * h.getSnapshot.getMean, fallbackCount.get)
  }
}
