package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** The custom expressions are installed once per session: queries that
  * register them on every call must not replace an installed function
  * (each replacement logs a registry WARN and swaps the builder under
  * concurrent planners). */
class FunctionRegistrySpec extends SparkSpec {

  test("repeat float_dot and shingle/jaccard queries replace no " +
      "registered function") {
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-registry-capture", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered")) replaced.add(msg)
      }
    }
    appender.start()
    // start the session first: Spark's logging set-up replaces the log4j
    // configuration, and with it any logger config added before
    spark.sparkContext
    // a WARN-level config of its own for the registry's logger, additive
    // so the console still sees its events; removed again afterwards
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = classOf[SimpleFunctionRegistry].getName
    val config = new LoggerConfig(name, Level.WARN, true)
    config.addAppender(appender, null, null)
    ctx.getConfiguration.addLogger(name, config)
    ctx.updateLoggers()
    try {
      for (_ <- 1 to 2) {
        graft.query.Similarity.bruteForceTopK(spark, sf).collect()
        graft.query.Dedup.dedupMinhashLsh(spark, sf).collect()
      }
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(replaced.isEmpty, replaced.toString)
  }
}
