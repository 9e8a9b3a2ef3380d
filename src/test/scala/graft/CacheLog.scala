package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The messages Spark's `CacheManager` logs while a block of code runs. */
object CacheLog {

  def during(body: => Unit): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger("org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"cache-log-${System.nanoTime()}", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }
}
