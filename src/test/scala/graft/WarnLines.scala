package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.layout.PatternLayout

/** Captures the WARN (and more severe) lines logged while a body runs. */
object WarnLines {
  def during(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val catcher = new AbstractAppender("graft-warn-catcher", null,
        PatternLayout.createDefaultLayout(), false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) lines.add(e.getMessage.getFormattedMessage)
    }
    catcher.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration.getRootLogger
    root.addAppender(catcher, Level.WARN, null)
    try body finally root.removeAppender(catcher.getName)
    lines.toArray(Array.empty[String]).toSeq
  }
}
