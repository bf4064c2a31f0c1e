package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** What a class logger logs, at INFO and above, while a block runs. */
object LogCapture {

  /** `f`'s result and the messages the logger of `owner`'s class
    * (`LoggerFactory.getLogger(getClass)`) logged, from any thread, while
    * it ran.
    */
  def messages[T](owner: AnyRef)(f: => T): (T, Seq[String]) = {
    val name = owner.getClass.getName
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(s"capture-$name", null, null, true,
        Array.empty[Property]) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    Configurator.setLevel(name, Level.INFO)
    try {
      val out = f
      (out, seen.asScala.toSeq)
    } finally {
      Configurator.setLevel(name, level)
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
