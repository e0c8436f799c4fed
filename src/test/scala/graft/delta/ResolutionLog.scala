package graft.delta

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

import scala.jdk.CollectionConverters._

/** The DEBUG lines [[DeltaSnapshotReader]] logs, one per snapshot
  * resolution (`snapshot <table> v<n>: hit`, `advanced from u (k
  * commits)`, `cold driver` or `cold distributed`), captured through
  * log4j while a body runs. */
object ResolutionLog {
  private val name = DeltaSnapshotReader.getClass.getName

  /** `body`'s result and the resolution lines it logged, in order. */
  def capture[A](body: => A): (A, Seq[String]) = synchronized {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("resolutions", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext].getLogger(name)
    val before = logger.getLevel
    Configurator.setLevel(name, Level.DEBUG)
    logger.addAppender(appender)
    try {
      val a = body
      (a, lines.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, before)
      appender.stop()
    }
  }

  /** The resolution kind of a captured line: what follows `: `. */
  def kind(line: String): String = line.substring(line.indexOf(": ") + 2)
}
