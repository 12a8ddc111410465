package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.scalatest.funsuite.AnyFunSuite

/** Session-wide logging set up by Sessions.local(). */
class SessionsSpec extends AnyFunSuite {

  test("only the plan-truncation notice of catalyst StringUtils is dropped") {
    Sessions.quietPlanTruncation()
    val name = "org.apache.spark.sql.catalyst.util.StringUtils"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = ctx.getConfiguration.getLoggerConfig(name)
    def dropped(msg: String) = lc.isFiltered(Log4jLogEvent.newBuilder()
      .setLoggerName(name).setLevel(Level.WARN)
      .setMessage(new SimpleMessage(msg)).build())
    assert(lc.getName == name)
    assert(dropped("Truncated the string representation of a plan since it " +
      "was too long. The plan had length 9000 and the maximum is 8192. This " +
      "behavior can be adjusted by setting 'spark.sql.maxPlanStringLength'."))
    assert(!dropped("Truncated the string representation of a plan since it was too large."))
    assert(!dropped("any other warning of this logger"))
    // the logger still follows the session's level, not a fixed one
    assert(lc.getLevel == lc.getParent.getLevel)
  }
}
