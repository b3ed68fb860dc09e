package graft.functions

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one native-function list: arity is checked at analysis, and
  * registering into a session that already has the functions is silent.
  */
class FunctionTableSpec extends SparkSpec {

  test("a native function called with the wrong arity fails analysis") {
    VectorExpressions.register(spark)
    val e = intercept[AnalysisException] {
      spark.range(1).select(call_function("explode_tri_contexts",
        array(lit("a")), array(lit("b")))).collect()
    }
    assert(e.getMessage.contains("explode_tri_contexts"), e.getMessage)
  }

  test("a second register call logs nothing") {
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try {
      VectorExpressions.register(spark)
      // the probe sees a real replacement (a new builder under a taken
      // name), so its silence below counts
      val (id, info, build) = VectorExpressions.functions.head
      spark.sessionState.functionRegistry.registerFunction(id, info,
        (children: Seq[Expression]) => build(children))
      assert(seen.asScala.exists(_.contains("replaced a previously registered function")))
      seen.clear()
      VectorExpressions.register(spark)
      assert(seen.isEmpty, seen.asScala.mkString("\n"))
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }
}
