package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.functions.{Kernels, ShingleJoin}

/** Native kernels register once per session (functions/Kernels.scala). */
class KernelsSpec extends SparkSpec {

  /** The function-registry WARN lines `body` logs. */
  private def replacedWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("kernels-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered function")) seen.add(msg)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  test("a kernel registers once per session: the same name back, no WARN") {
    val names = Seq.newBuilder[String]
    val warned = replacedWarnings {
      names += ShingleJoin.register(spark, 7)
      names += ShingleJoin.register(spark, 7)
    }
    assert(names.result() == Seq("shingle_join_7", "shingle_join_7"))
    assert(warned.isEmpty, warned)
    assert(spark.sql("select shingle_join_7(array('a','b','c','d','e','f','g','h'))")
      .head().getSeq[String](0) == Seq("a b c d e f g", "b c d e f g h"))
    // positive control: replacing the registered kernel does log the WARN
    val replaced = replacedWarnings {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "shingle_join_7", exprs => ShingleJoin(exprs.head, 7), "built-in")
    }
    assert(replaced.size == 1, replaced)
    assert(Kernels.register(spark, "shingle_join_7")(
      exprs => ShingleJoin(exprs.head, 7)) == "shingle_join_7")
  }
}
