package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics

import graft.streaming.StreamingQueries

/** Pins compile-once code generation (`Sessions.withMaster`): a query
  * that already ran in this JVM finds its generated classes in Spark's
  * `CodeGenerator.cache` instead of compiling them again with Janino.
  * Compiles are counted from `CodegenMetrics`' compilation-time
  * histogram, and attributed to threads from the "Code generated in"
  * line `CodeGenerator` logs at INFO after each compile. */
class CodegenReuseSpec extends SparkSpec {

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Run `f`; return the compiles it caused (the metric's delta) and
    * the name of the thread of each one. */
  private def compiles(f: => Unit): (Long, Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val threads = new ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("codegen-reuse-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.startsWith("Code generated in"))
          threads.add(e.getThreadName)
    }
    app.start()
    val before = ctx.getLogger(codegenLogger).getLevel
    Configurator.setLevel(codegenLogger, Level.INFO)
    ctx.getConfiguration.getLoggerConfig(codegenLogger).addAppender(app, null, null)
    ctx.updateLoggers()
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      f
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0, threads.asScala.toSeq)
    } finally {
      ctx.getConfiguration.getLoggerConfig(codegenLogger).removeAppender(app.getName)
      Configurator.setLevel(codegenLogger, before)
      app.stop()
    }
  }

  private def onTaskThread(t: String) = t.startsWith("Executor task launch worker")

  test("a second pass over the dashboard queries compiles only the residual") {
    val names = (1 to 15).map(i => f"q$i%02d")
      .map(id => SparkEntry.queries.keys.find(_.takeWhile(_ != '_') == id).get)
    def pass(): Unit = names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf())
      if (SparkEntry.noopSink(n)) df.write.mode("overwrite").format("noop").save()
      else df.count()
    }
    pass()
    val (n, threads) = compiles(pass())
    assert(threads.size == n, s"metric counted $n compiles, the log ${threads.size}")
    info(s"second pass: $n compiles, ${threads.count(onTaskThread)} on task threads")
    // The residual is code whose body differs between two executions
    // of the same query. Mostly a whole-stage-codegen stage numbered
    // differently: adaptive execution numbers the stages it plans at
    // run time in the order broadcast and shuffle stages complete, and
    // the number is part of the generated class's name. Rarely, a hash
    // aggregate's grouping keys in another order. Measured 20 to 40, half
    // on task threads; Spark's default cache and class-loader isolation
    // compiled 233 here.
    assert(n <= 75, s"second pass compiled $n classes")
  }

  test("a second q73 stream compiles nothing on task threads") {
    assert(StreamingQueries.q73StreamSlidingWindow(spark, sf()).count() > 0)
    val (n, threads) = compiles {
      assert(StreamingQueries.q73StreamSlidingWindow(spark, sf()).count() > 0)
    }
    val onTasks = threads.count(onTaskThread)
    info(s"second q73: $n compiles, $onTasks on task threads")
    assert(onTasks == 0, s"$onTasks of $n compiles ran on task threads: a fresh " +
      "stream compiled its task-side classes again")
  }
}
