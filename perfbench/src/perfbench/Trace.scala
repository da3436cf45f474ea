package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-level totals of the Spark jobs one span launched. */
final class SpanTasks {
  var jobs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Records named spans around calls into the program and attributes every
  * Spark job to the span whose job group launched it. Spans and their task
  * totals stay in memory until the benchmark reads them.
  *
  * A span sets the Spark job group of the calling thread; SQL execution
  * propagates it to the broadcast and subquery threads it starts, so every
  * job a stage call causes lands in that stage's span.
  */
final class Trace(sc: SparkContext) {

  final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val tasks = new ConcurrentHashMap[String, SpanTasks]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private var open: List[String] = Nil
  // the local property `SparkContext.setJobGroup` sets
  private val JobGroupKey = "spark.jobGroup.id"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
        .foreach { span =>
          val t = tasks.computeIfAbsent(span, _ => new SpanTasks)
          t.synchronized(t.jobs += 1)
          e.stageIds.foreach(stageSpan.put(_, span))
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val t = tasks.computeIfAbsent(span, _ => new SpanTasks)
        val m = e.taskMetrics
        t.synchronized {
          t.taskMs += e.taskInfo.duration
          if (m != null) {
            t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.diskBytesSpilled
            t.gcMs += m.jvmGCTime
          }
        }
      }
  }

  def start(): Unit = sc.addSparkListener(listener)

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Run `body` inside span `name`, nested in the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse("")
    open = name :: open
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, t0, System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p, p)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Task totals of span `name`, once every event already posted has been
    * delivered to the listener.
    */
  def tasksOf(name: String): SpanTasks = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    Option(tasks.get(name)).getOrElse(new SpanTasks)
  }

  def clear(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    spans.clear(); tasks.clear(); stageSpan.clear()
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def json: String = spans.map(s =>
    s"""{"name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    .mkString("[", ",\n", "]")
}
