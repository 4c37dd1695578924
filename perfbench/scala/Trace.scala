package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work attributed to one span: jobs, tasks, executor time and bytes. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** Result-stage tasks that read at least one record: for a
    * `foreachPartition` sink, the partitions that opened a transaction. */
  var nonEmptyResultTasks = 0L

  def +=(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    nonEmptyResultTasks += o.nonEmptyResultTasks
  }
}

/** The benchmark's own tracer. Spans are wall-clock intervals around calls
  * into one layer of the program, kept in memory. Spark jobs are
  * attributed to the span open on the thread that submitted them (a
  * local property, inherited by the threads a job-submitting call
  * spawns), and their tasks' metrics are summed per span by a
  * SparkListener registered here. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val SpanKey = "graftbench.span"
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val resultStages = ConcurrentHashMap.newKeySet[Int]()
  private val work = mutable.HashMap.empty[String, SparkWork]
  private val spans = mutable.ArrayBuffer.empty[(String, Double)]

  sc.addSparkListener(this)

  /** Run `f` inside span `name`; returns its result and wall seconds. */
  def span[A](name: String)(f: => A): (A, Double) = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try {
      val a = f
      val dt = (System.nanoTime() - t0) / 1e9
      synchronized(spans += name -> dt)
      (a, dt)
    } finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Wall seconds of every span whose name satisfies `p`. */
  def seconds(p: String => Boolean): Double =
    synchronized(spans.collect { case (n, s) if p(n) => s }.sum)

  /** Work of every span whose name satisfies `p`, after all events of the
    * finished jobs have been delivered. */
  def workOf(p: String => Boolean): SparkWork = {
    drain()
    val w = new SparkWork
    synchronized(work.foreach { case (n, x) => if (p(n)) w += x })
    w
  }

  private def drain(): Unit = {
    // the listener bus is asynchronous; wait until it has caught up
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def of(span: String): SparkWork = synchronized(work.getOrElseUpdate(span, new SparkWork))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("-")
    e.stageIds.foreach(stageSpan.put(_, name))
    e.stageInfos.lastOption.foreach(s => resultStages.add(s.stageId))
    synchronized(of(name).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val name = Option(stageSpan.get(e.stageId)).getOrElse("-")
    val m = e.taskMetrics
    synchronized {
      val w = of(name)
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (resultStages.contains(e.stageId)) {
          val read = m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
          if (read > 0) w.nonEmptyResultTasks += 1
        }
      }
    }
  }
}
