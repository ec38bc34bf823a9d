package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark cost counters of one span: jobs, tasks, shuffle bytes written,
  * bytes spilled (memory + disk) and output bytes written. */
final class Cost {
  val jobs, tasks, shuffleBytes, spillBytes, outputBytes = new AtomicLong
}

/** Attributes every job, and every stage of it, to the span that was
  * open on the submitting thread. The span travels in a SparkContext
  * local property, which threads the program starts inherit; the job
  * group is not used because the program sets its own groups. */
final class CostListener extends SparkListener {
  private val costs = new ConcurrentHashMap[String, Cost]
  private val stageSpan = new ConcurrentHashMap[Int, String]
  private val running = ConcurrentHashMap.newKeySet[Int]()
  /** Time spent inside these callbacks: the tracing's own work. */
  val busyNanos = new AtomicLong

  def cost(span: String): Cost = costs.computeIfAbsent(span, _ => new Cost)

  private def busy(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    running.add(e.jobId)
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .getOrElse(Tracer.Unattributed)
    cost(span).jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy(running.remove(e.jobId))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = busy {
    val info = e.stageInfo
    val c = cost(Option(stageSpan.remove(info.stageId)).getOrElse(Tracer.Unattributed))
    c.tasks.addAndGet(info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Block until the listener bus has delivered the end of every job
    * this listener saw start; stage events precede their job's end. */
  def drain(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!running.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

/** Seconds per span (on the benchmark's clock, `Main.since`), plus Spark costs when tracing is on. With
  * tracing off no listener is attached and no property is set, so an
  * untraced run measures the program alone. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val listener = if (on) Some(new CostListener) else None
  listener.foreach(sc.addSparkListener)
  private val seconds = collection.mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, name)
    val t0 = Main.mark()
    try body
    finally {
      val s = Main.since(t0)
      seconds.synchronized(seconds(name) = seconds.getOrElse(name, 0.0) + s)
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** Seconds the listener spent in its callbacks so far. */
  def listenerSeconds: Double = listener.map(_.busyNanos.get / 1e9).getOrElse(0.0)

  /** Accumulated seconds of `name`, 0 when it never ran. */
  def secondsOf(name: String): Double = seconds.synchronized(seconds.getOrElse(name, 0.0))

  def cost(name: String): Cost = {
    listener.foreach(_.drain())
    listener.map(_.cost(name)).getOrElse(new Cost)
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Unattributed = "unattributed"
}
