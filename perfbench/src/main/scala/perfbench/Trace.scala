package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Stage and task metrics of one benchmark op. */
final class OpStats {
  var jobs = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  /** (submission, completion) wall-clock millis of each completed stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** executor run time of each task, per stage */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Millis of [from, to] during which at least one stage was running. */
  def stageCoveredMs(from: Long, to: Long): Long = {
    val iv = stageSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }

  /** max / median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2)
      if (med <= 0) 0.0 else ts.last.toDouble / med
    }
}

/** Attributes every Spark job to the benchmark op whose thread started it,
  * through the job property [[OpListener.Key]]. Only registered on traced
  * runs.
  */
final class OpListener extends SparkListener {
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val stats = mutable.HashMap.empty[Int, OpStats]

  def statsOf(op: Int): OpStats = synchronized(stats.getOrElseUpdate(op, new OpStats))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key))).foreach { v =>
      val op = v.toInt
      synchronized(statsOf(op).jobs += 1)
      e.stageIds.foreach(s => stageOp.put(s, op))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (stageOp.containsKey(info.stageId))
      for (s <- info.submissionTime; c <- info.completionTime)
        synchronized(statsOf(stageOp.get(info.stageId)).stageSpans += ((s, c)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && stageOp.containsKey(e.stageId)) synchronized {
      val s = statsOf(stageOp.get(e.stageId))
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
}

object OpListener {
  val Key = "perfbench.op"
}

/** Benchmark-side spans around each call into a layer. Spans nest on the
  * single client thread; a span's self time is its duration minus the time
  * its direct children cover. Kept in memory, summarised at the end.
  */
final class Tracer {
  final case class Span(name: String, parent: Int, op: Int, start: Long, var end: Long = -1L)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false
  var currentOp: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, stack.headOption.getOrElse(-1), currentOp, System.nanoTime())
      stack = idx :: stack
      try body
      finally {
        spans(idx).end = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Self time in nanos of every span of `op`, keyed by span name. */
  def selfNanos(op: Int): Map[String, Long] = {
    val mine = spans.indices.filter(i => spans(i).op == op)
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    mine.foreach { i =>
      val s = spans(i)
      if (s.parent >= 0) childNs(s.parent) += s.end - s.start
    }
    mine.groupMapReduce(i => spans(i).name)(i => spans(i).end - spans(i).start - childNs(i))(_ + _)
  }
}
