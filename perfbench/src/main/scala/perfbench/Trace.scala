package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One call into a layer inside a traced operation; `parent` is the
  * enclosing span, -1 for the operation's root. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** In-memory spans recorded around the benchmark's calls into each layer,
  * plus the Spark listener that attributes jobs, stages and tasks to the
  * operation that caused them. Spans exist only inside a traced operation;
  * everywhere else [[span]] just runs its body. */
final class Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** op id -> operation kind */
  val opKinds = mutable.LinkedHashMap.empty[Int, String]
  private var stack: List[Int] = Nil
  private var curOp = -1
  private var nextSpan = 0
  private var nextOp = 0
  private var sc: SparkContext = _
  val listener = new JobCollector

  def attach(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(listener)
  }

  /** A traced operation: one root span, its Spark jobs tagged `op-<id>`. */
  def op[A](kind: String)(body: => A): A = {
    val id = nextOp; nextOp += 1
    opKinds(id) = kind
    curOp = id
    sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    try span("op." + kind)(body)
    finally { sc.clearJobGroup(); curOp = -1 }
  }

  def span[A](name: String)(body: => A): A =
    if (curOp < 0) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** span id -> its duration minus the part its children cover. */
  def selfNanos: Map[Int, Long] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(s => s.end - s.start).sum }
    spans.map(s => s.id -> (s.end - s.start - childSum.getOrElse(s.id, 0L))).toMap
  }

  /** Durations (ms) of every span with this name. */
  def durationsMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq

  /** Rows of the span table: name, count, total ms, self ms. */
  def table: Seq[(String, Int, Double, Double)] = {
    val self = selfNanos
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.length, ss.map(s => s.end - s.start).sum / 1e6,
        ss.map(s => self(s.id)).sum / 1e6)
    }
  }
}

/** Per job-group Spark totals, fed by listener events. */
final class OpTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var schedDelayMs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
}

final class JobCollector extends SparkListener {
  val totals = mutable.HashMap.empty[String, OpTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var events = 0L
  @volatile var jobStarts = 0L
  @volatile var jobEnds = 0L

  private def t(g: String) = totals.getOrElseUpdate(g, new OpTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; jobStarts += 1
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      t(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; jobEnds += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stageGroup.get(e.stageInfo.stageId).foreach(g => t(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stageGroup.get(e.stageId).foreach { g =>
      val o = t(g)
      o.tasks += 1
      val info = e.taskInfo
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        o.runMs += m.executorRunTime
        o.gcMs += m.jvmGCTime
        o.schedDelayMs += math.max(0L, info.duration - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - info.gettingResultTime)
        o.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Worst stage's max / median task duration, over tagged stages with at
    * least two tasks. */
  def worstSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.length >= 2).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1L, s((s.length - 1) / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Wait until every started job has ended and the event stream has been
    * quiet for a moment (listener delivery is asynchronous). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (events != last || jobStarts != jobEnds)) {
      last = events
      Thread.sleep(200)
    }
  }
}
