package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are microseconds on the epoch clock, so they
  * line up with the millisecond timestamps of Spark listener events.
  */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
                      endUs: Long, runId: String) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled, it only runs the body: untraced runs
  * pay one branch per call.
  */
final class Tracer(enabled: Boolean, val runId: String) {
  @volatile var on: Boolean = enabled
  private val nano0 = System.nanoTime()
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def nowUs(): Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** Record `name` around `body`, parented to the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = buf.synchronized { buf += null; buf.size - 1 }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = nowUs()
      try body
      finally {
        val e = nowUs()
        stack = stack.tail
        buf.synchronized { buf(id) = Span(id, parent, name, s, e, runId) }
      }
    }

  /** Record an interval measured elsewhere (listener jobs, derived layers). */
  def add(name: String, parent: Int, startUs: Long, endUs: Long): Int =
    buf.synchronized {
      buf += Span(buf.size, parent, name, startUs, endUs, runId)
      buf.size - 1
    }
}

object SelfTime {

  /** Length of the union of intervals, each clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children count once).
    */
  def of(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(cs, s.startUs, s.endUs))
    }.toMap
  }
}

/** A percentile pick that names its sample count. */
final case class Pick(pct: Double, value: Double, n: Int, beyond: Int) {
  def label: String = f"p${pct}%.0f of n=$n ($beyond beyond)"
}

object Stats {
  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Pick = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    Pick(p, s(rank - 1), s.size, s.size - rank)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of `candidates` percentiles that leaves at least ten
    * samples beyond it; None when the sample is too small for any.
    */
  def tail(xs: Seq[Double],
           candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 80, 75, 50))
      : Option[Pick] =
    candidates.sorted.reverse.iterator.map(p => pct(xs, p))
      .find(_.beyond >= 10)
}

final case class JobRec(id: Int, startMs: Long, endMs: Long,
                        stages: Seq[Int], ok: Boolean)
final case class StageRec(id: Int, attempt: Int, name: String, tasks: Int,
                          submitMs: Long, doneMs: Long)
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         inBytes: Long, inRecords: Long,
                         shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, outBytes: Long,
                         ok: Boolean) {
  def durMs: Long = finishMs - launchMs
}

/** Registered by the benchmark on its own session: job, stage and task
  * records of every action.
  */
final class Recorder extends SparkListener {
  private val starts = scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { s =>
      jobs += JobRec(e.jobId, s.time, e.time, s.stageIds,
        e.jobResult == JobSucceeded)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.attemptNumber(), i.name, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null) tasks += TaskRec(e.stageId, ti.launchTime, ti.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
      ti.successful)
  }

  /** Records of the jobs that started inside [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): (Seq[JobRec], Seq[TaskRec]) =
    synchronized {
      val js = jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList
      val ids = js.flatMap(_.stages).toSet
      (js, tasks.filter(t => ids(t.stage)).toList)
    }
}

/** Minimal JSON writer for flat records and the result line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    val jv = v match {
      case s: String => str(s)
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case raw: Raw => raw.s
      case null => "null"
      case o => str(o.toString)
    }
    str(k) + ":" + jv
  }.mkString("{", ",", "}")

  final case class Raw(s: String)
}
