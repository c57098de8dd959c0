package geckobench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: the jobs, stages and tasks that
  * ran while the span was the innermost open one. The task-metric
  * fields stay 0 unless the recorder is in detailed mode. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var resultBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** One timed interval at a layer boundary. Times are seconds since the
  * tracer was created; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    traced: Boolean, start: Double, end: Double)

/** Records spans from the benchmark's own calls into the engine and
  * tags every Spark job with the innermost open span (as its job group),
  * so the listener can attach the job's stages and tasks to that span.
  *
  * Job and task counts are always kept: the work-repeat check needs
  * them on every iteration. Task metrics (CPU, GC, scheduler wait,
  * result/shuffle/spill/input bytes) are kept only while `detailed` is
  * on, which is what a traced iteration switches on. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String)]
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private var nextId = 0
  @volatile var detailed = false
  var iter = 0

  sc.addSparkListener(this)

  def now(): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` inside a span named `name`; nested calls become its
    * children. The span is recorded even if `body` throws. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val start = now()
    stack.push((id, name))
    sc.setJobGroup(s"span-$id", name)
    try body
    finally {
      stack.pop()
      spans += Span(id, name, parent, iter, detailed, start, now())
      stack.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(s"span-$pid", pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drain(sc)

  def allSpans: Seq[Span] = spans.sortBy(_.id).toSeq

  def countsOf(id: Int): Counts = counts.getOrDefault(id, new Counts)

  /** Jobs and tasks of a span and all its descendants. */
  def inclusiveWork(id: Int): (Long, Long) = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): (Long, Long) = {
      val c = countsOf(i)
      kids.getOrElse(i, Nil).map(s => go(s.id))
        .foldLeft((c.jobs, c.tasks)) { case ((j, t), (cj, ct)) =>
          (j + cj, t + ct) }
    }
    go(id)
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)

  private def of(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { id =>
      val c = of(id)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitMs.put(e.stageInfo.stageId, t))
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val c = of(id)
      c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = of(id)
      c.synchronized {
        c.tasks += 1
        if (detailed) {
          Option(stageSubmitMs.get(e.stageId)).foreach(sub =>
            c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub))
          Option(e.taskMetrics).foreach { m =>
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.resultBytes += m.resultSize
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
    }

  /** Writes one JSON line per span: name, start, end, parent span, run
    * id, iteration, and the Spark counts attached to it. */
  def write(path: java.nio.file.Path, runId: String): Unit = {
    drain()
    val lines = allSpans.map { s =>
      val c = countsOf(s.id)
      Json.obj(
        "run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "iter" -> s.iter, "traced" -> s.traced,
        "start" -> s.start, "end" -> s.end,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
        "sched_wait_s" -> c.schedWaitMs / 1e3,
        "result_bytes" -> c.resultBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the benchmark's flat result records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
