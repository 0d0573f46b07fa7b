package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable.ArrayBuffer

/** Spans around the client's calls into the program, plus the Spark
  * listener's job and task events, kept in memory and written out once at
  * exit. Times are epoch milliseconds (fractional for spans), so the
  * listener's task launch/finish times share the spans' clock.
  *
  * Spans are switched per operation: a traced run alternates recorded and
  * unrecorded operations, and the difference between the two is the
  * tracing overhead. The listener is registered only in traced runs and
  * keeps every event (the bus delivers them after the fact); run.py
  * attributes each one to the innermost span open at its time and drops
  * those outside every recorded span.
  */
final class Trace {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble

  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  var recording = false
  private var run = -1

  final case class Span(id: Int, parent: Int, name: String, start: Double,
      end: Double, run: Int)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var lastRoot = -1
  private val jobs = ArrayBuffer.empty[String]
  private val tasks = ArrayBuffer.empty[String]

  /** Start a new operation; spans recorded until the next call share its
    * run id. */
  def begin(record: Boolean): Unit = { recording = record; run += 1 }

  def span[T](name: String)(f: => T): T =
    if (!recording) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val start = nowMs
      spans += Span(id, parent, name, start, start, run)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = nowMs)
        if (parent == -1) lastRoot = id
      }
    }

  /** A span whose interval was measured elsewhere (a streaming
    * micro-batch, from its progress report), under the open span or else
    * under the operation that just ended. */
  def addSpan(name: String, start: Double, end: Double): Unit =
    if (recording)
      spans += Span(spans.size, stack.headOption.getOrElse(lastRoot), name,
        start, end, run)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += Json.obj("job" -> e.jobId, "time" -> e.time) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val m = e.taskMetrics
        val row =
          if (m == null) Json.obj("launch" -> e.taskInfo.launchTime,
            "finish" -> e.taskInfo.finishTime)
          else Json.obj(
            "launch" -> e.taskInfo.launchTime,
            "finish" -> e.taskInfo.finishTime,
            "run_ms" -> m.executorRunTime,
            "cpu_ms" -> m.executorCpuTime / 1e6,
            "gc_ms" -> m.jvmGCTime,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
            "input_bytes" -> m.inputMetrics.bytesRead)
        synchronized { tasks += row }
      }
  }

  def write(dir: String): Unit = synchronized {
    def lines(path: String, rows: Iterable[String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        rows.mkString("", "\n", "\n"))
    lines(s"$dir/spans.jsonl", spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start" -> s.start,
      "end" -> s.end, "run" -> s.run)))
    lines(s"$dir/jobs.jsonl", jobs)
    lines(s"$dir/tasks.jsonl", tasks)
  }
}

/** Minimal JSON encoding for the flat records the client writes. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
