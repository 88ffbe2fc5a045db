package graftbench

import java.io.{BufferedWriter, FileWriter}

/** Append-only JSON-lines log of the run's raw records (spans, listener
  * events, checks), which `run.py` turns into metrics. Each record is
  * flushed as it is written, so a run that dies still leaves its log. */
final class Recorder(path: String) {
  private val out = new BufferedWriter(new FileWriter(path))

  // one clock for spans and listener events: epoch milliseconds with a
  // sub-millisecond fraction from the monotonic timer
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (driver and local executors), in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  // the timed operation listener records are attributed to, or -1
  @volatile private var current = -1
  private var opCount = 0
  private var drainBus: () => Unit = () => ()

  /** The operation running now, which the traced run's listeners stamp
    * on every record they write. */
  def currentOp: Int = current

  /** Drains the listener bus with `drain` after every operation from now
    * on, and once now, so no earlier event is left in flight. */
  def traceWith(drain: () => Unit): Unit = { drainBus = drain; drain() }

  /** Runs one timed operation under a fresh number. The listener bus is
    * drained before the number is cleared, so every listener record the
    * operation caused carries it, however late the bus delivered it. */
  def operation[T](body: Int => T): T = {
    val id = synchronized { opCount += 1; opCount }
    current = id
    try body(id) finally { drainBus(); current = -1 }
  }

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write(Recorder.json(("kind" -> kind) +: fields))
    out.newLine()
    out.flush()
  }

  def close(): Unit = synchronized { out.close() }
}

object Recorder {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
