package perfbench

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0.0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** One timed operation of a workload's loop. */
final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Loop {
  /** A closed loop: `clients` threads, each sending its next request
    * only after the previous one returned, until `seconds` have
    * passed. `next(client, i)` runs one request and returns its kind;
    * a throw counts as a failed request. `prepare(client, i)` runs
    * before each request, untimed. Each client sends at least `minOps`
    * requests, and a whole number of `unit`s of requests. Returns the operations and the
    * measured seconds (loop start to the last completion).
    */
  def closed(clients: Int, seconds: Double, prepare: (Int, Int) => Unit = (_, _) => (),
      minOps: Int = 0, unit: Int = 1)(next: (Int, Int) => String): (Seq[Op], Double) = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (i < minOps || i % unit != 0 || System.nanoTime() < deadline) {
          prepare(c, i)
          val s = System.nanoTime()
          val (kind, ok) =
            try (next(c, i), true)
            catch { case e: Exception =>
              System.err.println(s"[perfbench] request failed: $e")
              ("failed", false)
            }
          ops.add(Op(kind, s, System.nanoTime(), ok))
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val all = scala.jdk.CollectionConverters.IteratorHasAsScala(ops.iterator()).asScala.toSeq
    val end = if (all.isEmpty) System.nanoTime() else all.map(_.endNs).max
    (all, (end - t0) / 1e9)
  }
}

/** Output checks: each is one attempted operation of the run, and a
  * failed one fails the run.
  */
final class Checks {
  private val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def apply(name: String)(body: => Option[String]): Unit = {
    val failure =
      try body
      catch { case e: Exception => Some(s"threw $e") }
    synchronized { results += ((name, failure.isEmpty, failure.getOrElse(""))) }
    failure.foreach(f => System.err.println(s"[perfbench] check failed: $name: $f"))
  }
  def all: Seq[(String, Boolean, String)] = synchronized(results.toSeq)
  def failed: Int = all.count(!_._2)
}

object Proc {
  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
