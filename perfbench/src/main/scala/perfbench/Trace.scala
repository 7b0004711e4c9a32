package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One timed call into a layer: name, interval, the span that caused
  * it and the request it belongs to, plus the Spark work attributed to
  * it by [[Tracer]]'s listener (jobs submitted while it was the
  * innermost span on the submitting thread).
  */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
    val thread: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  val jobs, tasks, cpuNs, rowsIn, shuffleBytes, bytesWritten, rowsWritten = new AtomicLong
  val attrs = TrieMap.empty[String, Double]
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spans recorded from the benchmark's own calls into each layer.
  *
  * Spans stay in memory and are written out at the end of the run.
  * When tracing is off, [[span]] runs its body and records nothing;
  * the listeners are registered only for a traced run.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong
  private val reqIds = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val byId = TrieMap.empty[Long, Span]
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val PropKey = "perfbench.span"

  /** Work from jobs no span claimed: the streaming thread's micro-batch
    * jobs and the HTTP server's request threads.
    */
  val streamBucket = new Span(-2, "stream.micro_batch_jobs", -1, -1, "stream", 0)
  val otherBucket = new Span(-3, "unattributed_jobs", -1, -1, "-", 0)
  val streamBatches = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  @volatile var spanOn = enabled

  def newRequest(): Long = reqIds.incrementAndGet()

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!spanOn) body
    else {
      val parentList = stack.get()
      val parent = parentList.headOption
      val s = new Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(-1L),
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
        Thread.currentThread().getName, System.nanoTime())
      byId.put(s.id, s)
      val prevProp = sc.getLocalProperty(PropKey)
      stack.set(s :: parentList)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(parentList)
        sc.setLocalProperty(PropKey, prevProp)
        spans.add(s)
      }
    }

  /** Attach a number to the innermost open span of this thread. */
  def attr(key: String, v: Double): Unit =
    if (spanOn) stack.get().headOption.foreach(_.attrs.put(key, v))

  /** Catalyst phase times of an executed DataFrame, on the open span. */
  def planPhases(df: DataFrame): Unit =
    if (spanOn) {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => attr(s"plan.${p}_ms", s.durationMs.toDouble))
      }
    }

  private val stageSpan = TrieMap.empty[Int, Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val owner = props.flatMap(p => Option(p.getProperty(PropKey)))
        .flatMap(id => byId.get(id.toLong))
        .getOrElse {
          if (props.exists(_.getProperty("sql.streaming.queryId") != null)) streamBucket
          else otherBucket
        }
      owner.jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, owner))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner = stageSpan.getOrElse(e.stageId, otherBucket)
      owner.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        owner.cpuNs.addAndGet(m.executorCpuTime)
        owner.rowsIn.addAndGet(m.inputMetrics.recordsRead)
        owner.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        owner.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        owner.rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) streamBatches.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of each span: its duration minus the part covered by
    * its children (children of one span run one after another on the
    * parent's thread).
    */
  def selfMs: Map[Long, Double] = {
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    all.map(s => s.id -> math.max(0.0, s.durMs - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Spans as JSON lines. */
  def write(path: String): Unit = {
    val self = selfMs
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val lines = (all ++ Seq(streamBucket, otherBucket)).map { s =>
      val base = Seq[(String, Any)](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "thread" -> s.thread,
        "start_ms" -> (if (s.startNs == 0) 0.0 else (s.startNs - t0) / 1e6),
        "end_ms" -> (if (s.endNs == 0) 0.0 else (s.endNs - t0) / 1e6),
        "self_ms" -> self.getOrElse(s.id, 0.0),
        "jobs" -> s.jobs.get, "tasks" -> s.tasks.get, "cpu_ms" -> s.cpuNs.get / 1e6,
        "rows_in" -> s.rowsIn.get, "shuffle_bytes" -> s.shuffleBytes.get,
        "bytes_written" -> s.bytesWritten.get, "rows_written" -> s.rowsWritten.get)
      Json.obj(base ++ s.attrs.toSeq.sortBy(_._1))
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }

  def byName: Map[String, SpanAgg] = all.groupBy(_.name).map { case (k, ss) => k -> SpanAgg(ss) }
}

/** The spans of one name and their counters. */
final case class SpanAgg(spans: Seq[Span]) {
  def n: Int = spans.size
  def p50: Double = Stats.median(spans.map(_.durMs))
  def sum(f: Span => Long): Long = spans.map(f).sum
  def perSpan(f: Span => Long): Double = if (n == 0) 0.0 else sum(f).toDouble / n
  def attrP50(k: String): Double = Stats.median(spans.flatMap(_.attrs.get(k)))
}
