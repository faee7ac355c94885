package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed call from the benchmark into a module's public function.
  * `layer` is the module ("parser", "exec", "graph", …); `name` the call
  * ("parse", "translate", …). Times are System.nanoTime values. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    op: Int, start: Long, var end: Long = 0L) {
  def key: String = s"$layer.$name"
  def secs: Double = (end - start) / 1e9
}

/** Spark work attributed to one span (summed over the span's tasks). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskCpuNs = 0L
  var schedulerDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var gcMs = 0L
}

/** In-memory tracer for the traced run. Spans nest on the calling thread
  * (every traced call is made from the benchmark's driver thread); the
  * active span id rides on a Spark local property, which jobs submitted
  * from that thread — and from threads it starts, such as a streaming
  * query's execution thread or a pool of concurrent store folds — carry
  * to the listener, so each job's tasks are charged to the span that
  * issued them. While inactive (always, in an untraced run) spans are
  * pass-throughs and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** Streaming progress: (durationMs, numInputRows) per micro-batch. */
  val microBatches = mutable.ArrayBuffer.empty[(Long, Long)]
  private var op = -1

  def beginOp(id: Int): Unit = op = id

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val id = Option(js.properties).flatMap(p => Option(p.getProperty(prop)))
        .map(_.toInt).getOrElse(-1)
      Tracer.this.synchronized {
        js.stageIds.foreach(stageSpan(_) = id)
        counters.getOrElseUpdate(id, new Counters).jobs += 1
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val c = counters.getOrElseUpdate(stageSpan.getOrElse(te.stageId, -1),
          new Counters)
        c.tasks += 1
        if (!te.taskInfo.successful) c.failedTasks += 1
        val m = te.taskMetrics
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.schedulerDelayMs += math.max(0L, te.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime)
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.gcMs += m.jvmGCTime
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val d = Option(e.progress.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        if (e.progress.numInputRows > 0 || d > 0)
          microBatches += ((d, e.progress.numInputRows))
      }
  }

  private var active = false

  /** Record spans and Spark/streaming counters from now on (or stop). */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    drain()
    if (on) {
      sc.addSparkListener(listener)
      spark.streams.addListener(streamListener)
    } else {
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
    }
    active = on
  }

  def isActive: Boolean = active

  /** Time `body` as a call into `layer`'s `name`. */
  def span[A](layer: String, name: String)(body: => A): A = {
    if (!active) return body
    val s = synchronized {
      val sp = Span(spans.size, layer, name,
        stack.headOption.map(_.id).getOrElse(-1), op, System.nanoTime())
      spans += sp
      sp
    }
    val saved = sc.getLocalProperty(prop)
    stack.push(s)
    sc.setLocalProperty(prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(prop, saved)
    }
  }

  /** Wait until the listener has seen every event posted so far
    * (streaming progress included: the session's streaming listener bus
    * is fed from the same bus). */
  def drain(): Unit = if (active) settle()

  /** Wait until every listener, registered or not, has seen every event
    * posted so far; both legs of a traced pair start from here. */
  def settle(): Unit = if (enabled) org.apache.spark.perfbench.ListenerBus.drain(sc)

  def close(): Unit = setActive(false)

  def countersOf(spanId: Int): Counters =
    synchronized(counters.getOrElse(spanId, new Counters))

  /** Self time of every span: its duration minus its children's. */
  def selfSecs: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.secs)
    spans.map(s => s.id -> (s.secs - child(s.id))).toMap
  }

  /** Per-layer-call totals: key → (self seconds, counters). */
  def byKey: Map[String, (Double, Counters)] = {
    val self = selfSecs
    spans.groupBy(_.key).map { case (k, ss) =>
      val c = new Counters
      ss.foreach { s =>
        val x = countersOf(s.id)
        c.jobs += x.jobs; c.tasks += x.tasks; c.failedTasks += x.failedTasks
        c.taskCpuNs += x.taskCpuNs; c.schedulerDelayMs += x.schedulerDelayMs
        c.shuffleReadBytes += x.shuffleReadBytes
        c.shuffleWriteBytes += x.shuffleWriteBytes
        c.spillBytes += x.spillBytes; c.inputBytes += x.inputBytes
        c.outputBytes += x.outputBytes; c.gcMs += x.gcMs
      }
      k -> (ss.map(s => self(s.id)).sum, c)
    }
  }

  /** Spans and their counters as JSON lines. */
  def writeJsonl(path: String): Unit = {
    val self = selfSecs
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = countersOf(s.id)
      w.println(Json(Map(
        "id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_s" -> self(s.id), "jobs" -> c.jobs,
        "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes, "gc_s" -> c.gcMs / 1e3,
        "failed_tasks" -> c.failedTasks)))
    } finally w.close()
  }
}
