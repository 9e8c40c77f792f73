package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed user-visible operation (a statement, a read, a commit, a
  * pipeline pass, a stream query). `items` is what the workload counts
  * as throughput (statements, changed rows, documents, events).
  */
final case class Op(kind: String, t0: Double, t1: Double, ok: Boolean, items: Double)

/** A span around one call into a layer. `parent` 0 = root. */
final case class Span(id: Long, parent: Long, name: String, t0: Double, t1: Double, req: String)

/** Spark task counters summed over the jobs attributed to one span name. */
final class Tally {
  val jobs, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill, recordsWritten, bytesWritten =
    new AtomicLong(0)
  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble, "run_ms" -> runMs.get.toDouble,
    "gc_ms" -> gcMs.get.toDouble, "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble, "spill_bytes" -> spill.get.toDouble,
    "records_written" -> recordsWritten.get.toDouble, "bytes_written" -> bytesWritten.get.toDouble)
}

/** Everything one run observes, held in memory and written once as
  * `raw.json` when the run ends. The arithmetic that turns these
  * observations into metrics lives in `perfbench/metrics.py`.
  *
  * Spans are recorded only when tracing is on; with tracing off
  * [[span]] is a plain call, so the end-to-end run pays nothing for it.
  */
object Rec {
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - origin) / 1e9
  private def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3

  @volatile var trace = false
  @volatile var sc: SparkContext = _

  val ops = new ConcurrentLinkedQueue[Op]
  val spans = new ConcurrentLinkedQueue[Span]
  val failures = new ConcurrentLinkedQueue[String]
  val checks = new ConcurrentLinkedQueue[Map[String, String]]
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]
  private val counters = new ConcurrentHashMap[String, Double]
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val spanNames = new ConcurrentHashMap[Long, String]
  val tallies = new ConcurrentHashMap[String, Tally]
  def tally(name: String): Tally = tallies.computeIfAbsent(name, _ => new Tally)

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(v)
  def add(name: String, v: Double): Unit = counters.merge(name, v, (a, b) => a + b)
  def fail(what: String): Unit = { failures.add(what.take(400)); System.err.println(s"[perfbench] FAIL $what".take(600)) }

  /** Progress line on stderr, so a slow phase shows in the run's log. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] ${now()}%.2f s: $what")

  def currentSpan: Long = stack.get.headOption.getOrElse(0L)

  /** Run `f` inside a span named `name`. Spark jobs submitted from this
    * thread while the span is innermost are attributed to it through the
    * `perfbench.span` local property.
    */
  def span[A](name: String, req: String = "")(f: => A): A =
    if (!trace) f
    else {
      val id = ids.incrementAndGet()
      val parent = currentSpan
      spanNames.put(id, name)
      stack.set(id :: stack.get)
      val prevProp = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", id.toString)
      val s = now()
      try f
      finally {
        spans.add(Span(id, parent, name, s, now(), req))
        stack.set(stack.get.tail)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  /** Record a finished span whose interval was measured elsewhere. */
  def addSpan(name: String, parent: Long, t0: Double, t1: Double, req: String): Unit =
    if (trace) spans.add(Span(ids.incrementAndGet(), parent, name, t0, t1, req))

  /** Time one operation; an exception marks it failed and is not rethrown. */
  def op(kind: String, items: => Double)(f: => Boolean): Boolean = {
    val s = now()
    val ok = try f catch {
      case scala.util.control.NonFatal(e) => fail(s"$kind: ${e.toString}"); false
    }
    ops.add(Op(kind, s, now(), ok, if (ok) items else 0.0))
    ok
  }

  /** Benchmark-owned listener: jobs and task metrics per innermost span
    * name, plus job spans (layer `spark`) parented to that span.
    */
  final class Listener extends SparkListener {
    private val stageTag = new ConcurrentHashMap[Int, String]
    private val jobInfo = new ConcurrentHashMap[Int, (Double, Long, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .flatMap(_.toLongOption).getOrElse(0L)
      val name = Option(spanNames.get(sid)).getOrElse("untraced")
      e.stageIds.foreach(st => stageTag.put(st, name))
      jobInfo.put(e.jobId, (fromEpochMs(e.time), sid, name))
      tally(name).jobs.incrementAndGet(); tally("all").jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (t0, parent, name) =>
        addSpan("spark.job", parent, t0, fromEpochMs(e.time), name)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val name = Option(stageTag.get(e.stageId)).getOrElse("untraced")
      Seq(tally(name), tally("all")).foreach { t =>
        t.tasks.incrementAndGet()
        t.runMs.addAndGet(m.executorRunTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
        t.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Structured Streaming progress: one sample set per micro-batch, and a
    * `stream.batch` span under the span that started the query.
    */
  @volatile var streamParent: Long = 0L
  final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      add("stream.batches", 1)
      if (p.numInputRows == 0) add("stream.no_data_batches", 1)
      sample("stream.batch_ms", p.batchDuration.toDouble)
      d.get("queryPlanning").foreach(v => sample("stream.planning_ms", v.toDouble))
      d.get("walCommit").foreach(v => sample("stream.wal_commit_ms", v.toDouble))
      p.stateOperators.foreach { so =>
        sample("stream.state_commit_ms", so.commitTimeMs.toDouble)
        sample("stream.state_rows", so.numRowsTotal.toDouble)
        sample("stream.state_mem_bytes", so.memoryUsedBytes.toDouble)
      }
      val end = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli) + p.batchDuration / 1e3
      addSpan("stream.batch", streamParent, end - p.batchDuration / 1e3, end, p.name)
    }
  }

  // ---- output ---------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def raw(extra: Map[String, Any]): Map[String, Any] = extra ++ Map(
    "ops" -> ops.asScala.toSeq.map(o =>
      Map("kind" -> o.kind, "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "items" -> o.items)),
    "spans" -> spans.asScala.toSeq.sortBy(_.t0).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1, "req" -> s.req)),
    "failures" -> failures.asScala.toSeq,
    "checks" -> checks.asScala.toSeq,
    "samples" -> samples.asScala.map { case (k, q) => k -> q.asScala.toSeq }.toMap,
    "counters" -> counters.asScala.toMap,
    "tallies" -> tallies.asScala.map { case (k, t) => k -> t.snapshot }.toMap)
}
