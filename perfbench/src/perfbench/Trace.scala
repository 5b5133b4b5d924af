package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (0 at an operation's root); spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, name: String, session: Int, op: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept in memory during the run and
  * written out once it ends; a disabled tracer runs the body and records
  * nothing. Nesting follows the calling thread. */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  private final class Ctx(val session: Int, val op: Long, var parent: Int)
  private val ctx = new ThreadLocal[Ctx]

  /** Runs an operation's root span: `name` around `f`, on `session`. */
  def op[T](name: String, session: Int, opId: Long)(f: => T): T =
    if (!enabled) f
    else {
      ctx.set(new Ctx(session, opId, 0))
      try span(name)(f) finally ctx.remove()
    }

  def span[T](name: String)(f: => T): T = {
    val c = ctx.get
    if (!enabled || c == null) f
    else {
      val id = ids.incrementAndGet()
      val parent = c.parent
      c.parent = id
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, c.session, c.op, t0, System.nanoTime()))
        c.parent = parent
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span: its duration minus the part of its interval
    * covered by its child spans. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var (curS, curE) = (Long.MinValue, Long.MinValue)
      cs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Writes every span, one JSON object a line, then one summary line per
    * span name (count, median duration, median self time). */
  def dump(path: java.nio.file.Path): Unit = {
    val ss = all
    val self = selfMs(ss)
    val lines = ss.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","session":${s.session},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}}"""
    } ++ ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, g) =>
      s"""{"summary":"$n","count":${g.size},"p50_ms":${Stats.median(g.map(_.ms))},""" +
        s""""self_p50_ms":${Stats.median(g.map(s => self(s.id)))}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Runtime counts over an interval. Compilations and GC time are JVM-wide;
  * the rest come from the Spark listeners. */
final case class Counts(jobs: Long, stages: Long, taskMs: Long, inputBytes: Long, shuffleBytes: Long,
    planMs: Long, compiles: Long, gcMs: Long) {
  private def zip(o: Counts)(f: (Long, Long) => Long) = Counts(f(jobs, o.jobs), f(stages, o.stages),
    f(taskMs, o.taskMs), f(inputBytes, o.inputBytes), f(shuffleBytes, o.shuffleBytes), f(planMs, o.planMs),
    f(compiles, o.compiles), f(gcMs, o.gcMs))
  def +(o: Counts): Counts = zip(o)(_ + _)
  def -(o: Counts): Counts = zip(o)(_ - _)
}
object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0) }

/** Spark runtime counters, accumulated while attached: jobs and stages
  * scheduled, task time, bytes read by scans, shuffle bytes written,
  * driver-side planning time (analysis + optimization + physical planning
  * of every query execution) and codegen compilations. */
final class SparkCounters(spark: SparkSession) {
  val jobs, stages, taskMs, inputBytes, shuffleBytes, planMs = new LongAdder
  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      stages.increment()
      if (m != null) {
        taskMs.add(m.executorRunTime)
        inputBytes.add(m.inputMetrics.bytesRead)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.add(qe.tracker.phases.valuesIterator.map(p => p.endTimeMs - p.startTimeMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private var sessions: Seq[SparkSession] = Nil

  def snapshot: Counts = Counts(jobs.sum, stages.sum, taskMs.sum, inputBytes.sum, shuffleBytes.sum,
    planMs.sum, Jvm.codegenCompiles, Jvm.gcMs)

  def attach(sessions: Seq[SparkSession]): Unit = {
    this.sessions = sessions
    spark.sparkContext.addSparkListener(jobListener)
    sessions.foreach(_.listenerManager.register(queryListener))
  }

  /** Detaches after every event already posted has been delivered. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    sessions.foreach(_.listenerManager.unregister(queryListener))
  }
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Stats {
  /** Linear-interpolated percentile (q in 0..100); NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (s.size - 1) * q / 100.0
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
