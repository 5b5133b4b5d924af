package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/** Outcome of one operation: its latency, whether its output was correct,
  * and what the workload wants to aggregate about it. */
final case class Outcome(ns: Long, ok: Boolean, error: String = "", fired: Boolean = false) {
  def ms: Double = ns / 1e6
}

final case class Metric(name: String, value: Double, unit: String)

/** Everything traced blocks measured: the traced operations, their spans,
  * their wall time and the runtime counts accumulated while they ran. */
final case class LayerData(ops: Seq[Outcome], spans: Seq[Span], wallS: Double, counts: Counts)

trait Workload {
  /** Closed-loop clients; client i sends its next operation only after the
    * previous one completed. */
  def clients: Int
  /** The SparkSessions the workload's operations run on. */
  def sessions: Seq[SparkSession]
  /** Generates the inputs, uploads them and computes the expected answers.
    * Called several times; each call replaces the previous state. */
  def setup(rep: Int): Unit
  /** Traced runs only, after the traced setup, with spans on and runtime
    * counters off: times layers that setup reaches only through a composed
    * entry point, on separate calls whose results are dropped. */
  def traceSetupLayers(): Unit = ()
  /** Runs and checks a few operations before timing starts, so the JIT and
    * Spark's code generation have seen every kind of operation. */
  def warmUp(): Unit
  /** Runs and checks one operation of `client`. Only the operation itself
    * is inside the returned latency; checking is not. */
  def op(client: Int, opId: Long): Outcome
  /** Per-layer metrics from the traced blocks (`d`) and the traced setup
    * (`setup`, whose `ops` are empty). */
  def layerMetrics(d: LayerData, setup: LayerData): Seq[Metric]
  /** Called once after the measured blocks of a traced run. */
  def finishTraced(): Seq[Metric] = Nil
}

object Workload {
  /** Runs `f(i)` for i in 0 until n on n threads and rethrows the first
    * failure. */
  def parallel(n: Int)(f: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (0 until n).map(i => new Thread(() => try f(i) catch { case t: Throwable => errors.add(t) }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}

/**
 * Benchmark entry point:
 *
 *   perfbench.Main --workload qa_warm|curation_batch --seed N
 *     --seconds S --trace 0|1 --work DIR --out DIR
 *
 * Builds the Spark session the way the engine's bench main does
 * (`EngineConf.tuned`, `local[cores]`, shuffle partitions = cores), sets the
 * workload up `SetupReps` times, then runs closed-loop operations for S
 * seconds. With `--trace 0` it prints the end-to-end metrics; with
 * `--trace 1` it alternates untraced and traced blocks and prints the
 * per-layer metrics from the traced ones, plus the tracing overhead, and
 * writes the spans to <out>/trace-<workload>-<seed>.jsonl. The last stdout
 * line is one JSON object: correct, attempted, failed, metrics.
 */
object Main {
  val SetupReps = 3
  /** Which blocks of a traced run record spans and counters. */
  val TracedBlocks: Seq[Boolean] = Seq(false, true, true, false)

  /** Runs `body`; when `on`, with spans recorded and runtime counters
    * attached, and returns the counts it accumulated. */
  def measured[T](on: Boolean, counters: SparkCounters, tracer: Tracer,
      sessions: Seq[SparkSession])(body: => T): (T, Counts) =
    if (!on) (body, Counts.Zero)
    else {
      counters.attach(sessions)
      val c0 = counters.snapshot
      tracer.enabled = true
      val r = try body finally { tracer.enabled = false; counters.detach() }
      (r, counters.snapshot - c0)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    require(Seq("qa_warm", "curation_batch").contains(workload), s"unknown workload $workload")

    val cores = java.lang.Runtime.getRuntime.availableProcessors.toString
    val t0 = System.nanoTime()
    val spark = graft.EngineConf.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer
    val wl: Workload = workload match {
      case "qa_warm"        => new QaWarm(spark, seed, work, tracer)
      case "curation_batch" => new CurationBatch(spark, seed, work, tracer)
    }
    // A traced run traces its last setup, so the layers setup calls show.
    val counters = new SparkCounters(spark)
    var setupCounts: Counts = null
    val setupS = (0 until SetupReps).map { rep =>
      val on = traced && rep == SetupReps - 1
      val s0 = System.nanoTime()
      setupCounts = measured(on, counters, tracer, wl.sessions)(wl.setup(rep))._2
      (System.nanoTime() - s0) / 1e9
    }
    if (traced) {
      tracer.enabled = true
      try wl.traceSetupLayers() finally tracer.enabled = false
    }
    val setupSpans = tracer.all
    val w0 = System.nanoTime()
    wl.warmUp()
    System.err.println(f"[perfbench] session start $sessionStartS%.2f s, setups " +
      f"${setupS.map(s => f"$s%.2f").mkString(" ")} s, warm-up ${(System.nanoTime() - w0) / 1e9}%.2f s")

    val opIds = new java.util.concurrent.atomic.AtomicLong
    val errors = new java.util.concurrent.atomic.AtomicInteger
    /** One closed-loop block: every client runs operations until the
      * deadline. Returns the outcomes and the block's wall time. */
    def block(sec: Double): (Seq[Outcome], Double) = {
      val outs = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]
      val b0 = System.nanoTime()
      val deadline = b0 + (sec * 1e9).toLong
      Workload.parallel(wl.clients) { c =>
        while (System.nanoTime() < deadline) {
          val s0 = System.nanoTime()
          val o = try wl.op(c, opIds.incrementAndGet()) catch {
            case e: Exception => Outcome(System.nanoTime() - s0, ok = false, error = e.toString)
          }
          if (!o.ok && errors.incrementAndGet() <= 5) System.err.println(s"[perfbench] FAILED: ${o.error}")
          outs.add(o)
        }
      }
      import scala.jdk.CollectionConverters._
      (outs.asScala.toSeq, (System.nanoTime() - b0) / 1e9)
    }

    val (ops, samples, metrics) =
      if (!traced) {
        val (ops, wall) = block(seconds)
        // In completion order: a trend across the quarters means the
        // warm-up did not reach the steady state.
        System.err.println("[perfbench] op p50 ms by quarter of the run: " +
          ops.grouped(math.max(1, (ops.size + 3) / 4)).map(q => f"${Stats.median(q.map(_.ms))}%.1f").mkString(" "))
        (ops, ops.size, Seq(
          Metric("op_p50_ms", Stats.median(ops.map(_.ms)), "ms"),
          Metric("ops_per_s", ops.size / wall, "1/s"),
          Metric("setup_s", Stats.median(setupS), "s")))
      } else {
        // Untraced and traced blocks in the order off, on, on, off, so a
        // steady drift over the run (JIT, code-generation cache) falls on
        // both alike; the tracing overhead is the traced blocks' median
        // latency over the untraced blocks'.
        val blocks = TracedBlocks.map { on =>
          val ((ops, wall), counts) = measured(on, counters, tracer, wl.sessions)(block(seconds / TracedBlocks.size))
          (on, ops, wall, counts)
        }
        System.err.println("[perfbench] block median ms (traced): " +
          blocks.map { case (on, ops, _, _) => f"${Stats.median(ops.map(_.ms))}%.1f ($on)" }.mkString(" "))
        val (on, off) = blocks.partition(_._1)
        val tracedOps = on.flatMap(_._2)
        val spans = tracer.all
        tracer.dump(out.resolve(s"trace-$workload-$seed.jsonl"))
        val opSpans = spans.drop(setupSpans.size)
        val d = LayerData(tracedOps, opSpans, on.map(_._3).sum, on.map(_._4).reduce(_ + _))
        val roots = opSpans.filter(_.parent == 0)
        val self = tracer.selfMs(opSpans)
        val all = blocks.flatMap(_._2)
        val layer = wl.layerMetrics(d, LayerData(Nil, setupSpans, 0.0, setupCounts)) ++ wl.finishTraced() ++ Seq(
          Metric("tracing.overhead_pct",
            (Stats.median(tracedOps.map(_.ms)) / Stats.median(off.flatMap(_._2).map(_.ms)) - 1) * 100, "%"),
          Metric("bench.self_ms_per_op", roots.map(s => self(s.id)).sum / roots.size, "ms"),
          Metric("failed_op_fraction", all.count(!_.ok).toDouble / all.size, "fraction"),
          Metric("spark.session_start_s", sessionStartS, "s"),
          Metric("spark.storage_mb_after_run",
            spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6, "MB"))
        (all, tracedOps.size, layer)
      }

    val failed = ops.count(!_.ok)
    System.err.println(s"[perfbench] $workload seed=$seed trace=${if (traced) 1 else 0}: " +
      s"${ops.size} operations, $failed failed")
    metrics.foreach { m =>
      val n = if (m.name == "setup_s") s"${setupS.size} setups" else s"$samples operations"
      println(f"${m.name}%-40s ${m.value}%16.6f ${m.unit}%-8s (n=$n)")
    }
    spark.stop()
    // A metric without samples (a span that never ran, a division by zero)
    // fails the run instead of reading as a number.
    val unmeasured = metrics.filter(m => m.value.isNaN || m.value.isInfinite)
    if (unmeasured.nonEmpty) {
      System.err.println(s"[perfbench] no samples for ${unmeasured.map(_.name).mkString(", ")}")
      sys.exit(7)
    }
    val json = metrics.map(m => s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":${failed == 0 && ops.nonEmpty},"attempted":${ops.size},"failed":$failed,"metrics":{$json}}""")
    System.out.flush()
  }
}
