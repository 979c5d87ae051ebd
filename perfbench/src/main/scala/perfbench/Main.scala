package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one timed operation of a workload recorded. `items` is the work
  * it completed (staging rows, documents x gates, queries); `sample` is
  * false for operations timed for the report only (the replayed and the
  * empty day), which stay out of the op percentiles and the work rate. */
final case class Op(kind: String, seconds: Double, items: Long, ok: Boolean,
                    sample: Boolean = true)

/** Shared state of one benchmark run: the session, the tracer, the
  * timed-operation log and the correctness ledger. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val work: String, val data: String, var spark: SparkSession) {
  var tracer: Tracer = _
  val ops = mutable.ArrayBuffer[Op]()
  val loads = mutable.ArrayBuffer[Double]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  /** Named per-layer values measured by the layer probes (traced runs). */
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Per-layer values summed over the timed cycles; reported per cycle. */
  val cycleLayers = mutable.LinkedHashMap[String, Double]()
  /** Per-layer values taken once per call; reported as their median. */
  val layerSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Whole cycles the timed loop completed. */
  var cycles = 0
  /** Checks run.py makes with DuckDB after the JVM exits (JSON objects
    * with a `kind`): oracle comparisons and warehouse snapshots. */
  val pyChecks = mutable.ArrayBuffer[String]()
  /** Output-quality measures (ANN recall), reported with the metrics. */
  val quality = mutable.LinkedHashMap[String, Double]()
  /** Human-readable facts about the inputs (sizes, settings). */
  val inputs = mutable.LinkedHashMap[String, String]()

  /** Record one checked operation; a failed check counts in the ledger. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) failures += s"$what: $detail"
    ok
  }

  /** Add to per-layer metric `name`; recorded only while tracing. Values
    * added in the timed loop are divided by its cycles when reported, so a
    * faster engine that fits more cycles in a run does not read as more. */
  def layer(name: String, v: Double): Unit = if (tracer.enabled) {
    val m = if (tracer.phase == "cycle") cycleLayers else layers
    m(name) = m.getOrElse(name, 0.0) + v
  }

  /** One sample of per-layer metric `name` (reported as the median). */
  def layerSample(name: String, v: Double): Unit =
    if (tracer.enabled) layerSamples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Every per-layer value as reported: probe values as measured, cycle
    * sums per cycle, samples as their median. */
  def layerValues: Seq[(String, Double)] = {
    val perCycle = cycleLayers.map { case (k, v) => k -> v / math.max(cycles, 1) }
    val medians = layerSamples.map { case (k, xs) =>
      val s = xs.sorted
      k -> (if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }
    (layers ++ perCycle ++ medians).toSeq
  }

  /** Run `body` as a span; with tracing on, also add its seconds to
    * per-layer metric `metric`. */
  def step[T](name: String, layerName: String, metric: String = "")(body: => T): (T, Double) = {
    val (out, s) = tracer.span(name, layerName)(body)
    if (metric.nonEmpty) layer(metric, s)
    (out, s)
  }

  def deadlinePassed(startNs: Long): Boolean =
    System.nanoTime() - startNs >= (seconds * 1e9).toLong
}

/** A workload: generates its inputs, warms up, runs a closed loop of
  * operations for the run's seconds, and probes its layers when traced. */
trait Workload {
  def name: String
  /** Scale the testdata base up with `graft.tools.ScaleGen`. Runs before
    * the benchmark session exists: ScaleGen creates and stops its own. */
  def scaleInputs(run: Run, traced: Boolean): Unit = ()
  /** Write the seeded inputs with the benchmark session. */
  def generate(run: Run, traced: Boolean): Unit
  /** Untimed pass over the whole operation mix (JIT, codegen caches). */
  def warmup(run: Run): Unit
  /** The timed closed loop; returns after `run.seconds`, at a cycle end. */
  def measure(run: Run): Unit
  /** Traced runs only: time each layer's public functions directly. */
  def probeLayers(run: Run): Unit
  /** Traced runs only: one representative operation, repeatable after the
    * timed loop, run traced and untraced to measure the tracing overhead. */
  def overheadProbe(run: Run): Unit
}

/** Benchmark entry point:
  *
  *   perfbench.Main --workload <elt_daily|dedup_curation|ann_retrieval>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *     --out <file>
  *
  * Writes one JSON result file; `run.py` turns it into the metrics. */
object Main {

  def session(): SparkSession = {
    val s = graft.core.GraftSession.builder().getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl: Workload = args("workload") match {
      case "elt_daily" => EltDaily
      case "dedup_curation" => DedupCuration
      case "ann_retrieval" => AnnRetrieval
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traced = args("trace") == "1"
    val run = new Run(wl.name, args("seed").toLong, args("seconds").toDouble,
      args("work"), args("data"), null)

    // set-up: scaled inputs, session, seeded inputs, one untimed warm-up pass
    val t0 = System.nanoTime()
    wl.scaleInputs(run, traced)
    val scaleS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    run.spark = session()
    val sessionS = (System.nanoTime() - t1) / 1e9
    wl.generate(run, traced)
    val genS = (System.nanoTime() - t1) / 1e9 - sessionS + scaleS
    run.inputs("driver_heap_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    run.inputs("auto_broadcast_threshold") =
      run.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    run.tracer = new Tracer(false, wl.name, run.spark.sparkContext)
    val t2 = System.nanoTime()
    wl.warmup(run)
    val warmupS = (System.nanoTime() - t2) / 1e9
    val setupS = jvmStartS + (System.nanoTime() - t0) / 1e9
    // the warm-up's checks are not part of the measured ledger
    run.attempted = 0
    run.failures.clear()
    run.ops.clear()
    run.loads.clear()
    run.pyChecks.clear()

    if (traced) {
      run.tracer = new Tracer(true, wl.name, run.spark.sparkContext)
      run.layers("core.session_s") = sessionS
    }
    val tm = System.nanoTime()
    wl.measure(run)
    val timedS = (System.nanoTime() - tm) / 1e9
    if (traced) {
      // tracing overhead: one representative operation run untraced,
      // traced, traced, untraced (the ABBA order cancels linear drift),
      // after two discarded untraced calls: repeated calls still speed up
      // after the timed loop (x11: 2.0 s, 1.37 s, then ~1.27 s), a decay
      // ABBA does not cancel, which made the overhead read negative
      run.tracer.phase = "overhead"
      val secs = Seq(false, false, false, true, true, false).map { on =>
        run.tracer.suspend(!on)
        (on, run.tracer.span("overhead_probe", "trace")(wl.overheadProbe(run))._2)
      }
      run.tracer.suspend(false)
      System.err.println(s"[perfbench] overhead probe (traced, seconds): ${secs.mkString(" ")}")
      val tracedS = secs.filter(_._1).map(_._2).sum / 2
      val untracedS = secs.drop(2).filterNot(_._1).map(_._2).sum / 2
      run.layer("trace.overhead_s", tracedS - untracedS)
      run.layer("trace.overhead_pct", 100.0 * (tracedS - untracedS) / untracedS)
      run.tracer.phase = "probe"
      wl.probeLayers(run)
    }
    val spans = run.tracer.toJson
    run.tracer.close()

    val gcS = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    }
    val conf = run.spark.conf.getAll.toSeq.sortBy(_._1)
    import Json._
    val out = obj(
      "workload" -> str(wl.name), "seed" -> num(run.seed), "traced" -> (if (traced) "true" else "false"),
      "cycles" -> num(run.cycles),
      "setup" -> obj("setup_s" -> num(setupS), "jvm_s" -> num(jvmStartS),
        "gen_s" -> num(genS), "session_s" -> num(sessionS), "warmup_s" -> num(warmupS)),
      "timed_s" -> num(timedS),
      "ops" -> arr(run.ops.toSeq.map(o => obj("kind" -> str(o.kind),
        "s" -> num(o.seconds), "items" -> num(o.items), "ok" -> (if (o.ok) "true" else "false"),
        "sample" -> (if (o.sample) "true" else "false")))),
      "loads" -> arr(run.loads.toSeq.map(x => num(x))),
      "attempted" -> num(run.attempted),
      "failures" -> arr(run.failures.toSeq.map(str)),
      "layers" -> obj(run.layerValues.map { case (k, v) => k -> num(v) }: _*),
      "inputs" -> obj(run.inputs.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "checks" -> arr(run.pyChecks.toSeq),
      "quality" -> obj(run.quality.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "peak_rss_mb" -> num(vmHwmMb()),
      "jvm_gc_s" -> num(gcS),
      "conf" -> obj(conf.map { case (k, v) => k -> str(v) }: _*),
      "spans" -> spans)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), out)
    // nothing outlives the run (the work directory is deleted by run.py),
    // so skip the orderly SparkContext shutdown
    Runtime.getRuntime.halt(0)
  }

  /** Run independent warm-up legs all at once and wait for them: the
    * warm-up has to compile every code path and plan once, not time them,
    * and one leg leaves most cores idle while its driver plans. */
  def inParallel(legs: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
    try legs.map(l => pool.submit(new Runnable { def run(): Unit = l() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Peak resident set (VmHWM) of this JVM, MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
