package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.dataflow.spark.{Graft, SparkDataFlow}

/** Everything a round needs. */
final class RunCtx(
    val spark: SparkSession,
    val tracer: Tracer,
    val listener: Option[LayerListener],
    val cores: Int,
    val workDir: Path,
    val dataDir: Path) {
  val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L

  /** Runs one checked operation: an exception or a failed check counts as a
    * failed operation, and its class and message go to the artifact. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        failures += ((name, root.getClass.getName, String.valueOf(root.getMessage).take(500)))
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    op(name)(if (!ok) throw new CheckFailed(detail))

  def executor = Graft.sparkExecutor(cores)
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one round measured: `roundS` sums the round's timed calls,
  * `executeS` the part of them spent in `FlowExecutor.execute`. `detail`
  * holds client-timed samples per operation kind; `layers` is filled on
  * traced rounds only, and a metric a round did not exercise is absent. */
final case class RoundResult(roundS: Double, executeS: Double,
    layers: Map[String, Double], detail: Map[String, Seq[Double]] = Map.empty)

trait Workload {
  /** Opens what the workload reads before its first round; part of set-up. */
  def openInputs(spark: SparkSession, dataDir: Path): Unit
  /** Untimed work before the first round (loads, warm-up). */
  def prepare(ctx: RunCtx): Unit
  def round(ctx: RunCtx, r: Int, traced: Boolean): RoundResult
  /** Fewest measured rounds a run makes, however short `--seconds` is. */
  def minRounds: Int
  /** Extra fields for the artifact (e.g. outputs the caller checks). */
  def artifact(ctx: RunCtx): Map[String, Any] = Map.empty
}

/** Benchmark entry point, started by `run.py`:
  * `Main <workload> <seed> <seconds> <trace 0|1> <cores> <dataDir> <workDir> <outJson>`. */
object Main {
  val SetupReps = 3
  /** `-Dperfbench.size=tiny` shrinks every workload for the self-test. */
  val tiny: Boolean = sys.props.get("perfbench.size").contains("tiny")

  def session(cores: Int, workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      // as graft.Bench: coalesce small post-shuffle stages to few tasks
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, coresS, dataS, workS, outS) = args
    val (seed, seconds, traceMode, cores) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val (dataDir, workDir) = (Paths.get(dataS), Paths.get(workS))
    val wl: Workload = wlName match {
      case "gate_flow" => new GateFlow(seed)
      case "audit_ingest" => new AuditIngest(seed)
      case "wide_dag" => new WideDag(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: a fresh session, graft's function registry, the executor and
    // the workload's inputs, repeated; the median is reported. In trace mode
    // every other set-up also registers the listener, so its cost shows.
    val setupPlain = mutable.ArrayBuffer.empty[Double]
    val setupTraced = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var listener: Option[LayerListener] = None
    val reps = if (traceMode) 2 * SetupReps else SetupReps
    val tStart = System.nanoTime()
    for (i <- 0 until reps) {
      if (spark != null) spark.stop()
      val withListener = traceMode && i % 2 == 1
      val t0 = System.nanoTime()
      spark = session(cores, workDir)
      graft.sql.functions.ensureRegistered(spark)
      Graft.sparkExecutor(cores)
      wl.openInputs(spark, dataDir)
      listener = if (withListener) {
        val l = new LayerListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
      val dt = (System.nanoTime() - t0) / 1e9
      (if (withListener) setupTraced else setupPlain) += dt
    }

    val tracer = new Tracer
    val ctx = new RunCtx(spark, tracer, listener, cores, workDir, dataDir)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum

    val tSetup = System.nanoTime()
    wl.prepare(ctx)
    val tPrepare = System.nanoTime()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    // closed loop: the next round starts when the previous one returned
    val plain = mutable.ArrayBuffer.empty[RoundResult]
    val traced = mutable.ArrayBuffer.empty[RoundResult]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    def enough =
      if (traceMode) traced.size >= wl.minRounds && plain.nonEmpty else plain.size >= wl.minRounds
    while (System.nanoTime() < deadline || !enough) {
      val doTrace = traceMode && r % 2 == 0
      tracer.enabled = doTrace
      tracer.trace = r + 1
      listener.foreach { l => l.reset(); l.enabled = doTrace }
      val gc0 = gcMs
      val res = wl.round(ctx, r, doTrace)
      listener.foreach(_.enabled = false)
      tracer.enabled = false
      if (doTrace)
        traced += res.copy(layers = res.layers + ("jvm.gc_s" -> (gcMs - gc0) / 1000.0))
      else plain += res
      r += 1
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val phases = Map("setup" -> (tSetup - tStart) / 1e9, "prepare" -> (tPrepare - tSetup) / 1e9,
      "measure" -> (System.nanoTime() - tPrepare) / 1e9)

    val e2ePlain = Map(
      "setup_s" -> Stats.median(setupPlain.toSeq),
      "round_s" -> Stats.median(plain.map(_.roundS).toSeq),
      "flow_execute_s" -> Stats.median(plain.map(_.executeS).toSeq))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> wlName, "seed" -> seed, "trace" -> traceMode,
      "attempted" -> ctx.attempted, "failed" -> ctx.failures.size,
      "failures" -> ctx.failures.map { case (op, cls, msg) =>
        Map("op" -> op, "class" -> cls, "message" -> msg) }.toSeq,
      "rounds_untraced" -> plain.size, "rounds_traced" -> traced.size, "phase_s" -> phases,
      "e2e" -> e2ePlain,
      "round_samples" -> plain.map(r => Seq(r.roundS, r.executeS)).toSeq,
      "detail" -> Stats.details(plain.toSeq))
    if (traceMode) {
      val e2eTraced = Map(
        "setup_s" -> Stats.median(setupTraced.toSeq),
        "round_s" -> Stats.median(traced.map(_.roundS).toSeq),
        "flow_execute_s" -> Stats.median(traced.map(_.executeS).toSeq))
      val layerKeys = traced.flatMap(_.layers.keys).distinct
      val layers = mutable.LinkedHashMap[String, Double]()
      layerKeys.sorted.foreach(k => layers(k) = Stats.median(traced.flatMap(_.layers.get(k)).toSeq))
      layers("jvm.heap_peak_mb") = heapPeakMb
      e2ePlain.foreach { case (k, v) =>
        layers(s"trace.overhead_frac.$k") = if (v > 0) e2eTraced(k) / v - 1.0 else 0.0
      }
      out("e2e_traced") = e2eTraced
      out("detail_traced") = Stats.details(traced.toSeq)
      out("layers") = layers
      val spansFile = Paths.get(outS.stripSuffix(".json") + ".spans.jsonl")
      // each span with the description Spark recorded for its first job
      val jobDescription = listener.map(_.descriptions).getOrElse(new java.util.HashMap[String, String])
      Files.write(spansFile, tracer.all.sortBy(_.startNs).map(s =>
        Json.write(Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "parent" -> s.parent, "trace" -> s.trace,
          "job_description" -> Option(jobDescription.get(s"span-${s.id}"))))).asJava,
        StandardCharsets.UTF_8)
      out("spans_file") = spansFile.getFileName.toString
    }
    out ++= wl.artifact(ctx)
    spark.stop()
    Files.writeString(Paths.get(outS), Json.write(out.toMap), StandardCharsets.UTF_8)
  }
}

object Stats {
  /** Median of every client-timed operation kind over all rounds. */
  def details(rounds: Seq[RoundResult]): Map[String, Double] =
    rounds.flatMap(_.detail.keys).distinct
      .map(k => k -> median(rounds.flatMap(_.detail.getOrElse(k, Nil)))).toMap

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the artifact. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}

/** Dataflow-layer metrics of one traced flow run, from its spans. */
object FlowLayer {

  /** For every action name, the names of the actions it waits for: the
    * producers of its input labels and the carriers of its dependency tags. */
  def dependencies(prepared: SparkDataFlow): Map[String, Seq[String]] = {
    val acts = prepared.actions
    val producer = acts.flatMap(a => a.outputLabels.map(_ -> a.actionName)).toMap
    val tags = prepared.state.tagState
    val carriers = acts.flatMap(a => tags.forAction(a.guid).tags.map(_ -> a.actionName))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    acts.map { a =>
      a.actionName -> (a.inputLabels.flatMap(producer.get) ++
        tags.forAction(a.guid).dependsOnTags.toSeq.flatMap(carriers.getOrElse(_, Nil))).distinct
    }.toMap
  }

  /** Scheduler metrics of one executed flow: `actionSpans` are the action
    * spans of the flow, `exec` its execute span. */
  def metrics(exec: Span, actionSpans: Seq[Span], deps: Map[String, Seq[String]])
      : Map[String, Double] = {
    val byName = actionSpans.map(s => s.name -> s).toMap
    val waitsMs = actionSpans.map { s =>
      val ready = deps.getOrElse(s.name, Nil).flatMap(byName.get).map(_.endNs)
        .maxOption.getOrElse(exec.startNs)
      math.max(0L, s.startNs - ready) / 1e6
    }
    val wall = math.max(1L, exec.endNs - exec.startNs).toDouble
    // union of busy intervals: the part of the execute wall in which at
    // least one action was running
    val merged = actionSpans.map(s => (s.startNs, s.endNs)).sorted
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
        case (acc, iv) => iv :: acc
      }
    val busyUnion = merged.map { case (s, e) => e - s }.sum.toDouble
    val busySum = actionSpans.map(s => s.endNs - s.startNs).sum.toDouble
    Map(
      "dataflow.ready_wait_ms_p50" -> Stats.quantile(waitsMs, 0.5),
      "dataflow.ready_wait_ms_p90" -> Stats.quantile(waitsMs, 0.9),
      "dataflow.sched_overhead_frac" -> math.max(0.0, (wall - busyUnion) / wall),
      "dataflow.concurrency_avg" -> busySum / wall,
      "dataflow.actions" -> actionSpans.size.toDouble)
  }

  /** Spark counters of a round, from the listener totals. */
  def sparkMetrics(ctx: RunCtx, roundS: Double): Map[String, Double] =
    ctx.listener.map { l =>
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      val t = l.total
      val runS = t.runMs.get / 1000.0
      Map(
        "spark.jobs" -> t.jobs.get.toDouble,
        "spark.tasks" -> t.tasks.get.toDouble,
        "spark.task_run_s" -> runS,
        "spark.task_cpu_s" -> t.cpuNs.get / 1e9,
        "spark.gc_s" -> t.gcMs.get / 1000.0,
        "spark.input_bytes" -> t.inputBytes.get.toDouble,
        "spark.shuffle_write_bytes" -> t.shuffleWrite.get.toDouble,
        "spark.shuffle_read_bytes" -> t.shuffleRead.get.toDouble,
        "spark.spill_bytes" -> t.spill.get.toDouble,
        "spark.output_bytes" -> t.outputBytes.get.toDouble,
        "spark.slot_util" -> (if (roundS > 0) runS / (roundS * ctx.cores) else 0.0))
    }.getOrElse(Map.empty)

  final case class FlowRun(result: SparkDataFlow, buildS: Double, executeS: Double,
      layers: Map[String, Double])

  /** Builds and executes one flow the way a user does. In a traced round the
    * actions are wrapped, a separate `prepareForExecution` gives the prepare
    * time and the dependency map, and build, prepare and execute are spans. */
  def run(ctx: RunCtx, traced: Boolean)(build: => SparkDataFlow): FlowRun = {
    val tr = ctx.tracer
    if (!traced) {
      val (flow, b) = timed(build)
      val ((_, done), e) = timed(ctx.executor.execute(flow))
      FlowRun(done, b, e, Map.empty)
    } else {
      val (built, b) = timed(tr.span(None, "flow.build", "flow.build")(build))
      val flow = TracedAction.wrapAll(built, tr)
      val (prepared, p) =
        timed(tr.span(None, "flow.prepare", "flow.prepare")(flow.prepareForExecution().get))
      val deps = dependencies(prepared)
      val id = tr.nextId()
      tr.flowParent = id
      val t0 = System.nanoTime()
      val (_, done) = ctx.executor.execute(flow)
      val t1 = System.nanoTime()
      tr.record(id, "flow.execute", "flow.execute", t0, t1, 0L)
      val exec = Span(id, "flow.execute", "flow.execute", t0, t1, 0L, tr.trace)
      val acts = tr.ofTrace(tr.trace).filter(_.parent == id)
      FlowRun(done, b, (t1 - t0) / 1e9, metrics(exec, acts, deps) ++
        Map("dataflow.build_s" -> b, "dataflow.prepare_s" -> p))
    }
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of all files under `p` (0 when absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
