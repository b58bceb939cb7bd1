package perfbench

import scala.collection.mutable

/** Named metric values in print order. */
final class Metrics {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def json: String = Json.obj(values.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}

/** One timed operation: a registry query or a wire statement. `key`
  * names what ran, the same in every round (a wire statement's template,
  * without its parameter pool entry). */
final case class Op(key: String, ns: Long, rows: Long, bytes: Long)

/** What one measured pass produced, before it becomes metrics: the
  * timed operations, and the ones `swept` after them, which are
  * checked and listed but make no metric. */
final case class Pass(wallNs: Long, ops: Seq[Op], failures: Seq[String], swept: Seq[Op] = Nil) {
  def attempted: Int = ops.size + swept.size
}

/** One invocation: `--workload W --seed N --seconds S --trace 0|1`. */
object Run {
  val workloads = Seq("registry_construct_bound", "registry_execute_bound",
    "wire_interactive", "wire_bulk")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Seq[String]): Args = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    val w = arg("workload")
    require(workloads.contains(w), s"unknown workload '$w' (one of ${workloads.mkString(", ")})")
    Args(w, arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs the workload; returns the process exit code. */
  def run(argv: Seq[String]): Int = {
    val a = parse(argv)
    // the registry partition is checked before any Spark work
    val part = Frozen.partition
    val problems = Frozen.partitionProblems(part, Registry.all.map(_.name))
    if (problems.nonEmpty) {
      problems.foreach(p => log(s"partition: $p"))
      return 3
    }
    val golden = Frozen.golden
    val spark = Env.session(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val listener = new ExecListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    try {
      val w: Workload = a.workload match {
        case "registry_construct_bound" => new RegistryWorkload(spark, part.construct, part, golden, a)
        case "registry_execute_bound" => new RegistryWorkload(spark, part.execute, part, golden, a)
        case "wire_interactive" => new WireWorkload(spark, interactive = true, golden, a)
        case _ => new WireWorkload(spark, interactive = false, golden, a)
      }
      log(f"session ready at ${Env.sinceJvmStartS}%.2f s")
      w.warmUp()
      val setupS = Stats.median((1 to SetUps).map { _ =>
        val t0 = System.nanoTime(); w.setUp(); (System.nanoTime() - t0) / 1e9
      })
      val startupS = Env.sinceJvmStartS
      log(f"set-up $setupS%.3f s (median of $SetUps); first timed operation at $startupS%.2f s")
      val plain = w.measure(traced = None)
      val rssMb = Env.peakRssMb
      val metrics = new Metrics
      val failures = mutable.Buffer[String]() ++= plain.failures
      var attempted = plain.attempted
      if (!a.trace) {
        metrics.put("setup_s", setupS, "s")
        metrics.put("peak_rss_mb", rssMb, "MB")
        val r = Stats.Rates(plain.ops)
        metrics.put("ops_per_s", r.opsPerS, "1/s")
        metrics.put("rows_per_s", r.rowsPerS, "1/s")
        metrics.put("mb_per_s", r.bytesPerS / 1e6, "MB/s")
        summary(a, plain, startupS)
      } else {
        val trace = new Trace(true)
        val traced = w.measure(traced = Some(trace))
        failures ++= traced.failures
        attempted += traced.attempted
        val probe = new Probe(spark, w.wireHost, golden, trace)
        probe.run()
        failures ++= probe.failures
        listener.settle()
        val layers = new Layers(trace, listener, Env.cores)
        w.layerMetrics(layers)
        probe.layerMetrics(layers)
        // queries still get faster along a run, so the traced pass is
        // compared with as many of the latest untraced operations
        def perOp(ops: Seq[Op]) = ops.map(_.ns).sum.toDouble / ops.size
        layers.finish(metrics,
          overheadFrac = perOp(traced.ops) / perOp(plain.ops.takeRight(traced.ops.size)) - 1,
          window = w.lanes ++ probe.lanes)
        trace.write(Env.work.resolve("trace").resolve(s"${a.workload}-${a.seed}.jsonl"))
      }
      failures.take(20).foreach(f => log(s"WRONG: $f"))
      val correct = failures.isEmpty
      println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
        "failed" -> failures.size.toString, "metrics" -> metrics.json)))
      System.out.flush()
      if (correct) 0 else 1
    } finally {
      spark.stop()
    }
  }

  /** How many times a run sets up, for the median `setup_s`. */
  val SetUps = 3

  private def opList(ops: Seq[Op]): String =
    ops.map(o => s"[${Json.str(o.key)},${Json.num(math.rint(o.ns / 1e6))}]").mkString("[", ",", "]")

  private def summary(a: Args, p: Pass, startupS: Double): Unit = {
    val ms = p.ops.map(_.ns / 1e6)
    val tail = Stats.tailPercentile(ms.size).filter(_ > 0.5)
    val parts = Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "startup_s" -> Json.num(startupS), "ops" -> ms.size.toString, "wall_s" -> Json.num(p.wallNs / 1e9),
      "op_p50_ms" -> Json.num(Stats.median(ms))) ++
      tail.map(t => s"op_${Stats.label(t)}_ms" -> Json.num(Stats.percentile(ms, t))) :+
      ("op_ms" -> opList(p.ops)) :+ ("swept_ms" -> opList(p.swept))
    println(Json.obj(parts))
  }
}

/** A workload: set-up and warm-up, then measured passes. */
trait Workload {
  /** What a caller does before its first operation, done afresh; timed
    * several times per run for `setup_s`. */
  def setUp(): Unit
  /** The timed operations, unmeasured: the first runs of a plan pay
    * code generation, JIT and file-listing caches, which the JVM shares
    * with the measured passes. */
  def warmUp(): Unit
  /** One measured pass; traced when a recorder is given. */
  def measure(traced: Option[Trace]): Pass
  /** Per-layer metrics of the traced pass. */
  def layerMetrics(l: Layers): Unit
  /** The traced pass's lanes (one per client or caller): root spans
    * that block the result, for the self-time accounting. */
  def lanes: Seq[Seq[Span]]
  /** The PgServer this workload runs, if any. */
  def wireHost: Option[WireHost]
}
