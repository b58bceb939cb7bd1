package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, named by the engine module each
  * layer belongs to. The traced workload pass and the fixed layer probe
  * are pooled, so every metric is measured on every workload. */
final class Layers(trace: Trace, listener: ExecListener, cores: Int) {
  private val regRuns = mutable.Buffer[QueryRun]()
  private val ops = mutable.Buffer[WireOp]()
  private val conns = mutable.Buffer[Connect]()
  private val twin = mutable.Map[String, Long]()
  private val direct = mutable.LinkedHashMap[String, (Double, String)]()
  // listener times are epoch milliseconds; spans are nanoTime
  private val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def registry(runs: Seq[QueryRun]): Unit = regRuns ++= runs
  def wire(o: Seq[WireOp], c: Seq[Connect], t: Map[String, Long]): Unit = {
    ops ++= o; conns ++= c; twin ++= t
  }
  def put(name: String, v: Double, unit: String): Unit = direct(name) = (v, unit)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** The jobs of the traced pass and the probe, each with its span
    * under the span that submitted it: the benchmark's own span (local
    * property) or, for PgServer connections, the traced statement phase
    * of that connection that was open at job start. A connection no
    * traced client opened is a `postgres_scan` loop-back; its jobs hang
    * under whichever traced statement was open. Jobs under no span (the
    * untraced passes, the probe's direct calls and calibration, the
    * in-process twins) are left out. */
  private def jobSpans(): Seq[(ExecListener.Job, Span)] = {
    val all = trace.all
    val byId = all.map(s => s.id -> s).toMap
    val stmts: Seq[(Int, Span)] = {
      val rootByKey = all.filter(_.layer == "statement").map(s => (s.startNs, s.endNs) -> s).toMap
      ops.flatMap(o => rootByKey.get((o.startNs, o.endNs)).map(o.pid -> _)).toSeq
    }
    val stmtByPid = stmts.groupBy(_._1)
    val kids = all.groupBy(_.parent)
    listener.jobList.flatMap { j =>
      if (j.endMs < 0) None
      else {
        val s = j.startMs * 1000000L + epochToNano
        val e = j.endMs * 1000000L + epochToNano
        val parent: Option[Span] =
          if (j.span != 0L) byId.get(j.span)
          else if (j.group.startsWith("pg-conn-")) {
            val pid = j.group.stripPrefix("pg-conn-").toInt
            stmtByPid.getOrElse(pid, stmts).collectFirst {
              case (_, root) if s >= root.startNs && s <= root.endNs =>
                kids.getOrElse(root.id, Nil).find(c => s >= c.startNs && s <= c.endNs).getOrElse(root)
            }
          } else None
        parent.map { p =>
          j -> Span(trace.nextId(), p.id, p.op, "jobs", s"job ${j.id}",
            math.max(s, p.startNs), math.max(math.max(s, p.startNs), math.min(e, p.endNs)))
        }
      }
    }
  }

  def finish(out: Metrics, overheadFrac: Double, window: Seq[Seq[Span]]): Unit = {
    val attributed = jobSpans()
    val jobs = attributed.map(_._2)
    val spans = trace.all ++ jobs
    val spanLayer = spans.map(s => s.id -> s.layer).toMap
    def s(v: Long) = v / 1e9

    // queries: construct, timed around QDef.fn
    out.put("queries.construct_s", s(regRuns.map(_.constructNs).sum), "s")
    out.put("queries.eager_jobs", jobs.count(j => spanLayer.get(j.parent).contains("construct")), "count")
    Registry.modules.foreach { case (m, _) =>
      out.put(s"queries.$m.construct_s", s(regRuns.filter(_.module == m).map(_.constructNs).sum), "s")
    }
    // plans: the explicit planning step plus Catalyst's own phase clock
    out.put("plans.plan_s", s(regRuns.map(_.planNs).sum), "s")
    Seq("analysis", "optimization", "planning").foreach { p =>
      out.put(s"plans.${p}_s", regRuns.map(_.phases.getOrElse(p, 0.0)).sum, "s")
    }
    Seq("exchanges", "broadcasts", "sorts", "windows", "cartesians").foreach { c =>
      out.put(s"plans.$c", regRuns.map(_.planCounts.getOrElse(c, 0)).sum.toDouble, "count")
    }
    // exec: the action, and what the SparkListener saw of the attributed jobs
    out.put("exec.action_s", s(regRuns.map(_.actionNs).sum), "s")
    val t = listener.totals(attributed.map(_._1.id).toSet)
    Seq("jobs", "stages", "tasks").foreach(k => out.put(s"exec.$k", t(k), "count"))
    Seq("task_run_s", "task_cpu_s", "gc_s").foreach(k => out.put(s"exec.$k", t(k), "s"))
    // task time over the wall time those same jobs ran, unclipped
    val jobWallS = Trace.covered(attributed.map { case (j, _) => (j.startMs, j.endMs) },
      Long.MinValue, Long.MaxValue) / 1e3
    out.put("exec.core_busy_frac", if (jobWallS > 0) t("task_run_s") / (jobWallS * cores) else 0.0, "frac")
    Seq("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb").foreach(k => out.put(s"exec.$k", t(k), "MB"))
    Registry.modules.foreach { case (m, _) =>
      out.put(s"exec.$m.action_s", s(regRuns.filter(_.module == m).map(_.actionNs).sum), "s")
    }
    // util: Persist.releaseAll
    out.put("util.release_s", s(regRuns.map(_.releaseNs).sum), "s")
    out.put("util.leaked_blocks", regRuns.map(_.leaked).sum.toDouble, "count")
    // server: PgServer as the client sees it
    def ms(ns: Long) = ns / 1e6
    out.put("server.connect_ms", med(conns.map(c => ms(c.endNs - c.startNs)).toSeq), "ms")
    Seq("parse", "bind", "describe").foreach { p =>
      out.put(s"server.${p}_ms", med(ops.flatMap(_.res.phases.get(p)).map(ms).toSeq), "ms")
    }
    val withRows = ops.filter(_.res.firstRowNs >= 0)
    out.put("server.first_row_ms", med(withRows.map(o => ms(o.res.firstRowNs)).toSeq), "ms")
    out.put("server.drain_ms", med(withRows.map(o => ms(o.ns - o.res.firstRowNs)).toSeq), "ms")
    out.put("server.copy_in_ms", med(ops.filter(_.stmt.kind.isInstanceOf[Kind.CopyIn]).map(o => ms(o.ns)).toSeq), "ms")
    val rows = ops.map(_.res.rows).sum
    out.put("server.bytes_per_row", if (rows > 0) ops.map(_.res.bytes).sum.toDouble / rows else 0.0, "B")
    out.put("server.messages", ops.map(_.res.messages).sum.toDouble, "count")
    out.put("server.wire_tax_s", ops.flatMap(o => twin.get(o.stmt.key).map(t => s(o.ns - t))).sum, "s")
    Seq("catalog", "lookup", "analytic").foreach { c =>
      out.put(s"server.${c}_p50_ms", med(ops.filter(_.stmt.cls == c).map(o => ms(o.ns)).toSeq), "ms")
    }
    // pg, sources, host: called directly by the probe
    direct.foreach { case (k, (v, u)) => out.put(k, v, u) }
    // harness: self time along the blocking path
    out.put("trace.overhead_frac", overheadFrac, "frac")
    val kids = spans.groupBy(_.parent)
    val inWindow = mutable.Buffer[Span]()
    def walk(sp: Span): Unit = { inWindow += sp; kids.getOrElse(sp.id, Nil).foreach(walk) }
    window.flatten.foreach(walk)
    val self = Trace.selfTimes(inWindow.toSeq)
    var wall = 0L
    var unattributed = 0L
    window.filter(_.nonEmpty).foreach { lane =>
      val lo = lane.map(_.startNs).min
      val hi = lane.map(_.endNs).max
      wall += hi - lo
      unattributed += (hi - lo) - lane.map(_.durNs).sum +
        lane.filter(sp => sp.layer == "query" || sp.layer == "statement").map(sp => self(sp.id)).sum
    }
    out.put("trace.wall_s", wall / 1e9, "s")
    out.put("trace.unattributed_frac", if (wall > 0) unattributed.toDouble / wall else 0.0, "frac")
    Layers.selfLayers.foreach { l =>
      // leaves that overlap under one parent (jobs an action runs at
      // once) block the parent once, not once each
      val ns = inWindow.filter(_.layer == l).groupBy(_.parent).values.map { ss =>
        if (ss.exists(sp => kids.contains(sp.id))) ss.map(sp => self(sp.id)).sum
        else Trace.covered(ss.map(sp => (sp.startNs, sp.endNs)).toSeq, Long.MinValue, Long.MaxValue)
      }.sum
      out.put(s"trace.self.${l}_s", ns / 1e9, "s")
    }
  }
}

object Layers {
  /** Leaf layers of the blocking path whose self times are reported. */
  val selfLayers: Seq[String] = Seq("construct", "plan", "action", "release", "jobs",
    "connect", "parse", "bind", "describe", "first_row", "drain", "simple", "copy_in")

  /** Spans for traced wire statements: a `statement` root per statement
    * with its phases as children (Flush-split extended statements), or
    * one `simple`/`copy_in` child; connects are roots of their own.
    * Returns one lane of root spans per client. */
  def wireSpans(trace: Trace, ops: Seq[WireOp], conns: Seq[Connect]): Seq[Seq[Span]] = {
    val roots = mutable.Buffer[(Int, Span)]()
    ops.foreach { o =>
      val id = trace.nextId()
      val root = Span(id, 0L, id, "statement", o.stmt.key, o.startNs, o.endNs)
      trace.add(root); roots += o.client -> root
      if (o.res.phases.nonEmpty) {
        var t = o.startNs
        Seq("parse", "bind", "describe", "first_row", "drain").foreach { p =>
          o.res.phases.get(p).foreach { d =>
            trace.add(Span(trace.nextId(), id, id, p, o.stmt.key, t, t + d)); t += d
          }
        }
      } else {
        val layer = if (o.stmt.kind.isInstanceOf[Kind.CopyIn]) "copy_in" else "simple"
        trace.add(Span(trace.nextId(), id, id, layer, o.stmt.key, o.startNs, o.endNs))
      }
    }
    conns.foreach { c =>
      val id = trace.nextId()
      val sp = Span(id, 0L, id, "connect", s"client ${c.client}", c.startNs, c.endNs)
      trace.add(sp); roots += c.client -> sp
    }
    roots.groupBy(_._1).values.map(_.map(_._2).sortBy(_.startNs).toSeq).toSeq
  }
}
