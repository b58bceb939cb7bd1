package perfbench

import org.apache.spark.sql.SparkSession

import graft.server.PgServer

/** A registry workload over one half of the frozen partition.
  *
  * The half is cut into slices of equal frozen cost, each with one
  * query from each cost band. Timed: a fixed panel, the two slices of
  * middle cost. It warms up on several threads; then one caller runs it
  * back to back in rounds, each in a fresh seeded order, about `--seconds` of them,
  * and the rates take each query's median over the rounds. After the
  * rounds the same caller sweeps one of the other slices, picked by the
  * seed, once. Every answer is checked against its golden, so a set of
  * seeds checks every query of the half. The sweep makes no metric:
  * slices of equal frozen cost took from 3.6 to 7.1 s in a fresh JVM,
  * and a heavy one slowed the panel queries that ran after it. */
final class RegistryWorkload(spark: SparkSession, names: Seq[String],
    part: Frozen.Partition, golden: Frozen.Golden, a: Run.Args) extends Workload {
  private val byName = Registry.all.map(q => q.name -> q).toMap
  private val (panel, sweep) =
    RegistryWorkload.pick(names, n => part.costS.getOrElse(n, 1.0), a.seed)
  private val order = new scala.util.Random(a.seed)
  private var tracedRuns = Seq.empty[QueryRun]
  private var tracedLane = Seq.empty[Span]

  def wireHost: Option[WireHost] = None

  private def verdict(r: QueryRun): Option[String] = {
    val want = golden.registry.get(r.name)
    if (r.error.nonEmpty) Some(s"${r.name}: ${r.error.get}")
    else if (want.isEmpty) Some(s"${r.name}: no golden fingerprint")
    else if (want.get != r.fp.show) Some(s"${r.name}: got ${r.fp.show}, golden ${want.get}")
    else if (r.leaked != 0) Some(s"${r.name}: ${r.leaked} tracked blocks left after release")
    else None
  }

  /** Run `queries` on min(4, nproc) threads, each with its own session
    * (and so its own Persist scope). */
  private def concurrently(queries: Seq[String]): Seq[QueryRun] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    queries.foreach(queue.add)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[QueryRun]()
    val off = new Trace(false)
    val threads = (0 until math.min(4, Env.cores)).map { i =>
      val t = new Thread(() => {
        val s = spark.newSession()
        graft.Graft.install(s)
        var n = queue.poll()
        while (n != null) {
          out.add(Registry.run(s, byName(n), Env.sf("sf0.01"), off, scoped = true))
          n = queue.poll()
        }
      }, s"perfbench-registry-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  /** A new session with the engine installed and the fixture views
    * registered: what a caller of the registry needs first. */
  def setUp(): Unit = {
    val s = spark.newSession()
    graft.Graft.install(s)
    graft.Tables.registerViews(s, Env.sf("sf0.01"))
  }

  /** `RegistryWorkload.WarmUps` rounds' worth, spread over the threads. */
  def warmUp(): Unit = concurrently(Seq.fill(RegistryWorkload.WarmUps)(panel).flatten)

  /** Untraced: `RegistryWorkload.rounds(--seconds)` rounds of the
    * panel, then the sweep. Traced: one round of the panel. */
  def measure(traced: Option[Trace]): Pass = {
    val trace = traced.getOrElse(new Trace(false))
    def run(names: Seq[String]) = names.map(n => Registry.run(spark, byName(n), Env.sf("sf0.01"), trace))
    val t0 = System.nanoTime()
    val rounds = if (traced.isEmpty) RegistryWorkload.rounds(a.seconds) else 1
    val runs = (1 to rounds).flatMap(_ => run(order.shuffle(panel)))
    val wall = System.nanoTime() - t0
    val swept = if (traced.isEmpty) run(order.shuffle(sweep)) else Nil
    if (traced.nonEmpty) {
      tracedRuns = runs
      tracedLane = trace.all.filter(s => s.layer == "query" && s.parent == 0L)
    }
    def op(r: QueryRun) = Op(r.name, r.totalNs, r.fp.rows, r.bytes)
    Pass(wall, runs.map(op), (runs ++ swept).flatMap(verdict), swept.map(op))
  }

  def layerMetrics(l: Layers): Unit = l.registry(tracedRuns)
  def lanes: Seq[Seq[Span]] = Seq(tracedLane)
}

object RegistryWorkload {
  /** Measured rounds for `seconds` of measuring, at the nominal length
    * of a round on 4 cores, and at least two. The count does not follow
    * the clock: queries still get faster from round to round, so a run
    * that fit one more round on a fast moment of a shared host would
    * read faster still. */
  def rounds(seconds: Double): Int = math.max(2, math.round(seconds / NominalRoundS).toInt)
  val NominalRoundS = 7.0

  /** Rounds' worth of warm-up. */
  val WarmUps = 2

  /** The panel, the two slices of middle frozen cost, and the slice the
    * seed picks among the others for the sweep. */
  def pick(names: Seq[String], cost: String => Double, seed: Long): (Seq[String], Seq[String]) = {
    val all = Registry.slices(names, cost, Registry.SliceCostS)
    if (all.size < 3) (all.flatten, Nil)
    else {
      val byCost = all.indices.sortBy(i => (all(i).map(cost).sum, i))
      val mid = Set(byCost(all.size / 2 - 1), byCost(all.size / 2))
      val rest = all.indices.filterNot(mid).map(all)
      (mid.toSeq.sorted.flatMap(all), rest(Math.floorMod(seed, rest.size.toLong).toInt))
    }
  }
}

/** A wire workload: a PgServer on the host session and closed-loop
  * clients (interactive: min(4, nproc); bulk: one). */
final class WireWorkload(spark: SparkSession, interactive: Boolean,
    golden: Frozen.Golden, a: Run.Args) extends Workload {
  val host = new WireHost(spark)
  private val runner = new WireRunner(golden.wire)
  private lazy val mix = new Interactive(host, runner, a.seed)
  private lazy val bulk = new Bulk(host, runner, a.seed)
  private var tracedOps = Seq.empty[WireOp]
  private var tracedConns = Seq.empty[Connect]
  private var twinNs = Map.empty[String, Long]
  private var tracedLanes = Seq.empty[Seq[Span]]

  def wireHost: Option[WireHost] = Some(host)

  /** A new session with the engine installed and the fixture views
    * registered, a PgServer started on it and one client connected:
    * what a server pays before its first statement. */
  def setUp(): Unit = {
    val s = spark.newSession()
    graft.Graft.install(s)
    graft.Tables.registerViews(s, Env.sf("sf0.01"))
    val server = new PgServer(s, port = 0, password = None, auth = "md5")
    val port = server.start()
    try new WireClient(port).close() finally server.stop()
  }

  /** One of each statement the mix can send, so each plan shape is
    * compiled before timing. */
  def warmUp(): Unit = {
    val jobs: Seq[WireClient => Unit] =
      if (interactive)
        ((0 until 7).map(i => Statements.catalog(i * Statements.tables.size)) ++
          (0 until 4).map(i => Statements.lookup(i * Statements.PoolSize)))
          .map(s => (c: WireClient) => { runner.run(c, s, split = false); () }) ++
          Statements.analyticQueries.map(n => (c: WireClient) => {
            runner.run(c, Statements.analytic(n, host.analyticText(n)), split = false); ()
          }) :+ ((c: WireClient) => {
            val t = Statements.clientTables.last
            Seq(Statements.copyIn(t), Statements.readBack(t), Statements.truncate(t))
              .foreach(runner.run(c, _, split = false))
          })
      else (0 until 7).map(i => (c: WireClient) => { runner.run(c, Statements.bulk(i, host.port), split = false); () })
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[WireClient => Unit]()
    jobs.foreach(queue.add)
    val threads = (0 until math.min(4, Env.cores)).map { i =>
      val t = new Thread(() => {
        val c = new WireClient(host.port)
        try {
          var j = queue.poll()
          while (j != null) { j(c); j = queue.poll() }
        } finally c.close()
      }, s"perfbench-warm-$i")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Untraced: whole rounds for `--seconds`. Traced: a fixed amount,
    * one round of the interactive mix or two of the bulk one, so the
    * per-layer totals do not depend on how fast the host ran. */
  def measure(traced: Option[Trace]): Pass = {
    val pass = if (traced.isEmpty) 0 else 1
    val t0 = System.nanoTime()
    val (deadline, maxRounds) =
      if (traced.isEmpty) (t0 + (a.seconds * 1e9).toLong, Int.MaxValue)
      else (Long.MaxValue, if (interactive) 1 else 2)
    val (ops, conns) =
      if (interactive) mix.run(deadline, maxRounds, split = traced.nonEmpty, pass)
      else bulk.run(deadline, maxRounds, split = traced.nonEmpty, pass)
    val wall = (ops.map(_.endNs) ++ conns.map(_.endNs)).max - t0
    traced.foreach { trace =>
      tracedOps = ops
      tracedConns = conns
      tracedLanes = Layers.wireSpans(trace, ops, conns)
      twinNs = Twin.measure(spark, ops)
    }
    Pass(wall, ops.map(o => Op(o.stmt.template, o.ns, Wire.rowsMoved(o), o.res.bytes)),
      ops.filterNot(_.ok).map(o => s"${o.stmt.key}: ${o.why}"))
  }

  def layerMetrics(l: Layers): Unit = l.wire(tracedOps, tracedConns, twinNs)

  def lanes: Seq[Seq[Span]] = tracedLanes
}

/** The in-process twin of traced wire statements: the same SQL on a
  * session set up like a connection's, materialized in full (capped at
  * the simple protocol's 1024 rows where the wire caps it). */
object Twin {
  def measure(spark: SparkSession, ops: Seq[WireOp]): Map[String, Long] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    graft.pg.PgCompat.registerAll(s)
    graft.spatial.SpatialFunctions.registerAll(s)
    graft.Tables.registerViews(s, Env.sf("sf0.01"))
    val CopyQuery = "(?is)^\\s*COPY\\s+\\((.*)\\)\\s+TO\\s+STDOUT.*$".r
    val CopyTable = "(?is)^\\s*COPY\\s+(\\w+)\\s+TO\\s+STDOUT.*$".r
    ops.filterNot(o => o.stmt.cls == "write" || o.stmt.cls == "readback")
      .groupBy(_.stmt.key).map { case (key, group) =>
        val st = group.head.stmt
        val t0 = System.nanoTime()
        try {
          st.kind match {
            case Kind.Extended(_, _) => graft.pg.Prepared.execute(s, st.sql, st.params).collect()
            case _ => st.sql match {
              case CopyQuery(q) => s.sql(q).collect()
              case CopyTable(t) => s.sql(s"SELECT * FROM $t").collect()
              case q =>
                val df = s.sql(q)
                if (df.schema.isEmpty) df.collect() else df.limit(1024).collect()
            }
          }
        } catch { case _: Throwable => () }
        key -> (System.nanoTime() - t0)
      }
  }
}
