package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The fixed layer probe of a traced run. It calls every layer once or
  * a few times through its public entry point, the same on every
  * workload, so each per-layer metric is measured on each workload:
  * - host: the fixed-work calibration query;
  * - pg: a connection's session bootstrap, `Prepared.execute` and a
  *   catalog query, called directly;
  * - server: connects and one statement of each class over the wire,
  *   phases split with Flush;
  * - sources: `postgres_scan` of lineitem run in-process;
  * - queries/plans/exec/util: the cheapest registry query of each
  *   module. */
final class Probe(spark: SparkSession, existing: Option[WireHost],
    golden: Frozen.Golden, trace: Trace) {
  val failures = mutable.Buffer[String]()
  private val direct = mutable.LinkedHashMap[String, (Double, String)]()
  private var regRuns = Seq.empty[QueryRun]
  private val ops = mutable.Buffer[WireOp]()
  private val conns = mutable.Buffer[Connect]()
  private var twin = Map.empty[String, Long]
  /** Root spans of the probe, one lane per caller. */
  var lanes: Seq[Seq[Span]] = Nil

  private def timeNs(body: => Unit): Long = {
    val t0 = System.nanoTime(); body; System.nanoTime() - t0
  }
  private def medianMs(n: Int)(body: => Unit): Double =
    Stats.median((1 to n).map(_ => timeNs(body) / 1e6))

  def run(): Unit = {
    val cal = timeNs(spark.sql(
      s"SELECT bit_xor(xxhash64(id * 2654435761)) FROM range(0, 200000000, 1, ${Env.cores})").collect())
    direct("host.calibration_s") = (cal / 1e9, "s")

    val host = existing.getOrElse(new WireHost(spark))
    try {
      def bootstrap(): SparkSession = {
        val s = spark.newSession()
        s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
        graft.pg.PgCompat.registerAll(s)
        graft.spatial.SpatialFunctions.registerAll(s)
        s
      }
      direct("pg.session_bootstrap_ms") = (medianMs(5)(bootstrap()), "ms")
      val sess = bootstrap()
      graft.Tables.registerViews(sess, Env.sf("sf0.01"))
      val lk = Statements.lookup(0)
      direct("pg.prepared_ms") = (medianMs(5)(graft.pg.Prepared.execute(sess, lk.sql, lk.params).collect()), "ms")
      val cat = Statements.catalog(2 * Statements.tables.size)
      direct("pg.catalog_ms") = (medianMs(5)(sess.sql(cat.sql).collect()), "ms")

      val runner = new WireRunner(golden.wire)
      (0 until 3).foreach { i =>
        val t0 = System.nanoTime()
        new WireClient(host.port).close()
        conns += Connect(i, t0, System.nanoTime())
      }
      val c = new WireClient(host.port)
      try {
        val table = Statements.clientTables.last
        val stmts = Seq(cat, lk, Statements.lookup(Statements.PoolSize),
          Statements.lookup(3 * Statements.PoolSize),
          Statements.analytic("q24_cube", host.analyticText("q24_cube")),
          Statements.truncate(table), Statements.copyIn(table), Statements.readBack(table),
          Statements.bulk(4, host.port))
        stmts.foreach { s =>
          val t0 = System.nanoTime()
          val r = runner.run(c, s, split = true)
          val t1 = System.nanoTime()
          val (ok, why) = runner.check(s, r, 1000)
          if (!ok) failures += s"probe ${s.key}: $why"
          ops += WireOp(0, c.pid, s, t0, t1, r, ok, why)
        }
        runner.run(c, Statements.truncate(table), split = false)
      } finally c.close()
      lanes = Layers.wireSpans(trace, ops.toSeq, conns.toSeq)
      twin = Twin.measure(spark, ops.toSeq)

      val scan = Statements.bulk(6, host.port)
      var n = 0L
      val ns = timeNs { n = spark.sql(scan.sql).collect().head.getLong(0) }
      direct("sources.pg_scan_s") = (ns / 1e9, "s")
      direct("sources.pg_scan_rows_per_s") = (n / (ns / 1e9), "1/s")
    } finally if (existing.isEmpty) host.stop()

    val costs = Frozen.partition.costS
    val byName = Registry.all.map(q => q.name -> q).toMap
    val t0 = System.nanoTime()
    regRuns = Registry.modules.map { case (_, defs) =>
      val q = defs.minBy(d => (costs.getOrElse(d.name, 1.0), d.name))
      val r = Registry.run(spark, byName(q.name), Env.sf("sf0.01"), trace)
      if (r.error.nonEmpty || !golden.registry.get(r.name).contains(r.fp.show))
        failures += s"probe ${r.name}: ${r.error.getOrElse(s"got ${r.fp.show}")}"
      r
    }
    lanes :+= trace.all.filter(s => s.layer == "query" && s.parent == 0L && s.startNs >= t0)
      .sortBy(_.startNs)
  }

  def layerMetrics(l: Layers): Unit = {
    l.registry(regRuns)
    l.wire(ops.toSeq, conns.toSeq, twin)
    direct.foreach { case (k, (v, u)) => l.put(k, v, u) }
  }
}
