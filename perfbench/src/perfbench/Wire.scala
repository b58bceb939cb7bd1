package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.server.PgServer

/** One timed wire statement as a client saw it. */
final case class WireOp(client: Int, pid: Int, stmt: Stmt, startNs: Long, endNs: Long,
    res: WireResult, ok: Boolean, why: String) {
  def ns: Long = endNs - startNs
}

/** A timed (re)connect. */
final case class Connect(client: Int, startNs: Long, endNs: Long)

/** The PgServer side of the wire workloads: host session, fixture
  * views, client tables and the server on an ephemeral port. */
final class WireHost(val spark: SparkSession) {
  graft.Tables.registerViews(spark, Env.sf("sf0.01"))
  Statements.clientTables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE, s STRING) USING parquet")
  }
  val server = new PgServer(spark, port = 0, password = None, auth = "md5")
  val port: Int = server.start()

  private val texts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The text of a SQL-text registry query, read off the parsed plan
    * of the registry's own DataFrame. */
  def analyticText(name: String): String =
    texts.computeIfAbsent(name, _ => {
      val q = Registry.all.find(_.name == name).getOrElse(sys.error(s"$name is not registered"))
      q.fn(spark, Env.sf("sf0.01")).queryExecution.logical.origin.sqlText
        .getOrElse(sys.error(s"$name carries no SQL text"))
    })

  def analyticSql: Seq[(String, String)] =
    Statements.analyticQueries.map(n => n -> analyticText(n))

  def stop(): Unit = server.stop()
}

/** Runs statements over the wire and checks each answer. */
final class WireRunner(golden: Map[String, String]) {

  /** Check a statement's answer: its golden fingerprint, or for writes
    * the COPY tag and the read-back count. */
  def check(s: Stmt, r: WireResult, expectCount: Long = -1): (Boolean, String) =
    if (!r.ok) (false, r.error.get)
    else s.kind match {
      case Kind.CopyIn(n) =>
        if (r.tag == s"COPY $n") (true, "") else (false, s"COPY tag '${r.tag}', expected 'COPY $n'")
      case _ if s.key == "wr.truncate" => (true, "")
      case _ if s.key == "wr.readback" =>
        val want = Fingerprint(1, Fingerprint.hashWireRow(Seq(Some(expectCount.toString.getBytes))))
        if (r.fp == want) (true, "") else (false, s"read-back count is not $expectCount")
      case _ =>
        golden.get(s.key) match {
          case None => (false, s"no golden for ${s.key}")
          case Some(g) =>
            if (r.fp.show == g) (true, "") else (false, s"${s.key}: got ${r.fp.show}, golden $g")
        }
    }

  def run(c: WireClient, s: Stmt, split: Boolean, seed: Long = 0, client: Int = 0,
      batch: Int = 0): WireResult = s.kind match {
    case Kind.Simple => c.simple(s.sql)
    case Kind.Extended(binary, page) => c.extended(s.sql, s.params, binary, page, split)
    case Kind.CopyIn(n) => c.copyIn(s.sql, Statements.copyPayload(seed, client, batch, n))
  }
}

/** Hands out statements round by round: a round is refilled only while
  * the deadline has not passed and fewer than `maxRounds` were handed
  * out, so a run always ends on whole rounds and every run does the
  * same mix of work. */
final class Rounds[T](deadlineNs: Long, maxRounds: Int, round: () => Seq[T]) {
  private val queue = mutable.Queue[T]()
  private var handed = 0
  def next(): Option[T] = synchronized {
    if (queue.isEmpty && handed < maxRounds && System.nanoTime() < deadlineNs) {
      queue ++= round()
      handed += 1
    }
    if (queue.isEmpty) None else Some(queue.dequeue())
  }
}

/** The closed-loop interactive mix. min(4, nproc) clients take
  * statements from seeded rounds of 41 slots: 16 catalog, 12 lookup,
  * each of the 9 analytic queries once, and 4 writes (a COPY of 1,000
  * rows into the client's own table, then its read-back count). A
  * client reconnects every 50 statements and truncates its table every
  * 20 writes. */
final class Interactive(host: WireHost, runner: WireRunner, seed: Long) {
  private lazy val analytic = host.analyticSql.map { case (n, sql) => Statements.analytic(n, sql) }

  def clients: Int = math.min(4, Env.cores)

  /** Run whole rounds until `deadlineNs`, at most `maxRounds`; returns
    * the ops and connects. */
  def run(deadlineNs: Long, maxRounds: Int, split: Boolean, pass: Int): (Seq[WireOp], Seq[Connect]) = {
    val rng = new scala.util.Random(seed * 7919 + pass)
    val rounds = new Rounds[Option[Stmt]](deadlineNs, maxRounds, () => rng.shuffle(
      Seq.fill(16)(Some(Statements.catalog(rng.nextInt(Statements.catalogCount)))) ++
        Seq.fill(12)(Some(Statements.lookup(rng.nextInt(Statements.lookupCount)))) ++
        analytic.map(Some(_)) ++ Seq.fill(4)(None)))
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[WireOp]()
    val conns = new java.util.concurrent.ConcurrentLinkedQueue[Connect]()
    val threads = (0 until clients).map { ci =>
      val t = new Thread(() => clientLoop(ci, rounds, split, seed * 100 + pass, ops, conns),
        s"perfbench-client-$ci")
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (ops.asScala.toSeq, conns.asScala.toSeq)
  }

  /** `None` slots are writes. */
  private def clientLoop(ci: Int, rounds: Rounds[Option[Stmt]], split: Boolean, payloadSeed: Long,
      ops: java.util.Collection[WireOp], conns: java.util.Collection[Connect]): Unit = {
    val table = Statements.clientTables(ci)
    def connect(): WireClient = {
      val t0 = System.nanoTime()
      val c = new WireClient(host.port)
      conns.add(Connect(ci, t0, System.nanoTime()))
      c
    }
    var conn = connect()
    var sinceConnect = 0
    var batches = 0
    var sinceTruncate = 0
    // every pass starts from an empty client table
    val cleared = runner.run(conn, Statements.truncate(table), split)
    require(cleared.ok, s"truncate failed: ${cleared.error}")
    def exec(s: Stmt, expect: Long = -1): Unit = {
      if (sinceConnect >= 50) { conn.close(); conn = connect(); sinceConnect = 0 }
      val t0 = System.nanoTime()
      val r = runner.run(conn, s, split, payloadSeed, ci, batches)
      val t1 = System.nanoTime()
      val (ok, why) = runner.check(s, r, expect)
      ops.add(WireOp(ci, conn.pid, s, t0, t1, r, ok, why))
      sinceConnect += 1
    }
    try {
      var slot = rounds.next()
      while (slot.nonEmpty) {
        slot.get match {
          case Some(s) => exec(s)
          case None =>
            if (sinceTruncate == 20) { exec(Statements.truncate(table)); sinceTruncate = 0 }
            exec(Statements.copyIn(table))
            batches += 1; sinceTruncate += 1
            exec(Statements.readBack(table), 1000L * sinceTruncate)
        }
        slot = rounds.next()
      }
    } finally conn.close()
  }
}

/** The bulk mix: one connection, seeded rounds of the 7 bulk statements
  * (COPY OUT text and binary, two paged binary portals, two full
  * pages, the postgres_scan loop-back). */
final class Bulk(host: WireHost, runner: WireRunner, seed: Long) {
  def run(deadlineNs: Long, maxRounds: Int, split: Boolean, pass: Int): (Seq[WireOp], Seq[Connect]) = {
    val rng = new scala.util.Random(seed * 7919 + pass)
    val rounds = new Rounds[Stmt](deadlineNs, maxRounds, () => rng.shuffle(Vector.range(0, 7))
      .map(i => Statements.bulk(i + 7 * rng.nextInt(Statements.PoolSize), host.port)))
    val ops = mutable.Buffer[WireOp]()
    val t0 = System.nanoTime()
    val c = new WireClient(host.port)
    val conns = Seq(Connect(0, t0, System.nanoTime()))
    try {
      var s = rounds.next()
      while (s.nonEmpty) {
        val a = System.nanoTime()
        val r = runner.run(c, s.get, split)
        val b = System.nanoTime()
        val (ok, why) = runner.check(s.get, r)
        ops += WireOp(0, c.pid, s.get, a, b, r, ok, why)
        s = rounds.next()
      }
    } finally c.close()
    (ops.toSeq, conns)
  }
}

object Wire {
  /** Rows a statement moved over the wire: rows to the client, plus,
    * for the postgres_scan loop-back, the rows it pulled (its `n`). */
  def rowsMoved(op: WireOp): Long =
    if (op.stmt.cls == "federation" && op.ok)
      op.res.rows + op.res.firstRow.headOption.flatten.map(_.toLong).getOrElse(0L)
    else op.res.rows
}
