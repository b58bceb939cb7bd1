package perfbench

/** How a statement travels on the wire. */
sealed trait Kind
object Kind {
  /** Simple protocol ('Q'); the server caps results at 1024 rows. */
  case object Simple extends Kind
  /** Extended protocol with text Bind parameters, Execute paged at
    * `pageRows` (0 = one Execute), text or binary results. */
  final case class Extended(binary: Boolean, pageRows: Int) extends Kind
  /** `COPY ... FROM STDIN` of `rows` generated rows. */
  final case class CopyIn(rows: Int) extends Kind
}

/** One concrete statement: a template with its parameter values.
  * `key` names the golden fingerprint that checks its result; `cls` is
  * the traffic class it is reported under. */
final case class Stmt(key: String, cls: String, kind: Kind, sql: String,
    params: Seq[String] = Nil) {
  /** The key without its parameter pool entry (`lk.order#3` -> `lk.order`). */
  def template: String = key.takeWhile(_ != '#')
}

/** The statement templates of the two wire workloads and their
  * parameter pools. Parameters come from fixed pools so each
  * (template, pool index) has one stored golden result; the seed picks
  * indexes and order. */
object Statements {

  /** Tables the catalog statements describe. */
  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "documents")

  /** Client-owned tables for the write class (always all four, so the
    * catalog answers do not depend on the client count). */
  val clientTables: Seq[String] = (0 until 4).map(i => s"perfbench_w$i")

  val PoolSize = 32

  /** The nine registry queries whose DataFrame is built from SQL text. */
  val analyticQueries: Seq[String] = Seq("q23_correlated_exists", "q24_cube",
    "q25_percentiles", "q62_distinct_on_latest", "q63_qualify_top_orders",
    "q70_similar_to", "q72_filtered_aggregates", "q75_min_cost_supplier",
    "q83_disjunctive_revenue")

  def catalog(i: Int): Stmt = {
    val t = tables(i % tables.size)
    (i / tables.size) % 7 match {
      case 0 => Stmt("cat.dt", "catalog", Kind.Simple,
        """SELECT n.nspname AS "Schema", c.relname AS "Name",
          |  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' ELSE c.relkind END AS "Type",
          |  pg_catalog.pg_get_userbyid(c.relowner) AS "Owner"
          |FROM pg_catalog.pg_class c
          |LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
          |WHERE c.relkind IN ('r','p','v','m','') AND n.nspname <> 'pg_catalog'
          |  AND n.nspname !~ '^pg_toast' AND n.nspname <> 'information_schema'
          |  AND pg_catalog.pg_table_is_visible(c.oid)
          |ORDER BY 1,2""".stripMargin)
      case 1 => Stmt(s"cat.d_table.$t", "catalog", Kind.Simple,
        s"""SELECT c.oid, n.nspname, c.relname
           |FROM pg_catalog.pg_class c
           |LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
           |WHERE c.relname OPERATOR(pg_catalog.~) '^($t)$$' COLLATE pg_catalog.default
           |  AND pg_catalog.pg_table_is_visible(c.oid)
           |ORDER BY 2, 3""".stripMargin)
      case 2 => Stmt(s"cat.d_columns.$t", "catalog", Kind.Simple,
        s"""SELECT a.attname, pg_catalog.format_type(a.atttypid, a.atttypmod), a.attnotnull
           |FROM pg_catalog.pg_attribute a
           |WHERE a.attrelid = (SELECT oid FROM pg_catalog.pg_class WHERE relname = '$t')
           |  AND a.attnum > 0 AND NOT a.attisdropped
           |ORDER BY a.attnum""".stripMargin)
      case 3 => Stmt("cat.version", "catalog", Kind.Simple, "SELECT version()")
      case 4 => Stmt("cat.set", "catalog", Kind.Simple, "SET application_name = 'perfbench'")
      case 5 => Stmt("cat.info_tables", "catalog", Kind.Simple,
        """SELECT table_schema, table_name, table_type FROM information_schema.tables
          |ORDER BY table_schema, table_name""".stripMargin)
      case _ => Stmt(s"cat.info_columns.$t", "catalog", Kind.Simple,
        s"""SELECT column_name, data_type FROM information_schema.columns
           |WHERE table_name = '$t' ORDER BY ordinal_position""".stripMargin)
    }
  }

  /** Number of distinct catalog statements (`catalog(i)` cycles). */
  val catalogCount: Int = tables.size * 7

  private def orderKey(i: Int): Long = (i * 7919L + 11) % 15000
  private def custKey(i: Int): Long = (i * 211L + 5) % 1500

  def lookup(i: Int): Stmt = {
    val k = i % PoolSize
    (i / PoolSize) % 4 match {
      case 0 => Stmt(s"lk.order#$k", "lookup", Kind.Extended(binary = false, 0),
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
          |FROM orders WHERE o_orderkey = CAST($1 AS BIGINT)""".stripMargin,
        Seq(orderKey(k).toString))
      case 1 => Stmt(s"lk.lineitem_range#$k", "lookup", Kind.Extended(binary = false, 0),
        """SELECT count(*) AS n, sum(l_quantity) AS qty,
          |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
          |FROM lineitem WHERE l_orderkey BETWEEN CAST($1 AS BIGINT) AND CAST($2 AS BIGINT)""".stripMargin,
        Seq(orderKey(k).toString, (orderKey(k) + 40).toString))
      case 2 => Stmt(s"lk.customer#$k", "lookup", Kind.Extended(binary = false, 0),
        """SELECT c_name, c_acctbal, c_mktsegment FROM customer
          |WHERE c_custkey = CAST($1 AS BIGINT)""".stripMargin,
        Seq(custKey(k).toString))
      case _ =>
        val (x, y) = ((k * 37 % 100).toDouble / 2, (k * 53 % 100).toDouble / 2)
        Stmt(s"lk.st_point#$k", "lookup", Kind.Extended(binary = false, 0),
          """SELECT st_distance(st_point(CAST($1 AS DOUBLE), CAST($2 AS DOUBLE)),
            |    st_point(CAST($3 AS DOUBLE), CAST($4 AS DOUBLE))) AS d,
            |  st_contains(st_makeenvelope(0d, 0d, 25d, 25d),
            |    st_point(CAST($1 AS DOUBLE), CAST($2 AS DOUBLE))) AS inside,
            |  st_astext(st_makeenvelope(CAST($3 AS DOUBLE), CAST($4 AS DOUBLE),
            |    CAST($1 AS DOUBLE) + 10d, CAST($2 AS DOUBLE) + 10d)) AS env""".stripMargin,
          Seq(x.toString, y.toString, (y / 2).toString, (x / 3).toString))
    }
  }

  val lookupCount: Int = PoolSize * 4

  /** An analytic statement: a SQL-text registry query, its text taken
    * from the registry itself (see [[Wire.analyticSql]]). */
  def analytic(name: String, sql: String): Stmt = Stmt(s"an.$name", "analytic", Kind.Simple, sql)

  def copyIn(table: String): Stmt =
    Stmt(s"wr.copy", "write", Kind.CopyIn(1000), s"COPY $table FROM STDIN")

  def readBack(table: String): Stmt =
    Stmt("wr.readback", "readback", Kind.Simple, s"SELECT count(*) FROM $table")

  def truncate(table: String): Stmt =
    Stmt("wr.truncate", "write", Kind.Simple, s"TRUNCATE TABLE $table")

  /** A 1,000-row text-format COPY payload for (id BIGINT, v DOUBLE, s STRING). */
  def copyPayload(seed: Long, client: Int, batch: Int, rows: Int): Array[Byte] = {
    val sb = new StringBuilder
    val base = (seed * 1000003L + client * 7919L + batch) * rows
    var i = 0
    while (i < rows) {
      val id = base + i
      sb.append(id).append('\t').append((id % 9973) / 7.0).append('\t')
        .append("row-").append(id % 101).append('\n')
      i += 1
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---- wire_bulk ----

  private def lineitemRange(k: Int): (Long, Long) = {
    val lo = (k * 1733L) % 10000
    (lo, lo + 4000)
  }

  def bulk(i: Int, port: Int): Stmt = i % 7 match {
    case 0 => Stmt("bulk.copy_lineitem_text", "copy_out", Kind.Simple, "COPY lineitem TO STDOUT")
    case 1 => Stmt("bulk.copy_orders_binary", "copy_out", Kind.Simple,
      "COPY (SELECT * FROM orders) TO STDOUT (FORMAT binary)")
    case 2 | 3 =>
      val k = (i / 7 * 2 + (i % 7 - 2)) % PoolSize
      val (lo, hi) = lineitemRange(k)
      Stmt(s"bulk.lineitem_pages#$k", "paged", Kind.Extended(binary = true, 1024),
        "SELECT * FROM lineitem WHERE l_orderkey BETWEEN CAST($1 AS BIGINT) AND CAST($2 AS BIGINT)",
        Seq(lo.toString, hi.toString))
    case 4 => Stmt("bulk.documents_page", "page", Kind.Simple,
      "SELECT * FROM documents ORDER BY doc_id")
    case 5 => Stmt("bulk.embeddings_page", "page", Kind.Simple,
      "SELECT * FROM embeddings ORDER BY vec_id")
    case _ => Stmt("bulk.postgres_scan", "federation", Kind.Simple,
      s"""SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
         |FROM postgres_scan('postgres://127.0.0.1:$port', 'postgres', 'lineitem')""".stripMargin)
  }

  /** Every distinct bulk statement (for golden generation). */
  def bulkAll(port: Int): Seq[Stmt] = (0 until 7 * PoolSize).map(bulk(_, port)).distinctBy(_.key)
}
