package perfbench

import scala.collection.mutable

/** Writes `perfbench/golden.json`: the fingerprint of every registered
  * query at sf0.01 (`registry`) and of every wire statement, template x
  * parameter pool entry (`wire`). Each answer is computed twice and must
  * agree, so only reproducible answers become goldens. The wire section
  * is computed first, on a fresh session, in the state the wire
  * workloads serve from. */
object Golden {
  def main(): Unit = {
    val spark = Env.session("golden")
    val unstable = mutable.Buffer[String]()

    val wire = {
      val host = new WireHost(spark)
      try {
        val runner = new WireRunner(Map.empty)
        val c = new WireClient(host.port)
        try {
          val stmts = (0 until Statements.catalogCount).map(Statements.catalog) ++
            (0 until Statements.lookupCount).map(Statements.lookup) ++
            host.analyticSql.map { case (n, sql) => Statements.analytic(n, sql) } ++
            Statements.bulkAll(host.port)
          stmts.distinctBy(_.key).map { s =>
            val a = runner.run(c, s, split = false)
            val b = runner.run(c, s, split = true)
            require(a.ok, s"${s.key} failed: ${a.error.get}")
            if (a.fp != b.fp) unstable += s.key
            System.err.println(s"[golden] ${s.key} ${a.fp.show}")
            s.key -> a.fp.show
          }
        } finally c.close()
      } finally host.stop()
    }

    val off = new Trace(false)
    val registry = Registry.all.map { q =>
      val a = Registry.run(spark, q, Env.sf("sf0.01"), off)
      val b = Registry.run(spark, q, Env.sf("sf0.01"), off)
      require(a.error.isEmpty, s"${q.name} failed: ${a.error.get}")
      if (a.fp != b.fp) unstable += q.name
      System.err.println(s"[golden] ${q.name} ${a.fp.show}")
      q.name -> a.fp.show
    }

    require(unstable.isEmpty, s"answers differ between two runs: ${unstable.mkString(", ")}")
    def section(kv: Seq[(String, String)]) =
      kv.sortBy(_._1).map { case (k, v) => s"    ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n  }")
    Json.write(Frozen.goldenPath, s"""{
      |  "scale": "sf0.01",
      |  "fingerprint": "rows:hex(sum of 64-bit row hashes)",
      |  "registry": ${section(registry)},
      |  "wire": ${section(wire)}
      |}
      |""".stripMargin)
    System.err.println(s"[golden] wrote ${registry.size} registry and ${wire.size} wire goldens")
    spark.stop()
  }
}
