package perfbench

/** Re-derives `perfbench/partition.json`, the frozen split of the
  * registry into the two registry workloads. A query whose construct
  * time is at least its action time is construct-bound. One warm-up
  * pass at `warmDir`, then one timed pass at `dir` classifies; then each
  * query runs twice back to back at the benchmark's sf0.01 and the
  * second time is its `cost_s`, which cuts the timed slices. */
object Classify {
  def main(args: Array[String]): Unit = {
    val Array(dir, warmDir) = args
    val spark = Env.session("classify")
    val off = new Trace(false)
    Registry.all.foreach(q => Registry.run(spark, q, warmDir, off))
    val runs = Registry.all.map(q => Registry.run(spark, q, dir, off))
    val bad = runs.filter(_.error.nonEmpty)
    require(bad.isEmpty, s"queries failed: ${bad.map(_.name).mkString(", ")}")
    val cost = Registry.all.map { q =>
      Registry.run(spark, q, Env.sf("sf0.01"), off)
      q.name -> Registry.run(spark, q, Env.sf("sf0.01"), off).totalNs / 1e9
    }.toMap
    val (cb, eb) = runs.partition(r => r.constructNs >= r.actionNs)
    def s(ns: Long) = Json.num(math.rint(ns / 1e5) / 1e4)
    def half(rs: Seq[QueryRun]): String = Json.obj(Seq(
      "count" -> rs.size.toString,
      s"share_of_time_${new java.io.File(dir).getName}" ->
        Json.num(rs.map(_.totalNs).sum.toDouble / runs.map(_.totalNs).sum),
      "share_of_time_sf0.01" -> Json.num(rs.map(r => cost(r.name)).sum / cost.values.sum),
      "queries" -> rs.map(r => Json.str(r.name)).sorted.mkString("[", ",", "]")))
    val text = Json.obj(Seq(
      "rule" -> Json.str("a query is construct-bound when building its DataFrame (QDef.fn) " +
        "takes at least as long as its timed action"),
      "classified_at" -> Json.obj(Seq("scale" -> Json.str(new java.io.File(dir).getName),
        "cores" -> Env.cores.toString, "warm_up" -> Json.str(s"${new java.io.File(warmDir).getName} " +
          "pass over all queries"))),
      "registry_construct_bound" -> half(cb),
      "registry_execute_bound" -> half(eb),
      "cost_s_note" -> Json.str("per-query seconds (construct + plan + action + release) at " +
        "sf0.01, the second of two back-to-back runs; used to cut the timed slices"),
      "cost_s" -> Json.obj(cost.toSeq.sorted.map { case (k, v) => k -> Json.num(math.rint(v * 1e4) / 1e4) }),
      "classification_s" -> Json.obj(runs.sortBy(_.name).map(r => r.name -> Json.obj(Seq(
        "construct_s" -> s(r.constructNs), "plan_s" -> s(r.planNs), "action_s" -> s(r.actionNs)))))))
    Json.write(Frozen.partitionPath, text + "\n")
    System.err.println(s"[classify] construct-bound ${cb.size}, execute-bound ${eb.size}")
    spark.stop()
  }
}
