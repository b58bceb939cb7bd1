package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.QDef
import graft.util.Persist

/** One registered query, run the way a caller of the registry runs it:
  * construct (`QDef.fn`), plan (Catalyst + AQE preparation), action (a
  * fold over every column of the query's own physical plan) and release
  * (`Persist.releaseAll`). */
final case class QueryRun(name: String, module: String,
    constructNs: Long, planNs: Long, actionNs: Long, releaseNs: Long,
    fp: Fingerprint, bytes: Long, error: Option[String],
    phases: Map[String, Double], planCounts: Map[String, Int], leaked: Int) {
  def totalNs: Long = constructNs + planNs + actionNs + releaseNs
}

object Registry {

  /** The registry's query modules, in `SparkEntry.allDefs` order. */
  val modules: Seq[(String, Seq[QDef])] = {
    import graft.queries._
    Seq("Relational" -> Relational.defs, "Events" -> Events.defs,
      "TextOps" -> TextOps.defs, "JoinOps" -> JoinOps.defs,
      "DedupOps" -> DedupOps.defs, "VectorOps" -> VectorOps.defs,
      "Spatial" -> Spatial.defs, "PgCatalog" -> PgCatalog.defs,
      "Multimedia" -> Multimedia.defs)
  }

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  /** Every registered query, from the public registry. */
  def all: Seq[QDef] = graft.SparkEntry.allDefs

  private def setSpan(spark: SparkSession, id: Long): Unit =
    spark.sparkContext.setLocalProperty(ExecListener.SpanProperty,
      if (id == 0L) null else id.toString)

  /** Run one query through all four steps; never throws. Release is
    * `Persist.releaseAll`, or `Persist.release(session)` for a caller
    * that shares the JVM with others (`scoped`). */
  def run(spark: SparkSession, q: QDef, dir: String, trace: Trace,
      scoped: Boolean = false): QueryRun = {
    val module = moduleOf.getOrElse(q.name, "unknown")
    var c, p, a, r = 0L
    var fp = Fingerprint.Empty
    var bytes = 0L
    var err: Option[String] = None
    var phases = Map.empty[String, Double]
    var counts = Map.empty[String, Int]
    def timed(layer: String, parentId: Long, op: Long)(body: => Unit): Long = {
      val t0 = System.nanoTime()
      trace.span(parentId, op, layer, q.name) { id =>
        if (trace.on) setSpan(spark, id)
        body
      }
      System.nanoTime() - t0
    }
    trace.span(0L, 0L, "query", q.name) { qid =>
      val op = qid
      try {
        var df: org.apache.spark.sql.DataFrame = null
        c = timed("construct", qid, op) { df = q.fn(spark, dir) }
        val qe = df.queryExecution
        p = timed("plan", qid, op) { qe.executedPlan }
        val types = df.schema.fields.map(_.dataType)
        a = timed("action", qid, op) {
          val parts = SQLExecution.withNewExecutionId(qe, Some(s"perfbench ${q.name}")) {
            qe.toRdd.mapPartitions { it =>
              var n = 0L; var h = 0L; var b = 0L
              while (it.hasNext) {
                val row = it.next()
                n += 1
                h += Fingerprint.hashRow(row, types)
                b += Fingerprint.rowBytes(row, types)
              }
              Iterator.single((n, h, b))
            }.collect()
          }
          fp = parts.foldLeft(Fingerprint.Empty) { case (f, (n, h, _)) => f + Fingerprint(n, h) }
          bytes = parts.map(_._3).sum
        }
        if (trace.on) {
          phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
          counts = planCounts(qe.executedPlan)
        }
      } catch {
        case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        r = timed("release", qid, op) {
          if (scoped) Persist.release(spark) else Persist.releaseAll()
        }
        if (trace.on) setSpan(spark, 0L)
      }
    }
    val leaked = if (scoped) 0 else Persist.trackedCount + Persist.trackedCheckpointCount
    QueryRun(q.name, module, c, p, a, r, fp, bytes, err, phases, counts, leaked)
  }

  /** Frozen seconds of work per slice: the 213 execute-bound queries
    * make 50 slices of 4 or 5 queries. */
  val SliceCostS = 2.45

  /** Cut `names` into slices of about `target` seconds each at the
    * frozen per-query costs. Queries are dealt in cost order, snaking
    * across the slices, so every slice gets one query from each cost
    * band and the slices cost about the same. */
  def slices(names: Seq[String], cost: String => Double, target: Double): Seq[Seq[String]] = {
    val sorted = names.sortBy(n => (-cost(n), n))
    val k = math.max(1, math.round(sorted.map(cost).sum / target).toInt)
    val out = Array.fill(k)(Vector.newBuilder[String])
    sorted.zipWithIndex.foreach { case (n, i) =>
      val round = i / k
      val pos = i % k
      out(if (round % 2 == 0) pos else k - 1 - pos) += n
    }
    out.toSeq.map(_.result())
  }

  /** Operator counts of the final (post-AQE) physical plan, subqueries
    * and query stages included. */
  def planCounts(root: SparkPlan): Map[String, Int] = {
    val n = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan); return
        case s: QueryStageExec => visit(s.plan); return
        case r: ReusedExchangeExec => visit(r.child); return
        case _: ShuffleExchangeLike => n("exchanges") += 1
        case _: BroadcastExchangeLike => n("broadcasts") += 1
        case _: SortExec => n("sorts") += 1
        case _: WindowExec => n("windows") += 1
        case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => n("cartesians") += 1
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(root)
    Seq("exchanges", "broadcasts", "sorts", "windows", "cartesians").map(k => k -> n(k)).toMap
  }
}
