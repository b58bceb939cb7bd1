package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Checks of the benchmark's own arithmetic; no Spark session needed.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def check(what: String)(cond: => Boolean): Unit =
    if (scala.util.Try(cond).getOrElse(false)) passed += 1
    else { failed += 1; System.err.println(s"[selftest] FAIL: $what") }

  def run(): Int = {
    percentiles(); selfTime(); fingerprint(); goldens(); slicing(); rates()
    System.err.println(s"[selftest] $passed passed, $failed failed")
    if (failed == 0) 0 else 1
  }

  private def percentiles(): Unit = {
    check("median odd/even") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5
    }
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 0.9) == 90.0 && Stats.percentile(xs, 0.99) == 99.0 &&
        Stats.percentile(xs, 0.5) == 50.0
    }
    check("tail percentile keeps ten samples beyond it") {
      Stats.tailPercentile(1000).contains(0.99) && Stats.tailPercentile(999).contains(0.95) &&
        Stats.tailPercentile(100).contains(0.9) && Stats.tailPercentile(99).contains(0.75) &&
        Stats.tailPercentile(20).contains(0.5) && Stats.tailPercentile(19).isEmpty
    }
    check("tail percentile is the highest qualifying candidate for every n") {
      (1 to 3000).forall { n =>
        Stats.tailPercentile(n) match {
          case Some(p) => Stats.beyond(n, p) >= 10 &&
            Stats.TailCandidates.takeWhile(_ > p).forall(q => Stats.beyond(n, q) < 10)
          case None => Stats.TailCandidates.forall(q => Stats.beyond(n, q) < 10)
        }
      }
    }
    check("percentile labels") { Stats.label(0.99) == "p99" && Stats.label(0.999) == "p99.9" }
  }

  private def selfTime(): Unit = {
    val parent = Span(1, 0, 1, "query", "q", 0, 100)
    val kids = Seq(Span(2, 1, 1, "construct", "q", 10, 30), Span(3, 1, 1, "action", "q", 20, 50),
      Span(4, 1, 1, "release", "q", 90, 120))
    val grandchild = Span(5, 3, 1, "jobs", "j", 25, 45)
    val self = Trace.selfTimes(parent +: grandchild +: kids)
    check("overlapping children are covered once, clipped to the parent") { self(1) == 50 }
    check("a child's self time excludes its own children") { self(3) == 10 && self(2) == 20 }
    check("a leaf's self time is its duration") { self(5) == 20 && self(4) == 30 }
    check("union of disjoint and nested intervals") {
      Trace.covered(Seq((0L, 10L), (5L, 8L), (20L, 30L)), 0, 100) == 20 &&
        Trace.covered(Nil, 0, 100) == 0
    }
  }

  private def fingerprint(): Unit = {
    val types: Array[DataType] = Array(LongType, StringType, DoubleType,
      ArrayType(FloatType), DecimalType(18, 2))
    def row(i: Int, d: Double): InternalRow = new GenericInternalRow(Array[Any](i.toLong,
      UTF8String.fromString(s"s$i"), d, new GenericArrayData(Array[Any](i.toFloat, 0.5f)),
      Decimal(BigDecimal(i) / 4, 18, 2)))
    def fold(rows: Seq[InternalRow]): Fingerprint =
      rows.foldLeft(Fingerprint.Empty)((f, r) => f + Fingerprint(1, Fingerprint.hashRow(r, types)))
    val rows = (0 until 50).map(i => row(i, i * 0.1))
    val fp = fold(rows)
    check("fold is order independent") { fold(rows.reverse) == fp && fold(scala.util.Random.shuffle(rows)) == fp }
    check("per-partition folds add up to the whole") { fold(rows.take(17)) + fold(rows.drop(17)) == fp }
    check("a changed value changes the fingerprint") { fold(rows.updated(7, row(7, 0.75))) != fp }
    check("a dropped or duplicated row changes the fingerprint") {
      fold(rows.tail) != fp && fold(rows :+ rows.head) != fp
    }
    check("last-place float noise does not") {
      fold(rows.updated(7, row(7, Math.nextUp(0.7000000000000001)))) == fold(rows.updated(7, row(7, 0.7000000000000001)))
    }
    check("+0.0 and -0.0 hash alike, NaNs hash alike") {
      Fingerprint.hashDouble(0.0) == Fingerprint.hashDouble(-0.0) &&
        Fingerprint.hashDouble(Double.NaN) == Fingerprint.hashDouble(java.lang.Double.longBitsToDouble(0x7ff8000000000001L))
    }
    check("null differs from a value") {
      val a = new GenericInternalRow(Array[Any](1L, null, 1.0, null, null))
      val b = new GenericInternalRow(Array[Any](1L, UTF8String.fromString(""), 1.0, null, null))
      Fingerprint.hashRow(a, types) != Fingerprint.hashRow(b, types)
    }
    check("column order matters within a row") {
      Fingerprint.hashWireRow(Seq(Some("a".getBytes), Some("b".getBytes))) !=
        Fingerprint.hashWireRow(Seq(Some("b".getBytes), Some("a".getBytes)))
    }
  }

  private def goldens(): Unit = {
    val s = Stmt("lk.order#0", "lookup", Kind.Extended(binary = false, 0), "SELECT 1")
    val fp = Fingerprint(2, 12345L)
    val res = WireResult(2, fp, 10, "SELECT 2", None, 1, Map.empty, Nil, 4)
    check("a matching golden passes") { new WireRunner(Map(s.key -> fp.show)).check(s, res)._1 }
    check("a corrupted golden fails") {
      !new WireRunner(Map(s.key -> Fingerprint(2, 12346L).show)).check(s, res)._1 &&
        !new WireRunner(Map(s.key -> Fingerprint(3, 12345L).show)).check(s, res)._1
    }
    check("a missing golden fails") { !new WireRunner(Map.empty).check(s, res)._1 }
    check("a server error fails") {
      !new WireRunner(Map(s.key -> fp.show)).check(s, res.copy(error = Some("42601 boom")))._1
    }
    check("a wrong COPY tag or read-back count fails") {
      val runner = new WireRunner(Map.empty)
      val copy = Statements.copyIn("t")
      val back = Statements.readBack("t")
      val two = Fingerprint(1, Fingerprint.hashWireRow(Seq(Some("2000".getBytes))))
      runner.check(copy, res.copy(tag = "COPY 1000"))._1 && !runner.check(copy, res.copy(tag = "COPY 999"))._1 &&
        runner.check(back, res.copy(fp = two), 2000)._1 && !runner.check(back, res.copy(fp = two), 3000)._1
    }
    check("a registry query missing from, or in both, partitions is caught") {
      val p = Frozen.Partition(Seq("a", "b"), Seq("b", "c"), Map.empty)
      val problems = Frozen.partitionProblems(p, Seq("a", "b", "c", "d"))
      problems.exists(_.startsWith("b is in both")) && problems.exists(_.startsWith("d is in neither")) &&
        Frozen.partitionProblems(Frozen.Partition(Seq("a"), Seq("b"), Map.empty), Seq("a", "b")).isEmpty
    }
    check("the shipped partition covers the registry exactly once") {
      Frozen.partitionProblems(Frozen.partition, Registry.all.map(_.name)).isEmpty
    }
    check("the shipped goldens cover every registered query") {
      val g = Frozen.golden.registry
      Registry.all.forall(q => g.contains(q.name))
    }
  }

  private def slicing(): Unit = {
    val names = (1 to 57).map(i => s"q$i")
    val cost = (n: String) => 0.1 + (n.drop(1).toInt % 13) * 0.3
    val sl = Registry.slices(names, cost, 8.0)
    check("slices cover every query exactly once") { sl.flatten.sorted == names.sorted }
    check("slice costs are balanced") {
      val c = sl.map(_.map(cost).sum)
      sl.size > 1 && c.max / c.min < 1.25
    }
    check("every run times the same panel; a set of seeds sweeps every other query") {
      val picks = (0L until 100L).map(s => RegistryWorkload.pick(names, cost, s))
      val panel = picks.head._1
      picks.forall(_._1 == panel) && picks.forall(p => p._2.nonEmpty && p._2.intersect(panel).isEmpty) &&
        picks.flatMap(p => p._1 ++ p._2).distinct.sorted == names.sorted
    }
    check("the panel is the two slices of middle frozen cost") {
      val panel = RegistryWorkload.pick(names, cost, 0)._1
      val byCost = Registry.slices(names, cost, Registry.SliceCostS).sortBy(_.map(cost).sum)
      panel.sorted == (byCost(byCost.size / 2 - 1) ++ byCost(byCost.size / 2)).sorted
    }
    check("the measured round count follows --seconds, at least two") {
      RegistryWorkload.rounds(20) == 3 && RegistryWorkload.rounds(1) == 2 && RegistryWorkload.rounds(42) == 6
    }
  }

  private def rates(): Unit = {
    def op(k: String, ms: Double, rows: Long) = Op(k, (ms * 1e6).toLong, rows, rows * 10)
    val steady = Seq(op("a", 100, 5), op("b", 300, 1), op("a", 100, 5), op("b", 300, 1))
    check("rates of a steady pass are plain ratios") {
      val r = Stats.Rates(steady)
      math.abs(r.opsPerS - 5.0) < 1e-9 && math.abs(r.rowsPerS - 15.0) < 1e-9 && math.abs(r.bytesPerS - 150.0) < 1e-9
    }
    check("one slow operation does not move the rates") {
      val r = Stats.Rates(steady ++ Seq(op("a", 100, 5), op("a", 5000, 5)))
      math.abs(r.opsPerS - 6 / 1.0) < 1e-9 && math.abs(r.rowsPerS - 22.0) < 1e-9
    }
  }
}
