package perfbench

import org.json4s._

/** The frozen inputs the benchmark ships: the registry partition and
  * the golden fingerprints. */
object Frozen {
  val partitionPath = Env.benchDir.resolve("partition.json")
  val goldenPath = Env.benchDir.resolve("golden.json")

  final case class Partition(construct: Seq[String], execute: Seq[String],
      costS: Map[String, Double])

  def partition: Partition = {
    val j = Json.read(partitionPath)
    val costs = (j \ "cost_s") match {
      case JObject(fs) => fs.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JDecimal(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty[String, Double]
    }
    Partition(Json.stringList(j \ "registry_construct_bound" \ "queries"),
      Json.stringList(j \ "registry_execute_bound" \ "queries"), costs)
  }

  /** Every registered query must sit in exactly one list. */
  def partitionProblems(p: Partition, registered: Seq[String]): Seq[String] = {
    val c = p.construct.toSet
    val e = p.execute.toSet
    registered.filter(n => c(n) && e(n)).map(n => s"$n is in both registry partitions") ++
      registered.filter(n => !c(n) && !e(n)).map(n => s"$n is in neither registry partition") ++
      (c ++ e).diff(registered.toSet).toSeq.sorted.map(n => s"$n is partitioned but not registered")
  }

  /** Golden fingerprints: `registry` by query name, `wire` by statement key. */
  final case class Golden(registry: Map[String, String], wire: Map[String, String])

  def golden: Golden = {
    val j = Json.read(goldenPath)
    Golden(Json.stringMap(j \ "registry"), Json.stringMap(j \ "wire"))
  }
}
