package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` merge the per-family
  * maps with `++`, so a name declared twice would silently shadow the
  * other query.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private val families = Seq(
    "Core" -> CoreQueries.queries.keySet, "Relational" -> RelationalQueries.queries.keySet,
    "Function" -> FunctionQueries.queries.keySet, "Llm" -> LlmQueries.queries.keySet,
    "Extra" -> ExtraQueries.queries.keySet, "Stat" -> StatQueries.queries.keySet)

  test("no query name is declared by two query families") {
    val dups = families.flatMap { case (f, names) => names.map(_ -> f) }
      .groupBy(_._1).collect { case (name, fs) if fs.size > 1 => s"$name(${fs.map(_._2).mkString(",")})" }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(" ")}")
    assert(SparkEntry.queries.size == families.map(_._2.size).sum)
  }

  test("every oracle names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.toSeq.sorted.mkString(" ")}")
  }
}
