package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A typed slot for the model a query trains during a run. The query
  * writes it; the query's [[Oracle.Replay]] reads it back to inline the
  * exact model its output was computed with. Queries that train
  * separately (m12 vs m41 vs m74) own separate slots, because summation
  * order across partitions can move centroids by ulps between trains. */
final class Capture[T] {
  @volatile private var value: Option[T] = None
  def put(v: T): Unit = value = Some(v)
  def get: Option[T] = value
}

/** Where a query's DuckDB oracle SQL comes from. */
sealed trait Oracle {
  def sql: Option[String]
}

object Oracle {

  /** Fixed SQL text. */
  final case class Literal(text: String) extends Oracle {
    def sql: Option[String] = Some(text)
  }

  /** SQL rendered from the model the query captured on its last run, so
    * there is none until the query has run (Verify dumps the oracles
    * after the sweep). `keep` rejects models with nothing to replay. */
  final class Replay[T](slot: Capture[T], render: T => String,
                        keep: T => Boolean) extends Oracle {
    def sql: Option[String] = slot.get.filter(keep).map(render)
    def when(p: T => Boolean): Replay[T] = new Replay(slot, render, p)
  }

  def replay[T](slot: Capture[T])(render: T => String): Replay[T] =
    new Replay(slot, render, _ => true)
}

/** One registered query: its name, how to run it over an sf directory,
  * and its oracle. */
final case class QueryDef(name: String, run: (SparkSession, String) => DataFrame,
                          oracle: Oracle)

object QueryDef {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            sql: String): QueryDef = QueryDef(name, run, Oracle.Literal(sql))
}

/** The ordered query registry. Names are distinct by construction: a
  * duplicate fails here instead of silently shadowing an entry. */
final class Registry(val defs: Seq[QueryDef]) {
  private val byName: Map[String, QueryDef] = defs.map(d => d.name -> d).toMap
  require(byName.size == defs.size, "duplicate query names: " +
    defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }.toSeq.sorted.mkString(", "))

  /** The named queries in registry order, or all of them for an empty
    * set; an unknown name fails. */
  def select(names: Set[String]): Seq[QueryDef] = {
    val unknown = names -- byName.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) defs else defs.filter(d => names(d.name))
  }
}

object Registry {
  def apply(defs: QueryDef*): Registry = new Registry(defs)
}
