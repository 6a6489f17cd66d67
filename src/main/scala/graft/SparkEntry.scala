package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fixtures.TpchGraph
import graft.gate.GateEntry

/** Driver contract (SURVEY.md §7): the gate entries of [[GateEntry.all]]
  * as two maps keyed by entry name — `queries` runs each operator end to
  * end, `oracleSql` holds the equivalent ANSI SQL the driver replays in
  * DuckDB over the same parquet files.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchGraph.session(spark, "/root/testdata/sf0.001").cypher(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE r.r_name = 'ASIA'
        |RETURN n.n_name AS n_name, count(*) AS cnt
        |ORDER BY cnt DESC, n_name ASC;""".stripMargin)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    GateEntry.all.map(e => e.name -> e.build).toMap

  /** For each key in `queries`, its DuckDB oracle SQL. */
  lazy val oracleSql: Map[String, String] =
    GateEntry.all.map(e => e.name -> e.oracle).toMap
}
