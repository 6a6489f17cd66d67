package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-gate entry: an operator run end to end (`build`, over a
  * session and an sf dir) and the ANSI SQL the driver replays in DuckDB
  * over the same parquet files to check it (`oracle`). */
final case class GateEntry(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

object GateEntry {

  /** Every gate entry, one family file each; built once per JVM. */
  lazy val all: Seq[GateEntry] = uniqueNames(
    CypherGates.entries ++ GraphGates.entries ++ DedupGates.entries ++
      SimilarityGates.entries ++ BpeSftGates.entries ++ TextGates.entries ++
      MultimodalGates.entries ++ SamplingGates.entries ++ EventGates.entries)

  /** `entries` as given; a name that appears twice fails here instead of
    * one entry silently replacing the other in a map. */
  def uniqueNames(entries: Seq[GateEntry]): Seq[GateEntry] = {
    val repeated = entries.groupBy(_.name).collect {
      case (name, es) if es.size > 1 => name
    }
    require(repeated.isEmpty,
      s"repeated gate entry names: ${repeated.toSeq.sorted.mkString(", ")}")
    entries
  }
}
