package perfbench

/** Prints the gate's DuckDB oracle SQL for the named entries as one JSON
  * object (`perfbench/make_digests.py` replays them).
  *
  * {{{ perfbench.Oracles NAME... }}}
  */
object Oracles {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    val missing = args.filterNot(all.contains)
    require(missing.isEmpty, s"no oracle for: ${missing.mkString(", ")}")
    println(Harness.jsonObj(args.toSeq.map(n => n -> graft.util.JsonUtil.quote(all(n)))))
  }
}
