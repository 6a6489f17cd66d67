package graft.fixtures

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Property graph derived from the driver-provided TPC-H-ish parquet tables
  * (TESTDATA.md / FIXTURES.md §B). Node labels map 1:1 to tables; edge lists
  * are projections built at registration time with the reference's
  * synthesized `from_{From}` / `to_{To}` column names (ddl_query.rs:259-261).
  *
  * Derived edges beyond the raw FKs:
  *  - NATION_ADJ (Nation—Nation, same region, key<key): same-label edge used
  *    to exercise the undirected UNION path
  *    (graph_traversal_planning.rs:524-616);
  *  - CUST_REGION (Customer→Region via Nation): closes a triangle with
  *    FROM_NATION + IN_REGION for the cycle / standalone-rel join case
  *    (graph_join_inference.rs:251-256).
  */
object TpchGraph {

  private val cache = TrieMap.empty[String, GraftSession]

  /** Memoized per (SparkSession, sfDir): registration is cheap (lazy DFs)
    * but adjacency indexes are cached per session. */
  def session(spark: SparkSession, sfDir: String): GraftSession =
    cache.getOrElseUpdate(s"${System.identityHashCode(spark)}:$sfDir", build(spark, sfDir))

  def build(spark: SparkSession, sfDir: String): GraftSession = {
    val gs = new GraftSession(spark)
    def pq(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

    val customer = pq("customer")
    val orders = pq("orders")
    val lineitem = pq("lineitem")
    val part = pq("part")
    val supplier = pq("supplier")
    val nation = pq("nation")
    val region = pq("region")

    Seq("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem,
        "part" -> part, "supplier" -> supplier, "nation" -> nation,
        "region" -> region)
      .foreach { case (n, df) => gs.registerTable(n, df) }

    gs.registerNode("Customer", "customer", "c_custkey")
    gs.registerNode("Order", "orders", "o_orderkey")
    gs.registerNode("Part", "part", "p_partkey")
    gs.registerNode("Supplier", "supplier", "s_suppkey")
    gs.registerNode("Nation", "nation", "n_nationkey")
    gs.registerNode("Region", "region", "r_regionkey")

    gs.registerTable("PLACED", orders.select(
      col("o_custkey").as("from_Customer"), col("o_orderkey").as("to_Order"),
      col("o_orderdate")))
    gs.registerRel("PLACED", "PLACED", "Customer", "Order", adjIndex = true)

    gs.registerTable("CONTAINS", lineitem.select(
      col("l_orderkey").as("from_Order"), col("l_partkey").as("to_Part"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount")))
    gs.registerRel("CONTAINS", "CONTAINS", "Order", "Part", adjIndex = true)

    gs.registerTable("SUPPLIED_BY", lineitem.select(
      col("l_partkey").as("from_Part"), col("l_suppkey").as("to_Supplier")).distinct())
    gs.registerRel("SUPPLIED_BY", "SUPPLIED_BY", "Part", "Supplier")

    gs.registerTable("FROM_NATION", customer.select(
      col("c_custkey").as("from_Customer"), col("c_nationkey").as("to_Nation")))
    gs.registerRel("FROM_NATION", "FROM_NATION", "Customer", "Nation")

    gs.registerTable("SUPP_NATION", supplier.select(
      col("s_suppkey").as("from_Supplier"), col("s_nationkey").as("to_Nation")))
    gs.registerRel("SUPP_NATION", "SUPP_NATION", "Supplier", "Nation")

    gs.registerTable("IN_REGION", nation.select(
      col("n_nationkey").as("from_Nation"), col("n_regionkey").as("to_Region")))
    gs.registerRel("IN_REGION", "IN_REGION", "Nation", "Region")

    // same-label edge for the undirected UNION path: nations sharing a region
    val n1 = nation.alias("n1"); val n2 = nation.alias("n2")
    // n_dist (key gap) gives var-length hops a per-edge filterable
    // property; existing queries never reference it
    gs.registerTable("NATION_ADJ", n1.join(n2,
        col("n1.n_regionkey") === col("n2.n_regionkey") &&
        col("n1.n_nationkey") < col("n2.n_nationkey"))
      .select(col("n1.n_nationkey").as("from_Nation"),
              col("n2.n_nationkey").as("to_Nation"),
              (col("n2.n_nationkey") - col("n1.n_nationkey")).as("n_dist")))
    gs.registerRel("NATION_ADJ", "NATION_ADJ", "Nation", "Nation")

    // sparse successor chain within a region (each nation → next-higher
    // key): gives the BFS fixtures real multi-hop distances, unlike the
    // complete per-region NATION_ADJ DAG where everything is 0 or 1 hop
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_regionkey").orderBy("n_nationkey")
    gs.registerTable("NATION_NEXT", nation
      .select(col("n_nationkey").as("from_Nation"),
              lead(col("n_nationkey"), 1).over(w).as("to_Nation"))
      .filter(col("to_Nation").isNotNull))
    gs.registerRel("NATION_NEXT", "NATION_NEXT", "Nation", "Nation")

    // cyclic directed fixture: NATION_NEXT plus the wrap edge (region max
    // key → region min key) makes each region one directed ring, and ONE
    // one-way bridge (region 0's min key → region 1's min key) connects
    // two rings without creating a cross-region cycle — so strongly
    // connected components are the 5 rings while rings 0 and 1 merge
    // under undirected reachability, the distinction an SCC oracle must
    // witness. A single bridge (not a chain) keeps the condensation DAG
    // two layers deep: stronglyConnectedComponents finalizes one
    // condensation layer per outer iteration, so a 5-ring bridge chain would need 6+ iterations
    // for a fixture whose point is direction, not depth.
    val rext = nation.groupBy(col("n_regionkey").as("__rg"))
      .agg(min("n_nationkey").as("__rmin"), max("n_nationkey").as("__rmax"))
    val wrapE = rext.select(col("__rmax").as("from_Nation"),
      col("__rmin").as("to_Nation"))
    val bridgeE = rext.alias("r1").join(rext.alias("r2"),
        col("r1.__rg") === 0 && col("r2.__rg") === 1)
      .select(col("r1.__rmin").as("from_Nation"),
        col("r2.__rmin").as("to_Nation"))
    gs.registerTable("NATION_RING", nation
      .select(col("n_nationkey").as("from_Nation"),
              lead(col("n_nationkey"), 1).over(w).as("to_Nation"))
      .filter(col("to_Nation").isNotNull)
      .unionAll(wrapE).unionAll(bridgeE))
    gs.registerRel("NATION_RING", "NATION_RING", "Nation", "Nation")

    // customer→region shortcut edge; closes the FROM_NATION/IN_REGION triangle
    gs.registerTable("CUST_REGION", customer.join(nation,
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("from_Customer"),
              col("n_regionkey").as("to_Region")))
    gs.registerRel("CUST_REGION", "CUST_REGION", "Customer", "Region")

    gs
  }
}
