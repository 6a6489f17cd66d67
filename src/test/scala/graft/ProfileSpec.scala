package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The engine profile: layers that account for the wall time, job counts a
  * second listener agrees with, eager build jobs told apart, and no
  * listener state left behind once a profile closes. */
class ProfileSpec extends AnyFunSuite {
  import TestSpark._

  private val sf = "/root/testdata/sf0.001"
  private lazy val gs = graft.fixtures.TpchGraph.session(spark, sf)

  /** Profiles `build` then runs its result to completion, as Bench does,
    * while an independent listener counts the jobs tagged with the
    * profile's tag. */
  private def profiled(build: => DataFrame): (Profile, Int) = {
    val sc = spark.sparkContext
    val tagged = new AtomicInteger()
    val tag = new java.util.concurrent.atomic.AtomicReference[String]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .filter(_.split(',').contains(tag.get)).foreach(_ => tagged.incrementAndGet())
    }
    sc.addSparkListener(counter)
    try {
      val p = Profile.start(spark)
      tag.set(p.tag)
      try {
        val df = p.span("build")(build)
        p.execute(df)
      } finally p.close()
      org.apache.spark.graftprobe.BusProbe.drain(sc)
      (p, tagged.get)
    } finally {
      sc.removeSparkListener(counter)
      graft.pipeline.PipelineCaches.clear()
    }
  }

  private def check(what: String, p: Profile, independentJobs: Int): Map[String, Double] = {
    val s = p.summary.toMap
    val layerSum = Profile.Layers.map(l => s(s"${l}_ms")).sum
    // Catalyst phases come in whole milliseconds, so each placed phase can
    // overhang its neighbour by up to 1 ms: allow 2 ms plus 2% of the wall
    val tolerance = 2.0 + 0.02 * p.wallMs
    assert(math.abs(layerSum - p.wallMs) <= tolerance,
      s"$what: layers sum to $layerSum ms, wall ${p.wallMs} ms (${p.summary})")
    assert(s("execute_ms") > 0 && s("build_ms") > 0, s"$what: ${p.summary}")
    assert(s("jobs") == independentJobs.toDouble,
      s"$what: profile counted ${s("jobs")} jobs, an independent listener $independentJobs")
    assert(independentJobs > 0, s"$what ran no tagged job")
    assert(!Profile.listenerHolds(p.tag), s"$what: the listener kept state for ${p.tag}")
    s
  }

  test("a plain Cypher read: layers cover the wall, no eager build job") {
    val g = gs // the session resolves its tables outside the profile
    val (p, jobs) = profiled(g.cypher(
      "MATCH (c:Customer) WHERE c.c_acctbal > 5000.0 RETURN c.c_custkey AS k;"))
    val s = check("plain read", p, jobs)
    assert(s("eager_jobs") == 0.0, p.summary)
    assert(s("parse_ms") > 0 && s("analyze_ms") >= 0, p.summary)
  }

  test("a broadcast-small var-length read counts its hop-base collect as an eager build job") {
    // a session of its own: the shared one may already hold this hop base
    // from an earlier statement, and a held base is not collected again
    val g = graft.fixtures.TpchGraph.build(spark, sf)
    val q = """MATCH (a:Nation)-[:NATION_ADJ*1..2]->(b:Nation)
              |RETURN a.n_nationkey AS a_id, b.n_nationkey AS b_id;""".stripMargin
    try {
      val (p, jobs) = profiled(g.cypher(q))
      val s = check("var-length read", p, jobs)
      assert(s("eager_jobs") >= 1.0, p.summary)
      assert(s("jobs") > s("eager_jobs"), p.summary)
      val (again, againJobs) = profiled(g.cypher(q))
      assert(check("repeated var-length read", again, againJobs)("eager_jobs") == 0.0,
        again.summary)
    } finally g.close()
  }

  test("build splits into the eager jobs' task CPU and wait") {
    val g = gs
    // a per-edge filter: the hop base is collected for every request
    val (p, jobs) = profiled(g.cypher(
      """MATCH (a:Nation)-[:NATION_ADJ*1..2 {n_dist: 1}]->(b:Nation)
        |RETURN a.n_nationkey AS a_id, b.n_nationkey AS b_id;""".stripMargin))
    val s = check("filtered var-length read", p, jobs)
    assert(s("eager_jobs") >= 1.0 && s("build_cpu_ms") > 0, p.summary)
    assert(math.abs(s("build_wait_ms") - math.max(0.0, s("build_ms") - s("build_cpu_ms"))) < 1e-6,
      p.summary)
    val (point, pointJobs) = profiled(g.cypher(
      "MATCH (c:Customer) WHERE c.c_custkey = 5 RETURN c.c_name AS name;"))
    val ps = check("point lookup", point, pointJobs)
    assert(ps("eager_jobs") == 0.0 && ps("build_cpu_ms") == 0.0, point.summary)
    assert(ps("build_wait_ms") == ps("build_ms"), point.summary)
  }

  test("a pipeline gate entry: layers cover the wall, jobs agree") {
    val (p, jobs) = profiled(SparkEntry.queries("p_sft_pack_padded")(spark, sf))
    check("p_sft_pack_padded", p, jobs)
  }

  test("PROFILE returns the layers and the executed plan with its metrics") {
    val row = gs.cypher("PROFILE MATCH (r:Region) RETURN r.r_name AS name;").collect().head
    val layers = row.getMap[String, Double](0)
    assert(Profile.Layers.forall(l => layers.contains(s"${l}_ms")), layers)
    assert(layers("wall_ms") > 0 && layers("jobs") >= 1, layers)
    assert(row.getString(1).contains("numOutputRows="), row.getString(1))
    val e = intercept[graft.cypher.GraftException](
      gs.cypher("PROFILE CREATE (:Region {r_regionkey: 9});"))
    assert(e.getMessage.contains("PROFILE only applies to read queries"))
  }

  test("a plan census counts the operators inside adaptive plans") {
    val df = gs.cypher("MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN r.r_name AS r, count(*) AS n;")
    df.queryExecution.toRdd.foreach(_ => ())
    val census = Profile.census(df.queryExecution.executedPlan).toMap
    assert(census.keySet.exists(_.contains("Aggregate")), census)
    assert(census.keySet.exists(_.contains("Scan")), census)
    graft.pipeline.PipelineCaches.clear()
  }

  test("one profiling path: the program's mains are exactly the six entry points") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected the program sources at ${root.toAbsolutePath}")
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """(?m)^object\s+(\w+)""".r
    val mains = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val prefix = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
        val objects = obj.findAllMatchIn(src).toSeq
        // a top-level object whose body, up to the next one, holds a main
        objects.zip(objects.drop(1).map(_.start) :+ src.length).collect {
          case (m, end) if src.substring(m.start, end).contains("def main(") =>
            (prefix + m.group(1)).stripPrefix("graft.")
        }
      }.toSet
    assert(mains == Set("Bench", "BenchLegend", "Verify", "server.Main",
      "client.GraftCli", "fixtures.ScaleUp"),
      s"mains: ${mains.toSeq.sorted.mkString(", ")}")
  }

  test("the flagship SparkEntry.entry query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
