package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  private def freshGraph(): GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("users", Seq((1L, "u1"), (2L, "u2"), (3L, "u3")).toDF("id", "name"))
    g.registerTable("Follows", Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("from_User", "to_User"))
    g.registerNode("User", "users", "id")
    g.registerRel("Follows", "Follows", "User", "User", adjIndex = true)
    g
  }

  test("bucketed adjacency-index persistence: same results, table-backed") {
    val g = freshGraph()
    val q = "MATCH (a:User {name:'u1'})-[:Follows]->(b:User) RETURN b.id AS id;"
    val before = longs(g.cypher(q))
    g.persistAdjIndex("Follows", buckets = 4)
    assert(spark.catalog.tableExists("follows_outgoing"))
    val after = longs(g.cypher(q))
    assert(before == after && after == Set(2L, 3L))
    // a fresh session with the same catalog attaches the persisted tables
    val g3 = freshGraph()
    g3.attachAdjIndex("Follows")
    assert(longs(g3.cypher(q)) == Set(2L, 3L))
    val adj = g.adjIndex("Follows", outgoing = true)
    assert(adj.columns.toSeq == Seq("id", "neighbors"))
    spark.sql("DROP TABLE IF EXISTS follows_outgoing")
    spark.sql("DROP TABLE IF EXISTS follows_incoming")
  }

  test("stale persisted adjacency index: attach rebuilds (or refuses), never serves stale") {
    import spark.implicits._
    val g = freshGraph()
    g.persistAdjIndex("Follows", buckets = 4)
    try {
      // a fresh session whose edge table gained an edge 3->1: the persisted
      // index predates it, so attach must not serve the old neighbor sets
      val g2 = new GraftSession(spark)
      g2.registerTable("users", Seq((1L, "u1"), (2L, "u2"), (3L, "u3")).toDF("id", "name"))
      g2.registerTable("Follows",
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L)).toDF("from_User", "to_User"))
      g2.registerNode("User", "users", "id")
      g2.registerRel("Follows", "Follows", "User", "User", adjIndex = true)
      intercept[graft.cypher.GraftException] {
        g2.attachAdjIndex("Follows", rebuildIfStale = false)
      }
      g2.attachAdjIndex("Follows") // default: rebuild
      val q = "MATCH (a:User {name:'u3'})-[:Follows]->(b:User) RETURN b.id AS id;"
      assert(longs(g2.cypher(q)) == Set(1L), "rebuilt index must see the new edge")
    } finally {
      spark.sql("DROP TABLE IF EXISTS follows_outgoing")
      spark.sql("DROP TABLE IF EXISTS follows_incoming")
    }
  }

  test("appendEdges merges the delta, rewriting only touched partition groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val g = freshGraph() // edges (1,2),(2,3),(1,3)
    g.persistAdjIndex("Follows", buckets = 4, partGroups = 8)
    try {
      def dirState(table: String): Map[String, Set[String]] = {
        val loc = new java.io.File(java.net.URI.create(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString))
        loc.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pgrp="))
          .map(d => d.getName ->
            d.listFiles().map(_.getName).filterNot(_.startsWith("_")).toSet)
          .toMap
      }
      val before = dirState("follows_outgoing")
      def pgrpOf(id: Long): String =
        "pgrp=" + Seq(id).toDF("id")
          .select(pmod(hash(col("id")), lit(8))).head.getInt(0)

      // contract: the edge TABLE gains the rows first, then the index
      // absorbs the same delta
      g.registerTable("Follows",
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L), (1L, 2L))
          .toDF("from_User", "to_User")) // (1,2) duplicated: sets must dedup
      g.appendEdges("Follows",
        Seq((3L, 1L), (1L, 2L)).toDF("from_User", "to_User"))

      // merged neighbor sets serve exactly: new key 3 appears, existing
      // key 1 is unchanged by the duplicate edge
      val out = g.adjIndex("Follows", outgoing = true).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      assert(out == Map(1L -> Set(2L, 3L), 2L -> Set(3L), 3L -> Set(1L)))
      assert(longs(g.cypher(
        "MATCH (a:User {name:'u3'})-[:Follows]->(b:User) RETURN b.id AS id;"))
        == Set(1L))

      // the refreshed fingerprint matches the appended edge table: a
      // strict attach must accept it without a rebuild
      g.attachAdjIndex("Follows", rebuildIfStale = false)


      // cheaper than a rebuild: only the partition groups of the delta's
      // keys were rewritten; every other group's files are untouched (a
      // rebuild rewrites every file). Outgoing delta keys: {3, 1}.
      val after = dirState("follows_outgoing")
      val touched = Set(pgrpOf(3L), pgrpOf(1L))
      for ((d, files) <- before if !touched(d))
        assert(after(d) == files, s"untouched group $d was rewritten")
      for (d <- touched if before.contains(d))
        assert(after(d) != before(d), s"touched group $d was not rewritten")
      // an INT-typed delta must merge identically: the delta is cast to
      // the persisted key/value types before hashing, so hash(3: Int)
      // cannot land id 3 in a different partition group than hash(3L)
      // (which would duplicate the id on the next well-typed append)
      g.registerTable("Follows",
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L), (1L, 2L), (2L, 5L))
          .toDF("from_User", "to_User"))
      g.appendEdges("Follows",
        Seq((2, 5)).toDF("from_User", "to_User")) // Int columns
      val out2 = g.adjIndex("Follows", outgoing = true).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      assert(out2(2L) == Set(3L, 5L))
      assert(g.adjIndex("Follows", outgoing = true)
        .groupBy("id").count().filter(col("count") > 1).count() == 0,
        "no id may appear twice after a type-mismatched append")
    } finally {
      spark.sql("DROP TABLE IF EXISTS follows_outgoing")
      spark.sql("DROP TABLE IF EXISTS follows_incoming")
    }
  }

  test("fingerprint is derivation-sensitive for file-backed frames") {
    import spark.implicits._
    import graft.catalog.Snapshot
    val dir = TestSpark.tempDir("graft_fp")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    def base = spark.read.parquet(dir)
    // same derivation built twice -> identical (canonicalization holds)
    assert(Snapshot.fingerprint(base) == Snapshot.fingerprint(base))
    assert(Snapshot.fingerprint(base.filter($"id" > 1)) ==
      Snapshot.fingerprint(base.filter($"id" > 1)))
    // same files, different derivation -> different (an IVF index built
    // from corpus.filter(...) must not be served as fresh for corpus)
    assert(Snapshot.fingerprint(base) != Snapshot.fingerprint(base.filter($"id" > 1)))
    assert(Snapshot.fingerprint(base.select($"id")) != Snapshot.fingerprint(base))
    // WIDE projections differing only past spark.sql.debug.maxToStringFields
    // (25) must still differ — tree-string rendering elides late fields,
    // which is why the hash uses toJSON (round-7 review)
    val wideDir = TestSpark.tempDir("graft_fp_wide")
    spark.range(3).select(
        (0 until 30).map(i => ($"id" + i).as(s"c$i")): _*)
      .write.mode("overwrite").parquet(wideDir)
    def wide = spark.read.parquet(wideDir)
    val first25 = (0 until 25).map(i => $"c$i")
    assert(Snapshot.fingerprint(wide.select(first25 :+ $"c27": _*)) !=
      Snapshot.fingerprint(wide.select(first25 :+ $"c28": _*)))
  }

  test("fingerprint plan material is jvmId-free (cross-session stability)") {
    import spark.implicits._
    import graft.catalog.Snapshot
    // ExprId carries a per-JVM UUID that canonicalization does NOT
    // normalize and toJSON serializes verbatim — unstripped, the same
    // derivation fingerprints differently in every JVM and every
    // persisted artifact rebuilds once per session (round-16 find:
    // back-to-back Verify sessions each logged ARTIFACT REBUILD)
    // the strip is ANCHORED to the ExprId product-class context —
    // a bare jvmId-shaped fragment OUTSIDE that context is left alone
    // (r16 ADVICE: an unanchored strip could conflate two plans
    // differing only in a jvmId-shaped string literal)
    val ctx = """"org.apache.spark.sql.catalyst.expressions.ExprId"""" +
      ""","id":0,"jvmId":"47a39540-6812-46d6-b5f2-9e2d7051db56"}"""
    assert(Snapshot.stripJvmIds(ctx) ==
      """"org.apache.spark.sql.catalyst.expressions.ExprId"""" +
        ""","id":0,"jvmId":""}""")
    val bare = """{"id":0,"jvmId":"47a39540-6812-46d6-b5f2-9e2d7051db56"}"""
    assert(Snapshot.stripJvmIds(bare) == bare)
    // on a real canonicalized plan: no UUID-shaped jvmId survives
    val dir = TestSpark.tempDir("graft_fp_jvm")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(dir)
    val json = Snapshot.stripJvmIds(
      spark.read.parquet(dir).select($"id")
        .queryExecution.analyzed.canonicalized.toJSON)
    assert(!"\"jvmId\":\"[0-9a-fA-F-]{36}\"".r.findFirstIn(json).isDefined,
      "a per-JVM UUID survived into the fingerprint material")
    // ...and two plans differing ONLY in a jvmId-shaped string literal
    // keep DISTINCT fingerprints (the literal's quotes serialize
    // escaped, so the anchored strip never touches it)
    def withLit(u: String) = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.lit(
        s""""jvmId":"$u"""").as("x"))
    assert(Snapshot.fingerprint(
        withLit("47a39540-6812-46d6-b5f2-9e2d7051db56")) !=
      Snapshot.fingerprint(
        withLit("0b47a219-f9ea-4967-91ab-e78bf583cd6e")),
      "plans differing only in a jvmId-shaped literal share a fingerprint")
  }

  test("catalog save / load / version-poll refresh") {
    val g = freshGraph()
    val path = Paths.get(TestSpark.tempDir("graft_catalog"), "catalog.json").toString
    g.saveCatalog(path)

    val g2 = new GraftSession(spark)
    g2.loadCatalog(path)
    assert(g2.catalog.nodes.keySet == Set("User"))
    assert(g2.catalog.rels("Follows").hasAdjIndex)

    // no newer version on disk -> no refresh
    assert(!g2.refreshCatalogIfNewer(path))

    // bump: register another node in g, save, then g2 sees the new version
    import spark.implicits._
    g.registerTable("posts", Seq((10L, "p")).toDF("id", "title"))
    g.registerNode("Post", "posts", "id")
    g.saveCatalog(path)
    assert(g2.refreshCatalogIfNewer(path))
    assert(g2.catalog.nodes.keySet == Set("User", "Post"))
  }

  test("background catalog refresh picks up a version bump") {
    val g = freshGraph()
    val path = Paths.get(TestSpark.tempDir("graft_catalog_bg"), "catalog.json").toString
    g.saveCatalog(path)

    val g2 = new GraftSession(spark)
    g2.loadCatalog(path)
    g2.startCatalogRefresh(path, intervalMs = 50L)
    g2.startCatalogRefresh(path, intervalMs = 50L) // idempotent
    try {
      import spark.implicits._
      g.registerTable("posts2", Seq((10L, "p")).toDF("id", "title"))
      g.registerNode("Post2", "posts2", "id")
      g.saveCatalog(path)
      val deadline = System.currentTimeMillis() + 5000
      while (!g2.catalog.nodes.contains("Post2") &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(g2.catalog.nodes.contains("Post2"))
    } finally g2.stopCatalogRefresh()
  }

  test("refresh thread stops cleanly on interrupt (no escaping throw)") {
    val g = freshGraph()
    val path = Paths.get(TestSpark.tempDir("graft_catalog_stop"), "catalog.json").toString
    g.saveCatalog(path)
    val g2 = new GraftSession(spark)
    g2.loadCatalog(path)
    // capture anything that escapes the refresh thread: the old lambda
    // `return` compiled to a NonLocalReturnControl throw that killed the
    // thread via the uncaught handler instead of a clean loop exit
    val escaped = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val prior = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((t, e) =>
      if (t.getName == "graft-catalog-refresh") escaped.set(e)
      else if (prior != null) prior.uncaughtException(t, e))
    try {
      g2.startCatalogRefresh(path, intervalMs = 50L)
      Thread.sleep(120) // let it take at least one tick
      val t = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .find(_.getName == "graft-catalog-refresh")
      assert(t.isDefined)
      g2.stopCatalogRefresh()
      t.get.join(3000)
      assert(!t.get.isAlive, "refresh thread should terminate on interrupt")
      assert(escaped.get == null,
        s"refresh thread must exit its loop, not throw: ${escaped.get}")
    } finally {
      g2.stopCatalogRefresh()
      Thread.setDefaultUncaughtExceptionHandler(prior)
    }
  }
}
