package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.TpchGraph

/** Plan-shape assertions: the scale properties the engine promises must be
  * visible in the physical plan, not just fast on small data.
  * (SURVEY.md §4 — pushdown/pruning/join strategy are Catalyst's job; these
  * tests pin that our plans actually let Catalyst do it.) */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs = TpchGraph.session(spark, "/root/testdata/sf0.001")

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("node filters reach the parquet scan as PushedFilters") {
    val plan = formatted(gs.cypher(
      """MATCH (c:Customer)-[pl:PLACED]->(o:Order)
        |WHERE pl.o_orderdate < datetime('1997-01-01') AND c.c_mktsegment = 'AUTOMOBILE'
        |RETURN c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey;""".stripMargin))
    assert(plan.contains("EqualTo(c_mktsegment,AUTOMOBILE)"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
  }

  test("a bound point-lookup value reaches PushedFilters; the Filter reads it by reference") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val plan = gs.cypher("MATCH (c:Customer) WHERE c.c_custkey = $k RETURN c.c_name AS name;",
      Map("k" -> 4242L)).queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metadata("PushedFilters").contains("EqualTo(c_custkey,4242)"), scan.metadata)
    val cond = plan.collectFirst { case f: FilterExec => f.condition }.get
    assert(cond.collect { case r: graft.exec.ParamRef => r.value } == Seq(4242L), cond)
    assert(cond.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal if l.value == 4242L => l
    }.isEmpty, cond)
  }

  test("scans read only referenced columns (column pruning)") {
    val plan = formatted(gs.cypher(
      "MATCH (c:Customer) RETURN c.c_custkey AS k;"))
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint>"), plan)
  }

  test("ordered top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = formatted(gs.cypher(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS k, count(o) AS cnt ORDER BY cnt DESC, k ASC LIMIT 5;""".stripMargin))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("WITH ORDER BY + LIMIT stage compiles to TakeOrderedAndProject (no global sort)") {
    val plan = formatted(gs.cypher(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c.c_custkey AS k, count(o) AS cnt ORDER BY cnt DESC, k ASC LIMIT 5
        |RETURN k AS k, cnt AS cnt;""".stripMargin))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dimension joins are broadcast (no shuffle of the big side)") {
    val plan = formatted(gs.cypher(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE r.r_name = 'ASIA' RETURN n.n_name AS n, count(*) AS cnt;""".stripMargin))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("var-length hop composition joins broadcast when the edge table is small") {
    // the hop set is bounded by the edge table, so a small edge table must
    // give BHJ compositions (stage-depth matters: an SMJ adds two exchanges
    // + sorts per level to a query whose cost is pure scheduler latency)
    val plan = formatted(gs.cypher(
      """MATCH (a:Nation)-[:NATION_ADJ*1..2]->(b:Nation)
        |RETURN a.n_nationkey AS a_id, b.n_nationkey AS b_id;""".stripMargin))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("wrong-direction empty result folds to an empty relation") {
    val df = gs.cypher("MATCH (o:Order)-[:PLACED]->(c:Customer) RETURN c.c_custkey AS k;")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation <empty>") || df.count() == 0, optimized)
  }

  test("adjacency-index path reads the cached neighbors table + explode") {
    val plan = formatted(gs.cypher(
      "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN count(*) AS cnt;"))
    assert(plan.contains("InMemoryTableScan") || plan.contains("Generate"), plan)
  }

  test("aggregation is partial+final (map-side combine)") {
    val plan = formatted(gs.cypher(
      "MATCH (o:Order) RETURN o.o_orderstatus AS s, count(*) AS cnt;"))
    val hashAggs = "HashAggregate".r.findAllIn(plan).size
    assert(hashAggs >= 2, plan) // partial + final
  }

  test("[:A|B] alternation compiles to a union of the edge scans, one agg") {
    val df = gs.cypher(
      """MATCH (a:Nation)-[r:NATION_NEXT|NATION_ADJ]->(b:Nation)
        |RETURN a.n_nationkey AS k, count(*) AS deg;""".stripMargin)
    val plan = formatted(df)
    assert(plan.contains("Union"), plan)
    // the aggregate runs over the unioned pattern: partial+final, so
    // exactly one aggregation pair — not one per branch
    assert(plan.contains("partial_count"), plan)
  }

  test("sequence examples: one user-key exchange feeds every window fn") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val ev = Seq((1L, 1L, 1000L, "a"), (2L, 1L, 2000L, "b"))
      .toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.col("us")))
    val df = graft.pipeline.Sequences.sequenceExamples(ev, k = 1)
    df.collect() // materialize so AQE finalizes the executed plan
    // keep only the final-plan section (toString renders the pre-AQE
    // initial plan below it, which would double-count the exchange)
    val planStr = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // AQE hides the exchange inside a ShuffleQueryStage, so count in the
    // rendered final plan rather than via tree collect
    val exchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(planStr).size
    assert(exchanges == 1, s"expected exactly one exchange:\n$planStr")
    // and exactly ONE Window operator hosts every window function
    assert("Window \\[".r.findAllMatchIn(planStr).size == 1, planStr)
  }

  test("driver-gate outputs are scalar-only (pandas checker can sort them)") {
    // The driver's correctness checker sorts result columns with pandas
    // lexsort, which crashes on array/map/struct cells (unhashable numpy
    // arrays) — the r12 p_pq_codes ERR. Every gate entry must posexplode
    // or stringify complex columns (the p_hash_embed convention); this
    // turns a driver-gate ERR into a local test failure.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    for ((name, fn) <- SparkEntry.queries) {
      val schema = fn(spark, "/root/testdata/sf0.001").schema
      val complex = schema.fields.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      })
      assert(complex.isEmpty,
        s"$name returns non-scalar column(s) ${complex.map(_.name).mkString(", ")} — " +
          "posexplode or stringify so the driver checker can sort the output")
    }
  }

  test("no CartesianProduct in ANY driver-contract query plan") {
    // non-equi joins are allowed to be BroadcastNestedLoop (bounded by a
    // broadcast side); an unpartitioned CartesianProduct never is
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("string predicates push to the parquet scan") {
    val plan = formatted(gs.cypher(
      "MATCH (c:Customer) WHERE c.c_name STARTS WITH 'Customer#0000001' RETURN c.c_custkey AS k;"))
    assert(plan.contains("StringStartsWith(c_name,Customer#0000001)"), plan)
  }

  test("pattern predicates compile to semi/anti hash joins, ids only") {
    val anti = formatted(gs.cypher(
      """MATCH (c:Customer) WHERE NOT (c)-[:FROM_NATION]->({n_name: 'NATION_7'})
        |RETURN c.c_custkey AS k;""".stripMargin))
    assert(anti.contains("LeftAnti"), anti)
    val semi = formatted(gs.cypher(
      """MATCH (n:Nation) WHERE (:Supplier)-[:SUPP_NATION]->(n)
        |RETURN n.n_name AS n_name;""".stripMargin))
    assert(semi.contains("LeftSemi"), semi)
    assert(!semi.contains("CartesianProduct") && !anti.contains("CartesianProduct"))
  }

  test("shortestPath on shuffle-scale edges expands a frontier delta") {
    // broadcast-small edges take the hashed one-stage form; force the
    // shuffle-scale path to pin its shape
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val plan = formatted(gs.cypher(
        """MATCH p = shortestPath((a:Nation)-[:NATION_NEXT*1..4]->(b:Nation))
          |RETURN a.n_name AS a_name, b.n_name AS b_name, length(p) AS len;""".stripMargin))
      // levels 2..4 each anti-join newly-expanded pairs against the settled
      // set, so per-level shuffle volume tracks the frontier, not the full
      // reachable pair set — and no min() re-aggregation is needed (the
      // textual LeftAnti count exceeds 3 because the lazy lineage re-embeds
      // earlier levels; ReuseExchange collapses those at runtime, and
      // expansions past 6 levels truncate lineage per level instead)
      assert("LeftAnti".r.findAllIn(plan).nonEmpty, plan)
      assert(!plan.contains("min(__len)"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("shortestPath on broadcast-small edges adds no exchange per level") {
    def plan(hi: Int) = formatted(gs.cypher(
      s"""MATCH p = shortestPath((a:Nation)-[:NATION_NEXT*1..$hi]->(b:Nation))
         |RETURN a.n_name AS a_name, b.n_name AS b_name, length(p) AS len;""".stripMargin))
    val (p4, p8) = (plan(4), plan(8))
    assert(!p4.contains("LeftAnti"), p4)
    // the hashed BFS walks every level inside one stage: a deeper bound
    // changes no part of the plan's shape
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    assert(exchanges(p4) == exchanges(p8), s"$p4\n$p8")
  }

  test("a deep var-length hop on broadcast-small edges stays a small plan") {
    // the join form re-embedded the derived NATION_RING view at every
    // level (923 optimized nodes at *1..8); the hashed form reads it once,
    // at build time
    val df = gs.cypher(
      """MATCH (a:Nation)-[:NATION_RING*1..8]->(b:Nation) WHERE a.n_nationkey = 3
        |RETURN b.n_nationkey AS b_id;""".stripMargin)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case p => p }.size <= 20, plan.toString)
    graft.pipeline.PipelineCaches.clear()
  }

  test("COUNT { } compiles to a pre-aggregated outer join, never a fan-out") {
    val plan = formatted(gs.cypher(
      """MATCH (n:Nation) RETURN n.n_name AS n_name,
        |COUNT { (s:Supplier)-[:SUPP_NATION]->(n) } AS suppliers;""".stripMargin))
    // the count aggregates BEFORE the join (partial+final over edge ids
    // only), so the main frame joins one row per key — at 100x scale the
    // joined side stays bounded by key cardinality, not edge count
    val aggIdx = plan.indexOf("HashAggregate")
    val joinIdx = plan.indexOf("LeftOuter")
    assert(aggIdx >= 0 && joinIdx >= 0, plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("pattern comprehension pre-aggregates the collect before its join") {
    val plan = formatted(gs.cypher(
      """MATCH (n:Nation) RETURN n.n_name AS n_name,
        |[(s:Supplier)-[:SUPP_NATION]->(n) | s.s_name] AS sn;""".stripMargin))
    // same fan-out-free shape as COUNT { }: collect_list aggregates the
    // pair set per bound key FIRST (partial+final), then one left join
    // attaches one row per key — the main frame never multiplies
    assert(plan.contains("partial_collect_list") ||
           plan.contains("partial_sort_array"), plan)
    assert(plan.contains("LeftOuter"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("semDedup pair join is cluster-keyed, never all-pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.pipeline.Similarity.semDedup(emb)
      .queryExecution.executedPlan.toString
    // the only pair-generating join must carry the cluster_id equi-key;
    // the cosine threshold rides the join condition, not a post-filter
    // over a cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("cluster_id"), plan)
    graft.pipeline.PipelineCaches.clear()
  }

  test("mixture sampling and pattern scrub are shuffle-free narrow plans") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for ((name, df) <- Seq(
        "mixtureSample" -> graft.pipeline.Corpus.mixtureSample(
          docs, Map("src0" -> 2.5), defaultWeight = 0.7),
        "scrubPatterns" -> graft.pipeline.TextAnalysis.scrubPatterns(docs),
        "parseJson" -> graft.pipeline.Metadata.parseJson(
          docs.selectExpr("doc_id", "'{\"k\":1}' AS props"), "props", "k INT"))) {
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty, s"$name plan shuffles:\n${df.queryExecution.executedPlan}")
    }
  }

  test("weightedSample is TakeOrderedAndProject; prCurve windows only the grid") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ws = graft.pipeline.Sampling.weightedSample(docs, 10, "n_chars")
    val wsPlan = ws.queryExecution.executedPlan.toString
    assert(wsPlan.contains("TakeOrderedAndProject"), wsPlan)
    // the corpus never pays a shuffle on the way into the top-k heaps
    assert(ws.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e }.isEmpty, wsPlan)
    // prCurve: the window's input is the quantized-threshold AGGREGATE —
    // the only exchanges are the grid-sized agg + its single-partition
    // window, never a corpus-row window
    val pr = graft.pipeline.TextAnalysis.prCurve(
      docs.selectExpr("CAST(n_chars AS DOUBLE) / 1000 AS logit",
        "lang = 'en' AS y"), col("y"))
    val plan = pr.queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.substring(winIdx).contains("HashAggregate"),
      s"window must sit ABOVE the grid aggregate:\n$plan")
  }

  test("SFT plans: parse is shuffle-free; windows key on the conversation; pairs are one partial+final agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val conv = docs.selectExpr("doc_id AS conv_id",
      "concat('user: hello there\nassistant: ', text) AS text")
    val turns = graft.pipeline.Sft.parseTurns(conv)
    // parsing never moves a conversation off its input partition
    assert(turns.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e }.isEmpty,
      turns.queryExecution.executedPlan.toString)
    // validate / truncate / spans: every exchange is hashpartitioning on
    // the conversation key — no global-order window, no corpus-row sort
    for ((name, df) <- Seq(
        "validate" -> graft.pipeline.Sft.validateConversations(turns),
        "truncate" -> graft.pipeline.Sft.truncateToBudget(turns, 48),
        "spans" -> graft.pipeline.Sft.lossMaskSpans(turns))) {
      val plan = df.queryExecution.executedPlan.toString
      val bad = "Exchange (?!hashpartitioning\\(conv_id)".r
        .findFirstIn(plan.linesIterator.filter(_.contains("Exchange"))
          .mkString("\n"))
      assert(df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike => e }
        .forall(_.outputPartitioning.toString.contains("conv_id")),
        s"$name has a non-conversation-key exchange:\n$plan")
      assert(bad.isEmpty || bad.get.contains("conv_id"), s"$name:\n$plan")
    }
    // preference pairs: exactly one group-key shuffle, partial+final
    // struct-max/min aggregation, and the score self-join broadcast
    // (AQE wraps the join plan, so pin on the plan string)
    val pp = graft.pipeline.Sft.preferencePairs(docs)
    val ppPlan = pp.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ppPlan).size == 1, ppPlan)
    assert(ppPlan.contains("partial_max"), ppPlan)
    assert(ppPlan.contains("BroadcastHashJoin"), ppPlan)
  }

  test("c4Clean, classifierScore and pqEncode are shuffle-free narrow plans") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for ((name, df) <- Seq(
        "c4Clean" -> graft.pipeline.TextAnalysis.c4Clean(docs,
          minLineWords = 2, terminalSuffixes = Seq.empty, minKeptLines = 1),
        "classifierScore" -> graft.pipeline.TextAnalysis.classifierScore(
          docs, IndexedSeq.fill(64)(0.1)),
        "hashedTfidfApply" -> graft.pipeline.TextAnalysis.hashedTfidfApply(
          docs, IndexedSeq.fill(64)(0.5)),
        "pqEncode" -> graft.pipeline.Similarity.pqEncode(emb,
          graft.pipeline.Similarity.pqCodebook()))) {
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty, s"$name plan shuffles:\n${df.queryExecution.executedPlan}")
    }
  }

  test("selectUnderTokenBudget: range-partitioned prefix-sum, no global window") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = graft.pipeline.TextAnalysis.qualityFeaturesRaw(docs)
      .select("doc_id", "n_tokens", "score")
    val df = graft.pipeline.Sampling.selectUnderTokenBudget(q, budget = 1000L)
    val plan = df.queryExecution.executedPlan.toString
    // the global running sum must ride range partitions + per-partition
    // windows — a Window with an EMPTY partition spec is the
    // single-partition funnel this operator exists to avoid
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("windowspecdefinition(" + "score"),
      s"global (unpartitioned) window found:\n$plan")
    assert(plan.contains("windowspecdefinition(__pid"), plan)
    df.queryExecution.toRdd.count() // execute: the bounded collect ran at build
    graft.pipeline.PipelineCaches.clear()
  }

  test("packers: distributed prefix-sum, no shard-count-bounded window") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for ((name, df) <- Seq(
        "packSequences" -> graft.pipeline.Corpus.packSequences(docs),
        "packConversations" -> graft.pipeline.Sft.packConversations(
          graft.pipeline.Sft.parseTurns(
            docs.select(col("doc_id").as("conv_id"), col("text")))),
        "seededShuffle" -> graft.pipeline.Sampling.seededShuffle(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      // the cumulative pass must ride cluster-sized range partitions +
      // (shard, slice)-keyed parallel windows — a window partitioned by
      // the shard key ALONE caps parallelism at |shards| (8), the r14
      // verdict's weak-at-100x item
      assert(plan.contains("rangepartitioning"), s"$name:\n$plan")
      assert(plan.contains("windowspecdefinition(shard"), s"$name:\n$plan")
      assert(plan.contains("windowspecdefinition(shard#") &&
        plan.contains(", __pid"),
        s"$name window not sliced by partition id:\n$plan")
      df.queryExecution.toRdd.count() // execute: bounded collect ran at build
    }
    graft.pipeline.PipelineCaches.clear()
  }

  test("prefix-sum offset rendezvous: broadcast-join path equals the literal map") {
    import org.apache.spark.sql.functions.{col, lit => litf}
    val df = spark.range(10000).select(col("id"),
      (col("id") % 8).as("shard"), litf(2L).as("v"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("shard", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val viaMap = graft.pipeline.PrefixSum.groupedRunningSum(
      df, "shard", Seq("id"), "v", "cum")
    // threshold 0 forces the broadcast-hash-join rendezvous (production
    // crosses over at MapLiteralMax slices — the map LITERAL lookup is a
    // per-row linear scan, measured 20x slower at 4096 partitions; the
    // table is in DESIGN.md)
    val viaJoin = graft.pipeline.PrefixSum.groupedRunningSum(
      df, "shard", Seq("id"), "v", "cum", mapLiteralMax = 0)
    assert(rows(viaMap) == rows(viaJoin))
    val plan = viaJoin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the join must not cost the shape its pins guarantee: range
    // partitions + (shard, slice)-keyed parallel windows survive
    assert(plan.contains("rangepartitioning"), plan)
    assert(plan.contains("windowspecdefinition(shard#") &&
      plan.contains(", __pid"), plan)
    graft.pipeline.PipelineCaches.clear()
  }

  test("removeContaminatedSpans: eval grams broadcast, no corpus gram shuffle") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val df = graft.pipeline.Dedup.removeContaminatedSpans(
      docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(100)) === 0))
    val plan = df.queryExecution.executedPlan.toString
    // the eval-gram set is benchmark-sized: the positional-gram probe must
    // be a broadcast LeftSemi, never a gram-keyed CORPUS shuffle. The one
    // gram exchange allowed is the eval slice's own distinct (eval-sized);
    // a second would mean the train grams went over the wire
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(plan).nonEmpty, plan)
    // count DISTINCT exchanges (a reused one prints once per branch)
    val gramExchanges = "Exchange hashpartitioning\\(gram[^\\]]*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(gramExchanges.size <= 1, s"corpus shuffled on gram:\n$plan")
    graft.pipeline.PipelineCaches.clear()
  }

  test("hashedTfidf: fused shuffle-free embed projection (train/apply split)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.TextAnalysis.hashedTfidf(docs)
    val plan = df.queryExecution.executedPlan.toString
    // r18: the batch form routes through its own train/apply split (the
    // ≤dim-row df model trains in a separate eager job; bit-exact by the
    // TextAnalysisSpec pin), so the EMBED plan is a pure fused projection:
    // one parquet scan into graft_hash_embed — no token Generate, no tf
    // cache, no exchange, no Window. The old shape (explode → persisted tf
    // aggregate → idf broadcast joins → map re-assembly) measured 3× this.
    assert(plan.contains("graft_hash_embed"), s"fused embed missing:\n$plan")
    assert(!plan.contains("Generate"), s"unexpected corpus explode:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Window"), plan)
    graft.pipeline.PipelineCaches.clear()
  }

  test("cmsHeavyHitters: one tokenize subtree feeds both sketch and exact top-k") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.Corpus.cmsHeavyHitters(docs, k = 5, d = 2, w = 64)
    val plan = df.queryExecution.executedPlan.toString
    // the token Generate lives ONCE inside the persisted (tok, count)
    // relation; both consumers (weighted sketch + exact top-k) must READ
    // that cache. Each cache READ re-prints the cached subtree, so count
    // parity is the check — an un-cached second tokenize would print a
    // Generate with no relation of its own.
    val generates = "Generate explode".r.findAllIn(plan).size
    val cachedRels = "InMemoryRelation".r.findAllIn(plan).size
    assert(generates >= 1 && generates == cachedRels,
      s"corpus tokenized outside the persisted token-count cache " +
        s"($generates generates, $cachedRels cached relations):\n$plan")
    graft.pipeline.PipelineCaches.clear()
  }

  test("boilerplate removal: frequent-line anti-join broadcasts, corpus never reshuffles on line") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.Corpus.boilerplateRemove(docs, minDf = 2)
    df.collect() // AQE finalizes the join strategy
    val plan = df.queryExecution.executedPlan.toString
    // the LeftAnti strike against the (output-bounded) frequent-line set
    // must be a broadcast join — a shuffled anti-join would re-exchange
    // the whole corpus's lines a second time
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"anti-join not broadcast:\n$plan")
  }

  test("as-of join and rolling aggregate: ONE shuffle each (union-merge shape)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    for ((name, df) <- Seq(
        "asOfJoin" -> graft.pipeline.AsOf.asOfJoin(
          clicks, buys, Seq("user_id"), "ts", "pts", Seq("value")),
        "rollingAgg" -> graft.pipeline.AsOf.rollingAgg(
          clicks, buys, Seq("user_id"), "ts", "pts", "value", 3600))) {
      // at most the ONE key-partition exchange (AQE may even elide it on
      // a single tiny input split — never more)
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= 1,
        s"$name expected at most 1 shuffle (the key partition), got " +
          s"${shuffles.size}:\n${df.queryExecution.executedPlan}")
      assert(!formatted(df).contains("CartesianProduct"), name)
    }
  }

  test("correlated CALL: anchor semi-join restricts the body scan; grouped " +
       "aggregate is partial+final") {
    val plan = formatted(gs.cypher(
      """MATCH (c:Customer) WHERE c.c_acctbal > 9000.0
        |CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) RETURN count(o) AS cnt }
        |RETURN c.c_custkey AS k, cnt;""".stripMargin))
    // the body's customer scan must be SEMI-joined with the outer key set
    // (body compute ∝ outer keys, not table size)
    assert(plan.contains("LeftSemi"), plan)
    // Cypher per-row aggregation compiles to ONE grouped aggregate with a
    // map-side partial, never a per-row re-execution
    assert(plan.contains("partial_count"), plan)
    // zero-match rows survive via the LEFT join back
    assert(plan.contains("LeftOuter"), plan)
  }

  test("dup-span coverage: one window, doc-freq aggregate is partial+final") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.Dedup.dupSpanCoverage(docs)
    val plan = formatted(df)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.size == 1, s"expected exactly 1 Window (interval union), got ${wins.size}")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("IVF assignment is window-free: exactly one Window (final top-k) in the plan") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.execution.window.WindowExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    try {
      val df = graft.pipeline.Similarity.ivfTopK(
        emb, emb.filter(pmod(col("vec_id"), lit(50)) === 0))
      // the joined row_number() formulation put a per-vector window (a full
      // N×nlist shuffle) inside EVERY assignment; the literal-argmax plan
      // must keep the per-query top-k as the ONLY window left
      val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(wins.size == 1,
        s"expected exactly 1 Window (final top-k), got ${wins.size}:\n" +
          df.queryExecution.sparkPlan)
    } finally graft.pipeline.PipelineCaches.clear()
  }

  test("JSON extraction parses each row exactly once (one JsonToStructs per plan)") {
    // the Jackson parse is the dominant per-row cost; a pushed filter that
    // substitutes the from_json producer would evaluate it twice per row
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    for (name <- Seq("p_json", "p_json_profile")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val count = df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
      }.sum
      assert(count == 1,
        s"$name evaluates JsonToStructs $count times:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("persisted IVF probe read prunes to the probed list partitions") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = TestSpark.tempDir("graft_ivf_plan")
    try {
      graft.pipeline.Similarity.buildIvfIndex(emb, dir)
      // ONE query probing nprobe=2 lists: at any nlist >= 3 the scan must
      // read strictly fewer partitions than the index holds
      val q = emb.filter(pmod(col("vec_id"), lit(500)) === 0).limit(1)
      val df = graft.pipeline.Similarity.ivfTopKPersisted(q, dir, k = 3, nprobe = 2)
      val scans = df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
      }
      assert(scans.nonEmpty, s"no lists scan in:\n${df.queryExecution.sparkPlan}")
      val scan = scans.head
      assert(scan.partitionFilters.nonEmpty,
        s"probed lists read has no partition filters:\n$scan")
      val totalLists = new java.io.File(
          s"${graft.pipeline.Artifacts.live(spark, dir).get.dir}/lists").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("list_id="))
      val read = scan.selectedPartitions.partitionCount
      assert(read > 0 && read < totalLists,
        s"expected pruned read, got $read of $totalLists list partitions")

      // filtered ANN: the candidate predicate must reach the same scan as
      // a pushed data filter ON TOP of the partition pruning
      val filtered = graft.pipeline.Similarity.ivfTopKPersisted(
        q, dir, k = 3, nprobe = 2, candidateFilter = col("nid") > 100L)
      val fScan = filtered.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
      }.head
      assert(fScan.partitionFilters.nonEmpty)
      assert(fScan.metadata("PushedFilters").contains("GreaterThan(nid,100)"),
        s"candidate filter not pushed: ${fScan.metadata("PushedFilters")}")
    } finally graft.pipeline.PipelineCaches.clear()
  }

  test("bucketed adjacency index join shuffles only the probe side") {
    // disable auto-broadcast so the join would otherwise need BOTH sides
    // exchanged; the bucketed index side must come pre-partitioned
    val gsB = TpchGraph.session(spark, "/root/testdata/sf0.001")
    gsB.persistAdjIndex("PLACED", buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val df = gsB.cypher(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c.c_custkey AS k, o.o_orderkey AS ok;")
      val plan = df.queryExecution.sparkPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def hasIndexScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "placed_outgoing") => f }.nonEmpty
      // the bucketed scan must exist...
      assert(hasIndexScan(plan), s"no bucketed index scan in:\n$plan")
      // ...and NO shuffle may sit between it and its join: the bucketed
      // layout feeds the join pre-partitioned (probe sides still shuffle)
      val shuffledIndex = plan.collect {
        case e: ShuffleExchangeLike if hasIndexScan(e) => e }
      assert(shuffledIndex.isEmpty,
        s"index side got re-shuffled despite bucketing:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS placed_outgoing")
      spark.sql("DROP TABLE IF EXISTS placed_incoming")
    }
  }
}
