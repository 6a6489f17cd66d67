package graft.tools

import org.apache.spark.sql.SparkSession

/** Bench-hollowness audit: for each gate entry, compare count() (what
  * graft.Bench times — Catalyst prunes projections an Aggregate(count)
  * does not need) against full row materialization (toRdd.foreach). A
  * large ratio means the bench number misses the entry's real
  * projection cost — the p_dsir bug class, generalized. */
object HollowCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "p_fingerprint", "p_lang_id", "p_text_quality", "p_token_count",
      "p_pii", "p_lm_score", "p_mm_decode", "p_mm_resize", "p_mm_frames",
      "p_multimodal", "p_normalize", "p_quantize", "p_length_stats",
      "p_span_dedup", "p_chunk")
    val qs = graft.SparkEntry.queries
    for (n <- names; fn <- qs.get(n)) {
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // warm BOTH plans untimed — the pruned count() plan does not
      // compile the projections the full plan runs, so warming only it
      // would charge first-time codegen/JIT of those expressions to the
      // timed full pass and inflate the ratio (round-12 review); and
      // take min-of-2 like Bench's own min-of-samples discipline
      fn(spark, sfDir).count()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      graft.pipeline.PipelineCaches.clear(blocking = true)
      def best(f: => Unit): Double = (1 to 2).map { _ =>
        val v = t(f); graft.pipeline.PipelineCaches.clear(blocking = true); v
      }.min
      val tc = best { fn(spark, sfDir).count() }
      val tf = best { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()) }
      println(f"[hollow] $n%-16s count=$tc%6.2f s  full=$tf%6.2f s  ratio=${tf / math.max(tc, 0.001)}%5.1f")
    }
    spark.stop()
  }
}
