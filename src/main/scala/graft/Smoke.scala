package graft
import org.apache.spark.sql.SparkSession
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, dir).count()
        println(f"OK   $name%-20s ${(System.nanoTime()-t0)/1e9}%8.2fs rows=$n")
      } catch { case e: Throwable =>
        println(s"FAIL $name: ${String.valueOf(e.getMessage).take(200)}")
      }
      System.out.flush()
    }
    spark.stop()
  }
}
