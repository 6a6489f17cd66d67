package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Measure total shuffle bytes written (and records) for named gate
  * entries — the scale-relevant metric for serializer/layout changes that
  * are wall-neutral on local[N], where a "shuffle" is a memcpy through
  * the page cache instead of a NIC crossing (guide §1.3: at 100 TB the
  * network floor is proportional to bytes shuffled). Toggle Kryo with
  * GRAFT_KRYO=0|1:
  *
  * {{{ GRAFT_KRYO=0 sbt "runMain graft.tools.ShuffleBytes /root/testdata/sf0.1 g_pagerank" }}}
  */
object ShuffleBytes {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShuffleBytes <sfDir> <queryName>...")
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val useKryo = sys.env.getOrElse("GRAFT_KRYO", "1") == "1"
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (useKryo) b.config(graft.SparkTuning.kryoConf()) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bytes = new AtomicLong(0L)
    val recs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    for (name <- args.tail) {
      bytes.set(0L); recs.set(0L)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      // listener events are posted async; give the bus a moment to drain
      // (listenerBus.waitUntilEmpty is private[spark])
      Thread.sleep(1500)
      println(s"""SHUFFLE {"entry":"$name","kryo":$useKryo,""" +
        s""""bytes":${bytes.get},"records":${recs.get}}""")
      graft.pipeline.PipelineCaches.clear(blocking = true)
    }
    spark.stop()
  }
}
