package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev diagnostics: `JobProbe [sfDir] q1 q2 …` — times each query and
  * reports the JOB/STAGE/TASK counts plus total shuffle bytes behind
  * it (guide §1: decide whether a slow query is data-bound or
  * overhead-bound before touching the plan). Runs each query twice on
  * a fresh cache; the second run separates steady-state cost from
  * first-touch codegen/planning.
  */
object JobProbe {
  def main(a: Array[String]): Unit = {
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Double)]()
    val t0Ref = new AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStartNs.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStartNs.remove(j.jobId)
        if (s != 0L) jobLog.add((j.jobId, (s - t0Ref.get) / 1e9,
          (System.nanoTime() - s) / 1e9))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    val dir = a.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = a.drop(1).toSeq
    spark.range(1000).selectExpr("sum(id)").collect() // JVM warmup
    spark.read.parquet(s"$dir/region.parquet").count()
    for (q <- qs; i <- 1 to 2) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      jobs.set(0); stages.set(0); tasks.set(0); shufR.set(0); shufW.set(0)
      jobLog.clear(); t0Ref.set(System.nanoTime())
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Bench.isolateAfter(spark, before)
      println(f"$q run$i rows=$n t=$dt%.2fs jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} shufR=${shufR.get / 1024}KB shufW=${shufW.get / 1024}KB")
      if (sys.env.contains("GRAFT_JOBLOG")) {
        import scala.jdk.CollectionConverters._
        val lg = jobLog.asScala.toSeq.sortBy(_._2)
        // gaps between a job's end and the next job's start = driver
        // think time (planning / collect processing / codegen)
        var prevEnd = 0.0
        lg.foreach { case (id, st, du) =>
          val gap = st - prevEnd
          prevEnd = st + du
          println(f"  job$id%-4d start=$st%6.2f dur=$du%6.2f gap=$gap%6.2f")
        }
      }
    }
    spark.stop()
  }
}
