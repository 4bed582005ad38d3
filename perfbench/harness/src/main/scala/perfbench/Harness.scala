package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Runs one workload's op list in a closed loop with one client and writes
  * every op's timing, check result and (when traced) layer readings to a
  * JSON file for `run.py`.
  *
  * `--setups n` sets up n times (session, preparation, warm-up ops) and
  * keeps the last session for the ops; each set-up time is reported. The
  * first set-up also starts the JVM and runs the cold warm-up list, so it
  * is the slowest and the median is a warm set-up. The timed
  * loop runs every op of the list: how many there are is fixed before the
  * run, never by how fast the ops go.
  * With `--trace 1`, tracing is on for the first, third, ... op of each kind
  * (and export format) and off for the others, so one run yields layer
  * readings for every kind and the tracing overhead.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = mapper.readTree(new File(a("ops")))
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val data = new File(a("data")).getAbsolutePath
    val traced = a("trace") == "1"

    val setupMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var w: Workload = null
    var s0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    for (_ <- 0 until a("setups").toInt) {
      if (spark != null) { spark.stop(); s0 = System.nanoTime() }
      spark = session(cores, work)
      tracer = new Tracer(spark)
      w = workload(spec.get("workload").asText, spark, data, a, work, tracer)
      val s1 = System.nanoTime()
      w.prepare()
      val s2 = System.nanoTime()
      val warmups = if (setupMs.isEmpty) Seq("cold_warmup", "warmup") else Seq("warmup")
      warmups.filter(spec.has).foreach(k =>
        spec.get(k).elements().asScala.foreach(op => w.run(op, w.warmupData).release()))
      val s3 = System.nanoTime()
      setupMs += (s3 - s0) / 1e6
      System.err.println(f"[perfbench] set-up: session ${(s1 - s0) / 1e6}%.0f ms, " +
        f"preparation ${(s2 - s1) / 1e6}%.0f ms, warm-up ${(s3 - s2) / 1e6}%.0f ms")
    }

    val ops = spec.get("ops")
    val out = new StringBuilder
    var spentNs = 0L
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    for (i <- 0 until ops.size) {
      val op = ops.get(i)
      val kindKey = op.get("kind").asText + op.path("format").asText("")
      if (traced) tracer.setOn(seen(kindKey) % 2 == 0)
      seen(kindKey) += 1
      tracer.begin(i)
      val t0 = System.nanoTime()
      val res = Try(w.run(op, data))
      val t1 = System.nanoTime()
      spentNs += t1 - t0
      val layers = tracer.end(i, t0, t1, w.scanned(op))
      val c0 = System.nanoTime()
      val err = res match {
        case Failure(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Success(d) => Try(d.check()) match {
          case Success(r) => r
          case Failure(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      res.foreach(d => Try(d.release()))
      val c1 = System.nanoTime()
      err.foreach(e => System.err.println(s"[perfbench] op $i (${op.get("key").asText}) failed: $e"))
      val rec = mapper.createObjectNode()
      rec.put("i", i).put("kind", op.get("kind").asText).put("ms", (t1 - t0) / 1e6)
        .put("check_ms", (c1 - c0) / 1e6)
        .put("ok", err.isEmpty).put("traced", tracer.isOn).put("repeat", op.has("repeat"))
        .put("rows", res.map(_.rows).getOrElse(-1L))
      Seq("format", "family").filter(op.has).foreach(k => rec.put(k, op.get(k).asText))
      err.foreach(rec.put("error", _))
      res.foreach(d => d.extra.foreach { case (k, v) => rec.put(k, v) })
      val lay = rec.putObject("layers")
      layers.foreach { case (k, v) => lay.put(k, v) }
      out.append(if (out.isEmpty) "" else ",").append(mapper.writeValueAsString(rec))
    }

    // What the program still holds once every op is done: heap in use after
    // a full collection, taken again once Spark's context cleaner has
    // dropped the blocks and shuffles of the last op's collected plans.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val probe = mapper.createObjectNode()
    if (traced && spec.get("workload").asText == "catalog") openProbe(spark, data, probe)
    tracer.setOn(false)

    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)
    val pw = new PrintWriter(a("out"))
    try {
      pw.print(s"""{"setup_ms":${setupMs.mkString("[", ",", "]")},""" +
        s""""cores":$cores,"timed_ms":${spentNs / 1e6},""" +
        s""""rss_peak_kb":$hwmKb,"heap_live_bytes":$liveHeap,"probe":${mapper.writeValueAsString(probe)},"ops":[$out],"spans":[""")
      pw.print(tracer.spans.sortBy(_.startNs).map { s =>
        s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
      }.mkString(","))
      pw.print("]}")
    } finally pw.close()
    spark.stop()
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(name: String, spark: SparkSession, data: String,
                       a: Map[String, String], work: String, t: Tracer): Workload =
    name match {
      case "catalog" => new Catalog(spark, data, work, t)
      case "fake" => new Fake
      case "corpus" => new Corpus(spark, data, new File(a("warm-data")).getAbsolutePath,
        mapper.readTree(new File(a("pins"))), t)
    }

  /** The re-anchor reading on table opens: a `Tables` open (schema
    * inferred by a job) against the same parquet opened with its schema
    * declared. Median of 9 each, plus the jobs each form starts. */
  private def openProbe(spark: SparkSession, data: String, probe: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val path = s"$data/lineitem.parquet"
    val schema = spark.read.parquet(path).schema
    def median(f: => Unit): Double = {
      val xs = (1 to 9).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }.sorted
      xs(xs.length / 2)
    }
    def jobs(f: => Unit): Int = {
      val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      f
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
    }
    probe.put("open_infer_ms", median(graft.Tables(spark, data, "lineitem")))
    probe.put("open_declared_ms", median(spark.read.schema(schema).parquet(path)))
    probe.put("open_infer_jobs", jobs(graft.Tables(spark, data, "lineitem")))
    probe.put("open_declared_jobs", jobs(spark.read.schema(schema).parquet(path)))
  }
}
