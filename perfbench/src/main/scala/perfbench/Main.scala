package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Options passed down by `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String, cores: Int, smoke: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt, m.get("smoke").contains("1"))
  }
}

/** What one workload section measured. End-to-end metrics are only
  * reported from untraced runs; layer metrics from the traced run. */
final class Section(val name: String) {
  var attempted = 0L
  var failed = 0L
  var setupS = 0.0
  /** End-to-end metrics as timed; `e2e` holds them at the reference
    * host speed (see `HostSpeed`). */
  val raw = mutable.LinkedHashMap.empty[String, Double]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]

  def scale(host: HostSpeed): Unit = if (host.all.nonEmpty) {
    raw.foreach { case (k, v) => e2e(k) = if (k.endsWith("_per_s")) host.rate(v) else host.time(v) }
    notes("probe_ms") = host.all
    notes("probe_median_ms") = host.medianMs
  }

  def toJson: String = Json.obj("name" -> name, "attempted" -> attempted, "failed" -> failed,
    "setup_s" -> setupS, "raw" -> raw.toMap, "e2e" -> e2e.toMap, "layers" -> layers.toMap,
    "notes" -> notes.toMap)
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, ledger: Ledger, opts: Opts, seconds: Double) {
  def tracer: Tracer = ledger.tracer
  val host = new HostSpeed(spark)
  def workDir(sub: String): String = {
    val d = new java.io.File(opts.work, sub)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Main {
  val Workloads: Seq[String] = Seq("stream_bulk", "stream_tail_dedup", "analytics_mix")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one workload section; its set-up time includes the session's
    * start, and its end-to-end metrics are scaled by its own probes. */
  private def runSection(name: String, ctx: Ctx, sessionS: Double): Section = {
    val sec = name match {
      case "stream_bulk" => StreamBulk.run(ctx)
      case "stream_tail_dedup" => StreamTail.run(ctx)
      case "analytics_mix" => AnalyticsMix.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    sec.raw.get("setup_s").foreach(v => sec.raw("setup_s") = v + sessionS)
    sec.scale(ctx.host)
    sec
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val t0 = System.nanoTime()
    var spark = session(o.cores, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(o.trace)
    var ledger = new Ledger(spark, tracer)
    val stamp = Map(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_s" -> sessionS)

    // Untraced: the named workload alone. Traced: every workload, so the
    // per-layer ledger is complete whichever workload names the run (the
    // stream sections for half the run length each, to bound the run),
    // then stream_bulk again at local[1] as the single-threaded baseline.
    val sections =
      if (!o.trace) ArrayBuffer(runSection(o.workload, Ctx(spark, ledger, o, o.seconds), sessionS))
      else Workloads.map { n =>
        val secs = if (n == "analytics_mix") o.seconds else o.seconds / 2
        runSection(n, Ctx(spark, ledger, o, secs), sessionS)
      }.to(ArrayBuffer)
    val rss = peakRssMb
    if (o.trace) {
      ledger.detach()
      spark.stop()
      spark = session(1, o.work)
      ledger = new Ledger(spark, tracer)
      sections += StreamBulk.runSingleThreaded(Ctx(spark, ledger, o, o.seconds))
    }
    val selfTimes = tracer.selfSeconds.map { case (k, v) => s"self.$k" -> v }

    val json = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "smoke" -> o.smoke, "stamp" -> stamp,
      "peak_rss_mb" -> rss,
      "sections" -> Json.Raw(Json.arr(sections.toSeq.map(_.toJson))),
      "self_times" -> selfTimes,
      "spans" -> Json.Raw(if (o.trace) tracer.toJson else "[]"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), json)
    spark.stop()
  }
}
