package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.{SparkEntry, Tables}

/** analytics_mix — closed loop, one client: passes over battery queries
  * in a seeded order, each query constructed, written to the noop sink,
  * then its caches cleared (the `BenchSession.timeQuery` recipe). */
object AnalyticsMix {
  val Short: Seq[String] = Seq("q03_agg_pricing_summary", "q12_asof_join", "q112_tpch_q6",
    "t1_window_tumbling", "l2_minhash_lsh", "l4_tfidf", "q121_zonemap_pruned_read_apply")
  val Heavy: Seq[String] = Seq("q44_pagerank")
  val Queries: Seq[String] = Short ++ Heavy
  val Families: Seq[String] = Seq("relational", "graph", "llm", "zone")
  /** About the length of one warm pass on 4 cores, in s. */
  val NominalPassS = 13.0

  def family(q: String): String =
    if (q == "q44_pagerank") "graph"
    else if (q.startsWith("l")) "llm"
    else if (q.startsWith("q121_")) "zone"
    else "relational"

  final case class Run(query: String, pass: Int, constructS: Double, writeS: Double,
                       planMs: Double, construct: Exec, exec: Exec, traced: Boolean) {
    def seconds: Double = constructS + writeS
  }

  private def clearCaches(ctx: Ctx): Unit = {
    ctx.spark.sharedState.cacheManager.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One timed execution: construct, then the noop write. */
  private def timed(ctx: Ctx, q: String, pass: Int, parent: Int, traced: Boolean): Run = {
    val led = ctx.ledger
    val tr = ctx.tracer
    val scope = s"mix.$q.$pass"
    tr.span("mix.query", parent, pass, traced) { qs =>
      val c0 = Clock.nowMs
      val df = tr.span("construct", qs, pass, traced) { _ =>
        led.scoped(s"$scope.construct")(SparkEntry.queries(q)(ctx.spark, ctx.opts.data))
      }
      val c1 = Clock.nowMs
      led.settle()
      led.plans.take()
      // a query built in a child session reports its planning there
      val own = df.sparkSession ne ctx.spark
      if (own) df.sparkSession.listenerManager.register(led.plans)
      val w0 = Clock.nowMs
      led.scoped(s"$scope.exec")(df.write.format("noop").mode("overwrite").save())
      val w1 = Clock.nowMs
      led.settle()
      if (own) df.sparkSession.listenerManager.unregister(led.plans)
      val phases = led.plans.take()
      val planMs = phases.map(_.ms).sum.toDouble
      if (tr.on && traced) {
        // plan = the write's tracker phases; exec = the rest of the write
        val pEnd = if (phases.isEmpty) w0 else math.min(w1, phases.map(_.endMs).max.toDouble)
        tr.add("plan", qs, pass, w0, math.max(w0, pEnd))
        tr.add("exec", qs, pass, math.max(w0, pEnd), w1)
      }
      clearCaches(ctx)
      Run(q, pass, (c1 - c0) / 1000, (w1 - w0) / 1000, planMs,
        led.exec.sum(_ == s"$scope.construct"), led.exec.sum(_ == s"$scope.exec"), traced)
    }
  }

  def run(ctx: Ctx): Section = {
    val sec = new Section("analytics_mix")
    val spark = ctx.spark
    val dir = ctx.opts.data
    val qs = Queries
    val tr = ctx.tracer

    // Set-up: fixture tables resolved three times (median counted), the
    // `_apply` bundles prewarmed, then one untimed pass that writes each
    // result for the oracle check (and warms the JIT).
    val resolves = (0 until 3).map { _ =>
      ctx.host.probe()
      val t = System.nanoTime()
      Tables.names.foreach(n => Tables(spark, dir, n).schema)
      (System.nanoTime() - t) / 1e9
    }
    val tp = System.nanoTime()
    val verifyErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    ctx.ledger.scoped("mix.prewarm") {
      qs.filter(_.endsWith("_apply")).foreach { q =>
        try SparkEntry.queries(q)(spark, dir)
        catch { case e: Throwable => verifyErrors(q) = s"prewarm: ${e.getMessage}" }
      }
    }
    val verifyDir = ctx.workDir("verify")
    val tv = System.nanoTime()
    ctx.ledger.scoped("mix.verify") {
      qs.foreach { q =>
        try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$verifyDir/$q")
        catch { case e: Throwable => verifyErrors.getOrElseUpdate(q, String.valueOf(e.getMessage)) }
        finally clearCaches(ctx)
      }
    }
    sec.setupS = Stats.median(resolves) + (System.nanoTime() - tp) / 1e9
    sec.notes("prewarm_s") = (tv - tp) / 1e9
    sec.notes("verify_s") = (System.nanoTime() - tv) / 1e9

    // Timed passes: one per `NominalPassS` of run length, rounded up, and
    // never fewer than two. A fixed count keeps every run's sample the
    // same mix of queries (counting passes by elapsed time made a slow
    // run time one pass where a fast one timed two), and one pass gave
    // twice the run-to-run spread of two. A traced run's two passes run
    // each query once traced and once untraced.
    val runs = ArrayBuffer.empty[Run]
    val threw = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val passes = math.max(2, math.ceil(ctx.seconds / NominalPassS).toInt)
    val cpu0 = Clock.cpuNs
    var pass = 0
    tr.span("mix", 0, 0) { root =>
      while (pass < passes) {
        val order = new scala.util.Random(ctx.opts.seed * 1000003L + pass).shuffle(qs)
        tr.span("mix.pass", root, pass) { ps =>
          order.foreach { q =>
            // each query is traced on alternate passes, half of them first,
            // so warm-up does not bias the overhead estimate
            val traced = (pass + qs.indexOf(q)) % 2 == 0
            ctx.host.probe()
            try runs += timed(ctx, q, pass, ps, traced)
            catch { case e: Throwable =>
              threw(q) += 1
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
              clearCaches(ctx)
            }
          }
        }
        pass += 1
      }
    }
    val cpuS = (Clock.cpuNs - cpu0) / 1e9
    ctx.ledger.settle()

    sec.attempted = pass.toLong * qs.size
    // a query whose verified result is wrong fails on every execution;
    // run.py adds those found by the oracle compare
    sec.failed = qs.map(q => if (verifyErrors.contains(q)) pass.toLong else threw(q)).sum
    sec.notes("passes") = pass
    sec.notes("query_s") = qs.map(q => q -> runs.filter(_.query == q).map(_.seconds).toSeq).toMap
    sec.notes("queries") = qs
    sec.notes("verify_dir") = verifyDir
    sec.notes("verify_errors") = verifyErrors.toMap
    sec.notes("threw") = threw.toMap
    sec.notes("oracle_sql") = qs.map(q => q -> SparkEntry.oracleSql(q)).toMap

    val lats = runs.map(_.seconds).toSeq
    sec.raw("setup_s") = sec.setupS
    sec.raw("ops_per_s") = runs.size / lats.sum
    // the queries' latencies differ by 10x, so their typical latency is
    // the geometric mean, as in TPC-H's power metric; the median of 16
    // executions of 8 queries moved with whichever query fell mid-list
    sec.raw("op_latency_ms") = math.exp(lats.map(math.log).sum / lats.size) * 1000

    val L = sec.layers
    L("mix.host_probe_ms") = ctx.host.medianMs
    L("mix.op_p99_ms") = Stats.quantile(lats, 0.99) * 1000
    L("mix.queries_per_min") = sec.raw("ops_per_s") * 60
    L("mix.cpu_ms_per_query") = cpuS * 1000 / math.max(1, runs.size)
    L("mix.short_query_p50_s") = Stats.median(runs.filter(r => Short.contains(r.query)).map(_.seconds).toSeq)
    val cores = ctx.ledger.cores
    Families.foreach { f =>
      val fr = runs.filter(r => family(r.query) == f).toSeq
      val per = math.max(1, pass).toDouble
      val ex = new Exec
      fr.foreach { r => ex += r.construct; ex += r.exec }
      val wall = fr.map(_.seconds).sum
      L(s"$f.construct_s") = fr.map(_.constructS).sum / per
      L(s"$f.construct_jobs") = fr.map(_.construct.jobs).sum / per
      L(s"$f.plan_ms") = fr.map(_.planMs).sum / per
      L(s"$f.exec_s") = fr.map(r => r.writeS - r.planMs / 1000).sum / per
      L(s"$f.jobs") = ex.jobs / per
      L(s"$f.stages") = ex.stages / per
      L(s"$f.tasks") = ex.tasks / per
      L(s"$f.task_s") = ex.taskMs / 1000.0 / per
      L(s"$f.busy_frac") = if (wall > 0) ex.taskMs / 1000.0 / (wall * cores) else 0.0
      L(s"$f.shuffle_read_bytes") = ex.shuffleRead / per
      L(s"$f.shuffle_write_bytes") = ex.shuffleWrite / per
      L(s"$f.spill_bytes") = ex.spill / per
    }
    qs.foreach { q =>
      val qr = runs.filter(_.query == q).toSeq
      L(s"$q.s") = Stats.median(qr.map(_.seconds))
      L(s"$q.jobs") = Stats.median(qr.map(r => (r.construct.jobs + r.exec.jobs).toDouble))
    }
    if (tr.on) {
      // every query ran once traced and once untraced
      val (on, off) = runs.toSeq.partition(_.traced)
      L("trace.mix_overhead_frac") = on.map(_.seconds).sum / off.map(_.seconds).sum - 1
    }
    sec
  }
}
