package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted per scope. A scope is a driver-thread local
  * property set around each call into graft; Spark copies it onto every
  * job, and a stream's micro-batch thread inherits the value that was
  * set when the query started. */
final class Exec {
  var jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill = 0L
  def +=(o: Exec): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

final class ExecListener extends SparkListener {
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val byScope = new ConcurrentHashMap[String, Exec]()

  private def acc(scope: String): Exec = byScope.computeIfAbsent(scope, _ => new Exec)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.ScopeKey))).foreach { s =>
      acc(s).synchronized(acc(s).jobs += 1)
      e.stageIds.foreach(stageScope.put(_, s))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(e.stageInfo.stageId)).foreach(s => acc(s).synchronized(acc(s).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { s =>
      val a = acc(s)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Counters of every scope accepted by `keep`, summed. */
  def sum(keep: String => Boolean): Exec = {
    val out = new Exec
    byScope.asScala.foreach { case (s, a) => if (keep(s)) a.synchronized(out += a) }
    out
  }
}

/** One query execution's planning: first phase start, last phase end,
  * and the summed phase durations (ms). */
final case class Phases(startMs: Long, endMs: Long, ms: Long)

/** Planning time of each query execution, from the write's own
  * `QueryExecution.tracker` phases (analysis, optimization, planning). */
final class PlanListener extends QueryExecutionListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      seen.add(Phases(ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
        ph.map(p => p.endTimeMs - p.startTimeMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Removes and returns everything recorded so far. */
  def take(): Seq[Phases] = {
    val out = ArrayBuffer.empty[Phases]
    var p = seen.poll()
    while (p != null) { out += p; p = seen.poll() }
    out.toSeq
  }
}

/** One traced interval: name, start/end on the wall clock (ms, with
  * sub-ms precision), the span that caused it, and the iteration it
  * belongs to. */
final case class Span(id: Int, parent: Int, name: String, iteration: Long,
                      startMs: Double, endMs: Double)

/** Spans kept in memory and written out when the run ends. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var next = 1

  def nowMs: Double = Clock.nowMs

  /** Record an already-measured interval; returns its id (0 when off). */
  def add(name: String, parent: Int, iteration: Long, startMs: Double, endMs: Double): Int =
    if (!on) 0 else synchronized {
      val id = next; next += 1
      spans += Span(id, parent, name, iteration, startMs, endMs); id
    }

  /** Time `body` as a span when `traced`; the span id is passed in so
    * callees can hang children under it. */
  def span[T](name: String, parent: Int, iteration: Long, traced: Boolean = true)(body: Int => T): T =
    if (!on || !traced) body(0) else {
      val id = synchronized { val i = next; next += 1; i }
      val t0 = nowMs
      try body(id)
      finally synchronized { spans += Span(id, parent, name, iteration, t0, nowMs) }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time per span name (s): each span's duration minus the union
    * of its children's intervals, summed over spans of that name. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0.0, Double.NegativeInfinity)) { case ((tot, end), (a, b)) =>
            if (a >= end) (tot + (b - a), b)
            else if (b > end) (tot + (b - end), b)
            else (tot, end)
          }._1
        (s.endMs - s.startMs - covered) / 1000.0
      }.sum
    }
  }

  def toJson: String = Json.arr(all.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "iteration" -> s.iteration,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
}

/** Shared instruments of one run: the Spark listeners and the tracer. */
final class Ledger(val spark: SparkSession, val tracer: Tracer) {
  val exec = new ExecListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plans)

  def sc: SparkContext = spark.sparkContext
  def cores: Int = sc.defaultParallelism

  /** Run `body` with every Spark job it starts attributed to `scope`. */
  def scoped[T](scope: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Ledger.ScopeKey)
    sc.setLocalProperty(Ledger.ScopeKey, scope)
    try body finally sc.setLocalProperty(Ledger.ScopeKey, prev)
  }

  /** Wait until every listener event posted so far has been counted. */
  def settle(): Unit = PerfbenchBus.drain(sc)

  def detach(): Unit = {
    sc.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }
}

object Ledger {
  val ScopeKey = "perfbench.scope"
}

/** Wall clock in ms with sub-ms resolution: monotonic within the run,
  * anchored once to the epoch so it lines up with Spark's progress
  * timestamps. */
object Clock {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = base + System.nanoTime() / 1e6
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of an unweighted sample (NaN if empty). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Nearest-rank quantile of values given with repeat counts. */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    val rank = math.max(1L, math.ceil(q * total).toLong)
    var seen = 0L
    s.find { case (_, n) => seen += n; seen >= rank }.map(_._1).getOrElse(s.last._1)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => "[" + xs.map(value).mkString(",") + "]"
    case raw: Json.Raw => raw.json
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

/** The host's speed, measured through the run. A probe is a fixed piece
  * of driver work plus a fixed Spark job that calls no graft code (an
  * RDD job, so no Catalyst rule or graft extension touches it); its time
  * moves only when the host's speed does. Probes are taken between
  * operations, never during one, and do not count toward a run's length.
  * On a shared host the same code ran up to 2x slower for minutes at a
  * time, and the probe slowed with it, so the end-to-end metrics are
  * reported at a reference probe time: `time * RefMs / median probe`,
  * and rates the other way round. The unscaled figures and every probe
  * time are kept in the run record. */
final class HostSpeed(spark: SparkSession) {
  private val probes = ArrayBuffer.empty[Double]
  @volatile private var sink = 0L // keeps the probe's results live

  private def driverWork(): Long = {
    val rng = new java.util.Random(42)
    val xs: Array[AnyRef] = Array.fill(40000)(java.lang.Long.toString(rng.nextLong(), 36))
    java.util.Arrays.sort(xs)
    xs(xs.length / 2).hashCode.toLong
  }

  private def once(): Double = {
    val sc = spark.sparkContext
    val t = System.nanoTime()
    val d = driverWork()
    val r = sc.parallelize(0 until sc.defaultParallelism, sc.defaultParallelism).map { p =>
      var h = p.toLong
      var i = 0
      val buf = new java.util.HashMap[Long, Long]()
      while (i < 40000) {
        h = h * 6364136223846793005L + 1442695040888963407L
        buf.put(h & 4095, h)
        i += 1
      }
      h ^ buf.size
    }.reduce(_ ^ _)
    sink = r ^ d
    (System.nanoTime() - t) / 1e6
  }

  /** Take three probes back to back (after three untimed ones, the
    * first time): single probes spread too much for a steady median, and
    * the fastest of three missed the steal the operations around it saw. */
  def probe(): Unit = {
    if (probes.isEmpty) (0 until 3).foreach(_ => once())
    (0 until 3).foreach(_ => probes += once())
  }

  def all: Seq[Double] = probes.toSeq
  def medianMs: Double = Stats.median(all)
  /** A time (any unit) at the reference host speed. */
  def time(x: Double): Double = x * HostSpeed.RefMs / medianMs
  /** A rate at the reference host speed. */
  def rate(x: Double): Double = x * medianMs / HostSpeed.RefMs
}

object HostSpeed {
  /** The reference probe time, near the median on an idle 4-core host.
    * A fixed constant: it sets the scale, nothing else. */
  val RefMs = 50.0
}
