package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The benchmark JVM. run.py launches it once per run:
  *
  *   perfbench.Main <workload> <dataDir> <seconds> <trace 0|1> <outDir> <indexRoot> <warmRoot>
  *
  * It starts a session, warms the workload up against `warmRoot`, prints
  * `PERFBENCH READY`, runs the timed region against `indexRoot` for at
  * least `seconds`, runs the workload's correctness gate, and writes
  * `<outDir>/result.json` (ops, process CPU and peak RSS, per-layer
  * counters, gate verdicts) and, when traced, `<outDir>/spans.json`. */
object Main {
  /** The benchmark host's cores: Spark's local threads, its shuffle
    * partitions and the lookup workload's closed-loop callers. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, data, secs, trace, out, indexRoot, warmRoot) = args
    val traced = trace == "1"
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = if (traced) {
      val r = new Recorder(spark.sparkContext)
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None
    val runner = new Runner(spark, rec)
    val wl: Workload = workload match {
      case "catalog" => new Catalog(spark, runner, data, out)
      case "lookup"  => new Lookup(spark, runner, data)
      case "ingest"  => new Ingest(spark, runner, data, out)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    System.setProperty("graft.index.dir", warmRoot)
    wl.warmup()
    System.setProperty("graft.index.dir", indexRoot)
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    println("PERFBENCH READY")
    System.out.flush()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val timed = wl.run(t0 + (secs.toDouble * 1e9).toLong)
    val wallNs = System.nanoTime() - t0
    val cpuNs = os.getProcessCpuTime - cpu0
    val ops = timed ++ wl.extra()
    rec.foreach(_.drain())
    val leaked = math.max(0, spark.sparkContext.getPersistentRDDs.size - persisted0)
    val layers = rec.map(r => Layers(r, ops, runner, leaked)).getOrElse(Map.empty)
    val gate = wl.gate()
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "wall_ns" -> wallNs.toString,
      "cpu_ns" -> cpuNs.toString,
      "peak_rss_kb" -> peakRssKb.toString,
      "timed_ops" -> timed.size.toString,
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "kind" -> Json.str(o.kind), "ms" -> Json.num(o.ms), "ok" -> o.ok.toString,
        "traced" -> o.traced.toString,
        "phases" -> Json.obj(o.phases.map { case (p, ns) => p -> Json.num(ns / 1e6) }: _*),
        "extra" -> Json.obj(o.extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)))),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "gate" -> Json.obj(gate.map { case (k, v) => k -> Json.str(v) }: _*))
    Json.write(s"$out/result.json", json)
    rec.foreach(r => Json.write(s"$out/spans.json", Json.arr(r.spans.toArray(Array.empty[Span]).toSeq
      .sortBy(_.startNs).map(s => Json.obj(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "group" -> Json.str(s.group),
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))))
    spark.stop()
    println("PERFBENCH DONE")
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}

/** A workload: warm-up (outside the timed region), the timed loop, and
  * the correctness gate (outside the timed region). Gate entries are
  * `name -> "ok"` or `name -> <failure description>`. */
trait Workload {
  def warmup(): Unit
  def run(deadlineNs: Long): Seq[Op]
  /** Ops run after the timed region, for the per-layer metrics only. */
  def extra(): Seq[Op] = Nil
  def gate(): Seq[(String, String)]
}

/** Runs ops: a job group per op, a phase tag per Spark job, phase
  * timings always, spans and counters only for traced ops. In a traced
  * run the workloads leave part of the same work untraced (every other
  * query or request, or a second ingest lane), so the span and
  * attribution cost can be read off as `trace.overhead_frac`. */
final class Runner(spark: SparkSession, val rec: Option[Recorder]) {
  private val seq = new AtomicLong(0)
  /** Rounds a run makes at least: two when traced (one of each kind). */
  val minRounds: Int = if (rec.isDefined) 2 else 1
  /** Whether the `r`th op of a kind is traced: every other one in a
    * traced run. */
  def traces(r: Int): Boolean = rec.isDefined && r % 2 == 0
  /** Largest number of persisted RDDs seen at the end of any op. */
  val persistedPeak = new AtomicLong(0)

  final class Ctx(group: String, traced: Boolean, root: Long) {
    val phases = ArrayBuffer.empty[(String, Long)]
    val extra = scala.collection.mutable.Map.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(Recorder.PhaseKey, name)
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      phases += name -> (t1 - t0)
      if (traced) rec.foreach(_.add(Span(rec.get.newSpanId(), root, group, name, t0, t1)))
      r
    }
  }

  def op(kind: String, trace: Boolean)(body: Ctx => Boolean): Op = {
    val id = seq.incrementAndGet()
    val traced = trace && rec.isDefined
    val group = if (traced) rec.get.group(id) else s"u-$id"
    val root = rec.map(_.newSpanId()).getOrElse(0L)
    val ctx = new Ctx(group, traced, root)
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    val ok = try body(ctx) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    } finally {
      persistedPeak.accumulateAndGet(sc.getPersistentRDDs.size.toLong, math.max)
      graft.Caches.release()
      sc.clearJobGroup()
      sc.setLocalProperty(Recorder.PhaseKey, null)
    }
    val t1 = System.nanoTime()
    if (traced) rec.foreach { r =>
      r.add(Span(root, 0L, group, kind, t0, t1))
      ctx.extra("wall0_ms") = wall0.toDouble
      ctx.extra("wall1_ms") = System.currentTimeMillis().toDouble
    }
    Op(id, kind, t0, t1, ctx.phases.toSeq, ok, traced, ctx.extra.toMap)
  }

  /** The `build -> plan -> exec` phases of one query, through the
    * physical plan the plan phase produced (no re-planning in exec).
    * Returns the collected rows when `collect` is set. */
  def query(ctx: Ctx, build: => DataFrame, collect: Boolean): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val df = ctx.phase("build")(build)
    val qe = ctx.phase("plan") { val q = df.queryExecution; q.executedPlan; q }
    ctx.phase("exec") {
      SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
        if (collect) qe.executedPlan.executeCollect()
        else { qe.toRdd.foreach(_ => ()); Array.empty }
      }
    }
  }
}
