package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed operation of a workload: a catalog query, an API request,
  * a day of ingest or an artifact call. Phases are the layer
  * boundaries the benchmark drives from outside (`build`, `plan`,
  * `exec`, or a flow step name) with their durations in nanoseconds. */
final case class Op(id: Long, kind: String, startNs: Long, endNs: Long,
                    phases: Seq[(String, Long)], ok: Boolean, traced: Boolean,
                    extra: Map[String, Double] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
  def phaseMs(p: String): Double = phases.collect { case (`p`, ns) => ns / 1e6 }.sum
}

/** A closed span: name, interval, the span that caused it, and the job
  * group shared by every span and Spark job of one op. */
final case class Span(id: Long, parent: Long, group: String, name: String,
                      startNs: Long, endNs: Long)

/** Spark counters for one op, summed over the jobs its job group ran. */
final class OpCounters {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, waitMs = new LongAdder
  val shuffleRead, shuffleWrite, spill, input, output = new LongAdder
  val buildJobs = new LongAdder
  /** executor CPU (ns) per substrate call site */
  val substrateCpuNs = new ConcurrentHashMap[String, LongAdder]()
  /** [submit, complete] wall intervals of the op's jobs, epoch ms */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** In-memory span recorder plus a SparkListener keyed by job group.
  *
  * Each traced op runs under its own job group (`op-<id>`) and tags its
  * Spark jobs with the phase that started them; the listener files every
  * job, stage and task under that group, so counters and spans of one op
  * join on the group id. Spans and counters stay in memory and are
  * written out once, when the run ends. */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val nextId = new AtomicLong(1)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[String, OpCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  def group(opId: Long): String = s"op-$opId"

  def newSpanId(): Long = nextId.getAndIncrement()
  def add(s: Span): Unit = spans.add(s)

  private def of(g: String): OpCounters = counters.computeIfAbsent(g, _ => new OpCounters)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty(Recorder.JobGroupKey)))
    g.filter(_.startsWith("op-")).foreach { gid =>
      val c = of(gid)
      c.jobs.increment()
      if (Option(j.properties.getProperty(Recorder.PhaseKey)).contains("build")) c.buildJobs.increment()
      jobGroup.put(j.jobId, gid)
      jobSubmitted.put(j.jobId, j.time)
      j.stageIds.foreach(s => stageGroup.put(s, gid))
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(j.jobId)).foreach { gid =>
      val t0 = Option(jobSubmitted.remove(j.jobId)).map(_.longValue).getOrElse(j.time)
      of(gid).jobIntervals.add((t0, j.time))
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    s.stageInfo.submissionTime.foreach(t => stageSubmitted.put(s.stageInfo.stageId, t))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val si = s.stageInfo
    stageSubmitted.remove(si.stageId)
    Option(stageGroup.remove(si.stageId)).foreach { gid =>
      val c = of(gid)
      c.stages.increment()
      val cpu = Option(si.taskMetrics).map(_.executorCpuTime).getOrElse(0L)
      c.substrateCpuNs.computeIfAbsent(Recorder.substrate(si.details), _ => new LongAdder).add(cpu)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(t.stageId)).foreach { gid =>
      val c = of(gid)
      c.tasks.increment()
      Option(stageSubmitted.get(t.stageId)).foreach { sub =>
        c.waitMs.add(math.max(0L, t.taskInfo.launchTime - sub.longValue))
      }
      val m = t.taskMetrics
      if (m != null) {
        c.runMs.add(m.executorRunTime)
        c.cpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.input.add(m.inputMetrics.bytesRead)
        c.output.add(m.outputMetrics.bytesWritten)
      }
    }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Wall ms of [t0, t1] (epoch ms) not covered by any job of the op. */
  def driverGapMs(gid: String, t0: Long, t1: Long): Double = {
    val iv = Option(counters.get(gid)).map(_.jobIntervals.asScala.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0 - covered).toDouble
  }
}

object Recorder {
  /** Local property naming the phase that started a job. */
  val PhaseKey = "perfbench.phase"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  /** Substrates executor CPU is charged to, matched against the graft
    * call site in a stage's creation stack (the stage-details method):
    * the first matching frame wins, anything else is `other`. */
  val Substrates: Seq[(String, String)] = Seq(
    "components" -> "Dedup$.components",
    "corpusVecs" -> "corpusVecs",
    "pqQuantRows" -> "pqQuantRows",
    "bandedHammingPairs" -> "bandedHammingPairs",
    "minhash" -> "minhash",
    "simhash" -> "simhash")

  def substrate(details: String): String =
    details.linesIterator.filter(_.contains("graft.")).map(_.toLowerCase)
      .flatMap(f => Substrates.find { case (_, needle) => f.contains(needle.toLowerCase) })
      .nextOption().map(_._1).getOrElse("other")
}
