package perfbench

/** Per-layer metrics of a traced run. Counts, times and bytes are means
  * per traced op (over the ops of the kinds the layer serves); peaks
  * and ratios are as named. A layer the workload does not drive reads 0. */
object Layers {
  val Families = Seq("dedup", "media", "prepare", "pack", "lexical", "containment", "graph_ann", "pq")
  val ApiKinds = Seq("history", "data", "raw_subquery", "raw_semijoin", "missing")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def apply(rec: Recorder, ops: Seq[Op], runner: Runner, leaked: Int): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    def c(o: Op): Option[OpCounters] = Option(rec.counters.get(rec.group(o.id)))
    def per(f: OpCounters => Double): Double = mean(traced.map(o => c(o).map(f).getOrElse(0.0)))
    val mb = 1024.0 * 1024.0
    val queryOps = traced.filter(o => o.kind.startsWith("q"))
    val apiOps = traced.filter(o => ApiKinds.contains(o.kind))
    val dayOps = traced.filter(_.kind == "day")
    val artOps = traced.filter(_.kind.startsWith("artifact:"))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    m("queries.build_ms") = mean((queryOps ++ artOps).map(_.phaseMs("build")))
    m("queries.build_jobs") = mean((queryOps ++ artOps).map(o => c(o).map(_.buildJobs.sum.toDouble).getOrElse(0.0)))
    m("plans.plan_ms") = mean(traced.filter(_.phases.exists(_._1 == "plan")).map(_.phaseMs("plan")))
    m("exec.cpu_s") = per(_.cpuNs.sum / 1e9)
    m("exec.run_s") = per(_.runMs.sum / 1e3)
    m("exec.gc_s") = per(_.gcMs.sum / 1e3)
    m("exec.shuffle_read_mb") = per(_.shuffleRead.sum / mb)
    m("exec.shuffle_write_mb") = per(_.shuffleWrite.sum / mb)
    m("exec.spill_mb") = per(_.spill.sum / mb)
    m("exec.input_mb") = per(_.input.sum / mb)
    m("exec.jobs") = per(_.jobs.sum.toDouble)
    m("exec.stages") = per(_.stages.sum.toDouble)
    m("exec.tasks") = per(_.tasks.sum.toDouble)
    m("exec.task_wait_s") = per(_.waitMs.sum / 1e3)
    m("exec.driver_gap_ms") = mean(traced.map(o => rec.driverGapMs(rec.group(o.id),
      o.extra.getOrElse("wall0_ms", 0.0).toLong, o.extra.getOrElse("wall1_ms", 0.0).toLong)))
    (Recorder.Substrates.map(_._1) :+ "other").foreach { s =>
      m(s"substrate.$s.cpu_s") = per(x => Option(x.substrateCpuNs.get(s)).map(_.sum / 1e9).getOrElse(0.0))
    }
    m("caches.persisted_peak") = runner.persistedPeak.get.toDouble
    m("caches.leaked") = leaked.toDouble
    ApiKinds.foreach(k => m(s"api.${k}_ms") = mean(apiOps.filter(_.kind == k).map(_.ms)))
    m("api.plan_ms") = mean(apiOps.map(_.phaseMs("plan")))

    m("incremental.replicate_ms") = mean(dayOps.map(_.phaseMs("replicate")))
    m("incremental.day_bytes_mb") = mean(dayOps.map(_.extra.getOrElse("day_bytes", 0.0) / mb))
    // replication time of the run's later half of days over its
    // earlier half: an O(table) sink rewrite makes it grow
    val rep = dayOps.map(_.phaseMs("replicate"))
    m("incremental.day_growth") =
      if (rep.size >= 2) mean(rep.drop(rep.size / 2)) / mean(rep.take(rep.size / 2)) else 0.0
    m("flows.rot_ms") = mean(dayOps.map(_.phaseMs("rot")))
    m("flows.avm_ms") = mean(dayOps.map(_.phaseMs("avm")))
    m("analytics.rigidfit_us") = mean(dayOps.flatMap(_.extra.get("rigidfit_us")))
    m("analytics.hclust_us") = mean(dayOps.flatMap(_.extra.get("hclust_us")))

    // build vs serve is decided per call by whether it grew the index root
    val arts = ops.filter(_.kind.startsWith("artifact:"))
    def built(o: Op) = o.extra.getOrElse("root_growth", 0.0) > 0
    Families.foreach { f =>
      val mine = arts.filter(_.kind == s"artifact:$f")
      m(s"artifacts.$f.build_ms") = median(mine.filter(built).map(_.ms))
      m(s"artifacts.$f.serve_ms") = median(mine.filterNot(built).map(_.ms))
      m(s"artifacts.$f.bytes") = mine.map(_.extra.getOrElse("root_growth", 0.0)).sum
    }
    m("artifacts.build_ms") = median(arts.filter(built).map(_.ms))
    m("artifacts.serve_ms") = median(arts.filterNot(built).map(_.ms))
    // bytes the day's jobs wrote (sinks, outputs, watermark table) per
    // byte of source data the day ingested
    val written = dayOps.map(o => c(o).map(_.output.sum.toDouble).getOrElse(0.0)).sum
    val ingested = dayOps.map(_.extra.getOrElse("user_bytes", 0.0)).sum
    m("incremental.write_amp") = if (ingested > 0) written / ingested else 0.0

    // tracing cost: per kind, median traced op over median untraced op
    // of the same work (catalog and lookup alternate traced ops;
    // ingest replicates each day on a traced and an untraced lane;
    // artifact calls are all traced and have no untraced pair)
    val kinds = ops.map(_.kind).distinct.filterNot(_.startsWith("artifact:"))
    val pairs = kinds.flatMap { k =>
      val t = ops.filter(o => o.kind == k && o.traced).map(_.ms)
      val u = ops.filter(o => o.kind == k && !o.traced).map(_.ms)
      if (t.nonEmpty && u.nonEmpty) Some((median(t), median(u))) else None
    }
    m("trace.overhead_frac") =
      if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0
    m.toMap
  }
}
