package perfbench

import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.api.QueryApi
import graft.analytics.{Hclust1D, RigidFit}
import graft.flows.{EtlMain, RotRunner}
import graft.incremental.{Watermark, Watermarks}

object Workloads {
  /** Read-only LLM-data catalog queries from the sf1 heavy list, one per
    * substrate (minhash, components, pqQuantRows); all leave the index
    * root empty, and each one's DuckDB oracle runs in seconds at this size
    * (q50's pairwise oracle did not). */
  val CatalogQueries = Seq("q33_minhash_lsh", "q46_neardup_components", "q64_pq_adc")

  /** Each persisted family's build query, run on a fresh index root:
    * the first call builds the artifact, the second serves it. */
  val ArtifactQueries = Seq(
    "dedup" -> "q84_incremental_dedup",
    "media" -> "q101_incremental_media_dedup",
    "prepare" -> "q102_incremental_prepare",
    "pack" -> "q128_incremental_pack",
    "lexical" -> "q132_incremental_lex",
    "containment" -> "q179_contain_intake",
    "graph_ann" -> "q188_gann_intake",
    "pq" -> "q78_pq_index_build")

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  /** Complete rounds until the deadline has passed, and at least
    * `min` of them (a traced run needs a traced and an untraced one). */
  def rounds(deadlineNs: Long, min: Int)(round: Int => Seq[Op]): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    var r = 0
    while (r < min || System.nanoTime() < deadlineNs) { ops ++= round(r); r += 1 }
    ops.result()
  }
}
import Workloads._

/** The catalog workload: the read-only query list, round after round.
  * Warm-up runs every query once and writes its output for the DuckDB
  * hash-compare run.py makes after the run. */
final class Catalog(spark: SparkSession, runner: Runner, dir: String, out: String) extends Workload {
  def warmup(): Unit = {
    val sql = SparkEntry.oracleSql
    CatalogQueries.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$out/oracle/$q")
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $q failed: $e") }
      graft.Caches.release()
      spark.catalog.clearCache()
    }
    Json.write(s"$out/oracle/oracle_sql.json",
      Json.obj(CatalogQueries.filter(sql.contains).map(q => q -> Json.str(sql(q))): _*))
  }

  /** In a traced run, each query is traced in every other round, the
    * queries staggered so that traced and untraced ops share each round. */
  def run(deadlineNs: Long): Seq[Op] = rounds(deadlineNs, runner.minRounds) { r =>
    CatalogQueries.zipWithIndex.map { case (q, i) =>
      runner.op(q, runner.traces(r + i)) { ctx => runner.query(ctx, SparkEntry.queries(q)(spark, dir), collect = false); true }
    }
  }

  def gate(): Seq[(String, String)] = Nil // the DuckDB compare runs in run.py
}

/** The lookup workload: a closed loop of `callers` threads, each taking
  * every `callers`-th request of the seeded stream and blocking on its
  * gathered result before sending the next. */
final class Lookup(spark: SparkSession, runner: Runner, dir: String) extends Workload {
  private val callers = Main.Cores
  private val requests: IndexedSeq[(String, Seq[Long])] = {
    val line = """\{"kind": "([a-z_]+)", "ids": \[([0-9, ]*)\]\}""".r
    val src = scala.io.Source.fromFile(s"$dir/lookups.jsonl")
    try src.getLines().map {
      case line(k, ids) => k -> ids.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    }.toIndexedSeq finally src.close()
  }
  private val cycle = 15 // one request of every (kind, width) pair

  private def ids(xs: Seq[Long]): DataFrame = spark.createDataset(xs)(Encoders.scalaLong).toDF("custkey")

  private def build(kind: String, xs: Seq[Long]): DataFrame = kind match {
    case "raw_subquery" => QueryApi.glassRawData(spark, dir, ids(xs), subquery = true)
    case "raw_semijoin" => QueryApi.glassRawData(spark, dir, ids(xs), subquery = false)
    case "history" => QueryApi.glassHistory(spark, dir, ids(xs))
    case "data" => QueryApi.glassData(spark, dir, QueryApi.glassHistory(spark, dir, ids(xs)))
    case "missing" => QueryApi.missingIds(spark, dir, ids(xs))
  }

  private def request(i: Int): Op = {
    val (kind, xs) = requests(i % requests.size)
    // every other request is traced; the cycle's length is odd, so each
    // (kind, width) pair alternates between traced and untraced
    runner.op(kind, runner.traces(i)) { ctx => runner.query(ctx, build(kind, xs), collect = true); true }
  }

  /** The callers, each sending every `callers`-th request from `from`
    * until it has sent `min` cycles' worth and the deadline has passed. */
  private def loop(from: Int, min: Int, deadlineNs: Long): Seq[Op] = {
    val results = (0 until callers).map { c =>
      val buf = Seq.newBuilder[Op]
      val t = new Thread(() => {
        var i = from + c
        while (i < from + min * cycle || System.nanoTime() < deadlineNs) {
          buf += request(i)
          i += callers
        }
      })
      t.start()
      (t, buf)
    }
    results.flatMap { case (t, buf) => t.join(); buf.result() }
  }

  def warmup(): Unit = loop(requests.size - cycle, 1, 0L)

  def run(deadlineNs: Long): Seq[Op] = loop(0, runner.minRounds, deadlineNs)

  /** Both glassRawData strategies agree, and glassHistory's keys and
    * missingIds partition the request, on an id list of each width. */
  def gate(): Seq[(String, String)] = Seq(0, 5, 10).flatMap { i =>
    val (_, xs) = requests(i)
    def raw(subquery: Boolean) =
      QueryApi.glassRawData(spark, dir, ids(xs), subquery).collect().map(_.toString).sorted.toSeq
    val (sub, semi) = (raw(subquery = true), raw(subquery = false))
    val hist = QueryApi.glassHistory(spark, dir, ids(xs)).select("glass_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val miss = QueryApi.missingIds(spark, dir, ids(xs)).collect().map(_.getLong(0)).toSet
    Seq(
      s"lookup.raw_agree.$i" -> (if (sub == semi) "ok" else s"subquery ${sub.size} rows vs semijoin ${semi.size}"),
      s"lookup.partition.$i" -> (if ((hist & miss).isEmpty && (hist | miss) == xs.toSet) "ok"
        else s"history ${hist.size} + missing ${miss.size} vs ${xs.toSet.size} ids"))
  }
}

/** The ingest workload: daily replication, then ROT and AVM, over the
  * days of the seeded wide tool table; in a traced run, the persisted
  * families' build and serve calls on the fresh index root follow. */
final class Ingest(spark: SparkSession, runner: Runner, dir: String, out: String) extends Workload {
  private val tool = "t1"
  private val day0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val dv = spark.read.parquet(s"$dir/design_values.parquet")
  private val raw = spark.read.parquet(s"$dir/tool_$tool.parquet")
  // the shared index table: the glass clock
  private val index = raw.select("glassid", "tstamp")
  // the sink stores the measurement columns only: the drifted source's
  // extra column is dropped by schema reconciliation
  private val sinkCols = raw.columns.toSeq.filterNot(_ == "recipe_note")
  private val dayBytes = {
    val days = raw.select(to_date(col("tstamp"))).distinct().count()
    new File(s"$dir/tool_$tool.parquet").length().toDouble / days
  }

  /** Driver-side sites of every fault-free glass, by day: (glass,
    * measured x/y and design dx/dy per site). */
  private val glasses: Map[Int, Seq[(Long, Array[RigidFit.Site])]] = {
    val grid = dv.filter(col("product") === "A").collect()
      .map(r => r.getInt(1) -> (r.getDouble(2), r.getDouble(3))).toMap
    val xs = (1 to grid.size).map(i => s"plfn_al${i}_x")
    val ys = (1 to grid.size).map(i => s"plfn_al${i}_y")
    raw.filter(col("product") === "A").select((Seq("glassid", "tstamp") ++ xs ++ ys).map(col): _*)
      .collect().toSeq.flatMap { r =>
        val vals = (2 until r.length).map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
        if (vals.exists(_.isNaN)) None else {
          val day = ((r.getTimestamp(1).getTime - day0.getTime) / 86400000L).toInt
          val g = r.getString(0).hashCode.toLong
          val sites = (1 to grid.size).map { i =>
            RigidFit.Site(g, vals(i - 1), vals(grid.size + i - 1), grid(i)._1, grid(i)._2)
          }.toArray
          Some(day -> (g, sites))
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  private final class Lane(base: String) {
    val wm = new Watermarks(spark, s"$base/watermarks")
    wm.init(Seq(Watermark("EDC_Import", "index", day0, day0), Watermark("EDC_Import", tool, day0, day0),
      Watermark("ROT_Transform", tool, day0, day0), Watermark("AVM", tool, day0, day0)))
    val index = s"$base/index"
    val sink = s"$base/sink"
    val rot = RotRunner.RotOutputs(s"$base/rot/header", s"$base/rot/detail", s"$base/rot/error")
    val avm = RotRunner.RotOutputs(s"$base/avm/header", s"$base/avm/detail", s"$base/avm/error")
    /** Days replicated so far. */
    var days = 0
  }
  private lazy val warmLane = new Lane(s"$out/ingest-warm")
  private lazy val lane = new Lane(s"$out/ingest")
  /** In a traced run, an untraced lane that replicates the same days as
    * the traced one, so traced and untraced days do the same work. */
  private lazy val shadow = new Lane(s"$out/ingest-shadow")

  private def timed(body: => Unit): Long = {
    val t0 = System.nanoTime(); body; System.nanoTime() - t0
  }

  /** One day: `EtlMain.etl` (index and tool table), then ROT, then AVM,
    * then the direct analytics calls on the day's fault-free glasses. */
  private def day(l: Lane, day: Int, trace: Boolean): Op = runner.op("day", trace) { ctx =>
    val now = new Timestamp(day0.getTime + (day + 1) * 86400000L)
    val before = du(new File(l.sink))
    val (_, perTool) = ctx.phase("replicate") {
      EtlMain.etl(spark, index, l.index, Seq(EtlMain.ToolSource(tool, raw, sinkCols, l.sink)),
        l.wm, "EDC_Import", "index", now)
    }
    val rot = ctx.phase("rot")(EtlMain.rot(spark, raw, dv, l.wm, tool, "ROT_Transform", "EDC_Import", l.rot))
    val avm = ctx.phase("avm")(EtlMain.avm(spark, raw, l.wm, tool, "AVM", "ROT_Transform", l.avm))
    val gs = glasses.getOrElse(day, Nil)
    if (gs.nonEmpty) {
      ctx.extra("rigidfit_us") = timed(gs.foreach { case (g, s) => RigidFit.fitOne(g, s.iterator) }) / 1e3 / gs.size
      ctx.extra("hclust_us") = timed(gs.foreach { case (g, s) =>
        // one cluster per design row: the sites that share a dx
        Hclust1D.labelGlass(g, s.indices.map(i => (i.toLong + 1, s(i).dx + s(i).x, s(i).dy + s(i).y)),
          s.length / s.map(_.dx).distinct.length)
      }) / 1e3 / gs.size
    }
    ctx.extra("day_bytes") = (du(new File(l.sink)) - before).toDouble
    ctx.extra("user_bytes") = dayBytes
    l.days += 1
    perTool(tool).ok && rot == 1 && avm == 1
  }

  private val artifactRows = scala.collection.mutable.Map.empty[String, Seq[Seq[String]]]

  private def artifact(family: String, q: String): Op = runner.op(s"artifact:$family", trace = true) { ctx =>
    val root = new File(System.getProperty("graft.index.dir"))
    val before = du(root)
    val rows = runner.query(ctx, SparkEntry.queries(q)(spark, dir), collect = true)
    ctx.extra("root_growth") = (du(root) - before).toDouble
    artifactRows(family) = artifactRows.getOrElse(family, Nil) :+ rows.map(_.toString).toSeq.sorted
    true
  }

  def warmup(): Unit = {
    day(warmLane, 0, trace = false)
    // create the timed lanes' watermark tables before the timed region
    lane
    if (runner.rec.isDefined) shadow
  }

  /** One day per round; a traced run replicates each day on both lanes,
    * the traced lane first on even rounds and second on odd ones. */
  def run(deadlineNs: Long): Seq[Op] = rounds(deadlineNs, runner.minRounds) { r =>
    if (runner.rec.isEmpty) Seq(day(lane, r, trace = false))
    else if (r % 2 == 0) Seq(day(lane, r, trace = true), day(shadow, r, trace = false))
    else Seq(day(shadow, r, trace = false), day(lane, r, trace = true))
  }

  /** Each persisted family's build call then its serve call, on the
    * fresh index root. Traced runs only: too slow to fit beside the
    * days in an untraced run's time. */
  override def extra(): Seq[Op] =
    if (runner.rec.isEmpty) Nil
    else ArtifactQueries.flatMap { case (f, q) => Seq(artifact(f, q), artifact(f, q)) }

  /** The index and tool sinks hold exactly the source rows of the days
    * replicated; an artifact's serve call returns what its build call
    * returned. Fits and fault flags are checked by run.py against the
    * generator's truth. */
  def gate(): Seq[(String, String)] = {
    val end = new Timestamp(day0.getTime + lane.days * 86400000L)
    def same(path: String, source: DataFrame) = {
      val want = source.filter(col("tstamp") > day0 && col("tstamp") <= end)
      val got = spark.read.parquet(path)
      if (got.columns.toSeq == want.columns.toSeq && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
        "ok" else s"$path differs from its source rows"
    }
    val arts = artifactRows.toSeq.map { case (f, runs) =>
      s"ingest.converge.$f" -> (if (runs.distinct.size == 1) "ok" else s"$f: ${runs.size} calls gave ${runs.distinct.size} results")
    }
    Json.write(s"$out/ingest_days.json", lane.days.toString)
    Seq("ingest.sink.index" -> same(lane.index, index),
      "ingest.sink.tool" -> same(lane.sink, raw.select(sinkCols.map(col): _*))) ++ arts
  }
}
