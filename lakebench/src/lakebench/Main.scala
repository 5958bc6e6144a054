package lakebench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One workload: generates its inputs from the seed, loads the base table,
  * runs the timed phase and checks every result against its own model. */
trait Workload {
  /** Write the inputs under `dir` and build the expected results. Runs
    * before the Spark session exists. */
  def generate(dir: Path): Unit
  /** Read the inputs and load the base table (part of set-up). */
  def setup(spark: SparkSession, warehouse: Path): Unit
  /** The first, untimed part of the plan (part of set-up). It makes every
    * kind of call the timed phase makes, so that no timed call is the
    * first of its kind. */
  def warmUp(check: Seq[String] => Unit): Unit
  /** The timed phase: whole rounds of the same calls. */
  def run(rec: Recorder, check: Seq[String] => Unit): Unit
  /** Untimed checks of the final state. */
  def finish(rec: Recorder, check: Seq[String] => Unit): Unit
  /** Bytes of the table's live files. */
  def tableBytes: Long
  /** Per-layer figures only this workload can take (from its tables). */
  def layerExtras(rec: Recorder): Map[String, Double]
}

object Main {
  /** Spark cores: 3 leaves one core of a 4-vCPU host to the JVM's own
    * threads (GC, JIT, the listener bus). */
  val Cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))

  /** Any exception outside the timed calls (generation, set-up, checks)
    * ends the process at once with no result; Spark's own threads would
    * otherwise keep the JVM alive. */
  def main(argv: Array[String]): Unit =
    try { run(argv); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  val Workloads: Seq[String] = Seq("cdc_cow", "mor_serve", "curation")

  def workload(name: String, seed: Long, seconds: Int): Workload = name match {
    case "cdc_cow" => new CdcCow(seed, seconds)
    case "mor_serve" => new MorServe(seed, seconds)
    case "curation" => new Curation(seed, seconds)
  }

  /** The run's Spark session; its tables live under `work`/warehouse. */
  def session(work: Path): SparkSession = {
    val spark = graft.Session.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.gcat", "graft.sql.GraftTableCatalog")
      .config("spark.sql.catalog.gcat.warehouse", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val wl = workload(a("workload"), seed, seconds)
    val errors = ArrayBuffer[String]()
    val check: Seq[String] => Unit = es => {
      es.foreach(e => System.err.println(s"CHECK FAILED: $e")); errors ++= es
    }
    val g0 = System.nanoTime()
    wl.generate(work.resolve("input"))
    val g1 = System.nanoTime()
    val spark = session(work)
    val rec = new Recorder(trace)
    rec.install(spark.sparkContext)
    val g2 = System.nanoTime()
    wl.setup(spark, work.resolve("warehouse"))
    val g3 = System.nanoTime()
    wl.warmUp(check)
    System.err.println(f"SETUP generate ${(g1 - g0) / 1e9}%.2f s, session " +
      f"${(g2 - g1) / 1e9}%.2f s, base load ${(g3 - g2) / 1e9}%.2f s, " +
      f"warm-up ${(System.nanoTime() - g3) / 1e9}%.2f s")

    // every run starts its timed phase from the same, collected heap, so
    // collections fall at the same points of the phase
    System.gc()
    val gc0 = gcMs()
    rec.phaseStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try wl.run(rec, check)
    catch {
      case e: Throwable =>
        rec.failed += 1
        System.err.println("OPERATION FAILED:")
        e.printStackTrace()
    }
    rec.phaseS = (System.nanoTime() - t0) / 1e9
    rec.phaseEndMs = System.currentTimeMillis()
    val gcS = (gcMs() - gc0) / 1e3
    if (rec.failed == 0) wl.finish(rec, check)

    val e2e = endToEnd(rec, wl)
    System.err.println(s"END_TO_END unscaled ${json(e2e)}, host passes " +
      f"${Host.samples.size}, scale ${Host.scale(rec.phaseStartMs)}%.4f")
    val layer = if (trace) perLayer(spark, rec, wl, gcS) else Map.empty[String, Double]
    if (trace) writeSpans(work.resolve("spans.json"), rec)
    val out = new StringBuilder
    // a failed call ends the timed phase and skips the final checks, so
    // such a run has not shown its outputs to be right
    out ++= s"""{"correct": ${errors.isEmpty && rec.failed == 0}, """
    out ++= s""""attempted": ${rec.attempted}, """
    out ++= s""""failed": ${rec.failed}, "phase_start_ms": ${rec.phaseStartMs}, """
    out ++= s""""host_scale": ${Host.scale(rec.phaseStartMs)}, "end_to_end": ${json(scaled(rec, e2e))}, """
    out ++= s""""per_layer": ${json(layer)}}"""
    Files.write(work.resolve("result.json"), out.toString.getBytes("UTF-8"))
    try spark.stop() catch { case e: Throwable => e.printStackTrace() }
  }

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val s = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": $s""" }.mkString("{", ", ", "}")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The end-to-end timings at the reference host's speed (see [[Host]]). */
  private def scaled(rec: Recorder, e2e: Map[String, Double]): Map[String, Double] = {
    val k = Host.scale(rec.phaseStartMs)
    e2e.map {
      case (m @ ("run_s" | "service_s"), v) => m -> v * k
      case (m @ ("write_rows_per_s" | "read_ops_per_s"), v) => m -> v / k
      case kv => kv
    }
  }

  /** Each metric is a median over the timed phase's rounds (or, for
    * writes, over its write calls, which are all of one kind and size), so
    * a round that a stall of the host slowed does not move it. A round's
    * reads are a fixed mix, so its read rate is a mean over the mix. */
  private def endToEnd(rec: Recorder, wl: Workload): Map[String, Double] = {
    val rounds = rec.rounds
    def perRound(f: Seq[Span] => Double) = Stats.median(rounds.map(r => f(r._2)))
    def of(ss: Seq[Span], kind: String) = ss.filter(_.kind == kind)
    Map(
      "run_s" -> Stats.median(rounds.map(_._1.durS)),
      "write_rows_per_s" -> Stats.median(rec.timed("write").map(s =>
        s.counts.getOrElse("rows", 0.0) / s.durS)),
      "read_ops_per_s" -> perRound { ss =>
        val reads = of(ss, "read"); reads.size / reads.map(_.durS).sum },
      "service_s" -> perRound(ss => of(ss, "service").map(_.durS).sum),
      "table_bytes" -> wl.tableBytes.toDouble,
      "peak_rss_mb" -> peakRssMb())
  }

  /** Every per-layer metric the benchmark declares; a layer that a
    * workload does not exercise reads 0. */
  val LayerNames: Seq[String] = Seq(
    "ingest.apply_s", "ingest.jobs_per_batch", "ingest.commits_per_batch",
    "core.commit_s", "core.jobs_per_commit", "core.tasks_per_commit",
    "core.task_cpu_s_per_commit", "core.shuffle_bytes_per_commit",
    "core.bytes_written_per_input_byte", "core.files_rewritten_per_commit",
    "core.timeline_read_s", "core.live_files", "core.compaction_s",
    "core.cluster_s", "core.clean_s", "core.snapshot_read_s",
    "core.incremental_read_s", "core.read_bytes_per_row_returned",
    "sql.plan_s", "sql.exec_s", "sql.jobs_per_query", "sql.point_s",
    "sql.range_s", "sql.agg_s", "sql.ro_agg_s", "sql.rows_read_per_row_returned",
    "operators.dedup_exact_s", "operators.dedup_fuzzy_s",
    "operators.dedup_fuzzy_shuffle_bytes", "operators.index_build_s",
    "operators.index_build_jobs", "operators.search_s", "operators.search_jobs",
    "operators.recall_at_10",
    "process.spark_jobs", "process.task_cpu_s", "process.cpu_busy_ratio",
    "process.gc_s", "process.host_pass_s")

  private def perLayer(spark: SparkSession, rec: Recorder, wl: Workload,
      gcS: Double): Map[String, Double] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val extras = wl.layerExtras(rec) // adds the commit intervals as spans
    val spans = rec.measured
    val (work, total) = rec.listener.get.attribute(spans, rec.phaseStartMs, rec.phaseEndMs)
    def of(name: String) = rec.measured(name)
    def w(s: Span) = work.getOrElse(s.id, Work())
    def med(name: String) = Stats.median(of(name).map(_.durS))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perSpan(name: String, f: Work => Double) = mean(of(name).map(s => f(w(s))))
    def cnt(ss: Seq[Span], k: String) = ss.map(_.counts.getOrElse(k, 0.0)).sum
    val sqlSpans = Seq("sql.point", "sql.range", "sql.agg", "sql.ro_agg").flatMap(of)
    val incr = of("core.incremental_read")
    val commits = of("core.commit")
    val base = Map(
      "ingest.apply_s" -> med("ingest.apply"),
      "ingest.jobs_per_batch" -> perSpan("ingest.apply", _.jobs),
      "core.commit_s" -> med("core.commit"),
      "core.jobs_per_commit" -> perSpan("core.commit", _.jobs),
      "core.tasks_per_commit" -> perSpan("core.commit", _.tasks.toDouble),
      "core.task_cpu_s_per_commit" -> perSpan("core.commit", _.cpuS),
      "core.shuffle_bytes_per_commit" -> perSpan("core.commit", _.shuffleBytes.toDouble),
      "core.files_rewritten_per_commit" -> mean(commits.map(_.counts("removed"))),
      "core.timeline_read_s" -> med("core.timeline_read"),
      "core.live_files" -> Stats.median(of("core.timeline_read").map(_.counts("live_files"))),
      "core.compaction_s" -> Stats.median(
        of("core.compaction").filter(_.counts.getOrElse("fired", 0.0) > 0).map(_.durS)),
      "core.cluster_s" -> med("core.cluster"),
      "core.clean_s" -> med("core.clean"),
      "core.snapshot_read_s" -> med("core.snapshot_read"),
      "core.incremental_read_s" -> med("core.incremental_read"),
      "core.read_bytes_per_row_returned" ->
        incr.map(w(_).inputBytes.toDouble).sum / cnt(incr, "rows_out").max(1),
      "sql.plan_s" -> Stats.median(sqlSpans.map(_.counts("plan_s"))),
      "sql.exec_s" -> Stats.median(sqlSpans.map(s => s.durS - s.counts("plan_s"))),
      "sql.jobs_per_query" -> mean(sqlSpans.map(w(_).jobs.toDouble)),
      "sql.point_s" -> med("sql.point"),
      "sql.range_s" -> med("sql.range"),
      "sql.agg_s" -> med("sql.agg"),
      "sql.ro_agg_s" -> med("sql.ro_agg"),
      "sql.rows_read_per_row_returned" ->
        sqlSpans.map(w(_).inputRecords.toDouble).sum / cnt(sqlSpans, "rows_out").max(1),
      "operators.dedup_exact_s" -> med("operators.dedup_exact"),
      "operators.dedup_fuzzy_s" -> med("operators.dedup_fuzzy"),
      "operators.dedup_fuzzy_shuffle_bytes" ->
        perSpan("operators.dedup_fuzzy", _.shuffleBytes.toDouble),
      "operators.index_build_s" -> med("operators.index_build"),
      "operators.index_build_jobs" -> perSpan("operators.index_build", _.jobs),
      "operators.search_s" -> med("operators.search"),
      "operators.search_jobs" -> perSpan("operators.search", _.jobs),
      "process.spark_jobs" -> total.jobs.toDouble,
      "process.task_cpu_s" -> total.cpuS,
      "process.cpu_busy_ratio" -> total.cpuS / (rec.phaseS * Cores),
      "process.gc_s" -> gcS,
      "process.host_pass_s" -> Host.NominalS / Host.scale(rec.phaseStartMs))
    val all = base ++ extras
    LayerNames.map(n => n -> all.getOrElse(n, 0.0)).toMap
  }

  private def writeSpans(path: Path, rec: Recorder): Unit = {
    val lines = rec.spans.map { s =>
      val c = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "name": "${s.name}", "kind": "${s.kind}", """ +
        s""""parent": ${s.parent}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""dur_s": ${s.durS}, "counts": $c}"""
    }
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
