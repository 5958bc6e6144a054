package lakebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into graft, or a named interval the benchmark measured
  * around one (a commit taken from the table's timeline, a metadata probe).
  * `kind` is write | read | service for the calls the end-to-end metrics
  * add up, "group" for a round that holds calls, "probe" for intervals
  * that only the traced run records, "final" for the untimed final read.
  * `counts` carries what the call itself returned (rows in, rows out). */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startMs: Long, endMs: Long, durS: Double,
    counts: Map[String, Double] = Map.empty)

/** Spark work that fell inside a span: jobs started in its interval and the
  * tasks of their stages. */
final case class Work(jobs: Int = 0, tasks: Long = 0, cpuS: Double = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, shuffleBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuS + o.cpuS,
    inputBytes + o.inputBytes, inputRecords + o.inputRecords,
    shuffleBytes + o.shuffleBytes)
}

/** The benchmark's own listener: records each job's submission time and
  * stages, and sums task metrics per stage. Calls run one at a time, so a
  * job belongs to every span whose interval holds its start. */
final class WorkListener extends SparkListener {
  private final case class Job(time: Long, stages: Seq[Int])
  private final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var in = 0L; var inRec = 0L
    var shuffle = 0L
  }
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.time, e.stageIds)); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.in += m.inputMetrics.bytesRead
        a.inRec += m.inputMetrics.recordsRead
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Work of each job, keyed by its submission time. A stage that an
    * earlier job already ran is skipped by the later one, not re-run. */
  private def jobWork(): Seq[(Long, Work)] = {
    val seen = scala.collection.mutable.Set[Int]()
    jobs.asScala.toSeq.sortBy(_.time).map { j =>
      j.time -> j.stages.filter(seen.add).foldLeft(Work(jobs = 1)) { (acc, sid) =>
        Option(stages.get(sid)).fold(acc) { a =>
          acc + Work(0, a.tasks, a.cpuNs / 1e9, a.in, a.inRec, a.shuffle)
        }
      }
    }
  }

  /** Work of the jobs started inside each span's interval, and of all jobs
    * started between `fromMs` and `toMs`. */
  def attribute(spans: Seq[Span], fromMs: Long, toMs: Long): (Map[Int, Work], Work) = {
    val jw = jobWork()
    def in(lo: Long, hi: Long) =
      jw.collect { case (t, w) if t >= lo && t <= hi => w }.foldLeft(Work())(_ + _)
    (spans.map(s => s.id -> in(s.startMs, s.endMs)).toMap, in(fromMs, toMs))
  }
}

/** Times every call the workloads make into graft. Untraced runs only
  * keep the durations the end-to-end metrics need; traced runs also
  * register [[WorkListener]] and write the spans out at the end. */
final class Recorder(val trace: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var parent = -1
  var failed = 0
  var phaseStartMs = 0L
  var phaseEndMs = 0L
  var phaseS = 0.0
  val listener: Option[WorkListener] =
    if (trace) Some(new WorkListener) else None

  def install(sc: SparkContext): Unit = listener.foreach(sc.addSparkListener)

  /** Run `body` as one timed call and return its value. A write, read or
    * service call first takes a [[Host]] sample; a span's duration leaves
    * out the samples taken inside it. */
  def call[T](name: String, kind: String)(body: => T): T = {
    if (kind == "write" || kind == "read" || kind == "service") Host.sample()
    val id = spans.size
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val h0 = Host.spentS
    val up = parent
    parent = id
    spans += null // reserve the id; children append after it
    try body finally {
      val dur = (System.nanoTime() - n0) / 1e9 - (Host.spentS - h0)
      parent = up
      spans(id) = Span(id, name, kind, up, t0, System.currentTimeMillis(), dur)
      System.err.println(f"CALL $name $dur%.3f s")
    }
  }

  /** Attach counts to the most recent span named `name`. */
  def count(name: String, kv: (String, Double)*): Unit = {
    val i = spans.lastIndexWhere(s => s != null && s.name == name)
    spans(i) = spans(i).copy(counts = spans(i).counts ++ kv)
  }

  /** Record an interval measured elsewhere (e.g. from commit files). */
  def interval(name: String, startMs: Long, endMs: Long,
      counts: Map[String, Double] = Map.empty): Unit = {
    spans += Span(spans.size, name, "probe", -1, startMs, endMs,
      (endMs - startMs) / 1e3, counts)
  }

  def timed(kind: String): Seq[Span] =
    spans.toSeq.filter(s => s.kind == kind && inPhase(s))
  def inPhase(s: Span): Boolean =
    s.startMs >= phaseStartMs && s.endMs <= phaseEndMs
  /** The spans the per-layer metrics read: those of the timed phase, and
    * the untimed final read. */
  def measured: Seq[Span] =
    spans.toSeq.filter(s => s != null && (inPhase(s) || s.kind == "final"))
  def measured(name: String): Seq[Span] = measured.filter(_.name == name)
  /** The rounds of the timed phase: its top-level groups, each paired
    * with the calls made inside it. */
  def rounds: Seq[(Span, Seq[Span])] = {
    def inside(s: Span, g: Int): Boolean =
      Iterator.iterate(s.parent)(p => spans(p).parent).takeWhile(_ >= 0).contains(g)
    timed("group").filter(_.parent < 0).map(g =>
      g -> spans.toSeq.filter(s => s != null && inside(s, g.id)))
  }
  def attempted: Int =
    spans.count(s => Set("write", "read", "service").contains(s.kind))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
