package lakebench

import graft.core.GraftTable
import java.nio.file.{Files, Paths}

/** Row commits of the timed phase, taken from the table's timeline: a
  * commit's interval runs from its instant (drawn when the write plans)
  * to the time its commit file was published. */
object Commits {
  /** Traced runs only: after each write, time a timeline read (the
    * snapshot every next write starts from) and count the live files. */
  def probe(rec: Recorder, t: GraftTable): Unit = if (rec.trace) {
    rec.call("core.timeline_read", "probe") { t.log.snapshot() }
    rec.count("core.timeline_read", "live_files" -> t.log.liveFiles().size.toDouble)
  }

  /** Adds one `core.commit` interval per row commit; returns the bytes
    * those commits wrote. */
  def record(rec: Recorder, t: GraftTable): Double = {
    val cs = t.log.commits().filter(c => c.action == "commit" &&
      c.instant.toLong / 1000 >= rec.phaseStartMs &&
      c.instant.toLong / 1000 <= rec.phaseEndMs)
    cs.foreach { c =>
      val f = Paths.get(t.root, graft.core.CommitLog.Dir, s"${c.instant}.json")
      rec.interval("core.commit", c.instant.toLong / 1000,
        Files.getLastModifiedTime(f).toMillis,
        Map("removed" -> c.removed.size.toDouble,
          "written" -> c.added.map(_.bytes).sum.toDouble))
    }
    cs.map(_.added.map(_.bytes).sum.toDouble).sum
  }
}
