package lakebench

import java.nio.file.Paths

/** The training run of the build's class archive (see build.py): the
  * set-up and warm-up of every workload, in one JVM. A warm-up makes every
  * kind of call its timed phase makes, so the archive holds the classes a
  * run loads. */
object Train {
  def main(argv: Array[String]): Unit =
    try {
      Main.Workloads.foreach { name =>
        val work = Paths.get(argv(0), name)
        val wl = Main.workload(name, 0, 1)
        wl.generate(work.resolve("input"))
        val spark = Main.session(work)
        wl.setup(spark, work.resolve("warehouse"))
        wl.warmUp(errors => require(errors.isEmpty, errors.mkString("; ")))
        spark.stop()
      }
      System.exit(0)
    } catch { case e: Throwable => e.printStackTrace(); System.exit(1) }
}
