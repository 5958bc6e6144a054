package lakebench

import java.util.concurrent.{CountDownLatch, Executors, ThreadFactory}
import scala.collection.mutable.ArrayBuffer

/** The speed of the host while a run measures. On the shared 4-vCPU host
  * the benchmark was written on, whole runs took 25-40 % longer or shorter
  * from one quarter of an hour to the next, and up to 2.6 times longer
  * while the hypervisor kept the vCPUs from running for a quarter of their
  * time (/proc/stat's steal column). So before each timed call
  * the recorder times one pass of a fixed kernel that touches no graft or
  * Spark code, and the end-to-end timings are scaled to a host on which
  * that pass takes [[NominalS]]. A pass does, on the calling thread, a
  * sort long enough to measure the cores' speed, and then [[Waves]] waves
  * of short sorts on a pool of `Main.Cores` threads, waiting for each, as
  * a Spark job in a local session hands its tasks over: a taken vCPU
  * slows a program that hands work between threads more than one that
  * does not. Alone, the first part followed only part of such slowdowns,
  * and the second part twice as much as the program. A change to
  * graft does not move the pass, so it moves the scaled timings as it
  * moves the raw ones. */
object Host {
  /** Seconds of one pass on the reference host. */
  val NominalS = 0.02
  val Waves = 4
  private val (long, short) = {
    val r = new java.util.SplittableRandom(42)
    (Array.fill(1 << 17)(r.nextLong()), Array.fill(1 << 13)(r.nextLong()))
  }
  private lazy val pool = Executors.newFixedThreadPool(Main.Cores, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "lakebench-host"); t.setDaemon(true); t
    }
  })
  /** (wall-clock ms at the start, seconds) of every pass taken. */
  val samples = ArrayBuffer[(Long, Double)]()
  /** Wall seconds all passes took: what timed groups leave out. */
  var spentS = 0.0

  private def sorted(in: Array[Long]): Unit = {
    val a = in.clone()
    java.util.Arrays.sort(a)
    if (a(0) > a(a.length - 1)) throw new IllegalStateException("unsorted")
  }

  /** One pass: sort a copy of 2^17 fixed pseudo-random longs, then
    * `Waves` waves of one task per pool thread, each sorting a copy of
    * 2^13 of them. */
  def sample(): Unit = {
    val t0 = System.nanoTime()
    sorted(long)
    for (_ <- 0 until Waves) {
      val done = new CountDownLatch(Main.Cores)
      for (_ <- 0 until Main.Cores) pool.execute { () => sorted(short); done.countDown() }
      done.await()
    }
    val s = (System.nanoTime() - t0) / 1e9
    samples += System.currentTimeMillis() -> s
    spentS += s
  }

  /** Reference seconds per measured second over the passes taken from
    * `fromMs` on: below 1 when the host runs slower than the reference. */
  def scale(fromMs: Long): Double = {
    val xs = samples.collect { case (t, s) if t >= fromMs => s }
    if (xs.isEmpty) 1.0 else NominalS / (xs.sum / xs.size)
  }
}
