package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** A fixed amount of engine-independent JVM work on `threads` threads at
  * once: each fills an array of seeded pseudo-random longs, sorts it and
  * folds it into a checksum. Its wall time tracks the speed the host's
  * cores run at while the benchmark runs, the same way a Spark stage of
  * `threads` tasks does, and nothing the engine's code does changes it. */
object Calibrate {
  val Longs = 1 << 19

  private def work(seed: Long): Long = {
    val a = new Array[Long](Longs)
    var x = seed | 1L
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    var h = 0L
    i = 0
    while (i < a.length) { h = h * 31 + a(i); i += 1 }
    h
  }

  /** Wall seconds of one round: `threads` sorts, started together. */
  def round(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map(t => (() => work(t + 1L)): Callable[Long])
      val t0 = System.nanoTime()
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }

  /** Wall seconds of each of `n` rounds. */
  def rounds(threads: Int, n: Int): Seq[Double] = Seq.fill(n)(round(threads))
}
