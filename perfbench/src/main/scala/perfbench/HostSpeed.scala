package perfbench

/** A fixed amount of CPU work that shares no code with the engine: each of
  * `threads` threads fills an array with pseudo-random ints and sorts it,
  * a few times over. Its wall time follows the speed that the host gives
  * this JVM at the moment, which on a shared host drifts by tens of percent
  * over minutes, and no change to the engine can move it. run.py scales the
  * run's times by it (see `CALIB_REF_S` there).
  */
object HostSpeed {
  val Ints: Int = 1 << 18
  val Rounds = 2

  @volatile private var sink = 0L

  private def work(seed: Long): Long = {
    val a = new Array[Int](Ints)
    var x = seed
    var sum = 0L
    var r = 0
    while (r < Rounds) {
      var i = 0
      while (i < a.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a(i) = x.toInt
        i += 1
      }
      java.util.Arrays.sort(a)
      sum += a(a.length / 2)
      r += 1
    }
    sum
  }

  /** Wall seconds of one sample on `threads` threads. */
  def sample(threads: Int): Double = {
    val t0 = System.nanoTime()
    val workers = Array.tabulate(threads) { i =>
      new Thread(() => sink = work(88172645463325252L + i))
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
