package perfbench

/** A fixed CPU probe: the same deterministic work (fill and sort a 64K
  * int array, [[Rounds]] times) on every core at once, timed by wall
  * clock. The harness runs it between pipeline runs, when Spark is idle,
  * so its time tracks how fast the host lets this machine run right then;
  * `run.py` scales each run's wall time by the probes around it. */
object Speed {
  val Rounds = 40
  @volatile private var sink = 0L

  private def kernel(seed: Int): Long = {
    val a = new Array[Int](1 << 16)
    var x = seed
    var acc = 0L
    var r = 0
    while (r < Rounds) {
      var i = 0
      while (i < a.length) { x = x * 1103515245 + 12345; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      acc += a(r & 0xffff)
      r += 1
    }
    acc
  }

  /** Wall seconds of one probe on `threads` threads. */
  def probe(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(i => new Thread(() => sink += kernel(i)))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
