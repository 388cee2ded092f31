package graft.qbench

/** Open-loop generator: call `i` is due at `startNs + i * periodNs` whatever
  * happened to earlier calls, so a stall delays every later call and the
  * delay is charged to them. Latencies are taken from the due time, and
  * the generator's own lateness (start of the call minus due time) is
  * reported so a run whose generator could not keep its schedule is
  * visible as such.
  */
object OpenLoop {

  /** Time source; tests substitute a fake one. */
  trait Clock {
    def nanoTime(): Long
    def sleepUntil(ns: Long): Unit
  }

  object SystemClock extends Clock {
    def nanoTime(): Long = System.nanoTime()
    def sleepUntil(ns: Long): Unit = {
      var left = ns - System.nanoTime()
      while (left > 0) {
        if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L)
        else Thread.onSpinWait()
        left = ns - System.nanoTime()
      }
    }
  }

  /** One call: when it was due, when it started and when it returned. */
  final case class Call(i: Int, dueNs: Long, startNs: Long, endNs: Long) {
    def lateNs: Long = startNs - dueNs
    def latencyNs: Long = endNs - dueNs
  }

  /** Run `n` calls, one every `periodNs`, the first due at `startNs`. */
  def run(n: Int, startNs: Long, periodNs: Long, clock: Clock = SystemClock)(
      call: (Int, Long) => Unit): IndexedSeq[Call] =
    (0 until n).map { i =>
      val due = startNs + i * periodNs
      clock.sleepUntil(due)
      val s = clock.nanoTime()
      call(i, due)
      Call(i, due, s, clock.nanoTime())
    }
}
