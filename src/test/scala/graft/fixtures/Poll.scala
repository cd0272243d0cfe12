package graft.fixtures

/** Test fixture: poll-until-timeout verification loop — the
  * orchestration helper of the reference's verifier
  * (verify_replication.py:71-98: re-check a batch's replication status
  * every `check_interval` seconds until `replication_complete` or
  * `timeout`).
  *
  * The loop is driver-side by construction (each poll runs one tiny
  * monitoring query); clock and sleep are injectable so the discipline
  * is testable without wall-clock waits. */
object Poll {

  /** Outcome of a poll loop: the satisfying value, or how many polls
    * ran before the deadline passed. */
  sealed trait Result[+T] { def isComplete: Boolean }
  final case class Complete[T](value: T, polls: Int) extends Result[T] {
    def isComplete = true
  }
  final case class TimedOut(polls: Int) extends Result[Nothing] {
    def isComplete = false
  }

  /** Evaluate `poll` every `intervalMs` until it returns Some (→
    * [[Complete]]) or `timeoutMs` elapses (→ [[TimedOut]]). The first
    * poll runs immediately; the deadline is checked before each sleep,
    * like the reference's `while time.time() - start < timeout`. */
  def waitFor[T](poll: () => Option[T], timeoutMs: Long, intervalMs: Long,
                 clock: () => Long = () => System.currentTimeMillis(),
                 sleep: Long => Unit = Thread.sleep): Result[T] = {
    require(intervalMs > 0, "intervalMs must be positive")
    val start = clock()
    var polls = 0
    while (true) {
      polls += 1
      poll() match {
        case Some(v) => return Complete(v, polls)
        case None =>
          if (clock() - start >= timeoutMs) return TimedOut(polls)
          sleep(intervalMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
