package graft.runtime

/** Lifespan hook (reference `lifespan` AsyncContextManager,
  * kaflow `applications.py:218-242`, `544-559`): startup work runs before
  * the body, shutdown work after it, even when the body throws. A
  * streaming query's own start/stop is `KafkaIO.run` and
  * `StreamingQuery.stop`.
  */
object Lifecycle {

  /** Run `body` inside a startup/shutdown bracket — the batch/driver-side
    * equivalent of the reference's lifespan context manager.
    */
  def withLifespan[A](startup: () => Unit, shutdown: () => Unit)(body: => A): A = {
    startup()
    try body finally shutdown()
  }
}
