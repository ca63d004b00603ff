package graft.core

/** Background maintenance with at most one run in flight per key (a table
  * root, a feed dir) — async table services, as on a real lake: maintenance
  * never blocks ingest, one target's run cannot starve another's (a
  * JVM-global flag would), and a run that outlives its cadence does not
  * stack a second one on the same target. A failed run is reported; the
  * next trigger retries it.
  */
final class SingleFlight(what: String) {
  private val running = new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Run `body` on a daemon thread unless `key` has a run in flight; true
    * iff it started.
    */
  def start(key: String)(body: => Unit): Boolean = {
    val t = new Thread(() =>
      try body
      catch { case e: Throwable =>
        System.err.println(s"[graft] $what of $key failed (will retry later): $e")
      } finally { running.remove(key); () }, s"graft-$what")
    t.setDaemon(true)
    if (running.putIfAbsent(key, t) != null) return false
    t.start()
    true
  }

  def inFlight(key: String): Boolean = running.containsKey(key)

  /** Block until nothing is in flight, runs started meanwhile included. */
  def awaitAll(): Unit = while (!running.isEmpty) Thread.sleep(50)

  /** Join the runs of `keys` in flight now, bounded by `timeoutMs` overall,
    * so a wedged run surfaces as a loud warning instead of an indefinite
    * wait; it is left to finish in the background.
    */
  def await(keys: Iterable[String], timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    keys.foreach { k =>
      val t = running.get(k)
      if (t != null) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left > 0) t.join(left)
        if (t.isAlive)
          System.err.println(s"[graft] $what of $k still running after " +
            s"$timeoutMs ms — leaving it to finish in the background")
      }
    }
  }
}
