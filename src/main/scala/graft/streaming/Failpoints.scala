package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Crash-injection points for the state tables' durability contracts.
  *
  * Every durable mutation inside [[AppendTable]] / [[BucketedTable]] /
  * [[SnapshotTable]] calls [[step]] immediately BEFORE performing the
  * mutation. In production nothing is armed and the call is one
  * thread-local read plus a branch. Under test, arming the k-th step
  * makes that mutation (and everything after it) never happen —
  * simulating a process kill at every file-op boundary, which is
  * exactly the matrix the tables' crash contracts promise to survive:
  * after ANY kill point, `read()` must observe either the full
  * pre-state or the full post-state, and a replay of the same
  * operation must converge to the post-state. StateCrashSpec sweeps k
  * over every point of every operation.
  *
  * Crash-AFTER-op-i is the same point as crash-BEFORE-op-i+1, and
  * crash after the final op is indistinguishable from completion, so
  * before-each-op points cover the whole boundary matrix.
  *
  * Arming (or installing a hook) creates a [[Context]] owned by the
  * calling thread: the armed step, one step counter and the
  * interleaving hooks. It is never
  * JVM-global (suites may share a JVM), and [[DriverOps.parallel]]
  * hands the caller's context to each pool thread for the duration of
  * that thread's op. So a sweep counts the steps of overlapped commits
  * on ONE counter, in whatever order production runs them: the k-th
  * step across all threads of the context is the kill, and every
  * later step of the context throws too, because a kill stops every
  * thread.
  */
object Failpoints {

  /** The injected kill. Extends Error, not Exception, so incidental
    * `catch NonFatal` blocks inside the code under test cannot
    * swallow the simulated crash.
    */
  final class Crash(val at: Int, val label: String)
      extends Error(s"injected crash at step $at ($label)")

  /** One arming: the armed step (0 = disarmed), the steps counted
    * across every thread the context was handed to, and the
    * interleaving hooks. The count passing the armed step is the
    * crashed flag: every step from the k-th on throws.
    */
  private[streaming] final class Context {
    @volatile private[Failpoints] var armedAt = 0
    private[Failpoints] val count = new AtomicInteger(0)
    private[Failpoints] val hooks = new ConcurrentHashMap[String, () => Unit]

    private[Failpoints] def step(label: String): Unit = {
      // removed before invocation, so a competing table operation
      // inside the hook does not recurse
      val hook = hooks.remove(label)
      if (hook != null) hook()
      val k = armedAt
      if (k > 0) {
        val c = count.incrementAndGet()
        if (c >= k) throw new Crash(c, label)
      }
    }
  }

  private val current = new ThreadLocal[Context]

  private def owned: Context = {
    val c = current.get
    if (c != null) c else { val n = new Context; current.set(n); n }
  }

  /** Arm the k-th (1-based) durable mutation of this thread's context
    * — its own steps and those of the ops it overlaps — to crash.
    */
  def arm(k: Int): Unit = {
    require(k >= 1)
    val c = owned
    c.count.set(0)
    c.armedAt = k
  }

  def disarm(): Unit = { val c = owned; c.armedAt = 0; c.count.set(0) }

  /** Test-only interleaving hook: run `f` ONCE when the named step is
    * next reached, on whichever thread of this context reaches it.
    * This is how the concurrent-writer specs inject "another writer
    * committed while this operation was in flight" at an exact
    * boundary.
    */
  def installHook(label: String)(f: => Unit): Unit =
    owned.hooks.put(label, () => f)

  def clearHooks(): Unit = owned.hooks.clear()

  /** This thread's context; null on a thread that never armed a sweep
    * or installed a hook (every production thread).
    */
  private[streaming] def context: Context = current.get

  /** Run `f` under `ctx` (null: none) on this thread, restoring the
    * thread's own context after.
    */
  private[streaming] def within[T](ctx: Context)(f: => T): T = {
    val prior = current.get
    current.set(ctx)
    try f finally current.set(prior)
  }

  /** Called by the tables before each durable mutation. */
  private[streaming] def step(label: String): Unit = {
    val c = current.get
    if (c != null) c.step(label)
  }
}
