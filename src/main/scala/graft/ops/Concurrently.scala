package graft.ops

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit,
  TimeoutException}

import org.apache.spark.sql.SparkSession

/** Overlap two INDEPENDENT eager job chains on one SparkSession (guide
  * §2.6: actions are only sequential because the driver calls them
  * sequentially; a second submitting thread lets the scheduler back-fill
  * the first chain's stage tails instead of idling the executors).
  *
  * Only for chains that are (a) mutually independent — neither reads the
  * other's output or shared mutable state — and (b) individually
  * deterministic, so overlapping cannot change any value, only the wall.
  * First use: a11b's two training sweeps (coarse-centroid k-means and
  * per-subspace PQ k-means both scan the corpus and meet only at the
  * search), each a serial chain of bounded jobs whose tails left most of
  * the session idle.
  *
  * Scheduling stays the session default (FIFO): chain `a` keeps priority
  * and `b` back-fills — the guide's recommended shape. Spark's local
  * properties (job group, description) live in an InheritableThreadLocal
  * cloned into child threads, so the spawned chain INHERITS the caller's
  * labels at spawn time (cancelling the caller's job group cancels the
  * helper chain too — the desired all-or-nothing contract); because the
  * clone is a snapshot, the helper can never clobber labels the caller
  * sets afterwards. The same snapshot makes the per-call job tag the
  * helper adds to itself invisible to the caller's own jobs.
  */
object Concurrently {

  /** Evaluate `a` on the calling thread while `b` runs on a helper
    * thread; returns both. If `a` fails, `b`'s Spark jobs are cancelled
    * through the per-call job tag and `b` is awaited before `a`'s error is
    * thrown, so none of `b`'s jobs outlives the call; `b`'s own failure is
    * rethrown unwrapped. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
    val fb = new FutureTask[B](() => { sc.addJobTag(tag); b })
    val t = new Thread(fb, "graft-concurrent-chain")
    t.setDaemon(true)
    t.start()
    val ra =
      try a
      catch { case e: Throwable =>
        // re-cancel on every poll: a chain that was between jobs at the
        // first cancel submits its next job untouched by it. b's failure
        // (the cancellation itself, usually) rides along as suppressed;
        // an interrupted wait keeps the interrupt status and stops waiting
        var waiting = true
        while (waiting) {
          sc.cancelJobsWithTag(tag, "Concurrently.both: a failed")
          waiting = try { fb.get(200L, TimeUnit.MILLISECONDS); false }
          catch {
            case _: TimeoutException => true
            case ee: ExecutionException => e.addSuppressed(ee.getCause); false
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              e.addSuppressed(ie)
              false
          }
        }
        throw e
      }
    val rb =
      try fb.get()
      catch { case e: ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
      }
    (ra, rb)
  }
}
