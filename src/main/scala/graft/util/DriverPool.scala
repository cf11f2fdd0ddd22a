package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

import scala.collection.mutable
import scala.util.{Failure, Try}

/** Runs independent Spark actions from the driver at the same time, so
  * one action's driver-side work (planning, commit, catalog DDL) overlaps
  * another's tasks instead of leaving the cores idle — dbt's `threads`
  * concurrency.
  *
  * Each call owns a bounded pool, shut down before it returns. It never
  * borrows the caller's `ExecutionContext`: callers are often running on
  * a small pool themselves (a pipeline stage), and a nested blocking wait
  * on that pool can deadlock. A call waits for every task to settle, so
  * no task is still writing when it returns or throws; then it rethrows
  * the first failure in input order, with its original type. With one
  * thread (or one task) the tasks run serially on the calling thread, in
  * input order, and the first failure stops the rest. A Spark job
  * started in a pooled task takes its call site from the pool thread's
  * stack, which holds the task's own frames.
  */
object DriverPool {

  /** `body(k)` for every key, in parallel on up to `threads` threads; a
    * key starts only after every key in `deps(k)` completed. `keys` are
    * distinct and in topological order (dependencies first); a
    * dependency that is not among `keys` does not gate. A key whose
    * dependency failed does not run, and fails with that dependency's
    * error. Results come back in key order. */
  def gated[K, A](threads: Int, keys: Seq[K])(deps: K => Seq[K])(
      body: K => A): Seq[A] =
    if (threads <= 1 || keys.size <= 1) keys.map(body)
    else {
      require(keys.distinct.size == keys.size, "duplicate task keys")
      val pool = Executors.newFixedThreadPool(math.min(threads, keys.size))
      try {
        val started = mutable.Map.empty[K, CompletableFuture[A]]
        keys.foreach { k =>
          val upstream = deps(k).flatMap(started.get)
          started(k) = CompletableFuture.allOf(upstream: _*)
            .thenApplyAsync[A](_ => body(k), pool)
        }
        val settled = keys.map(k => Try(started(k).join()))
        settled.collectFirst { case Failure(e) => e }.foreach {
          case e: CompletionException if e.getCause != null =>
            throw e.getCause
          case e => throw e
        }
        settled.map(_.get)
      } finally pool.shutdown()
    }

  /** Every task in parallel on up to `threads` threads, none gated on
    * another; results in task order. */
  def all[A](threads: Int)(tasks: (() => A)*): Seq[A] =
    gated(threads, tasks.indices)(_ => Nil)(i => tasks(i)())
}
