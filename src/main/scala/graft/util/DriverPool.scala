package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

import scala.collection.mutable
import scala.util.{Failure, Try}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

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
  * input order, and the first failure stops the rest.
  *
  * A Spark job's call site is the stack of the thread that starts it, and
  * a pool thread's stack ends at the pool. So each pooled task runs with
  * the caller's call site (Spark's `callSite.short`/`callSite.long` local
  * properties, restored after the task): its jobs and SQL executions name
  * the code that called the pool. A call site is one string per thread,
  * so those jobs do not also carry the task's own frames, as jobs of
  * tasks run serially do.
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
      val site = callerSite()
      val pool = Executors.newFixedThreadPool(math.min(threads, keys.size))
      try {
        val started = mutable.Map.empty[K, CompletableFuture[A]]
        keys.foreach { k =>
          val upstream = deps(k).flatMap(started.get)
          started(k) = CompletableFuture.allOf(upstream: _*)
            .thenApplyAsync[A](_ => withCallSite(site)(body(k)), pool)
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

  private type Site = (SparkContext, Seq[(String, String)])

  /** The calling thread's Spark context and call site, in Spark's own
    * form: the long form is the stack outward from the frame that called
    * the pool, `spark.callstack.depth` frames deep; the short form is
    * `<pool method> at <caller file>:<line>`. None without a session. */
  private def callerSite(): Option[Site] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map { spark =>
        val stack = Thread.currentThread.getStackTrace.toSeq
        val entry = stack.lastIndexWhere(_.getClassName == getClass.getName)
        val caller = stack.drop(entry + 1)
        val depth = System.getProperty("spark.callstack.depth", "20").toInt
        val short = caller.headOption.fold("<unknown>")(f =>
          s"${stack(entry).getMethodName} at " +
            s"${f.getFileName}:${f.getLineNumber}")
        (spark.sparkContext, Seq("callSite.short" -> short,
          "callSite.long" -> caller.take(depth).mkString("\n")))
      }

  private def withCallSite[A](site: Option[Site])(body: => A): A =
    site.fold(body) { case (sc, props) =>
      val prior = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally prior.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
}
