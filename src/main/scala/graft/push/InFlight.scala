package graft.push

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TaskContext
import org.apache.spark.graft.tasks

/** Overlapped per-record connector calls inside one Spark task.
  *
  * The reference makes one external-function call per record
  * (`salesforce_bulk_load.sql:46`, `SFMC_FETCH_RESULTS` at
  * `marketing_cloud_data_extension_upload.sql:81`). A call's cost is
  * remote latency, not CPU, so a task keeps up to `window` calls in
  * flight on its own threads and hands the results on in input order.
  * Partitioning, the number of calls and the order of the output are
  * those of a plain per-record map.
  *
  * Lifetime: the input iterator is read on the task thread only; each
  * call runs with the task's `TaskContext` set. When a call throws, or
  * the task thread is interrupted, the calls still in flight are
  * cancelled and waited for, then the original cause is rethrown. A
  * task-completion listener does the same when the task ends for any
  * other reason, so no call of a task runs or starts after the task.
  */
private[push] object InFlight {

  /** Calls in flight per task: a constant, not a setting. On push_bulk
    * (100 us per call) window 16 takes the Salesforce log-append job
    * from ~2.7 s to 0.4-0.7 s; window 64 reads the same (SCALE.md).
    */
  val Window = 16

  /** `in` mapped through `f`, at most `window` calls at a time. Must be
    * consumed by the task that owns `in`.
    */
  def map[A, B](in: Iterator[A], window: Int)(f: A => B): Iterator[B] = {
    val ctx = TaskContext.get()
    val threadNo = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(window, (r: Runnable) => {
      val t = new Thread(r,
        s"push-call-${ctx.stageId()}.${ctx.partitionId()}-${threadNo.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    val pending = new java.util.ArrayDeque[Future[B]](window)
    def stop(): Unit = {
      pending.forEach(_.cancel(true))
      pending.clear()
      pool.shutdownNow()
      awaitStopped(pool)
    }
    ctx.addTaskCompletionListener[Unit](_ => stop())

    new Iterator[B] {
      private def fill(): Unit =
        while (pending.size < window && in.hasNext) {
          val a = in.next()
          pending.add(pool.submit(new Callable[B] {
            def call(): B = tasks.withContext(ctx)(f(a))
          }))
        }

      def hasNext: Boolean = { fill(); !pending.isEmpty }

      def next(): B = {
        fill()
        val head = pending.poll()
        if (head == null) throw new NoSuchElementException("no more records")
        try head.get()
        catch {
          case e: ExecutionException => stop(); throw e.getCause
          case e: InterruptedException => stop(); throw e
        }
      }
    }
  }

  /** Waits out every running call; an interrupt while waiting is kept
    * for the caller, not allowed to cut the wait short.
    */
  private def awaitStopped(pool: ExecutorService): Unit = {
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.SECONDS)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
