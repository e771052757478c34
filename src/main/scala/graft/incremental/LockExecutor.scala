package graft.incremental

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable

import graft.model.JobState

/**
 * ST4 — per-key ordered parallel execution: the reference's lock-DAG
 * (`multiprocessing/JobDagManager.java:22-69`, `ParallelJobExecutor`
 * 20 worker threads) re-expressed as a driver-side scheduler.
 *
 * Jobs run on a fixed worker pool (each job may itself launch distributed
 * Spark copy jobs — Spark schedules concurrent jobs from driver threads
 * natively). A job may start only when (a) none of its lock keys are held
 * and (b) no *earlier* (smaller-id) waiting job shares a key — preserving
 * per-object ordering while keeping cross-object parallelism. Renames
 * carry two keys (both table names), matching the reference's two
 * exclusive locks (`RenameTableTask.java:174-180`).
 */
object LockExecutor {

  def lockKeys(j: JobState): Seq[String] = {
    val primary = s"${j.db}.${j.table}"
    val rename = for (d <- j.renameToDb; t <- j.renameToTable) yield s"$d.$t"
    Seq(primary) ++ rename
  }

  /** Execute all jobs; returns (job, final status) in input id order, a
    * job that threw as `FAILED: <exception>`.
    * Jobs are keyed by position — one audit entry can legally yield
    * several jobs with the same id (ST8 emits one per table).
    *
    * Waits for ALL jobs by default: a partition copy at scale can
    * legitimately run for hours, and the ordered-scheduling invariant
    * plus the bounded pool guarantee progress, so there is nothing safe
    * to do at an arbitrary deadline. With `timeoutMillis` set (drain
    * deadline for tests / graceful shutdown), stragglers are
    * *interrupted* and reported RUNNING — never a false terminal state:
    * a RUNNING row is exactly what `StateStore.restoreRunnable` replays,
    * and the interrupt guarantees the first run is dead before any
    * replay can start. */
  def execute(jobs: Seq[JobState], workers: Int,
      timeoutMillis: Option[Long] = None)(
      runFn: JobState => String): Seq[(JobState, String)] = {
    if (jobs.isEmpty) return Seq.empty
    val indexed = jobs.sortBy(_.id).zipWithIndex
    val pending = mutable.ListBuffer(indexed: _*)
    val held = mutable.Set.empty[String]
    val results = new ConcurrentHashMap[Int, String]()
    val lock = new Object
    val pool = Executors.newFixedThreadPool(math.max(1, workers))
    val remaining = new java.util.concurrent.atomic.AtomicInteger(jobs.size)
    val done = new java.util.concurrent.CountDownLatch(1)

    def schedule(): Unit = lock.synchronized {
      // scan in id order; a key blocked by an earlier waiting job stays
      // blocked for later jobs too (ordering guarantee)
      val blockedKeys = mutable.Set.empty[String]
      val runnable = mutable.ListBuffer.empty[(JobState, Int)]
      val toRemove = mutable.Set.empty[Int]
      for ((j, idx) <- pending) {
        val keys = lockKeys(j)
        if (keys.forall(k => !held.contains(k) && !blockedKeys.contains(k))) {
          keys.foreach(held.add)
          runnable += ((j, idx))
          toRemove += idx
        } else {
          keys.foreach(blockedKeys.add)
        }
      }
      pending.filterInPlace { case (_, idx) => !toRemove.contains(idx) }
      runnable.foreach { case (j, idx) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val status =
              try runFn(j)
              catch { case e: Throwable => s"FAILED: $e" }
            results.put(idx, status)
            lock.synchronized { lockKeys(j).foreach(held.remove) }
            if (remaining.decrementAndGet() == 0) done.countDown()
            else schedule()
          }
        })
      }
    }

    schedule()
    val finished = timeoutMillis match {
      case None => done.await(); true
      case Some(ms) => done.await(ms, TimeUnit.MILLISECONDS)
    }
    if (finished) {
      pool.shutdown()
      indexed.map { case (j, idx) =>
        (j, Option(results.get(idx)).getOrElse(graft.model.JobStatus.Running))
      }
    } else {
      // snapshot BEFORE interrupting: an interrupt-induced exception in a
      // worker must not race its way into the results as a FAILED row
      val snapshot = new java.util.HashMap[Int, String](results)
      pool.shutdownNow()
      // wait for the workers to actually DIE, not just be interrupted: a
      // straggler stuck in non-interruptible I/O would otherwise keep
      // writing concurrently with its replay (or with the next chunk's
      // job on the same lock key), breaking the per-object ordering
      // invariant. The deadline bounds how long we wait for COMPLETION;
      // correctness still requires waiting for termination.
      while (!pool.awaitTermination(60, TimeUnit.SECONDS)) ()
      indexed.map { case (j, idx) =>
        (j, Option(snapshot.get(idx)).getOrElse(graft.model.JobStatus.Running))
      }
    }
  }
}
