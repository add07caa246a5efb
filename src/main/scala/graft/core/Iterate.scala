package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Per-iteration metadata handed to both computables.
  *
  * Mirrors the reference's `MasterContext`/`WorkerContext` iteration fields
  * (guagua-core/src/main/java/ml/shifu/guagua/master/MasterContext.java:45-60)
  * minus all coordination state, which Spark owns here.
  */
final case class IterationContext(currentIteration: Int, totalIterations: Int, appId: String)

/** Worker-side step: fold one cached partition into a worker result, given the
  * previous master result.
  *
  * Re-expression of `WorkerComputable.compute(WorkerContext)`
  * (guagua-core/src/main/java/ml/shifu/guagua/worker/WorkerComputable.java:60-74).
  * A "worker" is a Dataset partition; the load-once contract of
  * `AbstractWorkerComputable` (worker/AbstractWorkerComputable.java:66-104) is
  * provided by persisting the input once before the loop.
  */
trait WorkerComputable[T, M, W] extends Serializable {
  def compute(records: Iterator[T], lastMaster: Option[M], ctx: IterationContext): W
}

/** Master-side step: fold all worker results into the next master result.
  *
  * Re-expression of `MasterComputable.compute(MasterContext)`
  * (guagua-core/src/main/java/ml/shifu/guagua/master/MasterComputable.java:51-63).
  * `workerResults` is a single pre-combined element when a combiner is
  * supplied (the reference's `Combinable` path, io/Combinable.java:24-31), or
  * one element per partition otherwise.
  */
trait MasterComputable[M, W] extends Serializable {
  def compute(workerResults: Iterator[W], lastMaster: Option[M], ctx: IterationContext): M
}

/** Driver-side lifecycle hooks — the Spark-native form of the reference's
  * interceptor chain + completion callbacks
  * (master/MasterInterceptor.java:49, master/MasterContext.java:252-260).
  * preApplication/postApplication ≙ onStart/onComplete;
  * pre/postIteration ≙ onIterationStart/onIterationEnd (pre hooks run FIFO,
  * post hooks FILO, matching GuaguaMasterService.java:369-415).
  */
trait IterationListener[M] {
  def onStart(totalIterations: Int): Unit = ()
  def onIterationStart(iteration: Int): Unit = ()
  def onIterationEnd(iteration: Int, master: M, elapsedMillis: Long): Unit = ()
  def onComplete(result: IterationResult[M]): Unit = ()
}

final case class IterationResult[M](
    master: M,
    iterations: Int,
    halted: Boolean,
    elapsedMillis: Long)

/** The iterative master/worker kernel — guagua's one computational pattern
  * (GuaguaMasterService.run, guagua-core/.../master/GuaguaMasterService.java:185-215)
  * rebuilt on Spark primitives:
  *
  *   - worker compute  ≙ one `sc.runJob` per iteration (one result per partition);
  *   - combinable path ≙ a driver fold in partition order, so reruns are
  *     bit-identical (the reference's master-side eager combiner,
  *     NettyMasterCoordinator.java:157-236, also has no tree);
  *   - master→worker broadcast ≙ `sparkContext.broadcast` per iteration
  *     (replaces ZooKeeper znode chunking, BasicCoordinator.java:304-346);
  *   - barrier ≙ the Spark stage boundary; straggler handling is the
  *     scheduler's (speculation-safe because workers are pure functions of
  *     (partition, lastMaster) — unlike the reference, which had to disable
  *     speculative execution, GuaguaMapReduceClient.java:429-433);
  *   - fail-over ≙ RDD lineage/task retry within a job, plus optional
  *     per-iteration driver checkpointing of the master state for cross-job
  *     restart (AbstractMasterCoordinator.java:194-238 semantics).
  *
  * Scale notes (100 TB / 1000 executors): the only data movement per
  * iteration is |partitions| worker results to the driver (partitions × |W|
  * of driver memory, like the reference's master) and one broadcast of M
  * back out (BitTorrent-style torrent broadcast, no 1 MB znode chunking
  * limit). The input is scanned from cluster-local cache (MEMORY_AND_DISK),
  * never reshuffled across iterations.
  */
object Iterate {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.core.Iterate")

  /** Below this many partitions the quorum ratio is forced to 1.0 — matching
    * the reference, which refuses partial barriers for small worker counts
    * (BasicCoordinator.java:649-658: ratio applies only when workers > 10).
    */
  val SmallWorkerCount = 10

  /** @param workerTimeout per-iteration worker compute budget — the
    *   reference's `@ComputableMonitor` (ComputableMonitor.java:50-74).
    *   Soft mode drops the timed-out partition's result for THIS iteration
    *   (the reference returns null; combined with the quorum barrier A7 this
    *   is its straggler tolerance — opt-in and non-deterministic by nature).
    *   Hard mode fails the task so the scheduler retries it elsewhere.
    *   Cancellation is cooperative (the reference's Future.cancel has the
    *   same limit): a timed-out compute thread is interrupted but a loop
    *   that never checks `Thread.interrupted()` runs on, holding a core
    *   until it finishes — long-running workers should poll the interrupt
    *   flag if soft timeouts are enabled. The orphan thread's input iterator
    *   is fenced by a cancellation flag: once the timeout fires, hasNext
    *   returns false, so the orphan never touches partition resources that
    *   Spark reclaims when the task completes.
    * @param minWorkersRatio master-side quorum barrier — the reference's
    *   `guagua.min.workers.ratio` (GuaguaConstants.java:131-150,
    *   BasicCoordinator.java:649-658): once `minWorkersTimeout` has elapsed,
    *   the master proceeds with an iteration as soon as at least
    *   ceil(ratio × partitions) partition results have arrived, cancelling
    *   the stragglers (whose partitions contribute nothing this iteration —
    *   same semantics as the reference dropping unreported workers). Forced
    *   to 1.0 when partitions ≤ [[SmallWorkerCount]], like the reference.
    *   Quorum mode consumes results incrementally on the driver (the
    *   reference's master result buffer, NettyMasterCoordinator.java:157-236);
    *   with a combiner they are folded as they are consumed, so memory stays
    *   bounded by |W| × partitions only in the non-combinable case — the
    *   bound the full barrier has on both paths.
    * @param minWorkersTimeout the quorum window (`guagua.min.workers.timeout`,
    *   default 60 s in the reference) — before it elapses the master waits
    *   for everyone regardless of the ratio.
    */
  def run[T, M, W: ClassTag](
      data: Dataset[T],
      worker: WorkerComputable[T, M, W],
      master: MasterComputable[M, W],
      maxIterations: Int = 50,
      halt: M => Boolean = (_: M) => false,
      combine: Option[(W, W) => W] = None,
      listeners: Seq[IterationListener[M]] = Nil,
      checkpointDir: Option[String] = None,
      workerTimeout: Option[scala.concurrent.duration.FiniteDuration] = None,
      workerTimeoutSoft: Boolean = true,
      minWorkersRatio: Double = 1.0,
      minWorkersTimeout: scala.concurrent.duration.FiniteDuration =
        scala.concurrent.duration.DurationInt(60).seconds): IterationResult[M] = {
    val sc = data.sparkSession.sparkContext
    val appId = sc.applicationId
    // CLI `-c` cap ([[IterationBudget]]): min(declared, cap); identity when
    // no cap is set (the library default and the whole oracle-gated surface).
    val effMaxIterations = IterationBudget.effective(maxIterations)

    // Load-once / iterate-many (AbstractWorkerComputable.java:66-104): cache
    // the deserialized records so every iteration after the first reads from
    // executor memory (spilling to local disk like the reference's
    // MemoryDiskList, util/MemoryDiskList.java:38, but managed by Spark).
    val cached: RDD[T] =
      if (data.storageLevel != StorageLevel.NONE) data.rdd
      else data.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // Zero input is a hard error in the reference too
    // (AbstractWorkerComputable.java:87-90); fail with a message instead of
    // handing the master an empty iteration on a partition-less RDD.
    require(cached.getNumPartitions > 0,
      "Iterate.run: input Dataset has no partitions (empty input?)")

    val t0 = System.nanoTime()
    listeners.foreach(_.onStart(effMaxIterations))

    // Cross-job restart: resume from the last checkpointed master state
    // (fail-over semantics of AbstractMasterCoordinator.java:194-238).
    var lastMaster: Option[M] = None
    var startIteration = 1
    checkpointDir.foreach { dir =>
      Checkpoint.restore[M](dir).foreach { case (it, m) =>
        lastMaster = Some(m)
        startIteration = it + 1
      }
    }

    val numParts = cached.getNumPartitions
    val effectiveRatio =
      if (numParts <= SmallWorkerCount) 1.0 else math.max(0.0, math.min(1.0, minWorkersRatio))

    var iteration = startIteration
    var halted = false
    var completed = 0
    // The persisted input and per-iteration broadcasts are released even when
    // worker/master compute throws: a failed run in a shared session must not
    // leak executor cache or driver broadcast memory across retries.
    try {
      while (iteration <= effMaxIterations && !halted) {
        val iterStart = System.nanoTime()
        listeners.foreach(_.onIterationStart(iteration))
        val ctx = IterationContext(iteration, effMaxIterations, appId)

        // Master→worker hop: one broadcast per iteration, destroyed eagerly
        // afterwards — the reference's "release results early" hygiene
        // (NettyMasterCoordinator.java:711-713) applied to driver memory.
        val bc = sc.broadcast(lastMaster)
        val nextMaster: M =
          try {
            val w = worker // avoid capturing `this` in the task closure
            // One partition's compute under the optional soft/hard budget;
            // shared by both barrier modes below.
            val partCompute: Iterator[T] => Option[W] = workerTimeout match {
              case None =>
                p => Some(w.compute(p, bc.value, ctx))
              case Some(t) =>
                val millis = t.toMillis
                val soft = workerTimeoutSoft
                p => {
                  // The reference runs compute under Future.get(timeout) in a
                  // dedicated thread (GuaguaWorkerService.java:270-297); same
                  // here. The input iterator is fenced so that after a soft
                  // timeout the orphaned compute thread stops consuming: once
                  // the task returns, Spark reclaims the partition's input
                  // streams/memory. Both hasNext and next check the fence, so
                  // the orphan's exposure to that teardown narrows to a
                  // single element already in flight when the timeout fired —
                  // cooperative cancellation cannot close that last window
                  // (the reference's Future.cancel has the same residue).
                  val fence = new java.util.concurrent.atomic.AtomicBoolean(false)
                  val guarded = new Iterator[T] {
                    def hasNext: Boolean = !fence.get() && p.hasNext
                    def next(): T = {
                      if (fence.get())
                        throw new NoSuchElementException("worker compute timed out")
                      p.next()
                    }
                  }
                  val task = new java.util.concurrent.FutureTask(
                    new java.util.concurrent.Callable[W] {
                      def call(): W = w.compute(guarded, bc.value, ctx)
                    })
                  val th = new Thread(task, "graft-worker-compute")
                  th.setDaemon(true)
                  th.start()
                  try Some(task.get(millis, java.util.concurrent.TimeUnit.MILLISECONDS))
                  catch {
                    case _: java.util.concurrent.TimeoutException =>
                      fence.set(true)
                      task.cancel(true)
                      if (soft) None
                      else throw new IllegalStateException(
                        s"worker compute exceeded ${millis}ms (hard timeout)")
                  }
                }
            }

            if (effectiveRatio < 1.0) {
              // A7 quorum barrier: per-partition results stream to the driver
              // as they finish (submitJob's resultHandler ≙ the reference's
              // incremental master result buffer); after the window, proceed
              // at quorum and cancel stragglers.
              quorumIteration(sc, cached, partCompute, master, combine, bc.value,
                ctx, numParts, effectiveRatio, minWorkersTimeout)
            } else {
              // Full barrier: one job; results come back by partition index,
              // so the fold order never depends on task completion order.
              // The (TaskContext, Iterator) overload cleans the closure once;
              // the Iterator-only one wraps it and cleans it a second time.
              val results = sc.runJob(cached,
                (_: TaskContext, it: Iterator[T]) => partCompute(it), 0 until numParts)
              combine match {
                case Some(c) =>
                  // Only soft timeouts can leave a partition without a result.
                  val reduced = results.iterator.flatten.reduceOption(c).getOrElse(
                    throw new IllegalStateException(
                      "no worker results this iteration (all partitions timed out?)"))
                  master.compute(Iterator.single(reduced), bc.value, ctx)
                case None =>
                  master.compute(results.iterator.flatten, bc.value, ctx)
              }
            }
          } finally bc.destroy()

        lastMaster = Some(nextMaster)
        checkpointDir.foreach(dir => Checkpoint.save(dir, iteration, nextMaster))
        halted = halt(nextMaster)
        completed = iteration
        // Post hooks fire FILO (reverse registration order), matching the
        // reference's interceptor unwinding (GuaguaMasterService.java:369-415).
        listeners.reverse.foreach(
          _.onIterationEnd(iteration, nextMaster, (System.nanoTime() - iterStart) / 1000000L))
        iteration += 1
      }
    } finally {
      if (data.storageLevel == StorageLevel.NONE) cached.unpersist(blocking = false)
    }
    val result = IterationResult(
      lastMaster.getOrElse(throw new IllegalStateException("zero iterations ran")),
      completed,
      halted,
      (System.nanoTime() - t0) / 1000000L)
    listeners.reverse.foreach(_.onComplete(result))
    result
  }

  /** One iteration under the A7 quorum barrier: submit the worker job with a
    * per-partition result handler, wait until either every partition reports
    * or (the window elapsed AND ≥ quorum partitions reported), then cancel
    * stragglers and fold what arrived. Partitions whose soft timeout dropped
    * their result count toward the quorum (they reported — with nothing),
    * exactly like the reference's null-result workers.
    *
    * With a combiner, the waiting driver thread drains arrivals into one
    * running accumulator (arrival order — the combiner must be
    * associative+commutative, and float folds are not reproducible), so
    * steady-state driver memory is O(|W|); the result handler itself only
    * enqueues — Spark invokes it on the DAG scheduler's event loop, where
    * user combine code would stall all job scheduling on the context.
    * Without a combiner, the per-partition buffer is |W| × partitions — the
    * documented non-combinable bound.
    *
    * A failed job (worker exception after task retries) is tolerated like a
    * straggler when the quorum is already met — the reference proceeds once
    * the ratio is satisfied regardless of what the missing workers did —
    * and surfaced as the iteration's failure otherwise, so the driver never
    * spins on a quorum that can no longer be reached.
    */
  private def quorumIteration[T, M, W](
      sc: org.apache.spark.SparkContext,
      cached: RDD[T],
      partCompute: Iterator[T] => Option[W],
      master: MasterComputable[M, W],
      combine: Option[(W, W) => W],
      lastMaster: Option[M],
      ctx: IterationContext,
      numParts: Int,
      ratio: Double,
      window: scala.concurrent.duration.FiniteDuration): M = {
    val quorum = math.max(1, math.ceil(ratio * numParts).toInt)
    // Handler side: enqueue only (cheap, non-throwing — it runs on the DAG
    // scheduler event loop). Driver side: drain + fold while waiting.
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[(Int, W)]()
    val reported = new java.util.concurrent.atomic.AtomicInteger(0)
    val action = sc.submitJob[T, Option[W], Unit](
      cached,
      partCompute,
      0 until numParts,
      (idx: Int, res: Option[W]) => {
        res.foreach(r => arrivals.add((idx, r)))
        reported.incrementAndGet()
        ()
      },
      ())
    var acc: Option[W] = None // combinable running fold (driver thread only)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, W]()
    def drain(): Unit = {
      var next = arrivals.poll()
      while (next != null) {
        combine match {
          case Some(c) => acc = acc.map(c(_, next._2)).orElse(Some(next._2))
          case None => results.put(next._1, next._2)
        }
        next = arrivals.poll()
      }
    }
    val deadline = System.nanoTime() + window.toNanos
    def failure: Option[Throwable] =
      action.value.flatMap(_.failed.toOption)
    def proceed(): Boolean = {
      val n = reported.get()
      n == numParts || (System.nanoTime() >= deadline && n >= quorum) ||
        failure.isDefined
    }
    while (!proceed()) { drain(); Thread.sleep(5) }
    // Job failure: tolerated exactly like a straggler IF the quorum is
    // already met (no point waiting out the window — no more results are
    // coming); fatal otherwise. Tolerated failures are LOUD: a
    // deterministically-failing partition (a data bug, not a straggler)
    // would otherwise silently drop the same slice of data every iteration.
    failure.foreach { e =>
      if (reported.get() < quorum) throw e
      log.warn(
        s"iteration ${ctx.currentIteration}: worker job failed after " +
          s"${reported.get()}/$numParts partitions reported (>= quorum $quorum); " +
          s"proceeding without the rest", e)
    }
    if (reported.get() < numParts) {
      // Stragglers are cancelled, not awaited — their partitions contribute
      // nothing this iteration (reference: unreported workers are skipped
      // once the ratio is met, NettyMasterCoordinator.java:566-704).
      try action.cancel()
      catch { case _: Throwable => () }
    }
    drain()
    combine match {
      case Some(_) =>
        master.compute(
          Iterator.single(acc.getOrElse(throw new IllegalStateException(
            "no worker results this iteration (all partitions timed out?)"))),
          lastMaster, ctx)
      case None =>
        // Deterministic fold order: partition index, like the full barrier.
        val arrived = (0 until numParts).iterator.flatMap(i => Option(results.get(i)))
        master.compute(arrived, lastMaster, ctx)
    }
  }
}

/** Java-serialized per-iteration master-state checkpoints. Keeps only the
  * newest state (the reference keeps the last 2 iterations' znodes,
  * NettyMasterCoordinator.java:750-780; one is enough when writes are
  * atomic-rename).
  */
private[core] object Checkpoint {
  private def stateFile(dir: String): Path = Paths.get(dir, "master_state.bin")

  def save[M](dir: String, iteration: Int, m: M): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = Files.createTempFile(d, "master_state", ".tmp")
    val oos = new java.io.ObjectOutputStream(Files.newOutputStream(tmp))
    try { oos.writeInt(iteration); oos.writeObject(m.asInstanceOf[AnyRef]) }
    finally oos.close()
    Files.move(tmp, stateFile(dir), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def restore[M](dir: String): Option[(Int, M)] = {
    val f = stateFile(dir)
    if (!Files.exists(f)) None
    else {
      val ois = new java.io.ObjectInputStream(Files.newInputStream(f))
      try Some((ois.readInt(), ois.readObject().asInstanceOf[M]))
      finally ois.close()
    }
  }
}
