package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration.{Duration, FiniteDuration}
import scala.util.{Failure, Success}

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
  *   - worker compute  ≙ one Spark job per iteration (one result per
  *     partition), in both barrier modes;
  *   - combinable path ≙ a driver fold in partition order, so reruns are
  *     bit-identical (the reference's master-side eager combiner,
  *     NettyMasterCoordinator.java:157-236, also has no tree);
  *   - master→worker broadcast ≙ `sparkContext.broadcast` per iteration
  *     (replaces ZooKeeper znode chunking, BasicCoordinator.java:304-346);
  *   - barrier ≙ one quorum test per iteration, like the reference's
  *     `isTerminated(done, workers, ratio, timeout)`
  *     (BasicCoordinator.java:649-658): the full barrier is the quorum
  *     barrier at ratio 1.0, i.e. the job's end. Straggler handling is
  *     otherwise the scheduler's (speculation-safe because workers are pure
  *     functions of (partition, lastMaster) — unlike the reference, which had
  *     to disable speculative execution, GuaguaMapReduceClient.java:429-433);
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
    *   Both modes fold the results that arrived in partition order, so the
    *   combiner only needs to be associative; the driver holds up to
    *   |W| × partitions per iteration, with or without a combiner (the
    *   reference's master result buffer, NettyMasterCoordinator.java:157-236).
    * @param minWorkersTimeout the quorum window (`guagua.min.workers.timeout`,
    *   default 60 s in the reference) — before it elapses the master waits
    *   for everyone regardless of the ratio.
    */
  def run[T, M, W](
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

    val t0 = System.nanoTime()
    var lastMaster: Option[M] = None
    var halted = false
    var completed = 0
    // The persisted input and per-iteration broadcasts are released whenever
    // the run fails — in a listener's onStart, in a checkpoint restore, or in
    // worker/master compute: a failed run in a shared session must not leak
    // executor cache or driver broadcast memory across retries.
    try {
      // Zero input is a hard error in the reference too
      // (AbstractWorkerComputable.java:87-90); fail with a message instead of
      // handing the master an empty iteration on a partition-less RDD.
      require(cached.getNumPartitions > 0,
        "Iterate.run: input Dataset has no partitions (empty input?)")
      listeners.foreach(_.onStart(effMaxIterations))

      // Cross-job restart: resume from the last checkpointed master state
      // (fail-over semantics of AbstractMasterCoordinator.java:194-238).
      var iteration = 1
      checkpointDir.foreach { dir =>
        Checkpoint.restore[M](dir).foreach { case (it, m) =>
          lastMaster = Some(m)
          iteration = it + 1
        }
      }

      val numParts = cached.getNumPartitions
      val effectiveRatio =
        if (numParts <= SmallWorkerCount) 1.0 else math.max(0.0, math.min(1.0, minWorkersRatio))
      val quorum = math.max(1, math.ceil(effectiveRatio * numParts).toInt)

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
            // One partition's compute under the optional soft/hard budget.
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

            val results = barrier(sc, cached, partCompute, quorum, minWorkersTimeout, iteration)
            combine match {
              case Some(c) =>
                // Soft timeouts and the quorum can leave partitions without a
                // result; with a combiner there must be at least one.
                val reduced = results.reduceOption(c).getOrElse(
                  throw new IllegalStateException(
                    "no worker results this iteration (all partitions timed out?)"))
                master.compute(Iterator.single(reduced), bc.value, ctx)
              case None =>
                master.compute(results, bc.value, ctx)
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

  /** One iteration's barrier: run the worker job over every partition and
    * return the results that arrived, in partition order.
    *
    * The master waits until either the job ends or (the window elapsed AND
    * ≥ `quorum` partitions reported), then cancels the stragglers — their
    * partitions contribute nothing this iteration, like unreported workers
    * in the reference (NettyMasterCoordinator.java:566-704). With
    * `quorum == partitions` that is the full barrier: the job's end, with no
    * window and no polling. Partitions whose soft timeout dropped their
    * result count toward the quorum (they reported — with nothing), exactly
    * like the reference's null-result workers.
    *
    * The result handler only stores each result in its partition's slot:
    * Spark invokes it on the DAG scheduler's event loop, where user code
    * would stall all job scheduling on the context.
    *
    * A failed job (worker exception after task retries) is tolerated like a
    * straggler when the quorum is already met — the reference proceeds once
    * the ratio is satisfied regardless of what the missing workers did — and
    * rethrown otherwise, so the driver never waits on a quorum that can no
    * longer be reached. Tolerated failures are LOUD: a deterministically
    * failing partition (a data bug, not a straggler) would otherwise
    * silently drop the same slice of data every iteration.
    */
  private def barrier[T, W](
      sc: org.apache.spark.SparkContext,
      cached: RDD[T],
      partCompute: Iterator[T] => Option[W],
      quorum: Int,
      window: FiniteDuration,
      iteration: Int): Iterator[W] = {
    val numParts = cached.getNumPartitions
    val slots = new java.util.concurrent.atomic.AtomicReferenceArray[Option[W]](numParts)
    val reported = new java.util.concurrent.atomic.AtomicInteger(0)
    val action = sc.submitJob[T, Option[W], Unit](
      cached,
      partCompute,
      0 until numParts,
      (idx: Int, res: Option[W]) => { slots.set(idx, res); reported.incrementAndGet(); () },
      ())
    // Before the window closes only the job's end releases the barrier.
    try Await.ready(action, if (quorum == numParts) Duration.Inf else window)
    catch { case _: TimeoutException => () }
    while (!action.isCompleted && reported.get() < quorum) Thread.sleep(5)
    action.value match {
      case None => action.cancel()
      case Some(Failure(e)) =>
        if (reported.get() < quorum) throw e
        log.warn(
          s"iteration $iteration: worker job failed after ${reported.get()}/$numParts " +
            s"partitions reported (>= quorum $quorum); proceeding without the rest", e)
      case Some(Success(_)) => ()
    }
    Iterator.tabulate(numParts)(slots.get).flatMap(r => Option(r).flatten)
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
