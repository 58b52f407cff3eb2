package graft.operators

/** Concurrent submission of INDEPENDENT eager build chains (optimization
  * guide §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — index-build chains that
  * end in `localCheckpoint()` are only sequential because the driver code
  * calls them sequentially. An operator whose build phase runs m
  * independent chains (e.g. one k-means per PQ subspace, or the coarse
  * IVF pass next to them) pays the sum of the chains' job-barrier
  * latencies when submitted serially; submitted concurrently, the depth
  * is the longest single chain and each chain's stage tail back-fills
  * the cores the others leave idle.
  *
  * Correctness: each thunk builds its own DataFrame lineage and the
  * results are deterministic regardless of completion order — the ONLY
  * thing that changes is when the jobs are submitted. Thunks must be
  * independent (no thunk may consume another's result).
  *
  * Plain threads, not an ExecutionContext: the chains block on Spark
  * actions (localCheckpoint), so they need real threads for the whole
  * duration — a shared pool would risk starvation-deadlock if an outer
  * overlap ever nested an inner one. Thread count == chain count; chain
  * counts here are operator constants (m subspaces + 1), never
  * data-dependent.
  *
  * Failure: the first throwing chain's exception propagates to the
  * caller after every thread finishes (no half-submitted state left
  * running behind a thrown exception).
  */
private[graft] object Overlap {

  def par[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val results = new Array[AnyRef](thunks.size)
    val errors = new Array[Throwable](thunks.size)
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        try results(i) = f().asInstanceOf[AnyRef]
        catch { case e: Throwable => errors(i) = e }
      }, s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    errors.find(_ != null).foreach(e => throw e)
    results.toSeq.map(_.asInstanceOf[A])
  }
}
