package graft.ops

/** Read-only view of engine state the benchmark reports but the engine
  * keeps package-private.
  */
object PerfbenchProbe {
  /** Whether the last `Dedup.connectedComponents` call took the
    * driver-local union-find path. */
  def ccLocal: Boolean = Dedup.lastDispatchLocal
}
