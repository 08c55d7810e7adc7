package graft.operators

/** Sizing helper for the staged out-of-core wedge forms
  * (EvalMetricQueries.adamicAdarStaged / GraphQueries
  * .localClusteringStaged): turns the r11/r12 measured dial rule into
  * code so callers don't hand-pick slice counts.
  *
  * The measured knee (BENCHNOTES "staged-slices dial knee", ×30 table
  * {6, 8, 16} = 1142/1164/513 s on 96 GiB heap; ×100 s16 completes at
  * a ~9 GB disk ceiling): wall time IMPROVES with more slices while
  * per-slice state pressures the executor heap — long GC pauses and
  * heartbeat timeouts dominate long before disk does — and only
  * degrades once the per-slice input re-scan tax takes over (inputs
  * are localCheckpoint'd, so that tax is small). The operating rule:
  * size slices so per-slice state is a SMALL FRACTION of the heap;
  * the ×30 table puts the knee near 1/8 (s8 ≈ state/heap > 1/4:
  * GC wall; s16 ≈ 1/8: 2.3× faster).
  */
object Staged {

  /** Per-slice state should stay under this fraction of the heap —
    * the measured knee of the r12 ×30 dial table.
    */
  val HeapFractionPerSlice: Double = 0.125

  /** Smallest slice count that keeps estStateBytes/slices within
    * HeapFractionPerSlice of heapBytes, clamped to [1, 64]. Callers
    * estimate state as the materialized wedge volume of the widest
    * stage (rows × bytes/row of the pre-aggregation join output);
    * overestimating is cheap (extra slices re-scan checkpointed
    * inputs), underestimating re-creates the GC wall.
    */
  def suggestSlices(estStateBytes: Long, heapBytes: Long): Int = {
    require(estStateBytes >= 0L, s"negative state estimate: $estStateBytes")
    require(heapBytes > 0L, s"non-positive heap: $heapBytes")
    val perSliceBudget = (heapBytes * HeapFractionPerSlice).toLong.max(1L)
    val raw = ((estStateBytes + perSliceBudget - 1L) / perSliceBudget).toInt
    math.min(64, math.max(1, raw))
  }

  /** Convenience form against the running JVM's max heap. */
  def suggestSlices(estStateBytes: Long): Int =
    suggestSlices(estStateBytes, Runtime.getRuntime.maxMemory())
}
