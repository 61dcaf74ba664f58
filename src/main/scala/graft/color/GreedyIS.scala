package graft.color

/** One candidate row inside a color bucket: the node, its degree, and its
  * adjacency (by id). */
case class CandNode(id: Long, degree: Int, nbrs: Array[Long])

/** Greedy independent set per color bucket — the rebuild of the reference's
  * `aggregateByKey` centerpiece (`coloring_optimized.py:120-126`): map-side
  * partial greedy admit per partition (`resolve_conflicts_within_partition`,
  * `:168-184`) then cross-partition merge that re-runs the greedy admit on
  * the sorted concatenation (`resolve_conflicts_across_partitions`,
  * `:186-200`). [[GreedyRddKernel]] passes [[zero]], [[reduce]] and
  * [[merge]] to `aggregateByKey`, which runs `reduce` map-side and `merge`
  * after the shuffle: the reference's map-side-combine optimization.
  *
  * Phase orders differ by necessity: the MERGE admits in the
  * (degree desc, id asc) total order, but the PARTIAL phase admits in
  * ARRIVAL order — `reduce` streams one row at a time, so it
  * cannot sort-first like the reference's whole-partition buffer without
  * giving up the map-side size reduction (buffering every candidate). The
  * consequence (PropertySpec pins it): even the bucket's globally
  * top-priority node can be pruned when a lower-priority neighbor arrived
  * first in its partition, so the guaranteed invariants are exactly
  * (a) the output is an independent set and (b) a nonempty bucket admits
  * at least one node — which is what the kernel's progress argument uses;
  * bucket-wide maximality holds only for a single-partition fold.
  *
  * The (degree desc, id asc) id tiebreak removes the encounter-order
  * nondeterminism of the reference's stable-sort-over-arbitrary-partition-
  * order in the merge (SURVEY.md §7 risk 1). Like the reference, the
  * admitted set still depends on the partitioning of the input; every
  * output is a valid independent set regardless. The kernel's default
  * strategy ([[ColoringKernel]] `Jp`) is instead fully deterministic.
  */
object GreedyIS {

  private val order: Ordering[CandNode] =
    Ordering.by((c: CandNode) => (-c.degree, c.id))

  /** Admit `c` into the (already independent) admitted list iff no neighbor
    * of `c` is already admitted; keep the list sorted by the total order.
    * The membership test hashes `c`'s (small) adjacency once and scans the
    * admitted list — acceptable per partition (buffers stay
    * bucket-size / n-partitions small), replaced by a shared id set in
    * [[merge]] where the concatenation can reach full-bucket size. */
  private def admit(sorted: Seq[CandNode], c: CandNode): Seq[CandNode] = {
    val nbrSet: Set[Long] = c.nbrs.toSet
    if (sorted.exists(a => nbrSet.contains(a.id))) sorted
    else {
      val (before, after) = sorted.span(order.lteq(_, c))
      (before :+ c) ++ after
    }
  }

  def zero: Seq[CandNode] = Vector.empty

  def reduce(buf: Seq[CandNode], c: CandNode): Seq[CandNode] = admit(buf, c)

  /** Re-run greedy admit over the merged candidates in total order
    * (`coloring_optimized.py:186-200`). One admitted-id hash set is carried
    * through the fold and each candidate tests its own (small) adjacency
    * against it — O(Σ deg) for the whole merge. The per-candidate scan of
    * the admitted list (as in [[admit]]) would be O(n²) hash probes on a
    * dense bucket: round 1 of the kernel puts EVERY vertex in bucket 0, and
    * the 20k-node bench graph spent ~30 s in exactly that scan. */
  def merge(a: Seq[CandNode], b: Seq[CandNode]): Seq[CandNode] = {
    val all = (a ++ b).sorted(order)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[CandNode]
    val ids = new java.util.HashSet[Long]()
    all.foreach { c =>
      if (!c.nbrs.exists(ids.contains)) { admitted += c; ids.add(c.id) }
    }
    admitted.toVector
  }

  def finish(buf: Seq[CandNode]): Seq[Long] = buf.map(_.id)
}
