package graft.color

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Broadcasts.maybeBroadcast
import graft.ops.State

/** The iterative graph-coloring kernel — the rebuild of the reference's
  * per-k fixpoint (`coloring.py:73-132`, `coloring_optimized.py:70-146`) and
  * outer minimal-color search (`coloring.py:212-231`), re-expressed as a
  * driver loop over declarative DataFrame rounds (SURVEY.md §3, §7 step 4).
  * Every run colors with the palette k = Δ+1, where a vertex's first free
  * color always exists: it has at most deg ≤ Δ used neighbor colors.
  *
  * Per round:
  *   1. first-fit candidate per uncolored vertex (O13,
  *      `coloring_optimized.py:150-166`): the lowest clear bit of the
  *      used-color mask the state carries, map-side. The mask is ⌊c/64⌋ + 1
  *      long words (`used`, `used1`, …) for the c colors used so far: a
  *      first-fit candidate is at most c, so its bit is always in range;
  *   2. same-color conflict resolution between adjacent candidates
  *      (O15-O17): of two same-candidate neighbors the one with lower
  *      (degree, id) priority is beaten, settled once per undirected edge
  *      (`src < dst`) on one broadcast of the live candidates keyed by id;
  *      every vertex not among the beaten ids (one hash distinct) keeps its
  *      candidate;
  *   3. apply the admitted colors — left join + `coalesce`
  *      (O20, `coloring.py:121-127`) — and OR each new color into its word
  *      of the neighbors' masks; the color changes and mask gains merge in
  *      one union-aggregate first.
  *
  * Round 0 builds the state from one union-aggregate — the edges' degree
  * counts plus the extra vertices — with a one-word mask.
  *
  * Strategies:
  *   - [[Strategy.Jp]] (default, the DataFrame rounds here):
  *     Jones–Plassmann-style priority admit — a node keeps its candidate iff
  *     no *adjacent* node competing for the same candidate has higher
  *     (degree, id desc-asc) priority. Pure joins, **deterministic under any
  *     partitioning**, guaranteed progress (every conflict component admits
  *     its max-priority node), and the natural 100 TB formulation: the
  *     edge stream is only probed against broadcast candidate and delta
  *     tables, never shuffled; a round shuffles only the beaten ids and the
  *     per-vertex changes, and no per-node adjacency arrays move.
  *   - [[Strategy.GreedyRdd]] runs [[GreedyRddKernel.colorDeltaPlusOne]].
  *
  * The Jp rounds run on [[State.iterate]], the engine's one round loop —
  * the `Pregel` stance (SURVEY.md §4): only counts cross to the driver.
  * Every round's state lands as a [[State]] (SURVEY.md §7 risk 4): the
  * checkpoint truncates lineage, and its own action observes the counts
  * the loop control reads. A round lands nothing else: its candidates are
  * a projection of that checkpoint and its updates are read inside the
  * plan that lands the next state. Once the uncolored set passes
  * [[tailFits]], the run finishes in one round that replays the remaining
  * rounds in one task ([[jpTail]]).
  */
object ColoringKernel {

  sealed trait Strategy
  object Strategy {
    case object Jp extends Strategy
    /** [[GreedyRddKernel]]'s reference-shaped rounds: the two-phase
      * [[GreedyIS]] admit per color bucket, as a raw `aggregateByKey` loop
      * over co-partitioned RDDs. When that kernel declines the graph, the
      * run is the Jp one. */
    case object GreedyRdd extends Strategy
  }

  /** A k-coloring read off the checkpoint `state` holds; `release()` frees
    * that checkpoint. */
  final case class Colored(state: State, k: Int, rounds: Int) {
    def colors: DataFrame = state.df.select(col("id"), col("color"))
    def release(): Unit = state.release()
  }

  /** The metric every Jp state and the GreedyRdd landing observe:
    * `max(color) + 1`, 0 on no rows. First-fit gives a vertex color c only
    * when colors 0..c-1 are all taken by its neighbors, so on a complete
    * coloring the colors used are exactly {0..max} and this is their
    * number. */
  private val ColorsUsed = "colors_used"
  private def colorsUsed: Column = (max(col("color")) + 1).as(ColorsUsed)

  /** Uncolored-set size at or below which a coloring round loop finishes
    * in one task instead of paying a scheduled round per few vertices: the
    * Jp rounds replay their remaining rounds exactly ([[jpTail]]),
    * the greedy rounds fold their tail sequentially
    * ([[GreedyRddKernel.colorDeltaPlusOne]]). Session-configurable; 0
    * disables the switch. The default admits tens of thousands of
    * vertices — milliseconds of sequential CPU. */
  val TailLocalSolveRowsKey = "graft.kernel.tailLocalSolveRows"
  val DefaultTailLocalSolveRows: Long = 16384L

  /** Hard edge-volume bound for the tail task (Σ deg over the uncolored
    * set), so a skew hub never drags an oversized adjacency into it:
    * ~8 MB of neighbor ids at most. */
  val TailLocalSolveMaxEdges: Long = 1L << 20

  /** The one tail rule: `uncolored` vertices whose degrees sum to
    * `uncoloredDeg` finish in one task ([[TailLocalSolveRowsKey]],
    * [[TailLocalSolveMaxEdges]]). */
  private[color] def tailFits(spark: SparkSession, uncolored: Long, uncoloredDeg: Long): Boolean =
    uncolored <= spark.conf.get(TailLocalSolveRowsKey, DefaultTailLocalSolveRows.toString).toLong &&
      uncoloredDeg <= TailLocalSolveMaxEdges

  /** The Jp DataFrame rounds. No vertex runs out of colors (one with deg
    * neighbors finds a free color among 0..deg), so the palette is Δ+1
    * without reading Δ; the returned `k` is the colors used.
    *
    * Jp re-reads `edges` as given, twice a round, and keeps no copy: pass a
    * materialized edge list (a [[State.memo]] frame or a local checkpoint,
    * as every engine caller does). A lazy plan is recomputed on every read,
    * and one whose rows are not deterministic would give each read a
    * different edge set. */
  private def jp(
      spark: SparkSession,
      edges: DataFrame,
      extraVertices: Option[DataFrame],
      maxRounds: Int = 200): Colored = {
    // Every state's checkpoint observes progress, the uncolored degree
    // sum the tail rule bounds, and the color count (ColorsUsed), which
    // sizes the next round's mask, so the loop control runs no job of its
    // own.
    val progress = Seq(
      sum(when(col("color") === -1, 1L).otherwise(0L)).as("uncolored"),
      sum(when(col("color") === -1, col("deg").cast("long")).otherwise(0L)).as("uncoloredDeg"),
      colorsUsed)
    val zero = State.loop(roundZero(edges, extraVertices), progress: _*)

    // Jp colors the top-priority vertex of every uncolored component each
    // round, so only the round cap (SURVEY.md §7 risk 6) leaves vertices
    // uncolored.
    val (state, rounds) = State.iterate(zero, maxRounds, progress: _*)(
        (st, _) => st("uncolored") == 0) { (st, _, _) =>
      if (tailFits(spark, st("uncolored"), st("uncoloredDeg")))
        jpTail(edges, st.df, st("uncolored"))
      else jpRoundMask(edges, st.df, st("uncolored"), st(ColorsUsed))
    }
    if (state("uncolored") > 0) {
      state.release()
      throw new IllegalStateException(
        s"Jp left ${state("uncolored")} vertices uncolored after $maxRounds rounds")
    }
    Colored(state, state(ColorsUsed).toInt, rounds)
  }

  /** Round 0's state `(id, color, deg, used)` from ONE aggregate over a
    * union: each edge counts 1 toward its src and each extra vertex 0, so
    * on a symmetric edge list `deg = 0` is exactly an isolated vertex. O6
    * init: isolated vertices → color 0, everything else -1
    * (changeColorFirstIteration, coloring.py:12-17). Degree is carried in
    * the state so rounds don't re-join it (O8/O23); this is round 0's only
    * pass over E, with no distinct and no join. */
  private[graft] def roundZero(e: DataFrame, extraVertices: Option[DataFrame]): DataFrame = {
    val ends = e.select(col("src").as("id"), lit(1).as("one"))
    extraVertices.fold(ends)(vs => ends.unionByName(vs.select(col("id"), lit(0).as("one"))))
      .groupBy(col("id")).agg(sum(col("one")).cast("int").as("deg"))
      .select(col("id"), when(col("deg") === 0, 0).otherwise(-1).as("color"),
        col("deg"), lit(0L).as("used"))
  }

  /** Isolated extra vertices never reach an edge-derived graph; append them
    * with color 0 (O6 init rule, changeColorFirstIteration). */
  private def appendIsolated(df: DataFrame, extraVertices: Option[DataFrame]): DataFrame =
    extraVertices.fold(df) { vs =>
      df.unionByName(vs.select(col("id"))
        .except(df.select(col("id")))
        .withColumn("color", lit(0)))
    }

  /** The uncolored vertices that lose their candidate this round, as
    * `a_id`: of two adjacent vertices with the same candidate, the one with
    * lower priority, (degree desc, id asc) — the optimized reference's
    * resolution order (coloring_optimized.py:150-172) with the id tiebreak
    * that makes results partitioning-independent (SURVEY.md §7 risk 1).
    * Ids are unique, so this is a strict total order and every
    * same-candidate pair has exactly one loser.
    *
    * The edge list is symmetric, so the pass reads only `src < dst` and
    * settles each undirected edge once. Both endpoints probe ONE frame,
    * the candidates, keyed by id alone, so a broadcast `side` is built
    * once and reused. The same-candidate test runs after the probe, as
    * `a_cand ^ b_cand = 0`:
    * written as an equality, Catalyst lifts it into the second join's key
    * and hashes (cand, id) on a build side of its own. The losers go
    * through a distinct over one long id, a HashAggregate, where
    * `max(struct(deg, -id))` plans a sorting SortAggregate (no hash buffer
    * for a struct). `cand` is (id, deg, cand); `side` wraps the probed
    * frame (a broadcast hint). */
  private[graft] def beaten(e: DataFrame, cand: DataFrame,
      side: DataFrame => DataFrame = identity): DataFrame = {
    val live = side(cand)
    def end(p: String): DataFrame = live.select(col("id").as(s"${p}_id"),
      col("deg").as(s"${p}_deg"), col("cand").as(s"${p}_cand"))
    val aBeatsB = col("a_deg") > col("b_deg") ||
      (col("a_deg") === col("b_deg") && col("a_id") < col("b_id"))
    e.filter(col("src") < col("dst"))
      .join(end("a"), col("src") === col("a_id"))
      .join(end("b"), col("dst") === col("b_id"))
      .filter(col("a_cand").bitwiseXOR(col("b_cand")) === 0)
      .select(when(aBeatsB, col("b_id")).otherwise(col("a_id")).as("a_id"))
      .distinct()
  }

  /** The admitted updates `(uid, new_color)`: every candidate vertex that
    * is not [[beaten]] keeps its candidate color. `side` wraps the beaten
    * ids (a broadcast hint: they are a subset of `cand`). */
  private[graft] def admit(cand: DataFrame, beaten: DataFrame,
      side: DataFrame => DataFrame = identity): DataFrame =
    cand.join(side(beaten), col("id") === col("a_id"), "left_anti")
      .select(col("id").as("uid"), col("cand").as("new_color"))

  /** Mask word `i` of the state: bit b is color 64·i + b. */
  private def word(i: Int): String = if (i == 0) "used" else s"used$i"

  /** The number of mask words `state` carries. */
  private def maskWidth(state: DataFrame): Int = state.columns.count(_.startsWith("used"))

  /** First free color of one 64-bit mask word, from codegen'd builtins
    * alone: `used & ~(used + 1)` keeps the trailing ones, and their count
    * is the lowest clear bit (64 on a full word). The one add overflows
    * only at `Long.MaxValue`, where it wraps to `Long.MinValue`, so ANSI
    * arithmetic never throws. No join, no array allocation — the whole
    * candidate step is map-side. */
  private def maskFirstFit(used: Column): Column = {
    val next = coalesce(try_add(used, lit(1L)), lit(Long.MinValue))
    bit_count(used.bitwiseAND(bitwise_not(next))).cast("int")
  }

  /** `state` with its mask widened, by zero words, to the ⌊c/64⌋ + 1 words
    * that `colorsUsed` = c colors need: a first-fit candidate is at most
    * c, the largest color used plus one. */
  private def widen(state: DataFrame, colorsUsed: Long): DataFrame = {
    val (have, need) = (maskWidth(state), (colorsUsed / 64).toInt + 1)
    if (have >= need) state
    else state.select(state.columns.toSeq.map(col) ++ (have until need).map(i => lit(0L).as(word(i))): _*)
  }

  /** Apply a round's updates and push each newly admitted color into its
    * word of the adjacent used masks — the incremental (delta) formulation
    * of the per-round neighbor-color gather: an edge contributes to its
    * src's mask exactly once over the whole run (the round its dst is
    * colored), so total gather work is O(E) summed over ALL rounds. The
    * full regather it replaces joined every edge against the entire
    * colored state every round — measured flat ~1 s/round at sf0.1 even
    * with 3 uncolored vertices left. `updates` is (uid, new_color), each
    * color within `state`'s mask words. */
  private def applyWithMask(e: DataFrame, state: DataFrame, updates: DataFrame,
      updBound: Long): DataFrame = {
    val width = maskWidth(state)
    val delta = updates.filter(col("new_color") >= 0)
      .select(col("uid").as("nid"), col("new_color").as("ncolor"))
    // Word i's gain from a new neighbor color: its bit, or null when the
    // color sits in another word (bit_or skips nulls).
    def gain(i: Int): Column = {
      val bit = call_function("shiftleft", lit(1L),
        if (i == 0) col("ncolor") else col("ncolor") - 64 * i)
      (if (width == 1) bit else when(shiftright(col("ncolor"), 6) === i, bit)).as(s"g$i")
    }
    // Row-bound broadcast (the exact uncolored count): AQE's byte
    // threshold flips this probe to an E-shuffling SMJ right around the
    // 10× leg's state size (measured: the minimal-colors run's shuffle
    // grew ×42 for ×10 edges); the explicit hint keeps every round's edge
    // probe map-side until the row policy says stop.
    val gains = e.join(maybeBroadcast(delta, updBound), col("dst") === col("nid"))
      .select(col("src").as("cid") +: lit(null).cast("int").as("new_color") +:
        (0 until width).map(gain): _*)
    // Color changes and mask gains are both tiny relative to the state —
    // merge them first, in one union-aggregate (one exchange, combined
    // map-side), so the V-sized state meets ONE probe per round. `max`
    // skips the gain rows' nulls.
    val chg = updates.select(col("uid").as("cid") +: col("new_color") +:
        (0 until width).map(i => lit(0L).as(s"g$i")): _*)
      .unionByName(gains)
      .groupBy(col("cid"))
      .agg(max(col("new_color")).as("new_color"),
        (0 until width).map(i => bit_or(col(s"g$i")).as(s"gained$i")): _*)
    state.join(maybeBroadcast(chg, 2L * updBound), col("id") === col("cid"), "left_outer")
      .select(col("id") +:
        coalesce(col("new_color"), col("color")).cast("int").as("color") +:
        col("deg") +:
        (0 until width).map(i =>
          col(word(i)).bitwiseOR(coalesce(col(s"gained$i"), lit(0L))).as(word(i))): _*)
  }

  /** A round's candidates `(id, deg, cand)`: the first clear bit of the
    * first mask word that is not full, a narrow projection of the state
    * checkpoint, so a round re-reads them without landing them. */
  private[graft] def maskCandidates(state: DataFrame): DataFrame = {
    def at(i: Int): Column = {
      val ff = maskFirstFit(col(word(i)))
      if (i == 0) ff else ff + 64 * i
    }
    val last = maskWidth(state) - 1
    val cand = (0 until last).foldRight(at(last)) { (i, later) =>
      when(col(word(i)) =!= -1L, at(i)).otherwise(later)
    }
    state.filter(col("color") === -1).select(col("id"), col("deg"), cand.as("cand"))
  }

  /** One speculative round: candidates fall out of the carried mask
    * map-side ([[maskCandidates]]) after the mask widens to what
    * `colorsUsed` needs ([[widen]]); only the rival check touches the edge
    * list, and the used-mask update is delta-driven ([[applyWithMask]]).
    * The round lands nothing but its next state: the updates are read
    * twice inside that one plan, where adaptive execution reuses the
    * beaten-id shuffle and broadcast. Colors are permanent, so the
    * incrementally grown mask always equals the neighbors' colors.
    * Correctness: same-candidate adjacent vertices are totally ordered and
    * only the maximum keeps the color, so no conflict commits; every
    * conflict component commits its top vertex, so every round progresses
    * (measured 13 rounds on the sf0.1 kernel graph vs 78+ for classic
    * local-maximum Jones–Plassmann, which serializes on priority chains). */
  private[graft] def jpRoundMask(e: DataFrame, state: DataFrame,
      uncolored: Long, colorsUsed: Long): DataFrame = {
    // The candidate frame carries exactly `uncolored` rows, and the beaten
    // ids are a subset of it — row-bound broadcast hints keep the rival
    // probe exchange-free on the E side past AQE's byte threshold (see
    // applyWithMask's note; same ×42 shuffle signal) and the admit's
    // candidate side unshuffled.
    val side = maybeBroadcast(_: DataFrame, uncolored)
    val wide = widen(state, colorsUsed)
    val cand = maskCandidates(wide)
    applyWithMask(e, wide, admit(cand, beaten(e, cand, side), side), uncolored)
  }

  /** The last Jp round ([[tailFits]]): the `uncolored` vertices ship to
    * one task, which replays the remaining rounds there
    * ([[jpLocalReplay]]), and their colors apply to the state. The task
    * gets a row `(id, deg, words, None)` per uncolored vertex and
    * `(src, 0, null, Some(dst))` per edge between two of them; a round's
    * outcome depends on nothing else, since colors are permanent and the
    * mask words already hold every colored neighbor. So the replay gives
    * the labels the scheduled rounds would, in one round instead of one
    * per few vertices (the sf0.1 kernel graph colors in 5 rounds, where
    * scheduled rounds alone take 13). The edges probe one broadcast of
    * the uncolored ids at both ends; the colors apply through a row-bound
    * broadcast, as [[applyWithMask]]'s do. Masks are not updated: no
    * vertex is left to read them. */
  private[graft] def jpTail(e: DataFrame, state: DataFrame, uncolored: Long): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val tail = state.filter(col("color") === -1)
    val ids = maybeBroadcast(tail.select(col("id")), uncolored)
    val links = e
      .join(ids.select(col("id").as("a")), col("src") === col("a"), "left_semi")
      .join(ids.select(col("id").as("b")), col("dst") === col("b"), "left_semi")
    val words = array((0 until maskWidth(state)).map(i => col(word(i))): _*)
    val solved = tail.select(col("id"), col("deg"), words.as("used"),
        lit(null).cast("long").as("nbr"))
      .unionByName(links.select(col("src").as("id"), lit(0).as("deg"),
        lit(null).cast("array<bigint>").as("used"), col("dst").as("nbr")))
      .repartition(1)
      .as[(Long, Int, Array[Long], Option[Long])]
      .mapPartitions(jpLocalReplay)
      .toDF("sid", "new_color")
    state.join(maybeBroadcast(solved, uncolored), col("id") === col("sid"), "left_outer")
      .select(state.columns.toSeq.map {
        case "color" => coalesce(col("new_color"), col("color")).cast("int").as("color")
        case c => col(c)
      }: _*)
  }

  /** Sequential replay of the synchronous Jp rounds over [[jpTail]]'s
    * rows, on one `BitSet` of used colors per vertex: per round, every
    * uncolored vertex takes its first clear bit, keeps it iff its
    * (deg desc, id asc) priority beats every same-candidate uncolored
    * neighbor (ids are unique, so there are no ties), and the kept colors
    * set their bits in the neighbors' sets. Runs to the fixpoint and
    * returns `(id, color)` of the vertices it colored; a stall (impossible
    * with unique ids) leaves the rest uncolored, for the loop's counts to
    * see. */
  private def jpLocalReplay(
      rows: Iterator[(Long, Int, Array[Long], Option[Long])]): Iterator[(Long, Int)] = {
    val ids = Array.newBuilder[Long]
    val degs = Array.newBuilder[Int]
    val masks = Array.newBuilder[java.util.BitSet]
    val srcs = Array.newBuilder[Long]
    val dsts = Array.newBuilder[Long]
    rows.foreach {
      case (v, d, u, None) => ids += v; degs += d; masks += java.util.BitSet.valueOf(u)
      case (src, _, _, Some(dst)) => srcs += src; dsts += dst
    }
    val id = ids.result()
    val deg = degs.result()
    val mask = masks.result()
    val n = id.length
    val idx = new java.util.HashMap[Long, Int](n * 2)
    var i = 0
    while (i < n) { idx.put(id(i), i); i += 1 }
    // Neighbor indexes per vertex; every link's ends are tail vertices.
    val adjB = Array.fill(n)(Array.newBuilder[Int])
    val (src, dst) = (srcs.result(), dsts.result())
    i = 0
    while (i < src.length) { adjB(idx.get(src(i))) += idx.get(dst(i)); i += 1 }
    val adj = adjB.map(_.result())
    val color = Array.fill(n)(-1)
    val cand = new Array[Int](n)
    def beats(a: Int, b: Int): Boolean =
      deg(a) > deg(b) || (deg(a) == deg(b) && id(a) < id(b))
    var progress = true
    while (progress) {
      i = 0
      while (i < n) {
        if (color(i) == -1) cand(i) = mask(i).nextClearBit(0)
        i += 1
      }
      val kept = (0 until n).filter(v => color(v) == -1 &&
        !adj(v).exists(nb => color(nb) == -1 && cand(nb) == cand(v) && beats(nb, v)))
      progress = kept.nonEmpty
      kept.foreach { v =>
        color(v) = cand(v)
        adj(v).foreach(nb => if (color(nb) == -1) mask(nb).set(cand(v)))
      }
    }
    Iterator.range(0, n).filter(color(_) != -1).map(v => (id(v), color(v)))
  }

  /** Outer minimal-color search (O25, `coloring.py:212-231`): one run at
    * k = Δ+1, which cannot fail, whose colors used are the returned `k`.
    * The reference recolors from scratch at k = Δ+1, Δ, … until an attempt
    * fails, and writes the failed attempt's output (SURVEY.md §5 bug 1);
    * here there is no failed attempt to write.
    *
    * For the DETERMINISTIC Jp rounds one trace is the proof of the
    * kernel's minimal k: the per-round trace does not depend on the
    * palette except by running out of it (first-fit picks the smallest
    * free color whatever the palette;
    * priority admit is palette-blind), so a k' < colors-used attempt
    * replays the identical rounds until the first round where the Δ+1
    * trace committed a color ≥ k', and fails there. Hence the Δ+1 trace's
    * colors used is the least palette this kernel colors with (measured:
    * 40 s → 14 s for q_minimal_colors at sf0.1 — the k−1 probe replayed all
    * 13 rounds with bit-identical uncolored counts before failing on the
    * last one).
    *
    * Jp's degree aggregate is its only pass over the edges before round 1,
    * and it reads the colors used off each checkpoint, to size the next
    * round's mask and, off the last, as `k`, so it runs no job after its
    * rounds; it re-reads `edges` as given, so pass it materialized. GreedyRdd counts
    * the edges once for its partitioner and lands its colors through the
    * same observation; when its kernel declines the graph (past the 64-bit
    * mask or the bucket bound, [[GreedyRddKernel.greedyFits]]) the run is
    * the Jp one.
    */
  def minimalColors(
      spark: SparkSession,
      edges: DataFrame,
      strategy: Strategy = Strategy.Jp,
      extraVertices: Option[DataFrame] = None)
      : Colored = strategy match {
    case Strategy.Jp => jp(spark, edges, extraVertices)
    case Strategy.GreedyRdd =>
      // The greedy kernel's rounds are RDD rounds; its final colors land
      // here, and it frees its last round once they are copied.
      GreedyRddKernel.colorDeltaPlusOne(spark, edges, edges.count())(
          df => State.loop(appendIsolated(df, extraVertices), colorsUsed))
        .map { case (st, rounds) => Colored(st, st(ColorsUsed).toInt, rounds) }
        .getOrElse(jp(spark, edges, extraVertices))
  }

  /** O22 validation invariants (`validate_graph_coloring`,
    * `coloring.py:149-162`): (#uncolored, #conflicting edge pairs) — both
    * must be 0 for a valid coloring. */
  def validate(edges: DataFrame, colors: DataFrame): (Long, Long) = {
    // One aggregate gives the uncolored invariant AND the exact V that
    // decides the broadcast in conflictPairs.
    val head = colors.agg(
      count(lit(1)),
      sum(when(col("color") === -1, 1L).otherwise(0L))).head()
    val uncolored = if (head.isNullAt(1)) 0L else head.getLong(1)
    (uncolored, conflictPairs(edges, colors, head.getLong(0)).count())
  }

  /** The edges whose two endpoints have the same color, for a `colors`
    * frame of `v` rows.
    *
    * V-sized colors vs E-sized edges: both endpoints probe a broadcast, so
    * the edge list streams through one map-side pass (a checkpointed colors
    * DF has no useful stats, so AQE alone would plan sort-merge). The hint
    * is conditional on the exact V: past the executor-memory broadcast
    * bound (Broadcasts.maxRows, ~10^8 vertices) it drops and the same joins
    * shuffle — one edges pass either way.
    *
    * ONE broadcast, keyed by id alone, serves both endpoints: identical
    * child plans and keys let Spark reuse the exchange (ReusedExchange)
    * instead of building and shipping the V-sized map twice. The
    * same-color test runs after the probe, as an xor: written as an
    * equality, Catalyst lifts it into the second join's key and builds a
    * (color, id) map of its own ([[beaten]] does the same). */
  private[graft] def conflictPairs(edges: DataFrame, colors: DataFrame, v: Long): DataFrame = {
    val probe = maybeBroadcast(colors.select(col("id"), col("color")), v)
    edges.as("e")
      .join(probe.as("ca"), col("e.src") === col("ca.id"))
      .join(probe.as("cb"), col("e.dst") === col("cb.id"))
      .filter(col("ca.color").bitwiseXOR(col("cb.color")) === 0)
  }
}
