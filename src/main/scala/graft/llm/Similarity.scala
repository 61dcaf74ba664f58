package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Approximate-nearest-neighbor similarity search over `embeddings`
  * (north-star LLM-pipeline surface): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane-LSH bucketed variant as the scale path
  * (candidates per bucket instead of all-pairs; at 100 TB the bucket join
  * replaces an infeasible cross join, trading recall for a ~2^bits fan-in
  * reduction).
  *
  * Vector math runs as custom codegen expressions ([[graft.functions
  * .CosineSim]], [[graft.functions.SrpBucket]]) — fused allocation-free
  * loops inside whole-stage codegen; the `zip_with`/`aggregate` composed
  * forms they replaced walked and materialized an intermediate array per
  * fold per row. No UDF deserialization anywhere.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the fused codegen expression
    * [[graft.functions.CosineSim]]: one allocation-free loop instead of
    * three `aggregate(zip_with(...))` folds (each of which materializes a
    * products array per row). Bit-identical to the composed
    * `dot / (norm·norm)` form — same left-to-right IEEE accumulation
    * order (CosineSim scaladoc). The frame's session must have the graft
    * functions: [[graft.Session.local]] and every [[graft.tables.Tables]]
    * read register them. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Embedding dimensionality of the corpus (FIXTURES.md). */
  val DIMS = 64

  /** Deterministic ±1 random-hyperplane matrix (bits × dims): sign(p,i) =
    * parity of md5("p:i")'s first byte. Sign hyperplanes are the classic
    * SRP-LSH family (Charikar '02) — collision probability 1 − θ/π, same
    * as any rotation-invariant hyperplane draw — and, being constants
    * generated driver-side, the SAME values are inlined as literals into
    * both the Spark plan and the generated DuckDB oracle SQL. */
  lazy val planeSigns: Array[Array[Long]] = Array.tabulate(8, DIMS) { (p, i) =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    if ((d(0) & 1) == 1) 1L else -1L
  }

  /** LSH bucket id = sign-bit signature of `bits` hyperplane projections.
    * The projection is EXACT integer arithmetic: components are rounded to
    * 1e-6 fixed-point Longs, signs are ±1, so the sum is order-independent
    * and bit-identical across engines — float summation order can never
    * flip a bucket bit (all products are integers < 2^53, exact even on
    * DuckDB's double path). */
  def hyperplaneBucket(v: Column, bits: Int): Column = {
    // Mirrors hyperplaneBucketSql's bound: planeSigns has 8 rows, and
    // `take(bits)` past that would silently cap the flattened matrix while
    // the expression loops to `bits` (the runtime guard in SrpBucket.compute
    // would then throw per-row — fail at plan-build time instead).
    require(bits >= 1 && bits <= planeSigns.length,
      s"hyperplaneBucket: bits must be in [1, ${planeSigns.length}], got $bits")
    // Fused codegen expression (graft.functions.SrpBucket): all `bits`
    // integer projections in one array pass — the per-plane
    // aggregate(zip_with) folds it replaces materialized a products array
    // per row per plane. Same strict `> 0` sign rule, same exact-integer
    // arithmetic, so buckets are bit-identical to the composed form and
    // the oracle replay.
    val sv = transform(v, x => round(x * 1e6).cast("long"))
    val flatSigns = typedlit(planeSigns.take(bits).flatten.toSeq)
    call_function("graft_srp_bucket", sv, flatSigns, lit(bits))
  }

  /** DuckDB expression computing [[hyperplaneBucket]] over list column
    * `expr` — same fixed-point rounding, same inlined sign literals. */
  def hyperplaneBucketSql(expr: String, bits: Int = 8): String = {
    require(bits <= 8)
    (0 until bits).map { p =>
      val signs = planeSigns(p).mkString("[", ", ", "]")
      s"""(CASE WHEN list_inner_product(
         |  list_transform($expr, x -> round(x * 1000000)), $signs) > 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " +\n", ")")
  }

  /** Exact cosine top-k: for each query vector, scan all candidates
    * (broadcast the small query set — the big side streams), rank by
    * (cosine desc, id asc). */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = emb.select(col("vec_id").as("cand_id"), col("v").as("cand_v"))
    val q = queries.select(col("vec_id").as("query_id"), col("v").as("query_v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    broadcast(q).join(cand, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("query_v"), col("cand_v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def emb(spark: SparkSession, d: String): DataFrame = {
    // Tables.spread: a single-file embeddings scan would otherwise run
    // every downstream dot-product/bucketing map stage as one task.
    Tables.spread(Tables.embeddings(spark, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** Session-lifetime memo of the brute-force top-5 truth table — THREE
    * queries start from the identical exact ranking: q_sim_topk itself,
    * and the two recall harnesses q_ann_recall / q_ann_recall_ivf, which
    * consume it through their `qSimTopk(spark, d)` truth calls. The
    * corpus-wide cosine sweep therefore runs once per session instead of
    * three times (r14; the lpCache stance — deterministic result, shared
    * consumers). Materialized so consumers read checkpointed rows. */
  private val topkTruthCache = new graft.ops.SessionCache[DataFrame]

  /** The truth table's declarative plan, pre-checkpoint. The memo below
    * truncates the executed lineage to an RDD scan, which hides the query
    * shape from plan assertions — PlanShapeSpec pins the broadcast join
    * and the WindowGroupLimit HERE (the triangleTriplesPlan pattern). */
  private[graft] def simTopkPlan(spark: SparkSession, d: String): DataFrame = {
    val e = emb(spark, d)
    bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("cand_id"),
        col("rank").cast("int").as("rank"), round(col("cos"), 6).as("cos"))
  }

  private def simTopkTruth(spark: SparkSession, d: String): DataFrame =
    topkTruthCache.getOrElseUpdate(spark, d) {
      graft.ops.State.memo(simTopkPlan(spark, d)).df
    }

  /** q_sim_topk: exact top-5 neighbors for the first 10 vectors. Scores are
    * rounded to 6 dp for cross-engine comparison; ranks are deterministic
    * (cosine desc, id asc). */
  def qSimTopk(spark: SparkSession, d: String): DataFrame =
    simTopkTruth(spark, d).orderBy(col("query_id"), col("rank"))

  /** q_hard_negatives' query set size. */
  val HardNegQueries = 20

  /** q_hard_negatives: contrastive-pair mining — for each query vector,
    * the most similar SAME-label vector (the top positive) and the most
    * similar DIFFERENT-label vector (the hardest negative). This is the
    * hard-negative mining step of embedding-model training-data
    * construction (triplet/InfoNCE batches want negatives that are close
    * in the space but wrong by label).
    *
    * Scale shape: the bounded query set broadcasts and the corpus
    * streams through one fused-codegen cosine per (query, candidate) —
    * identical posture to [[qSimTopk]]'s brute-force contract; the
    * banded/bucketed variants ([[qSimLsh]]/[[qSimIvf]]) are the declared
    * path when the query set itself is corpus-sized. One window pass per
    * (query, polarity) picks the winner deterministically (cosine desc,
    * id asc); ties on the rounded score cannot flip the output because
    * ranking happens before rounding in both engines. */
  def qHardNegatives(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val q = base.filter(col("vec_id") < HardNegQueries)
      .select(col("vec_id").as("query_id"), col("v").as("query_v"),
        col("label").as("query_label"))
    val cand = base.select(col("vec_id").as("cand_id"), col("v").as("cand_v"),
      col("label").as("cand_label"))
    val w = Window.partitionBy(col("query_id"), col("is_pos"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    broadcast(q).join(cand, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("query_label"), col("cand_id"),
        (col("cand_label") === col("query_label")).as("is_pos"),
        cosine(col("query_v"), col("cand_v")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("query_id"), col("query_label"))
      .agg(
        max(when(col("is_pos"), col("cand_id"))).as("pos_id"),
        max(when(col("is_pos"), round(col("cos"), 6))).as("pos_cos"),
        max(when(!col("is_pos"), col("cand_id"))).as("neg_id"),
        max(when(!col("is_pos"), round(col("cos"), 6))).as("neg_cos"))
      .select(col("query_id"), col("query_label").as("label"), col("pos_id"),
        col("pos_cos"), col("neg_id"), col("neg_cos"))
      .orderBy(col("query_id"))
  }

  /** q_rank_fusion constants: per-list retrieval depth, the RRF damping
    * constant (k=60, the canonical value of Cormack/Clarke/Büttcher
    * SIGIR'09), and the fused output size. */
  val RrfDepth = 50
  val RrfK = 60L
  val RrfTopK = 20

  /** q_rank_fusion: hybrid retrieval — reciprocal-rank fusion of a lexical
    * (BM25, [[TextStats.qBm25]]'s fixed 5-term query) ranking and a
    * semantic (exact-cosine to query vector 0) ranking over the aligned
    * documents/embeddings id space. RRF(d) = Σ_lists 1/(k + rank_list(d)),
    * rendered in 10⁹ fixed point (`10⁹ div (k + rank)`) so the fused score
    * is exact BIGINT on both engines; only RANKS enter the score, so float
    * cosine values never touch the fused arithmetic. Documents in one list
    * only contribute that list's term (the standard RRF contract).
    *
    * Scale shape: both lists are depth-bounded BEFORE fusing — map-side
    * pruned (localTopK) so the global rank window sees ≤ P·depth rows,
    * never a corpus; the fuse itself is a [[RrfDepth]]-row full-outer
    * join. The corpus-sized work is exactly one BM25 score pass (the
    * length-filtered hit stream of qBm25) and one fused-codegen cosine
    * scan; at larger query sets the bucketed families ([[qSimLsh]]/
    * [[qSimIvf]]) substitute for the brute-force semantic leg. */
  def qRankFusion(spark: SparkSession, d: String): DataFrame = {
    val lexW = Window.orderBy(col("score").desc, col("doc_id").asc)
    val lex = graft.ops.Relational.localTopK(
        TextStats.bm25Scored(spark, d), RrfDepth,
        col("score").desc, col("doc_id").asc)
      .withColumn("lex_rank", row_number().over(lexW).cast("long"))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("doc_id").as("id"), col("lex_rank"))
    val e = emb(spark, d)
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("query_v")))
    val semW = Window.orderBy(col("cos").desc, col("cand_id").asc)
    val sem = graft.ops.Relational.localTopK(
        e.filter(col("vec_id") =!= 0).crossJoin(q)
          .select(col("vec_id").as("cand_id"),
            cosine(col("query_v"), col("v")).as("cos")),
        RrfDepth, col("cos").desc, col("cand_id").asc)
      .withColumn("sem_rank", row_number().over(semW).cast("long"))
      .filter(col("sem_rank") <= RrfDepth)
      .select(col("cand_id").as("id"), col("sem_rank"))
    val fusedW = Window.orderBy(col("rrf_x1e9").desc, col("id").asc)
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr(s"1000000000 div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($RrfK + sem_rank)"), lit(0L)))
          .as("rrf_x1e9"))
      .withColumn("rank", row_number().over(fusedW).cast("int"))
      .filter(col("rank") <= RrfTopK)
      .orderBy(col("rank"))
  }

  /** q_sim_lsh: bucketed ANN — same queries, neighbors restricted to the
    * query's hyperplane bucket (the IVF-style scale path). Output keeps
    * bucket recall inspectable: rank within bucket + exact cosine. */
  def qSimLsh(spark: SparkSession, d: String): DataFrame = {
    val bucketed = emb(spark, d)
      .withColumn("bucket", hyperplaneBucket(col("v"), bits = 8))
    val q = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("query_v"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    broadcast(q)
      .join(bucketed.select(col("vec_id").as("cand_id"), col("v").as("cand_v"),
        col("bucket")), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("query_v"), col("cand_v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Base number of IVF cells and Lloyd iterations for [[qSimIvf]]. */
  val IVF_CELLS = 16
  val IVF_ITERS = 5

  /** Target mean inverted-list size past the scaling knee: cells grow with
    * the corpus so per-cell probe cost stays flat (see [[ivfCellCount]]). */
  val IVF_CELL_TARGET: Long = 1L << 16

  /** Probe width for [[qSimIvf]]: how many nearest cells each query scans.
    * Default 1 (single-cell probe — the oracle-replayed configuration);
    * raising it trades candidate volume for recall, monotonically
    * (candidate sets are nested in nprobe — LlmSpec pins the recall
    * monotonicity against the brute-force truth). */
  val IvfNprobeKey = "graft.ivf.nprobe"

  /** Cell count for an N-vector corpus: the base [[IVF_CELLS]] below the
    * knee (N ≤ 16·2¹⁶ ≈ 1M), then the next power of two of
    * ⌈N / [[IVF_CELL_TARGET]]⌉ so the MEAN inverted list stays near 2¹⁶
    * vectors as the corpus grows — at 10 TB of embeddings the quantizer
    * widens instead of every cell going quadratic. Every driver-gate scale
    * sits far below the knee, so cells = 16 there and the unrolled DuckDB
    * oracle is unchanged. Seeds are `vec_id < cells` (ids are dense from
    * 0 in this corpus model). */
  private[graft] def ivfCellCount(n: Long): Int = {
    val want = math.max(IVF_CELLS.toLong,
      (n + IVF_CELL_TARGET - 1) / IVF_CELL_TARGET)
    var c = java.lang.Long.highestOneBit(want)
    if (c < want) c <<= 1
    c.toInt
  }

  /** Max vectors collected for quantizer training. Coarse-quantizer
    * training on a bounded sample is the standard ANN-index posture (FAISS
    * trains IVF codebooks on ≤ a few hundred k vectors regardless of corpus
    * size); past the cap a deterministic md5-bucket subsample (plus the 16
    * seed vectors) trains the codebook and only the O(N) assignment touches
    * the full corpus. Every driver-gate scale is far below the cap, so the
    * trained codebook is bit-identical to the full-corpus oracle replay. */
  val IVF_TRAIN_CAP = 1 << 18

  /** Train the IVF coarse quantizer: deterministic fixed-point Lloyd.
    * Vectors are 1e-6 fixed-point Longs (exact), init centroids are the
    * vectors with `vec_id 0..15`, assignment is argmin of the EXACT integer
    * squared L2 distance (ties → lowest cell id), and centroid update is
    * truncating integer mean — every step is order-independent integer
    * arithmetic, so the trained codebook is bit-identical across engines
    * and partitionings (spark-mllib's seeded KMeans'|| init is not: its
    * float sums depend on partition merge order).
    *
    * The Lloyd loop itself runs DRIVER-SIDE over the collected training
    * sample ([[IVF_TRAIN_CAP]]): a 16×64-long codebook over ≤ 2^18 vectors
    * is driver-memory work, and the distributed formulation paid ~10 jobs of
    * fixed scheduling cost per query for the same arithmetic (measured 5 s →
    * <1 s at sf0.1). The O(N) final assignment stays a distributed
    * broadcast join — that is the part that grows with the corpus.
    * Cell id = the seed vector's raw vec_id (matching the oracle's
    * CAST(vec_id AS INT) AS cell) — NOT a positional renumbering, which
    * would shift every cell after a gap in ids 0..15 and diverge on
    * distance ties. */
  private def ivfTrain(spark: SparkSession, sv: DataFrame, n: Long,
      nCells: Int): Array[(Int, Array[Long])] = {
    import spark.implicits._
    val trainDf =
      if (n <= IVF_TRAIN_CAP) sv
      else {
        val modulus = n / IVF_TRAIN_CAP + 1
        sv.filter(col("vec_id") < nCells ||
          pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(modulus)) === 0)
      }
    // Typed collect: the (Long, Array[Long]) encoder deserializes each
    // vector straight to a primitive long[] — the untyped Row path boxed
    // every component into a Seq[Long] (~4-8× the 128 MB primitive payload
    // in transient driver heap at the training cap).
    val train: Array[Array[Long]] = trainDf.select(col("vec_id"), col("s"))
      .as[(Long, Array[Long])].collect()
      .sortBy(_._1).map(_._2)
    var cents: Array[(Int, Array[Long])] = trainDf.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("s")).as[(Long, Array[Long])].collect()
      .map { case (id, s) => (id.toInt, s) }
      .sortBy(_._1)

    lloydIterate(train, cents, IVF_ITERS)
  }

  /** The deterministic fixed-point Lloyd loop shared by the IVF coarse
    * quantizer and the PQ sub-quantizers. Assignment: strict < over cells
    * in ascending id order = argmin of (d2, cell). Update: truncating
    * integer mean per cell/dim — Scala Long `/` truncates toward zero,
    * same as Spark `div` and the oracle's `//`. Empty cells keep the
    * previous centroid. Every step is order-independent integer
    * arithmetic, so the result is a pure function of (train, init). */
  private def lloydIterate(train: Array[Array[Long]],
      init: Array[(Int, Array[Long])], iters: Int): Array[(Int, Array[Long])] = {
    var cents = init
    for (_ <- 0 until iters) {
      val dims = cents.head._2.length
      val sums = cents.map(_ => new Array[Long](dims))
      val counts = new Array[Long](cents.length)
      train.foreach { s =>
        var best = 0; var bestD2 = Long.MaxValue
        var ci = 0
        while (ci < cents.length) {
          val cs = cents(ci)._2
          var d2 = 0L; var i = 0
          while (i < dims) { val d = s(i) - cs(i); d2 += d * d; i += 1 }
          if (d2 < bestD2) { bestD2 = d2; best = ci }
          ci += 1
        }
        counts(best) += 1
        val acc = sums(best)
        var i = 0
        while (i < dims) { acc(i) += s(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case ((c, old), ci) =>
        if (counts(ci) == 0) (c, old)
        else (c, sums(ci).map(_ / counts(ci)))
      }
    }
    cents
  }

  /** Distributed O(N) assignment against the trained codebook: argmin via
    * min_by on the (d2, cell) pair — a partial-aggregating hash agg
    * (map-side combine over the nCells broadcast-joined candidates) instead
    * of a window sort over |V|·nCells rows. */
  private def ivfAssign(spark: SparkSession, sv: DataFrame,
      cents: Array[(Int, Array[Long])]): DataFrame = {
    import spark.implicits._
    val centDf = broadcast(cents.toSeq.toDF("cell", "cs"))
    // Fused codegen expression — one loop per (vector, cell), no
    // differences array (graft.functions.SqDistLong; integer addition is
    // associative, identical result).
    val d2 = call_function("graft_sqdist_long", col("s"), col("cs"))
    sv.join(centDf)
      .select(col("vec_id"), col("cell"), d2.as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
  }

  /** Session-lifetime cache of the trained IVF model per sfDir — the
    * (vec_id, cell) assignment table plus the driver-held codebook. The
    * Lloyd quantizer is deterministic, and q_sim_ivf and q_dedup_semantic
    * start from the identical assignment, so training runs once per session
    * and both queries read the checkpointed result (the [[graft.llm.Dedup]]
    * pairs-cache stance). Only the two id-sized columns are cached
    * distributed — vectors re-join from the source table, so the cache
    * never duplicates the embedding payload; the codebook is
    * nCells×[[DIMS]] longs of driver memory. */
  private val ivfModelCache =
    new graft.ops.SessionCache[(DataFrame, Array[(Int, Array[Long])])]

  private def ivfModel(spark: SparkSession,
      d: String): (DataFrame, Array[(Int, Array[Long])]) =
    ivfModelCache.getOrElseUpdate(spark, d) {
      val e = graft.ops.State.memo(emb(spark, d)
        .withColumn("s", transform(col("v"), x => round(x * 1e6).cast("long"))))
      val sv = e.df.select(col("vec_id"), col("s"))
      val cents = ivfTrain(spark, sv, e.rows, ivfCellCount(e.rows))
      val out = graft.ops.State.memo(ivfAssign(spark, sv, cents)).df
      e.release()
      (out, cents)
    }

  /** (vec_id, cell) for every embedding under the trained quantizer. */
  private def ivfAssignments(spark: SparkSession, d: String): DataFrame =
    ivfModel(spark, d)._1

  /** Vectors joined with their IVF cell: (vec_id, v, cell). */
  private def ivfBucketed(spark: SparkSession, d: String): DataFrame =
    emb(spark, d).join(
      ivfAssignments(spark, d).withColumnRenamed("vec_id", "cell_vec_id"),
      col("vec_id") === col("cell_vec_id")).drop("cell_vec_id")

  /** q_sim_ivf: IVF-style ANN — the deterministic fixed-point Lloyd
    * quantizer ([[ivfTrain]]) assigns every vector to its nearest centroid
    * ([[ivfCellCount]] cells); each query probes its [[IvfNprobeKey]]
    * nearest cells (default 1 — the oracle-replayed configuration). The
    * inverted-file analog of q_sim_lsh: recall trades against a ~k×
    * candidate reduction, and at cluster scale the per-cell lists are the
    * partitioning. Multi-probe ranks cells per query by the SAME exact
    * integer d2 the assignment uses (ties → lowest cell), so candidate
    * sets are nested in nprobe and recall is monotone — candidates still
    * appear once each (a candidate lives in exactly one cell).
    * DuckDB-oracle-checked at nprobe=1: [[ivfOracleSql]] replays the
    * training loop as chained CTEs (integer distances are exact even on the
    * double `list_inner_product` path — all products < 2^53). */
  def qSimIvf(spark: SparkSession, d: String): DataFrame = {
    val nprobe = spark.conf.get(IvfNprobeKey, "1").toInt
    require(nprobe >= 1, s"$IvfNprobeKey must be >= 1, got $nprobe")
    simIvfAt(spark, d, nprobe)
  }

  /** [[qSimIvf]] at an explicit probe width — the shared core of the
    * conf-driven query above and the [[qAnnRecallIvf]] eval harness, which
    * grades several widths in one run (candidate sets are nested in
    * nprobe, so recall is monotone by construction — the harness asserts
    * it by measurement). */
  private def simIvfAt(spark: SparkSession, d: String, nprobe: Int): DataFrame = {
    val bucketed = ivfBucketed(spark, d)
    val q =
      if (nprobe == 1)
        bucketed.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("query_v"),
            col("cell"))
      else {
        // (query, cell) probe pairs: rank ALL cells per query by exact
        // integer distance to the trained centroids — a tiny
        // 10×nCells-row window over the broadcast codebook, never a
        // corpus-sized job.
        val cents = ivfModel(spark, d)._2
        import bucketed.sparkSession.implicits._
        val centDf = broadcast(cents.toSeq.toDF("cell", "cs"))
        val wc = Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cell"))
        emb(spark, d).filter(col("vec_id") < 10)
          .withColumn("s", transform(col("v"), x => round(x * 1e6).cast("long")))
          .select(col("vec_id").as("query_id"), col("v").as("query_v"), col("s"))
          .join(centDf)
          .select(col("query_id"), col("query_v"), col("cell"),
            call_function("graft_sqdist_long", col("s"), col("cs")).as("d2"))
          .withColumn("pr", row_number().over(wc))
          .filter(col("pr") <= nprobe)
          .select(col("query_id"), col("query_v"), col("cell"))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    broadcast(q)
      .join(bucketed.select(col("vec_id").as("cand_id"), col("v").as("cand_v"),
        col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("query_v"), col("cand_v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization geometry for [[qSimPq]]: [[PQ_M]] subspaces of
    * [[PQ_SUBDIM]] dims each, [[PQ_K]] centroids per subspace, trained for
    * [[PQ_ITERS]] Lloyd rounds. 16 cells = 4-bit codes: a vector compresses
    * from 64 floats to 8 codes (64× smaller than float32). */
  val PQ_M = 8
  val PQ_SUBDIM: Int = DIMS / PQ_M
  val PQ_K = 16
  val PQ_ITERS = 3

  /** Train the PQ codebooks: one deterministic fixed-point Lloyd run per
    * subspace over the SAME bounded training sample discipline as
    * [[ivfTrain]] (full corpus below [[IVF_TRAIN_CAP]], md5-bucket
    * subsample past it). Init centroids per subspace are the subvectors of
    * `vec_id 0..15`, cell id = the seed's raw vec_id — the IVF convention,
    * so the oracle replay needs no renumbering. Returns
    * `cents(m) = [(cell, centroid: Array[Long](PQ_SUBDIM))]`. */
  private def pqTrain(spark: SparkSession, sv: DataFrame,
      n: Long): Array[Array[(Int, Array[Long])]] = {
    import spark.implicits._
    val trainDf =
      if (n <= IVF_TRAIN_CAP) sv
      else {
        val modulus = n / IVF_TRAIN_CAP + 1
        sv.filter(col("vec_id") < PQ_K ||
          pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(modulus)) === 0)
      }
    val train: Array[Array[Long]] = trainDf.select(col("vec_id"), col("s"))
      .as[(Long, Array[Long])].collect().sortBy(_._1).map(_._2)
    val seeds: Array[(Int, Array[Long])] = trainDf.filter(col("vec_id") < PQ_K)
      .select(col("vec_id"), col("s")).as[(Long, Array[Long])].collect()
      .map { case (id, s) => (id.toInt, s) }.sortBy(_._1)
    Array.tabulate(PQ_M) { m =>
      val lo = m * PQ_SUBDIM
      lloydIterate(
        train.map(_.slice(lo, lo + PQ_SUBDIM)),
        seeds.map { case (c, s) => (c, s.slice(lo, lo + PQ_SUBDIM)) },
        PQ_ITERS)
    }
  }

  /** q_sim_pq: product-quantization ANN — the third scale path beside LSH
    * buckets and IVF cells, and the one that changes the SCAN itself: every
    * vector is encoded as [[PQ_M]] 4-bit codes (nearest [[pqTrain]]
    * centroid per subspace), and each query ranks candidates by ASYMMETRIC
    * distance — Σₘ d²(queryₘ, centroid[codeₘ]) — read from a per-query
    * lookup table of queries × M × K partial distances. The search never
    * touches the original vectors: the probe scans the 64×-compressed code
    * table against a broadcast LUT (10·8·16 rows here), which is why PQ is
    * the standard 100 TB ANN memory layout (at that scale the codes fit
    * where the vectors never could; composing the scan with IVF cells =
    * IVF-PQ is routing, not a new operator).
    *
    * Determinism: quantization, Lloyd, code assignment, and the LUT are all
    * exact integer arithmetic (ties → lowest cell / lowest cand_id), `adist`
    * is an exact BIGINT on both engines, and the oracle replays the three
    * Lloyd rounds per subspace as chained CTEs over a (vec_id, m) key —
    * [[pqOracleSql]]. Top-5 per query, ranked (adist asc, cand_id asc). */
  def qSimPq(spark: SparkSession, d: String): DataFrame =
    pqOver(emb(spark, d))

  /** The [[qSimPq]] core over any (vec_id, v) relation — split out so
    * LlmSpec can drive the exact-reconstruction case (n = k distinct
    * subvectors ⇒ every vector is its own centroid and ADC equals the exact
    * distance). */
  private[graft] def pqOver(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val svState = graft.ops.State.memo(e
      .withColumn("s", transform(col("v"), x => round(x * 1e6).cast("long")))
      .select(col("vec_id"), col("s")))
    val sv = svState.df
    try {
      val cents = pqTrain(spark, sv, svState.rows)
      val centDf = broadcast(
        (for (m <- 0 until PQ_M; (cell, cs) <- cents(m)) yield (m, cell, cs))
          .toSeq.toDF("m", "cell", "cs"))
      val subs = sv
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("s"))
        .select(col("vec_id"), col("m"),
          slice(col("s"), (col("m") * PQ_SUBDIM + 1).cast("int"),
            lit(PQ_SUBDIM)).as("ss"))
      // Encode: argmin centroid per (vector, subspace) — map-side expand
      // against the broadcast codebook, partial-aggregating min_by. The
      // result is the N×M code table (the persistent PQ index at scale).
      val codes = subs.join(centDf, Seq("m"))
        .select(col("vec_id"), col("m"), col("cell"),
          call_function("graft_sqdist_long", col("ss"), col("cs")).as("d2"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      // Per-query LUT: exact integer partial distance to EVERY centroid of
      // every subspace — queries × M × K rows, broadcast to the code scan.
      val lut = subs.filter(col("vec_id") < 10).join(centDf, Seq("m"))
        .select(col("vec_id").as("query_id"), col("m"), col("cell"),
          call_function("graft_sqdist_long", col("ss"), col("cs")).as("pd2"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adist"), col("cand_id"))
      val out = graft.ops.State.memo(codes.join(broadcast(lut), Seq("m", "cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pd2")).as("adist"))
        .select(col("query_id"), col("vec_id").as("cand_id"), col("adist"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("cand_id"), col("rank"), col("adist"))
        .orderBy(col("query_id"), col("rank"))).df
      out
    } finally svState.release()
  }

  /** DuckDB replay of [[qSimPq]]: the per-subspace Lloyd rounds run as ONE
    * set of chained CTEs keyed by (vec_id, m) — subspace is a grouping
    * column, not an unrolled dimension — then the final code assignment,
    * the query LUT, and the ADC sum. All distances are 1e-6 fixed-point
    * integer arithmetic: every `list_inner_product` operand product is
    * < 2⁵³ (exact on the double path), and the final BIGINT sums are exact
    * on both engines. */
  def pqOracleSql(iters: Int = PQ_ITERS): String =
    "WITH " + pqCteChain(iters) +
      s"""
         |SELECT query_id, cand_id, rank, adist
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The [[pqOracleSql]] CTE chain without the leading WITH or the final
    * SELECT, every CTE name prefixed by `p` — so the q_ann_recall_ivf
    * oracle can splice the PQ replay next to the IVF chain without name
    * collisions (both define sv/c0/a0/...). With the empty prefix this
    * regenerates the q_sim_pq oracle text verbatim. */
  private def pqCteChain(iters: Int = PQ_ITERS, p: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${p}sv AS MATERIALIZED (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(round(x * 1000000) AS BIGINT)) AS s
         |  FROM embeddings),
         |${p}sub AS MATERIALIZED (
         |  SELECT vec_id, t.m, list_slice(s, t.m * $PQ_SUBDIM + 1,
         |                                 t.m * $PQ_SUBDIM + $PQ_SUBDIM) AS ss
         |  FROM ${p}sv, range(0, $PQ_M) t(m)),
         |${p}sub2 AS MATERIALIZED (
         |  SELECT vec_id, m, ss, list_inner_product(ss, ss) AS a2 FROM ${p}sub),
         |${p}c0 AS (SELECT m, CAST(vec_id AS INT) AS cell, ss AS cs
         |       FROM ${p}sub WHERE vec_id < $PQ_K)""".stripMargin)
    def assignCte(name: String, centName: String): String =
      s""",
         |${p}${name}x AS MATERIALIZED (
         |  SELECT m, cell, cs, list_inner_product(cs, cs) AS c2 FROM $centName),
         |$p$name AS MATERIALIZED (
         |  SELECT vec_id, m, cell FROM (
         |    SELECT v.vec_id, v.m, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id, v.m
         |        ORDER BY v.a2 - 2 * list_inner_product(v.ss, c.cs) + c.c2,
         |                 c.cell) AS rn
         |    FROM ${p}sub2 v JOIN ${p}${name}x c ON c.m = v.m) WHERE rn = 1)""".stripMargin
    for (t <- 0 until iters) {
      sb.append(assignCte(s"a$t", s"${p}c$t"))
      sb.append(
        s""",
           |${p}u$t AS MATERIALIZED (
           |  SELECT a.m, a.cell, r.i,
           |    CAST(sum(v.ss[r.i + 1]) AS BIGINT) // count(*) AS ci
           |  FROM ${p}a$t a JOIN ${p}sub2 v ON v.vec_id = a.vec_id AND v.m = a.m
           |  CROSS JOIN (SELECT unnest(range(0, $PQ_SUBDIM)) AS i) r
           |  GROUP BY a.m, a.cell, r.i),
           |${p}n$t AS MATERIALIZED (
           |  SELECT m, cell, list(ci ORDER BY i) AS cs FROM ${p}u$t GROUP BY m, cell),
           |${p}c${t + 1} AS MATERIALIZED (
           |  SELECT p.m, p.cell, coalesce(n.cs, p.cs) AS cs
           |  FROM ${p}c$t p LEFT JOIN ${p}n$t n ON n.m = p.m AND n.cell = p.cell)""".stripMargin)
    }
    sb.append(assignCte("af", s"${p}c$iters"))
    sb.append(
      s""",
         |${p}lutx AS (SELECT m, cell, cs, list_inner_product(cs, cs) AS c2
         |         FROM ${p}c$iters),
         |${p}lut AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.m, c.cell,
         |    CAST(q.a2 - 2 * list_inner_product(q.ss, c.cs) + c.c2 AS BIGINT)
         |      AS pd2
         |  FROM ${p}sub2 q JOIN ${p}lutx c ON c.m = q.m WHERE q.vec_id < 10),
         |${p}adc AS (
         |  SELECT l.query_id, a.vec_id AS cand_id, CAST(sum(l.pd2) AS BIGINT)
         |    AS adist
         |  FROM ${p}af a JOIN ${p}lut l ON l.m = a.m AND l.cell = a.cell
         |  WHERE a.vec_id <> l.query_id
         |  GROUP BY l.query_id, a.vec_id),
         |${p}ranked AS (
         |  SELECT query_id, cand_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adist, cand_id) AS INT) AS rank
         |  FROM ${p}adc)""".stripMargin)
    sb.toString
  }

  /** Cosine threshold for [[qDedupSemantic]]. This synthetic corpus has no
    * true semantic near-dups (max pairwise cosine ≈ 0.51), so 0.4 exercises
    * the decision path with a realistically sparse dup rate (~0.3% of
    * within-cell pairs); a production filter over real embeddings would use
    * ≥ 0.9. Measured threshold clearance at all three gate scales:
    * min |cos − 0.4| ≥ 2.5e-5 — nine orders above double-ulp noise, so the
    * cross-engine comparison can't flip a verdict. */
  val SEMANTIC_TAU = 0.4

  /** Cell-size cap for [[qDedupSemantic]] (r8 VERDICT item 9): a cell
    * bigger than this is deterministically SUB-BUCKETED (md5(vec_id) mod
    * ⌈size/cap⌉) and the pair comparison runs within (cell, sub) — the
    * degenerate all-one-cell corpus then costs ~N·cap comparisons instead
    * of N². This is the standard SemDedup cluster-size-cap posture: a
    * documented recall trade (cross-sub pairs are not compared) that only
    * engages past the cap. The oracle replays the sub-bucketing at the
    * DEFAULT cap with the house md5 hash (the 30× leg was the first corpus
    * whose cells exceeded it — r10 gate catch); session-configurable so
    * BoundsSpec can drive the adversarial case. */
  val SemDedupCellCapKey = "graft.semdedup.cellCap"
  val DefaultSemDedupCellCap = 4096

  /** q_dedup_semantic: SemDedup-style embedding dedup — the dedup DECISION
    * over the IVF geometry: every vector lands in its [[ivfTrain]] cluster
    * cell, and within a cell a vector is a duplicate if some LOWER-id
    * vector sits at cosine ≥ [[SEMANTIC_TAU]] (scan-order keeper rule, the
    * same first-prior-doc convention as the streaming near-dup). Output is
    * one decision row per vector: cell, `dup_of` = the smallest such prior
    * vector (−1 for keepers), `keep`, and the within-cell match count.
    *
    * Differs from q_dedup_embed in both mechanism and product: the bucket
    * is a LEARNED quantizer cell (data-adaptive, the SemDedup construction)
    * rather than a random hyperplane signature, and the output is the
    * per-vector keep/drop decision rather than the pair list. Candidate
    * cost is Σ cell² bounded by the [[SemDedupCellCapKey]] sub-bucketing
    * guard, and at cluster scale cells are the partitioning. The chained
    * `dup_of` may itself be a duplicate (scan-order semantics, documented);
    * transitive collapse is q_dedup_cluster's job on the pair graph. */
  def qDedupSemantic(spark: SparkSession, d: String): DataFrame = {
    val cap = spark.conf
      .get(SemDedupCellCapKey, DefaultSemDedupCellCap.toString).toInt
    dedupSemanticOver(ivfBucketed(spark, d), cap)
  }

  /** The [[qDedupSemantic]] core over any (vec_id, v, cell) relation —
    * split out so BoundsSpec can feed an adversarial all-one-cell corpus
    * without training a quantizer. Cells at or under `cap` compare exactly
    * as before (sub = 0 everywhere, bit-identical output); larger cells
    * split into ⌈size/cap⌉ md5 sub-buckets first. */
  private[graft] def dedupSemanticOver(bucketed: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"semantic-dedup cell cap must be >= 1, got $cap")
    // Cell sizes are one row per cell — tiny next to the corpus (the
    // quantizer keeps mean cell size near IVF_CELL_TARGET), so broadcast.
    val sizes = bucketed.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val sub = bucketed.join(broadcast(sizes), Seq("cell"))
      .withColumn("nsub", expr(s"(cell_n + ${cap - 1}) div $cap"))
      .withColumn("sub", when(col("nsub") <= 1L, lit(0L)).otherwise(
        pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), col("nsub"))))
      .select(col("vec_id"), col("v"), col("cell"), col("sub"))
    val matches = sub.as("a")
      .join(sub.as("b"),
        col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("prior_id"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= SEMANTIC_TAU)
      .groupBy(col("vec_id"))
      .agg(min(col("prior_id")).as("dup_of"), count(lit(1)).as("n_matches"))
    bucketed.select(col("vec_id"), col("cell"))
      .join(matches, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.cast("int").as("keep"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .orderBy(col("vec_id"))
  }

  /** Shared oracle CTE prefix replaying the trained quantizer: fixed-point
    * vectors → Lloyd rounds → final assignment `af` → `b` = (vec_id, v,
    * cell). Used by [[ivfOracleSql]] and [[dedupSemanticOracleSql]].
    * Distances use |a|² − 2a·c + |c|² over `list_inner_product` — exact
    * even on the double path because every product of 1e-6 fixed-point
    * components is an integer < 2^53. Centroid means use `//` (DuckDB
    * truncates toward zero on integers, same as Scala `Long` division);
    * empty cells inherit the previous centroid via LEFT JOIN on both
    * sides. */
  private def ivfCtes(iters: Int, cells: Int = IVF_CELLS): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH sv AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(round(x * 1000000) AS BIGINT)) AS s
         |  FROM embeddings),
         |sv2 AS MATERIALIZED (SELECT vec_id, v, s, list_inner_product(s, s) AS a2 FROM sv),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, s AS cs FROM sv WHERE vec_id < $cells)""".stripMargin)
    def assignCte(name: String, centName: String): String =
      s""",
         |${name}x AS MATERIALIZED (SELECT cell, cs, list_inner_product(cs, cs) AS c2 FROM $centName),
         |$name AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.a2 - 2 * list_inner_product(v.s, c.cs) + c.c2, c.cell) AS rn
         |    FROM sv2 v CROSS JOIN ${name}x c) WHERE rn = 1)""".stripMargin
    for (t <- 0 until iters) {
      sb.append(assignCte(s"a$t", s"c$t"))
      sb.append(
        s""",
           |u$t AS MATERIALIZED (
           |  SELECT a.cell, r.i,
           |    CAST(sum(v.s[r.i + 1]) AS BIGINT) // count(*) AS ci
           |  FROM a$t a JOIN sv2 v USING (vec_id)
           |  CROSS JOIN (SELECT unnest(range(0, $DIMS)) AS i) r
           |  GROUP BY a.cell, r.i),
           |n$t AS MATERIALIZED (SELECT cell, list(ci ORDER BY i) AS cs FROM u$t GROUP BY cell),
           |c${t + 1} AS MATERIALIZED (
           |  SELECT p.cell, coalesce(n.cs, p.cs) AS cs
           |  FROM c$t p LEFT JOIN n$t n USING (cell))""".stripMargin)
    }
    sb.append(assignCte("af", s"c$iters"))
    sb.append(
      s""",
         |b AS (SELECT v.vec_id, v.v, a.cell FROM sv2 v JOIN af a USING (vec_id))""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[qDedupSemantic]]: the shared IVF prefix, then the
    * scan-order dedup decision over within-cell cosine matches. */
  def dedupSemanticOracleSql(iters: Int = IVF_ITERS): String = {
    val cap = DefaultSemDedupCellCap
    ivfCtes(iters) +
      s""",
         |sizes AS (SELECT cell, count(*) AS cell_n FROM b GROUP BY cell),
         |bs AS (
         |  SELECT b.vec_id, b.v, b.cell,
         |    CASE WHEN (sizes.cell_n + ${cap - 1}) // $cap <= 1 THEN 0
         |         ELSE ('0x' || substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 8))::BIGINT
         |              % ((sizes.cell_n + ${cap - 1}) // $cap) END AS sub
         |  FROM b JOIN sizes USING (cell)),
         |m AS (
         |  SELECT hi.vec_id, min(lo.vec_id) AS dup_of, count(*) AS n_matches
         |  FROM bs lo JOIN bs hi ON lo.cell = hi.cell AND lo.sub = hi.sub
         |    AND lo.vec_id < hi.vec_id
         |  WHERE list_cosine_similarity(lo.v, hi.v) >= $SEMANTIC_TAU
         |  GROUP BY hi.vec_id)
         |SELECT b.vec_id, b.cell,
         |  coalesce(m.dup_of, -1) AS dup_of,
         |  CAST(m.vec_id IS NULL AS INT) AS keep,
         |  coalesce(m.n_matches, 0) AS n_matches
         |FROM b LEFT JOIN m USING (vec_id) ORDER BY b.vec_id""".stripMargin
  }

  def ivfOracleSql(iters: Int = IVF_ITERS): String = {
    val sb = new StringBuilder
    sb.append(ivfCtes(iters))
    sb.append(
      s""",
         |cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    list_cosine_similarity(q.v, c.v) AS cos
         |  FROM b q JOIN b c ON c.cell = q.cell AND q.vec_id < 10
         |   AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, cand_id) AS INT) AS rank
         |  FROM cand)
         |SELECT query_id, cand_id, rank, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    sb.toString
  }

  /** q_pca_power's synchronous round count — a semantic constant (the
    * LP_ROUNDS stance): both engines run exactly this many matvec rounds,
    * so the result is a pure function of the corpus, converged or not. */
  val PCA_ITERS = 8

  /** q_pca_power accumulation crossover: with components |x| < 8 (quantized
    * |q| < 2²³) and per-round dot rescale to 13 bits, a single-level long
    * column sum stays under 2⁶² for N < 2²⁶ vectors (~67M). PAST the
    * crossover the rounds switch to a segmented two-level accumulation
    * (r8 VERDICT item 7): per-segment partials over ≤2²⁵ vec_ids each stay
    * exact long (< 2²⁵·2³⁶ = 2⁶¹), and the second level sums the partials
    * in DECIMAL(38,0) — still exact integer (headroom to N < 2⁹⁰), so the
    * result is BIT-IDENTICAL to the narrow path and the DuckDB oracle is
    * unchanged. Session-configurable so BoundsSpec can force the wide path
    * on a small corpus and prove the bit-equality. */
  val PcaMaxVecsKey = "graft.pca.maxVecs"
  val DefaultPcaMaxVecs: Long = 1L << 26

  /** q_pca_power: dominant principal direction of the embedding matrix —
    * [[PCA_ITERS]] rounds of distributed power iteration v ← Xᵀ(Xv) on the
    * UNCENTERED Gramian (the top right-singular direction; centering is a
    * documented non-goal — it would trade the pure-integer determinism
    * below for a rational mean). The linear-algebra capability class a
    * training pipeline needs beyond per-pair similarity: corpus-level
    * spectral structure (dominant topic/style axis, outlier projections)
    * from full passes over the data with driver-held 64-long model state —
    * the MLlib treeAggregate shape, never a collected matrix.
    *
    * Determinism (SURVEY §8): cross-row sums are the one nondeterministic
    * float path in Spark (partition order), so every cross-row accumulator
    * here is EXACT INTEGER — components quantized to ⌊x·2²⁰⌋ once, per-round
    * rescale by arithmetic shifts sized from `length(bin(max))` (the
    * q_lm_score floor-log₂ trick); Spark, Scala, and DuckDB all
    * arithmetic-shift and floor identically, so the oracle's unrolled-CTE
    * replay is bit-exact.
    *
    * Scale shape: the quantized (vec_id, j, q) matrix is hash-partitioned
    * by vec_id ONCE and persisted; each round's row-dot hash-agg and its
    * dot-join both reuse that partitioning (no per-round matrix shuffle —
    * only 64-row model partials move), and the model vector rides into the
    * plan as a 64-element literal, never a join against a driver table. */
  def qPcaPower(spark: SparkSession, d: String): DataFrame =
    pcaPower(spark, Tables.embeddings(spark, d))

  /** The [[qPcaPower]] core over any (vec_id, embedding) relation — split
    * out so LlmSpec can prove the dominant axis on literal vectors. */
  private[graft] def pcaPower(spark: SparkSession, embs: DataFrame): DataFrame = {
    import spark.implicits._
    val SCALE = 1L << 20
    val maxVecs = spark.conf
      .get(PcaMaxVecsKey, DefaultPcaMaxVecs.toString).toLong
    // Vector count up front (parquet metadata for file sources): it gates
    // the fixed-point headroom AND sizes the matrix partitioning — ~250k
    // quantized entries per partition, the greedy kernel's rule. At bench
    // scale that is a couple of partitions (per-task overhead dominated
    // the first cut: 32-way near-empty stages × 3 jobs × 8 rounds read as
    // 25 s of pure scheduling CPU); at 10⁸ vectors it is ~25k partitions.
    val nVec = embs.count()
    // Past the crossover the single-long column sum could overflow, so the
    // rounds run the segmented two-level accumulation instead (see
    // [[PcaMaxVecsKey]]) — same exact-integer result, ~2× agg-buffer width.
    val wideAcc = nVec >= maxVecs
    val nParts = math.max(nVec * DIMS / 250000L, 1L).toInt
    val qm = embs
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
        floor(col("col") * SCALE).as("q"))
      .repartition(nParts, col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxQ = qm.agg(coalesce(max(abs(col("q"))), lit(0L))).head().getLong(0)
      if (maxQ >= (1L << 23)) sys.error(
        s"qPcaPower: component magnitude past the fixed-point headroom " +
          s"(max|q|=$maxQ limit=2^23) — drop the quantization scale (scaladoc)")
      def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
      var v = Array.fill(DIMS)(SCALE)
      if (nVec > 0L) {
        for (_ <- 1 to PCA_ITERS) {
          // Row dots: exchange-free hash-agg over the vec_id partitioning.
          // NOT materialized: the max job and the num job each recompute it
          // (two matrix passes per round either way — a checkpoint's
          // materialization IS a pass — and integer sums make the two
          // evaluations bit-identical), saving a job launch per round.
          def dots = qm
            .groupBy(col("vec_id"))
            .agg(sum(col("q") * element_at(lit(v), col("j").cast("int")))
              .as("dot"))
          val m1 = dots.agg(coalesce(max(abs(col("dot"))), lit(0L)))
            .head().getLong(0)
          val s1 = math.max(bitlen(m1) - 13, 0)
          // Column sums: the only cross-partition traffic is 64-row partials
          // (narrow) or 64·⌈N/2²⁵⌉ segment partials (wide — still tiny).
          val joined = qm
            .join(dots.select(col("vec_id"), shiftright(col("dot"), s1).as("dd")),
              "vec_id")
          val numArr = Array.fill(DIMS)(BigInt(0))
          if (!wideAcc) {
            joined
              .groupBy(col("j"))
              .agg(sum(col("q") * col("dd")).as("num"))
              .collect()
              .foreach(r => numArr(r.getLong(0).toInt - 1) = BigInt(r.getLong(1)))
          } else {
            // Segment = vec_id high bits: ≤ 2²⁵ distinct ids per segment by
            // construction (dense or not), so each long partial is bounded
            // by 2²⁵·2³⁶ = 2⁶¹; the decimal second level is exact integer.
            // Integer addition is associative, so the regrouped sum is
            // bit-identical to the narrow single-level sum.
            joined
              .groupBy(shiftright(col("vec_id"), 25).as("seg"), col("j"))
              .agg(sum(col("q") * col("dd")).as("p"))
              .groupBy(col("j"))
              .agg(sum(col("p").cast("decimal(38,0)")).as("num"))
              .collect()
              .foreach(r => numArr(r.getLong(0).toInt - 1) =
                BigInt(r.getDecimal(1).toBigIntegerExact))
          }
          val m2 = numArr.map(_.abs).max
          val s2 = math.max(m2.bitLength - 21, 0)
          v = numArr.map(n => (n >> s2).toLong)
        }
      }
      v.zipWithIndex.map { case (x, i) => ((i + 1).toLong, x) }.toSeq
        .toDF("j", "v").orderBy(col("j"))
    } finally qm.unpersist(blocking = false)
  }

  /** Unrolled-CTE DuckDB replay of [[qPcaPower]] — same quantization, same
    * shift schedule from `length(bin(max(abs(…))))`, same arithmetic
    * shifts (probed: DuckDB `>>` is arithmetic on negative BIGINTs, like
    * Scala's `>>` and Spark's `shiftright`). */
  def pcaPowerOracleSql(iters: Int = PCA_ITERS): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qm AS MATERIALIZED (
        |  SELECT vec_id, CAST(t.i AS BIGINT) AS j,
        |    CAST(floor(v[CAST(t.i AS INT)] * 1048576) AS BIGINT) AS q
        |  FROM e, range(1, 65) t(i)),
        |v0 AS (SELECT CAST(t.i AS BIGINT) AS j,
        |  CAST(1048576 AS BIGINT) AS val FROM range(1, 65) t(i))""".stripMargin)
    for (t <- 1 to iters) sb.append(
      s""",
         |dot$t AS MATERIALIZED (
         |  SELECT m.vec_id, CAST(sum(m.q * v.val) AS BIGINT) AS dot
         |  FROM qm m JOIN v${t - 1} v ON v.j = m.j GROUP BY m.vec_id),
         |s$t AS (SELECT greatest(length(bin(coalesce(max(abs(dot)), 0))) - 13, 0) AS s
         |  FROM dot$t),
         |d$t AS (SELECT vec_id, dot >> (SELECT s FROM s$t) AS dd FROM dot$t),
         |num$t AS (
         |  SELECT m.j, CAST(sum(m.q * d.dd) AS BIGINT) AS num
         |  FROM qm m JOIN d$t d ON d.vec_id = m.vec_id GROUP BY m.j),
         |s2_$t AS (SELECT greatest(length(bin(coalesce(max(abs(num)), 0))) - 21, 0) AS s
         |  FROM num$t),
         |v$t AS (SELECT j, num >> (SELECT s FROM s2_$t) AS val FROM num$t)""".stripMargin)
    sb.append(s"""
         |SELECT v.j, coalesce(r.val, 1048576) AS v
         |FROM v0 v LEFT JOIN v$iters r ON r.j = v.j ORDER BY v.j""".stripMargin)
    sb.toString
  }

  /** Fixed-point scale for [[qOutlierEmbed]] (2^20, the PCA convention:
    * `floor(x * 2^20)` is exact on doubles — power-of-two scaling). */
  val OUTLIER_SCALE = 1048576L

  /** Outliers reported by [[qOutlierEmbed]]. */
  val OUTLIER_TOPK = 50

  /** q_outlier_embed: embedding-space outlier scoring — distance² from the
    * corpus centroid, reported for the [[OUTLIER_TOPK]] most-distant
    * vectors. The standard corpus-quality filter: embedding outliers are
    * mislabeled/garbled documents, and the same score drives diversity
    * sampling. Ranks by the EXACT integer
    * `score = Σ_j (n·q_j − s_j)²` where `q = floor(x·2^20)` (so
    * score = n²·2^40·dist², monotone in the true distance — no float sums
    * ever cross rows); `dist2` divides the exact score back down in pinned
    * IEEE order for human consumption.
    *
    * Scale shape: pass 1 explodes to (dim, q) and partial-aggregates to 64
    * rows (map-side combine; the exchange carries 64 rows per task); the
    * 64 per-dim sums are driver-collected (bounded by DIMENSION, the
    * codebook precedent) and ride back as an array literal, so pass 2 is
    * map-only (zip_with fold) + TakeOrdered(50) — no V-sized shuffle
    * anywhere. Integer headroom: |n·q| < 2⁶³ and Σd² < 10³⁸ hold to
    * n ≈ 2·10¹² vectors (DECIMAL(38,0) / HUGEINT on the two engines,
    * the assortativity precedent); past that the per-dim shift schedule
    * of [[qPcaPower]] applies. */
  def qOutlierEmbed(spark: SparkSession, d: String): DataFrame = {
    // Deliberately NOT materialized between the two passes: the quantized
    // (vec_id, label, q) frame is 512 B/row — 2× the raw embedding bytes —
    // so a localCheckpoint writes MORE than the scan it saves, and the A/B
    // (r11, back-to-back, 32 threads) measured checkpoint CPU 1.32×
    // (5.98 → 7.91 s) at wall parity. Re-running the cheap columnar scan +
    // in-row quantize twice is the cheaper side of the trade at every
    // scale where the ratio holds (quantize ~1 µs/row vs serialize+
    // deserialize ~2 µs/row + 2× write volume).
    val emb = Tables.spread(Tables.embeddings(spark, d))
      .select(col("vec_id"), col("label"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * OUTLIER_SCALE).cast("long")).as("q"))
    val sums = emb
      .select(posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy(col("j"))
      .agg(sum(col("qj")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("j"))
      .collect()
    val n = sums.head.getLong(2)
    val sArr = sums.map(_.getLong(1)).toSeq
    val zero = lit(new java.math.BigDecimal(0)).cast("decimal(38,0)")
    val score = aggregate(
      zip_with(col("q"), typedlit(sArr), (qj, sj) =>
        (lit(n) * qj - sj).cast("decimal(19,0)")),
      zero,
      (acc, dd) => acc + dd * dd)
    emb.select(col("vec_id"), col("label"), score.as("score_d"))
      .withColumn("dist2",
        col("score_d").cast("double") / lit(n.toDouble) / lit(n.toDouble) /
          lit((OUTLIER_SCALE * OUTLIER_SCALE).toDouble))
      .orderBy(col("score_d").desc, col("vec_id"))
      .limit(OUTLIER_TOPK)
      // exact integer rendered as VARCHAR (the oracle type sweep's
      // HUGEINT/DECIMAL rule — list/wide values ship as strings)
      .select(col("vec_id"), col("label"),
        col("score_d").cast("string").as("score"), col("dist2"))
  }

  /** q_cluster_kmeans' cluster count and round count — semantic constants
    * (the LP_ROUNDS stance): both engines run exactly this many Lloyd
    * rounds from the same init, so the result is a pure function of the
    * corpus, converged or not. */
  val KMEANS_K = 8
  val KMEANS_ITERS = 3

  /** q_cluster_kmeans: FULLY DISTRIBUTED Lloyd k-means over the entire
    * embedding corpus — the cluster-then-sample curation primitive
    * (semantic corpus segmentation, per-cluster quota sampling, drift
    * cards). Distinct from [[ivfTrain]], which deliberately trains a
    * coarse ANN quantizer driver-side on a capped sample: here the
    * CONTRACT is the exact full-corpus Lloyd fixpoint trajectory
    * ([[KMEANS_ITERS]] rounds, no train cap), so the per-round sufficient
    * statistics are computed distributed and only the k×[[DIMS]] codebook
    * ever reaches the driver.
    *
    * Determinism: 1e-6 fixed-point vectors, assignment = argmin of the
    * exact integer d² with ties to the lowest cell, centroid update =
    * truncating integer mean (the [[lloydIterate]] arithmetic, re-expressed
    * distributed — integer sums are order-independent, so partition count
    * and merge order cannot change a single bit).
    *
    * Scale shape: NO corpus-sized shuffle in any round. The codebook rides
    * into the plan as k array LITERALS, so assignment is a fused in-row
    * expression (k [[graft.functions.SqDistLong]] calls + a least() over
    * (d², cell) structs — whole-stage codegen, no join, no exchange); the
    * update is posexplode → groupBy(cell, dim) hash-agg whose map-side
    * partials bound the exchange to k·[[DIMS]] rows per task; each round
    * collects k·[[DIMS]] longs (the codebook, driver-bounded by k — the
    * codebook-training precedent). The quantized matrix is persisted once
    * and re-read by all [[KMEANS_ITERS]]+1 passes. Long-sum headroom:
    * |q| < 2¹⁹ ⇒ per-(cell,dim) sums exact to ~2⁴⁴ vectors; the
    * [[qPcaPower]] segmented-DECIMAL schedule applies beyond. Output =
    * k cluster cards (size, inertia, mean d²) — inertia sums d² < 2⁴⁵ in
    * DECIMAL(38,0) (headroom ~10³⁸⁻¹³·⁵ vectors), rendered VARCHAR per the
    * oracle type sweep's HUGEINT/DECIMAL rule. */
  def qClusterKmeans(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // Checkpoint + count-adaptive coalesce (r15): the Lloyd rounds scan
    // this frame once per iteration, and a 32-partition layout over a
    // few-thousand-row vector set pays the round plan's fixed per-task
    // cost (~0.1-0.25 s CPU/task measured) in near-empty tasks.
    val svState = graft.ops.State.memo(emb(spark, d)
      .select(col("vec_id"),
        transform(col("v"), x => round(x * 1e6).cast("long")).as("s")))
    val sv = svState.df
    try {
      // Init: the k lowest-id vectors (cell id = raw vec_id, the IVF
      // stance — no positional renumbering).
      var cents: Array[(Int, Array[Long])] = sv.filter(col("vec_id") < KMEANS_K)
        .as[(Long, Array[Long])].collect()
        .map { case (id, s) => (id.toInt, s) }.sortBy(_._1)
      // best (d², cell) struct over the literal codebook — in-row argmin.
      def best(cs: Array[(Int, Array[Long])]): Column = {
        val structs = cs.map { case (cell, c) =>
          struct(
            call_function("graft_sqdist_long", col("s"),
              typedlit(c.toSeq)).as("d2"),
            lit(cell).as("cell"))
        }
        least(structs: _*)
      }
      for (_ <- 0 until KMEANS_ITERS) {
        val parts = sv
          .select(best(cents).getField("cell").as("cell"),
            posexplode(col("s")).as(Seq("j", "qj")))
          .groupBy(col("cell"), col("j"))
          .agg(sum(col("qj")).as("sj"), count(lit(1)).as("n"))
          .collect()
        val byCell = parts.groupBy(_.getInt(0))
        cents = cents.map { case (cell, old) =>
          byCell.get(cell) match {
            case Some(rows) =>
              val cs = new Array[Long](DIMS)
              rows.foreach { r =>
                cs(r.getInt(1)) = r.getLong(2) / r.getLong(3)
              }
              (cell, cs)
            case None => (cell, old) // empty cell keeps its centroid
          }
        }
      }
      val b = best(cents)
      // Checkpointed (k rows) so the result does not read `sv`, which is
      // released below.
      graft.ops.State.memo(sv
        .select(b.getField("cell").as("cell"), b.getField("d2").as("d2"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("size"),
          sum(col("d2").cast("decimal(38,0)")).as("inertia_d"))
        .select(col("cell"), col("size"),
          col("inertia_d").cast("string").as("inertia"),
          (col("inertia_d").cast("double") / col("size").cast("double") /
            lit(1e12)).as("mean_d2"))
        .orderBy(col("cell"))).df
    } finally svState.release()
  }

  /** DuckDB replay of [[qClusterKmeans]]: the shared Lloyd CTE chain at
    * k=[[KMEANS_K]], then the per-cluster cards. d² stays exact on the
    * double `list_inner_product` path (every product < 2⁵³); the inertia
    * sum accumulates HUGEINT (== Spark's DECIMAL(38,0)) and the mean
    * divides through the VARCHAR-rendered double in pinned order. */
  def kmeansOracleSql(iters: Int = KMEANS_ITERS): String =
    ivfCtes(iters, KMEANS_K) +
      s""",
         |fx AS (SELECT cell, cs, list_inner_product(cs, cs) AS c2 FROM c$iters),
         |dd AS (
         |  SELECT a.cell,
         |    CAST(v.a2 - 2 * list_inner_product(v.s, f.cs) + f.c2 AS BIGINT) AS d2
         |  FROM af a JOIN sv2 v USING (vec_id) JOIN fx f ON f.cell = a.cell)
         |SELECT cell, count(*) AS size,
         |  CAST(sum(CAST(d2 AS HUGEINT)) AS VARCHAR) AS inertia,
         |  CAST(CAST(sum(CAST(d2 AS HUGEINT)) AS VARCHAR) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1e12 AS mean_d2
         |FROM dd GROUP BY cell ORDER BY cell""".stripMargin

  /** DuckDB oracle for [[qOutlierEmbed]] — same quantization, HUGEINT for
    * the squared sums (== Spark's DECIMAL(38,0), the assortativity
    * pairing), same pinned division order for dist2. */
  def outlierEmbedOracleSql(): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(t.i AS INT) AS j,
       |    CAST(floor(v[CAST(t.i AS INT)] * $OUTLIER_SCALE) AS BIGINT) AS q
       |  FROM e, range(1, 65) t(i)),
       |s AS (SELECT j, CAST(sum(q) AS BIGINT) AS s,
       |             CAST(count(*) AS BIGINT) AS n FROM q GROUP BY j),
       |sc AS (
       |  SELECT q.vec_id, any_value(q.label) AS label,
       |    sum(CAST(s.n * q.q - s.s AS HUGEINT) *
       |        CAST(s.n * q.q - s.s AS HUGEINT)) AS score,
       |    any_value(s.n) AS n
       |  FROM q JOIN s ON s.j = q.j GROUP BY q.vec_id)
       |SELECT vec_id, label, CAST(sc.score AS VARCHAR) AS score,
       |  CAST(sc.score AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) /
       |    ${(OUTLIER_SCALE * OUTLIER_SCALE).toDouble} AS dist2
       |-- ORDER BY the NUMERIC column (sc.score), not the VARCHAR output
       |-- alias: DuckDB binds a bare `score` to the alias and would sort
       |-- the digit strings lexicographically across length boundaries.
       |FROM sc ORDER BY sc.score DESC, vec_id LIMIT $OUTLIER_TOPK""".stripMargin

  /** q_silhouette: cluster-quality audit of the corpus labels — the
    * centroid (simplified) silhouette of Rousseeuw '87 over the embedding
    * space, the validation step after any clustering/labelling pass
    * ([[qClusterKmeans]]'s natural companion). Per vector: a² = exact
    * integer squared distance to its OWN label centroid, b² = min over
    * the other centroids (ties to the lowest label); the per-vector score
    * is the squared-distance silhouette s² = (b²−a²)·10⁶ div max(a²,b²)
    * — same sign and, per label, same ordering signal as the classic
    * sqrt form, but exact BIGINT end-to-end so both engines agree
    * bit-for-bit. Output: one card per label — size, how many members
    * sit closer to their own centroid than any rival (n_pos), the exact
    * within-label squared-distance mass (DECIMAL(38,0), VARCHAR-rendered
    * per the oracle type sweep), the mean silhouette in fixed point, and
    * the modal rival label (the confusion direction).
    *
    * Determinism: [[qClusterKmeans]]'s 1e-6 quantization and truncating
    * integer centroid means (Scala `/` == DuckDB `//` — both truncate
    * toward zero); d² < 2⁵³ so DuckDB's double inner-product path is
    * exact; (b²−a²)·10⁶ goes through DECIMAL(38,0)/HUGEINT.
    *
    * Scale shape: label centroids are one posexplode hash-agg collected
    * at L·[[DIMS]] rows (label-domain-bounded — the kmeans codebook
    * stance); scoring is in-row (L fused [[graft.functions.SqDistLong]]
    * calls against centroid LITERALS — no join, no exchange); the cards
    * are an L-row agg. One corpus-sized shuffle total (the centroid agg's
    * map-side-combined partials). */
  /** Hard ceiling on the label count L for [[qSilhouette]]'s
    * literal-codebook plan: the per-vector scorer inlines all L centroids
    * as DIMS-long array literals inside an L-deep coalesce chain plus an
    * L-arg least() — O(L·DIMS) literals in one generated method. Past
    * ~64 labels that risks Janino's 64 KB method limit (silent fallback
    * to interpreted eval) and a driver-built expression tree that grows
    * with L, so the ceiling fails LOUDLY instead; a larger label domain
    * needs the broadcast-join formulation (centroid TABLE joined on a
    * crossJoin, the [[graft.ops.Broadcasts.maybeBroadcast]] stance) —
    * which this corpus's fixed label domain has never needed. */
  val SilhouetteMaxLabels = 64

  def qSilhouette(spark: SparkSession, d: String): DataFrame = {
    // Count-adaptive layout (r15): both passes below re-scan this frame
    // and the per-task plan cost dominates a few-thousand-row vector set
    // spread over the session default partitions.
    val svState = graft.ops.State.memo(
      Tables.spread(Tables.embeddings(spark, d))
        .select(col("vec_id"), col("label"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * 1e6).cast("long")).as("s")))
    val sv = svState.df
    try {
      val parts = sv.select(col("label"), posexplode(col("s")).as(Seq("j", "qj")))
        .groupBy(col("label"), col("j"))
        .agg(sum(col("qj")).as("sj"), count(lit(1)).as("n"))
        .collect()
      val cents: Array[(Int, Array[Long])] = parts.groupBy(_.getInt(0)).toArray
        .sortBy(_._1)
        .map { case (lab, rows) =>
          val c = new Array[Long](DIMS)
          rows.foreach(r => c(r.getInt(1)) = r.getLong(2) / r.getLong(3))
          (lab, c)
        }
      require(cents.length <= SilhouetteMaxLabels,
        s"qSilhouette's literal-codebook plan supports at most " +
          s"$SilhouetteMaxLabels labels (got ${cents.length}); a larger " +
          "label domain needs the broadcast centroid-table formulation " +
          "(see SilhouetteMaxLabels scaladoc)")
      def d2(c: Array[Long]): Column =
        call_function("graft_sqdist_long", col("s"), typedlit(c.toSeq))
      val own = cents.map { case (lab, c) =>
        when(col("label") === lab, d2(c))
      }.reduce(coalesce(_, _))
      // least() skips the null struct of the vector's own label, so the
      // min runs over exactly the L−1 rivals; ties break to the lowest
      // label via the struct's second field.
      val rivalBest = least(cents.map { case (lab, c) =>
        when(col("label") =!= lab, struct(d2(c).as("d2"), lit(lab).as("clabel")))
      }: _*)
      // Compact checkpoint — feeds the cards AND the rival mode. Not
      // released: the returned plan reads it.
      val scored = graft.ops.State.memo(sv
        .select(col("vec_id"), col("label"), own.as("a2"),
          rivalBest.getField("d2").as("b2"),
          rivalBest.getField("clabel").as("b_label"))
        .withColumn("s2_x1e6",
          expr("""CAST((CAST(b2 - a2 AS DECIMAL(38,0)) * 1000000)
                 | div greatest(a2, b2, 1) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))).df
      val cards = scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          count(when(col("s2_x1e6") > 0, 1)).as("n_pos"),
          sum(col("a2").cast("decimal(38,0)")).as("sum_a2_d"),
          sum(col("s2_x1e6")).as("sum_s2"))
      val rival = scored.groupBy(col("label"), col("b_label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("label"))
        .agg(max(struct(col("c"), (-col("b_label")).as("neg"))).as("m"))
        .select(col("label"), (-col("m.neg")).cast("int").as("rival"))
      cards.join(rival, "label")
        .select(col("label"), col("n"), col("n_pos"),
          col("sum_a2_d").cast("string").as("sum_a2"),
          (col("sum_a2_d").cast("double") / col("n").cast("double") /
            lit(1e12)).as("mean_a2"),
          expr("sum_s2 div n").as("avg_s2_x1e6"),
          col("rival"))
        .orderBy(col("label"))
    } finally svState.release()
  }

  /** q_mmr_select's selection depth (λ is fixed at 1/2 — the balanced
    * relevance/diversity point, so score = rel − maxsim). */
  val MmrK = 10

  /** q_mmr_select: maximal-marginal-relevance selection (Carbonell &
    * Goldstein SIGIR'98) — the diversity-aware curation step that picks
    * [[MmrK]] vectors maximizing relevance to the query (vector 0) while
    * penalizing redundancy with what's already selected: round r picks
    * argmax of rel(x) − max_{s∈S} cos(x, s) (λ = 1/2; the empty-set
    * penalty is 0, so round 1 is the pure relevance argmax). Dedup keeps
    * one copy of near-identical content; MMR is the complementary
    * SELECTION contract — a top-k that cannot collapse onto one dense
    * neighborhood (eval-set and few-shot-pool construction).
    *
    * Determinism: both engines evaluate the IDENTICAL double expressions
    * (the [[cosine]]/list_cosine_similarity fold pairing, same greatest/
    * subtract order), argmax ties break on vec_id, and ranking happens on
    * raw doubles before the 6 dp display rounding — the [[qHardNegatives]]
    * stance.
    *
    * Scale shape: the corpus is scanned once per round with the selected
    * set inlined as ≤ [[MmrK]]−1 vector LITERALS (in-row fused cosines —
    * no join, no shuffle, no driver-side corpus); each round's argmax is
    * a 1-row TakeOrdered. Total work = [[MmrK]] scans ≈ k·V fused
    * cosines — linear in the corpus, never quadratic; past ~10⁹ vectors
    * the [[qSimLsh]]/[[qSimIvf]] bucketing pre-filters the candidate
    * stream the same way it does for brute-force top-k. */
  def qMmrSelect(spark: SparkSession, d: String): DataFrame = {
    val e = emb(spark, d)
    val baseState = graft.ops.State.memo(
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"))))
        .select(col("vec_id"), col("v"), cosine(col("v"), col("qv")).as("rel")))
    val base = baseState.df
    try {
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Double, Seq[Double])]
      for (_ <- 1 to MmrK) {
        val sims = picked.toSeq.map(p => cosine(col("v"), typedlit(p._4)))
        val ms: Column = sims match {
          case Seq() => lit(0.0)
          case Seq(one) => one
          case many => greatest(many: _*)
        }
        val w = base
          .filter(!col("vec_id").isin(picked.toSeq.map(p => p._1): _*))
          .select(col("vec_id"), col("v"), col("rel"), ms.as("maxsim"),
            (col("rel") - ms).as("score"))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(1)
          .collect()(0)
        picked += ((w.getLong(0), w.getDouble(2), w.getDouble(3),
          w.getSeq[Double](1)))
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("rel", DoubleType, nullable = false),
        StructField("maxsim", DoubleType, nullable = false),
        StructField("score", DoubleType, nullable = false)))
      // HALF_UP at 6 dp — the same rounding Spark's round() and DuckDB's
      // round() apply (math.rint would be half-to-even).
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = picked.toSeq.zipWithIndex.map { case ((id, rel, msv, _), i) =>
        Row(i + 1, id, r6(rel), r6(msv), r6(rel - msv))
      }
      base.sparkSession
        .createDataFrame(base.sparkSession.sparkContext.parallelize(rows, 1),
          schema)
        .orderBy(col("round"))
    } finally baseState.release()
  }

  /** q_ann_recall: the eval harness for the ANN family — recall@5 of the
    * LSH-bucketed search ([[qSimLsh]]) against the exact brute-force
    * ground truth ([[qSimTopk]]) on the same 10-query set, the measurement
    * that decides whether a bucketing config ships. Per query: ground
    * truth size, hits (bucketed results that appear in the truth set) and
    * recall in 10⁶ fixed point (`hits·10⁶ div truth` — exact BIGINT).
    * Both inputs are the oracle-checked pipelines themselves, so the
    * recall table inherits their determinism; the join is on
    * (query_id, cand_id) ids only — no float ever enters.
    *
    * Scale shape: two bounded result tables ([[qSimTopk]]'s broadcast
    * query set × top-5) joined and agged at 10-query size — the corpus
    * cost is the two underlying scans, shared machinery with the
    * pipelines under eval. */
  def qAnnRecall(spark: SparkSession, d: String): DataFrame = {
    val truth = qSimTopk(spark, d).select(col("query_id"), col("cand_id"))
    val approx = qSimLsh(spark, d)
      .select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "cand_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"), sum(col("hit")).as("hits"))
      .select(col("query_id"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        expr("coalesce(hits, 0) * 1000000 div n_truth").as("recall_x1e6"))
      .orderBy(col("query_id"))
  }

  /** DuckDB replay of [[qAnnRecall]] — the q_sim_topk and q_sim_lsh
    * oracle CTE chains verbatim (disjoint names), joined on ids. */
  def annRecallOracleSql(): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bf_pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    list_cosine_similarity(q.v, c.v) AS cos
       |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |bf AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, cand_id) AS rank
       |    FROM bf_pairs) WHERE rank <= 5),
       |b AS (
       |  SELECT vec_id, v, ${hyperplaneBucketSql("v")} AS bucket FROM e),
       |ls_cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    list_cosine_similarity(q.v, c.v) AS cos
       |  FROM b q JOIN b c ON c.bucket = q.bucket AND q.vec_id < 10
       |   AND c.vec_id <> q.vec_id),
       |ls AS (
       |  SELECT query_id, cand_id, 1 AS hit FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, cand_id) AS rank
       |    FROM ls_cand) WHERE rank <= 5)
       |SELECT bf.query_id, count(*) AS n_truth,
       |  CAST(coalesce(sum(ls.hit), 0) AS BIGINT) AS n_hits,
       |  (CAST(coalesce(sum(ls.hit), 0) AS BIGINT) * 1000000) // count(*)
       |    AS recall_x1e6
       |FROM bf LEFT JOIN ls ON ls.query_id = bf.query_id
       |  AND ls.cand_id = bf.cand_id
       |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin

  /** q_ann_recall_ivf: the eval-harness symmetry row (r13 verdict item 6)
    * — where [[qAnnRecall]] grades the LSH bucketing, this grades the
    * OTHER two scale paths against the same exact brute-force truth
    * ([[qSimTopk]]): IVF at nprobe 1/2/4 and PQ, one row per
    * (variant, query), recall@5 in exact 10⁶ fixed point. IVF probe sets
    * are nested in nprobe (cells ranked by the same exact integer d² the
    * assignment uses), so recall must be monotone across the three rows of
    * a query — LlmSpec asserts it, closing the loop on the declared
    * monotonicity claim with a measured gate row.
    *
    * Scale shape: four bounded result tables (each pipeline's broadcast
    * query set × top-5) joined and agged at 10-query size; the corpus cost
    * is the underlying pipelines, which share the session-cached IVF model
    * (training runs once across all three probe widths). */
  def qAnnRecallIvf(spark: SparkSession, d: String): DataFrame = {
    val truth = qSimTopk(spark, d).select(col("query_id"), col("cand_id"))
    def recallOf(name: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("cand_id"), lit(1L).as("hit")),
          Seq("query_id", "cand_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"), sum(col("hit")).as("hits"))
        .select(lit(name).as("variant"), col("query_id"), col("n_truth"),
          coalesce(col("hits"), lit(0L)).as("n_hits"),
          expr("coalesce(hits, 0) * 1000000 div n_truth").as("recall_x1e6"))
    val graded = Seq(1, 2, 4)
      .map(np => recallOf(s"ivf_nprobe$np", simIvfAt(spark, d, np))) :+
      recallOf("pq", qSimPq(spark, d))
    graded.reduce(_.unionByName(_)).orderBy(col("variant"), col("query_id"))
  }

  /** DuckDB replay of [[qAnnRecallIvf]]: the shared IVF training CTEs
    * ([[ivfCtes]] — same chain as the q_sim_ivf oracle), a per-query cell
    * ranking over the final centroids sliced at each probe width, the
    * prefixed PQ chain ([[pqCteChain]] under `pq_`), and the brute-force
    * truth from the same materialized vectors. */
  def annRecallIvfOracleSql(): String = {
    val sb = new StringBuilder
    sb.append(ivfCtes(IVF_ITERS))
    sb.append(
      """,
        |bf_pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM sv2 q JOIN sv2 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |bf AS MATERIALIZED (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, cand_id) AS rank
        |    FROM bf_pairs) WHERE rank <= 5),
        |qprobe AS MATERIALIZED (
        |  SELECT vec_id AS query_id, v, cell, pr FROM (
        |    SELECT v.vec_id, v.v, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY v.a2 - 2 * list_inner_product(v.s, c.cs) + c.c2,
        |                 c.cell) AS pr
        |    FROM sv2 v CROSS JOIN afx c WHERE v.vec_id < 10))""".stripMargin)
    for (np <- Seq(1, 2, 4)) sb.append(
      s""",
         |iv$np AS (
         |  SELECT query_id, cand_id, 1 AS hit FROM (
         |    SELECT p.query_id, b.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(p.v, b.v) DESC, b.vec_id)
         |        AS rank
         |    FROM qprobe p JOIN b ON b.cell = p.cell
         |    WHERE p.pr <= $np AND b.vec_id <> p.query_id)
         |  WHERE rank <= 5)""".stripMargin)
    sb.append("," + pqCteChain(PQ_ITERS, "pq_"))
    sb.append(
      """,
        |pqh AS (SELECT query_id, cand_id, 1 AS hit
        |        FROM pq_ranked WHERE rank <= 5)""".stripMargin)
    val variants = Seq("ivf_nprobe1" -> "iv1", "ivf_nprobe2" -> "iv2",
      "ivf_nprobe4" -> "iv4", "pq" -> "pqh")
    val arms = variants.map { case (name, rel) =>
      s"""  SELECT '$name' AS variant, bf.query_id,
         |    count(*) AS n_truth,
         |    CAST(coalesce(sum(h.hit), 0) AS BIGINT) AS n_hits,
         |    (CAST(coalesce(sum(h.hit), 0) AS BIGINT) * 1000000) // count(*)
         |      AS recall_x1e6
         |  FROM bf LEFT JOIN $rel h
         |    ON h.query_id = bf.query_id AND h.cand_id = bf.cand_id
         |  GROUP BY bf.query_id""".stripMargin
    }.mkString("\n  UNION ALL\n")
    sb.append(
      s""",
         |rec AS (
         |$arms
         |)
         |SELECT variant, query_id, n_truth, n_hits, recall_x1e6
         |FROM rec ORDER BY variant, query_id""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[qMmrSelect]]: the driver loop unrolled as
    * [[MmrK]] 1-row argmax CTE stages (the [[graft.llm.Tokenizer]]
    * qBpeTrain pattern), each referencing the previous winners' vectors
    * through 1-row cross joins. */
  def mmrOracleSql(k: Int = MmrK): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |base AS MATERIALIZED (
        |  SELECT vec_id, v, list_cosine_similarity(v, qv) AS rel
        |  FROM e, q WHERE vec_id <> 0),
        |w1 AS MATERIALIZED (
        |  SELECT vec_id, v, rel, CAST(0.0 AS DOUBLE) AS maxsim, rel AS score
        |  FROM base ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin)
    for (r <- 2 to k) {
      val prev = (1 until r).map(i => s"w$i").mkString(", ")
      val notIn = (1 until r).map(i => s"b.vec_id <> w$i.vec_id").mkString(" AND ")
      val sims = (1 until r)
        .map(i => s"list_cosine_similarity(b.v, w$i.v)").mkString(", ")
      val msExpr = if (r == 2) sims else s"greatest($sims)"
      sb.append(
        s""",
           |w$r AS MATERIALIZED (
           |  SELECT b.vec_id, b.v, b.rel, $msExpr AS maxsim,
           |    b.rel - ($msExpr) AS score
           |  FROM base b, $prev WHERE $notIn
           |  ORDER BY score DESC, b.vec_id LIMIT 1)""".stripMargin)
    }
    val sel = (1 to k)
      .map(i => s"SELECT $i AS round, vec_id, rel, maxsim, score FROM w$i")
      .mkString("\n|UNION ALL ").stripMargin
    sb.append(
      s"""
         |SELECT CAST(round AS INT) AS round, vec_id,
         |  round(rel, 6) AS rel, round(maxsim, 6) AS maxsim,
         |  round(score, 6) AS score
         |FROM ($sel) ORDER BY round""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[qSilhouette]] — same quantization, truncating
    * centroid means, exact-double d² (< 2⁵³), HUGEINT silhouette
    * arithmetic, VARCHAR-pinned DECIMAL→DOUBLE conversion. */
  def silhouetteOracleSql(): String =
    s"""WITH sv AS MATERIALIZED (
       |  SELECT vec_id, label,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   x -> CAST(round(x * 1000000) AS BIGINT)) AS s
       |  FROM embeddings),
       |u AS (
       |  SELECT label, CAST(r.i AS INT) AS j,
       |    CAST(sum(s[r.i + 1]) AS BIGINT) AS sj, count(*) AS n
       |  FROM sv CROSS JOIN (SELECT unnest(range(0, $DIMS)) AS i) r
       |  GROUP BY label, r.i),
       |cent AS MATERIALIZED (
       |  SELECT label AS clabel, list(sj // n ORDER BY j) AS cs
       |  FROM u GROUP BY label),
       |cx AS (SELECT clabel, cs, list_inner_product(cs, cs) AS c2 FROM cent),
       |sv2 AS (SELECT vec_id, label, s, list_inner_product(s, s) AS a2v FROM sv),
       |dd AS (
       |  SELECT v.vec_id, v.label, c.clabel,
       |    CAST(v.a2v - 2 * list_inner_product(v.s, c.cs) + c.c2 AS BIGINT) AS d2
       |  FROM sv2 v CROSS JOIN cx c),
       |own AS (SELECT vec_id, label, d2 AS a2 FROM dd WHERE clabel = label),
       |rb AS (
       |  SELECT vec_id, clabel AS b_label, d2 AS b2 FROM (
       |    SELECT vec_id, clabel, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |    FROM dd WHERE clabel <> label) WHERE rn = 1),
       |sc AS MATERIALIZED (
       |  SELECT o.vec_id, o.label, o.a2, r.b2, r.b_label,
       |    CAST((CAST(r.b2 - o.a2 AS HUGEINT) * 1000000)
       |      // greatest(o.a2, r.b2, 1) AS BIGINT) AS s2
       |  FROM own o JOIN rb r USING (vec_id)),
       |riv AS (
       |  SELECT label, b_label AS rival FROM (
       |    SELECT label, b_label, row_number() OVER (PARTITION BY label
       |      ORDER BY count(*) DESC, b_label) AS rn
       |    FROM sc GROUP BY label, b_label) WHERE rn = 1)
       |SELECT sc.label, count(*) AS n,
       |  count(*) FILTER (WHERE s2 > 0) AS n_pos,
       |  CAST(sum(CAST(a2 AS HUGEINT)) AS VARCHAR) AS sum_a2,
       |  CAST(CAST(sum(CAST(a2 AS HUGEINT)) AS VARCHAR) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) / 1e12 AS mean_a2,
       |  CAST(sum(s2) AS BIGINT) // count(*) AS avg_s2_x1e6,
       |  CAST(any_value(riv.rival) AS INT) AS rival
       |FROM sc JOIN riv USING (label)
       |GROUP BY sc.label ORDER BY sc.label""".stripMargin

  /** DuckDB's list_cosine_similarity matches the same double-precision fold
    * at 6 dp; the LSH bucket and IVF cell assignments are exact integer
    * arithmetic (sign literals / fixed-point Lloyd), so the bucketed paths
    * are oracle-checkable too. */
  val oracles: Map[String, String] = Map(
    "q_silhouette" -> silhouetteOracleSql(),
    "q_mmr_select" -> mmrOracleSql(),
    "q_ann_recall" -> annRecallOracleSql(),
    "q_ann_recall_ivf" -> annRecallIvfOracleSql(),
    "q_rank_fusion" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
         |  FROM t),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf FROM hits
         |  WHERE term IN ('spark', 'hash', 'window', 'merge', 'vector')
         |  GROUP BY doc_id, dl, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |s AS (SELECT count(*) AS n_docs,
         |             CAST(sum(CAST(len(toks) AS BIGINT)) AS BIGINT) AS tok_total
         |      FROM t),
         |scored AS (
         |  SELECT tf.doc_id,
         |    ((((s.n_docs * 1000000) // dfq.df) * tf.tf * 2200) //
         |     (tf.tf * 1000 + 300 +
         |      (900000 * tf.dl) // ((s.tok_total * 1000) // s.n_docs))) AS term_score
         |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN s),
         |agg AS (
         |  SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score
         |  FROM scored GROUP BY doc_id),
         |lex AS (
         |  SELECT doc_id AS id, lex_rank FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
         |    FROM agg) WHERE lex_rank <= $RrfDepth),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS query_v FROM e WHERE vec_id = 0),
         |sem AS (
         |  SELECT cand_id AS id, sem_rank FROM (
         |    SELECT c.vec_id AS cand_id,
         |      row_number() OVER (
         |        ORDER BY list_cosine_similarity(q.query_v, c.v) DESC, c.vec_id)
         |        AS sem_rank
         |    FROM e c, q WHERE c.vec_id <> 0) WHERE sem_rank <= $RrfDepth),
         |f AS (
         |  SELECT coalesce(lex.id, sem.id) AS id, lex.lex_rank, sem.sem_rank,
         |    coalesce(1000000000 // ($RrfK + lex.lex_rank), 0)
         |      + coalesce(1000000000 // ($RrfK + sem.sem_rank), 0) AS rrf_x1e9
         |  FROM lex FULL OUTER JOIN sem ON lex.id = sem.id)
         |SELECT id, lex_rank, sem_rank, rrf_x1e9,
         |  CAST(row_number() OVER (ORDER BY rrf_x1e9 DESC, id) AS INT) AS rank
         |FROM f ORDER BY rank LIMIT $RrfTopK""".stripMargin,
    "q_cluster_kmeans" -> kmeansOracleSql(),
    "q_outlier_embed" -> outlierEmbedOracleSql(),
    "q_pca_power" -> pcaPowerOracleSql(),
    "q_sim_ivf" -> ivfOracleSql(),
    "q_sim_pq" -> pqOracleSql(),
    "q_dedup_semantic" -> dedupSemanticOracleSql(),
    "q_sim_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v, ${hyperplaneBucketSql("v")} AS bucket FROM e),
         |cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    list_cosine_similarity(q.v, c.v) AS cos
         |  FROM b q JOIN b c ON c.bucket = q.bucket AND q.vec_id < 10
         |   AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, cand_id) AS INT) AS rank
         |  FROM cand)
         |SELECT query_id, cand_id, rank, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_sim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos DESC, cand_id) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, cand_id, rank, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, q.label AS label,
         |    c.vec_id AS cand_id, (c.label = q.label) AS is_pos,
         |    list_cosine_similarity(q.v, c.v) AS cos
         |  FROM e q JOIN e c
         |    ON q.vec_id < $HardNegQueries AND q.vec_id <> c.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id, is_pos
         |    ORDER BY cos DESC, cand_id) AS rn
         |  FROM pairs)
         |SELECT query_id, label,
         |  max(cand_id) FILTER (WHERE is_pos) AS pos_id,
         |  max(round(cos, 6)) FILTER (WHERE is_pos) AS pos_cos,
         |  max(cand_id) FILTER (WHERE NOT is_pos) AS neg_id,
         |  max(round(cos, 6)) FILTER (WHERE NOT is_pos) AS neg_cos
         |FROM r WHERE rn = 1 GROUP BY query_id, label
         |ORDER BY query_id""".stripMargin,
  )
}
