package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration Lloyd k-means over integer-quantized embeddings —
  * the engine's iterative-ML pattern next to PageRank's iterative-graph
  * one (operators/PageRank.scala), built so every round is exactly
  * reproducible by a SQL oracle:
  *
  *   - vectors are quantized ONCE with a single global max-abs scale
  *     (geometry-preserving, unlike per-vector scales) to round(127·x/s)
  *     and SHIFTED by +127 into [0, 254] — from there every distance,
  *     sum and floor-divide is exact BIGINT arithmetic with no
  *     negative-division semantics to disagree on;
  *   - assignment is a broadcast of the K (centroid) rows against the
  *     vector scan, L2² as a native integer kernel, argmin as ONE
  *     min over a PACKED (dist2 · 2^bits + cid) long key — a
  *     primitive min that stays in whole-stage-codegen
  *     HashAggregateExec with map-side combine, so the K-way fan-out
  *     collapses back to one row per vector before the shuffle and
  *     nothing fan-out-sized is ever sorted (min(struct(d2, cid))
  *     planned as SortAggregateExec and externally sorted the whole
  *     fan-out — the dominant spill term of the r15 1024× build);
  *   - update is ONE groupBy(cluster) aggregate of D coordinate sums
  *     (+count), new coordinates by integral `div`; clusters that lose
  *     every member keep their previous centroid (declared contract);
  *   - each round's K-row centroid frame is localCheckpoint'd — the
  *     per-iteration lineage cut PageRank uses, at centroid (not
  *     corpus) size. On a cluster the corpus-facing scan is read once
  *     per iteration from storage; nothing iteration-sized shuffles
  *     except the two aggregates.
  *
  * Centroid ids are the first K vector ids (q50's deterministic-
  * centroid convention, reference-free "training"). T iterations of
  * (assign, update) then a final assign produce the labeling; the
  * oracle unrolls the same T rounds as chained CTEs (the q97 pattern).
  */
object KMeans {

  /** Shift applied after quantization: [-127, 127] → [0, 254]. */
  val Shift = 127

  /** Globally-scaled shifted quantization: (vec_id, qa array<bigint>).
    * Degenerate vectors (empty / null elements) are excluded under the
    * q81 guard; an all-zero corpus (scale 0) maps everything to the
    * shift midpoint.
    *
    * The global scale is a 1-row aggregate localCheckpoint'd behind a
    * lineage cut: every consumer that references the quantized frame
    * more than once (k-means rounds, PQ's subvector/codebook branches,
    * ADC's probe/corpus/code branches) would otherwise re-run the
    * corpus-wide max-abs SinglePartition agg per reference. Max is
    * order-free, so the cut cannot change values.
    */
  def quantizeShifted(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = emb
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .filter(size(col("v")) > 0 && !exists(col("v"), x => x.isNull))
    val gs = v.agg(max(array_max(transform(col("v"), x => abs(x)))).as("s")).localCheckpoint()
    v.crossJoin(broadcast(gs))
      .select(
        col("vec_id"),
        when(col("s") === 0, array_repeat(lit(Shift.toLong), size(col("v"))))
          .otherwise(expr(s"transform(v, x -> CAST(round(127 * x / s, 0) AS BIGINT) + $Shift)"))
          .as("qa")
      )
  }

  /** Integer L2² via the native graft_dist2i loop (round 11 — the
    * unrolled 64-term element_at tree this was carried ~2 ANSI error
    * branches + a query-context reference PER TERM; three such
    * kernels in one pair join overflowed janino and the hottest
    * SemDeDup/kNN aggregates fell back to interpreted evaluation).
    * Integer sums are order-free exact, so the swap is
    * answer-invisible; `dims` is kept for signature stability (the
    * loop reads the runtime array length).
    */
  def dist2(a: Column, b: Column, dims: Int): Column = {
    val _ = dims
    graft.functions.GraftFunctions.dist2i(a, b)
  }

  /** Packed (d2, cid) argmin key: `min(d2 · 2^bits + cid)` over longs
    * IS `min(struct(d2, cid))` when cid < 2^bits — and unlike the
    * struct min (whose non-mutable buffer forces SortAggregateExec,
    * i.e. an external sort of the whole N·k candidate fan-out; the
    * dominant term of the r15 1024× build spill), a primitive long
    * min plans into whole-stage-codegen HashAggregateExec with
    * map-side partial aggregation — the fan-out collapses to one row
    * per vector per task and nothing fan-out-sized is sorted.
    *
    * d2 saturates at `d2Cap` inside the key (order among saturated
    * entries then falls back to cid) — reachable only when a vector
    * is ≥16× outside the quantization scale (the static headroom
    * check below), i.e. far out of the append contract; in-scale
    * corpora have d2 ≤ dims·254², orders of magnitude under the cap.
    */
  private case class ArgminPack(bits: Int, d2Cap: Long) {
    def key(d2: Column, cid: Column): Column = least(d2, lit(d2Cap)) * lit(1L << bits) + cid
    def cidOf(p: Column): Column = p.bitwiseAND(lit((1L << bits) - 1))
    def d2Of(p: Column): Column = shiftright(p, bits)
  }

  /** Packing spec for a centroid frame, or None when the id space is
    * too wide (or negative) for the packed key to order correctly —
    * callers then keep the struct-min formulation. The max-cid probe
    * is one tiny job over the K-row centroid frame; Lloyd loops pay it
    * ONCE per refine ([[argminPackForMax]] — centroid IDS never change
    * across rounds, only coordinates; r19 measured the per-round
    * re-probe as pure driver-job overhead (OPTIMIZATION_r19.md): q119 spent ~half
    * its wall in ~40 tiny job launches).
    */
  private def argminPackFor(cents: DataFrame, dims: Int): Option[ArgminPack] = {
    val row = cents.agg(max(col("cid"))).head
    if (row.isNullAt(0)) return None
    argminPackForMax(row.getLong(0), dims)
  }

  /** [[argminPackFor]] from an already-known max centroid id — the
    * job-free form the Lloyd loops reuse every round.
    */
  private def argminPackForMax(maxCid: Long, dims: Int): Option[ArgminPack] = {
    if (maxCid < 0) return None
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(maxCid | 1L)
    if (bits > 62) return None
    val d2Cap = (Long.MaxValue >> bits) - 1
    val d2Static = dims.toLong * 254L * 254L
    if (d2Cap >= 16L * d2Static) Some(ArgminPack(bits, d2Cap)) else None
  }

  /** Skinny argmin (vec_id, cluster, d2) — no vector payload through
    * the aggregate (a carried `first(qa)` array forces the same
    * sort-based fallback the packed key exists to avoid; consumers
    * that need qa re-join it from the N-row source, linear work vs
    * the fan-out-sized sort it replaces).
    */
  private def argmin(q: DataFrame, cents: DataFrame, dims: Int): DataFrame =
    argmin(q, cents, dims, argminPackFor(cents, dims))

  private def argmin(q: DataFrame, cents: DataFrame, dims: Int, pack: Option[ArgminPack]): DataFrame =
    pack match {
      case Some(pk) =>
        q.crossJoin(broadcast(cents))
          .select(col("vec_id"), pk.key(dist2(col("qa"), col("ca"), dims), col("cid")).as("p"))
          .groupBy(col("vec_id"))
          .agg(min(col("p")).as("p"))
          .select(col("vec_id"), pk.cidOf(col("p")).as("cluster"), pk.d2Of(col("p")).as("d2"))
      case None =>
        q.crossJoin(broadcast(cents))
          .withColumn("d2", dist2(col("qa"), col("ca"), dims))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cluster"), col("m.d2").as("d2"))
    }

  private def assign(q: DataFrame, cents: DataFrame, dims: Int): DataFrame =
    assign(q, cents, dims, argminPackFor(cents, dims))

  private def assign(q: DataFrame, cents: DataFrame, dims: Int, pack: Option[ArgminPack]): DataFrame =
    argmin(q, cents, dims, pack)
      .join(q.select(col("vec_id"), col("qa")), Seq("vec_id"))
      .select(col("vec_id"), col("qa"), col("cluster"), col("d2"))

  /** T rounds of (assign, update) + a final assignment. Returns
    * (vec_id, cluster, dist2) — all BIGINT, bit-deterministic.
    */
  def refine(q: DataFrame, k: Int, iters: Int, dims: Int): DataFrame =
    if (k <= MaxLiteralK) refineLiteral(q, k, iters, dims)
    else {
      val (cents, pack) = refineCentroidsWithPack(q, q.filter(col("vec_id") < k), k, iters, dims)
      argmin(q, cents, dims, pack)
        .select(col("vec_id"), col("cluster"), col("d2").as("dist2"))
    }

  /** Centroid count up to which [[refine]] runs its rounds with
    * LITERAL centroids — the q125/IVF `cellExpr` posture (the
    * sanctioned dim-table-sized driver state: ≤16 rows × 64 longs).
    * Fixed-k refine broadcast k centroid rows against the corpus and
    * re-aggregated the N·k fan-out by vec_id EVERY round; with the
    * centroids as literals the assignment is a scan-side fold (zero
    * broadcast, zero argmin shuffle, the only per-round exchange is
    * the k-group update aggregate), which is strictly fewer
    * shuffles/jobs at ANY corpus size when k is a constant — r19
    * measured the old shape spending over half of q119's sf0.1 wall
    * in ~40 tiny AQE stage-jobs. The corpus-SCALED path (two-level,
    * k = N/target) keeps the distributed formulation.
    */
  val MaxLiteralK = 16

  /** Literal-centroid Lloyd rounds: identical arithmetic to the
    * distributed path — dist2 as the same left-assoc exact-BIGINT
    * square sum, argmin as least(struct(d2, cid)) (the min(struct)
    * tie-break), update as per-cluster coordinate sums `div` count
    * with empty clusters keeping their centroid — so the returned
    * rows are bit-identical (oracle-pinned).
    */
  private def refineLiteral(q: DataFrame, k: Int, iters: Int, dims: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val seedRows = q.filter(col("vec_id") < k).select(col("vec_id"), col("qa")).collect()
    require(
      seedRows.length == k,
      s"k-means seeding expects $k seed vectors present after quantizeShifted's " +
        s"degenerate-vector filter; found ${seedRows.length} of $k — re-id the corpus or lower k"
    )
    var cents: Seq[(Long, IndexedSeq[Long])] =
      seedRows.toSeq.map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq)).sortBy(_._1)
    // native integer kernel against a LITERAL array — an unrolled
    // (element_at − lit)² tree is 64 terms × k centroids of codegen
    // per reference (measured r19: plan compilation alone doubled the
    // query); one dist2i node keeps the tree k structs wide. Same
    // exact-BIGINT arithmetic, bit-identical distances.
    def dist2Lit(ca: IndexedSeq[Long]): Column =
      graft.functions.GraftFunctions.dist2i(col("qa"), lit(ca.toArray))
    def best: Column =
      least(cents.map { case (cid, ca) => struct(dist2Lit(ca).as("d2"), lit(cid).as("cid")) }: _*)
    for (_ <- 1 to iters) {
      val sums = q
        .select(best.getField("cid").as("cluster"), col("qa"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), (1 to dims).map(i => sum(element_at(col("qa"), i)).as(s"s$i")): _*)
        .collect()
      // row layout: cluster(0), n(1), s1(2)..sD(dims+1); coordinates
      // are shifted non-negative, so Long `/` here IS the SQL `div`
      // of the distributed path
      val updByCid = sums
        .map(r => r.getLong(0) -> (2 to dims + 1).map(i => r.getLong(i) / r.getLong(1)))
        .toMap
      cents = cents.map { case (cid, ca) => (cid, updByCid.getOrElse(cid, ca).toIndexedSeq) }
    }
    q.select(
      col("vec_id"),
      best.getField("cid").as("cluster"),
      best.getField("d2").as("dist2")
    )
  }

  /** Two-level (coarse IVF → cell-local fine) Lloyd refinement — the
    * CORPUS-SCALED-k path. Flat [[refine]] broadcasts all k centroids
    * against every vector: N·k work per round, which is N²/64 when k
    * grows with the corpus (the SemDeDup contract k = N/target —
    * measured 5.6× at a 10× scale-up in round 9), and at 10⁸ vectors
    * k ≈ 1.5M centroid rows stop being broadcastable at all. Here:
    *
    *   1. a COARSE Voronoi partition of nc = ceil(√k) centroids is
    *      Lloyd-trained with [[refineCentroids]] (N·√k per round, and
    *      nc stays broadcast-sized for any feasible corpus);
    *   2. the k fine seeds (the k smallest vec_ids present — dense
    *      prefix ≡ first k on a dense corpus) are PINNED each to its
    *      coarse cell, the
    *      FAISS-IVF fixed-coarse-quantizer posture; cells holding no
    *      seed are dropped from the vector assignment (every vector
    *      must land in a cell with fine candidates), so each vector
    *      coarse-assigns once against the ACTIVE cells — N·√k, and
    *      that partition is checkpointed: it is exactly the persisted
    *      IVF layout (q107) a 100 TB run would pay once at ingest;
    *   3. each fine Lloyd round assigns vectors only against their
    *      OWN cell's fine centroids — an equi-join on the cell id
    *      (~√k candidates per vector: N·√k per round, no broadcast of
    *      the k-row frame), update/empty-cluster rules identical to
    *      flat.
    *
    * Total N·√k per round instead of N·k. The assignment DEFINITION
    * differs from flat exactly when a vector's nearest fine centroid
    * sits in a foreign coarse cell — on a corpus whose coarse cells
    * are well-separated the two coincide (KMeansSpec proves this), and
    * that approximation is the declared SemDeDup/IVF trade. Same
    * output shape and cluster-id space as [[refine]]: (vec_id,
    * cluster, dist2), cluster ∈ [0, k), all-BIGINT exact.
    */
  def refineTwoLevel(q: DataFrame, k: Int, iters: Int, dims: Int): DataFrame =
    refineTwoLevelState(q, k, iters, dims).assignment

  /** [[refineTwoLevel]] returning the TRAINED STATE alongside the
    * assignment — what a persisted ingest artifact stores
    * ([[CellIndex]]): `fine` is the (cid, cell, ca) fine-centroid
    * frame after the Lloyd rounds, `activeCoarse` the (cid, ca)
    * coarse centroids of cells holding ≥1 fine seed. Together they
    * let NEW vectors be assigned under frozen geometry (coarse-assign
    * against activeCoarse, fine-assign within the cell) without
    * re-training — the append path.
    */
  case class TwoLevelState(assignment: DataFrame, fine: DataFrame, activeCoarse: DataFrame)

  /** Seeds are the k SMALLEST vec_ids PRESENT in `q` (round 12 —
    * previously the dense-id filter `vec_id < k`, which is the same
    * set on a dense-from-0 corpus, KMeansSpec-pinned, but RAISES on
    * any corpus whose dense prefix is shorter than the corpus-scaled
    * k: upstream dedup holes, and the 100× ScaleUp point, where the
    * replica stride leaves only the base corpus's 2000 ids dense
    * while k = N/target reaches 3125 — the new-decade constant the
    * r11 verdict predicted). The m-seed prefix materializes as
    * `vec_id <= (m-th smallest id)` with the cutoff found by
    * [[OrderStatistic.kthSmallest]] — a distributed histogram
    * narrowing whose driver state is a 4096-row histogram, NOT a
    * k-row TakeOrdered heap (k = N/target is ~10⁹ at warehouse
    * scale; a cutoff is 8 bytes). The filter pushes to the scan and
    * the seed frame needs no broadcast join.
    */
  def refineTwoLevelState(
      q: DataFrame,
      k: Int,
      iters: Int,
      dims: Int,
      tick: String => Unit = _ => ()
  ): TwoLevelState = {
    require(k > 0, s"need k > 0; got k=$k")
    val cuts = scala.collection.mutable.Map[Int, Long]()
    refineTwoLevelImpl(
      q,
      k,
      iters,
      dims,
      m => {
        val cut = cuts.getOrElseUpdate(m, OrderStatistic.kthSmallest(q, "vec_id", m))
        q.filter(col("vec_id") <= cut)
      },
      tick
    )
  }

  /** [[refineTwoLevel]] under the explicit rank-seeded name (the
    * sparse-id entry point q138's standalone pipeline stage uses;
    * since round 12 the state path above seeds identically, so this
    * is the same computation returning only the assignment).
    */
  def refineTwoLevelRankSeeded(q: DataFrame, k: Int, iters: Int, dims: Int): DataFrame =
    refineTwoLevelState(q, k, iters, dims).assignment

  /** Shared two-level body: `seedsOf(m)` returns the m seed rows
    * (vec_id, qa, ...) of `q` — the dense-id filter for the default
    * path, the rank prefix for [[refineTwoLevelRankSeeded]]. `tick`
    * fires at each phase's MATERIALIZATION boundary (the eager
    * localCheckpoints that structure the computation anyway), so a
    * build can be decomposed into wall-clock per phase (the split in
    * tools/r17/cellbuild_512x.json) with zero extra work when unused
    * (the default is a no-op).
    */
  private def refineTwoLevelImpl(
      q: DataFrame,
      k: Int,
      iters: Int,
      dims: Int,
      seedsOf: Int => DataFrame,
      tick: String => Unit = _ => ()
  ): TwoLevelState = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val nc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val (coarse, coarsePack) = refineCentroidsWithPack(q, seedsOf(nc), nc, iters, dims)
    tick("coarse_train")
    // fine seeds assigned against ALL coarse cells once (k·√k work)
    var fine = assign(seedsOf(k), coarse, dims, coarsePack)
      .select(col("vec_id").as("cid"), col("cluster").as("cell"), col("qa").as("ca"))
      .localCheckpoint()
    // ONE job: the seeding-count gate + the fine argmin pack (fine
    // cids are the k seed ids and never change across rounds — the
    // per-round max-cid re-probe was pure driver-job overhead, r19)
    val seedRow = fine.agg(count(lit(1)), max(col("cid"))).head
    val nSeeds = seedRow.getLong(0)
    require(
      nSeeds == k,
      s"two-level k-means seeding expects $k seed vectors present after quantizeShifted's " +
        s"degenerate-vector filter; found $nSeeds of $k — re-id the corpus or lower k"
    )
    val finePack = if (seedRow.isNullAt(1)) None else argminPackForMax(seedRow.getLong(1), dims)
    tick("fine_seed_assign")
    val active = fine.select(col("cell").as("cid")).distinct()
    val activeCents = coarse.join(active, Seq("cid"))
    // the fixed coarse partition every fine round (and the final
    // assignment) reads — checkpoint once, N rows. activeCents ⊆
    // coarse, so the coarse pack bounds its cid space too.
    val vcell = assign(q, activeCents, dims, coarsePack)
      .select(col("vec_id"), col("qa"), col("cluster").as("cell"))
      .localCheckpoint()
    tick("coarse_assign")
    // skinny packed argmin over the cell-local fan-out + qa re-join
    // from the checkpointed vcell (same shape rationale as [[argmin]]:
    // the struct-min/first(qa) formulation sort-spilled the N·√k
    // fan-out with the 64-dim payload attached — the r15 "fine
    // rounds" 692 GB)
    def fineAssign(f: DataFrame): DataFrame = {
      val fanout = vcell.join(f, Seq("cell"))
      val core = finePack match {
        case Some(pk) =>
          fanout
            .select(col("vec_id"), pk.key(dist2(col("qa"), col("ca"), dims), col("cid")).as("p"))
            .groupBy(col("vec_id"))
            .agg(min(col("p")).as("p"))
            .select(col("vec_id"), pk.cidOf(col("p")).as("cluster"), pk.d2Of(col("p")).as("d2"))
        case None =>
          fanout
            .withColumn("d2", dist2(col("qa"), col("ca"), dims))
            .groupBy(col("vec_id"))
            .agg(min(struct(col("d2"), col("cid"))).as("m"))
            .select(col("vec_id"), col("m.cid").as("cluster"), col("m.d2").as("d2"))
      }
      core
        .join(vcell.select(col("vec_id"), col("qa")), Seq("vec_id"))
        .select(col("vec_id"), col("qa"), col("cluster"), col("d2"))
    }
    for (_ <- 1 to iters) {
      val a = fineAssign(fine)
      val sums = a
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), (1 to dims).map(i => sum(element_at(col("qa"), i)).as(s"s$i")): _*)
      val next = sums.select(
        col("cluster").as("cid"),
        array((1 to dims).map(i => expr(s"s$i div n")): _*).as("nca")
      )
      // empty fine clusters keep their centroid; the cell pin never
      // moves even as coordinates do (declared contract, oracle-
      // mirrored). Lazy checkpoint: lineage still cut per round, the
      // k-row frame materializes inside the next round's job (the
      // PageRank in-loop shape).
      fine = fine
        .join(next, Seq("cid"), "left_outer")
        .select(col("cid"), col("cell"), coalesce(col("nca"), col("ca")).as("ca"))
        .localCheckpoint(false)
    }
    tick("fine_rounds")
    TwoLevelState(
      fineAssign(fine).select(col("vec_id"), col("cluster"), col("d2").as("dist2")),
      fine,
      activeCents.localCheckpoint()
    )
  }

  /** Assign NEW vectors under a FROZEN two-level geometry (the stored
    * `fine`/`activeCoarse` frames of a [[TwoLevelState]]): each vector
    * coarse-assigns once against the active cells, then fine-assigns
    * against its own cell's centroids — exactly the fineAssign the
    * training run ends with, so a vector appended today lands where
    * the build would have put it had the centroids been given. No
    * Lloyd update runs (appends must not move anyone else's cluster).
    * Returns (vec_id, cluster, qa).
    */
  def assignFrozen(q: DataFrame, fine: DataFrame, activeCoarse: DataFrame, dims: Int): DataFrame = {
    // checkpointed: referenced by the fan-out AND the qa re-join —
    // batch-sized by contract (the append path), so the cut is cheap
    val vcell = assign(q, activeCoarse.select(col("cid"), col("ca")), dims)
      .select(col("vec_id"), col("qa"), col("cluster").as("cell"))
      .localCheckpoint()
    val fanout = vcell.join(fine, Seq("cell"))
    val core = argminPackFor(fine, dims) match {
      case Some(pk) =>
        fanout
          .select(col("vec_id"), pk.key(dist2(col("qa"), col("ca"), dims), col("cid")).as("p"))
          .groupBy(col("vec_id"))
          .agg(min(col("p")).as("p"))
          .select(col("vec_id"), pk.cidOf(col("p")).as("cluster"))
      case None =>
        fanout
          .withColumn("d2", dist2(col("qa"), col("ca"), dims))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cluster"))
    }
    core
      .join(vcell.select(col("vec_id"), col("qa")), Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("qa"))
  }

  /** MULTI-PROBE assignment under a frozen two-level geometry — the
    * round-15 lever against SemDeDup's measured co-location ceiling
    * (a 0.95-cosine pair co-clustered only 52-58% of the time under
    * single assignment, and the failure is BOUNDARY geometry: r14
    * measured the cluster-size knob dead). Each vector gets up to TWO
    * probe rows:
    *
    *   - probe 1 — the legacy assignment exactly: nearest fine
    *     centroid within the nearest coarse cell (same lexicographic
    *     (d2, cid) tie-breaks, so every single-assignment consumer
    *     reads probe-1 rows and sees bit-identical clusters);
    *   - probe 2 — the nearest fine centroid with a DIFFERENT cid
    *     among the union of the vector's TWO nearest coarse cells'
    *     fine centroids. A pair split at the coarse Voronoi boundary
    *     has both members near that boundary, so each member's
    *     runner-up coarse cell is typically the partner's — and a
    *     pair split at a FINE boundary inside one coarse cell gets
    *     the adjacent fine cell when that is the true runner-up. The
    *     geometry decides which failure mode each vector's probe-2
    *     covers. Absent when no second candidate exists (one active
    *     coarse cell holding one fine seed).
    *
    * The within-cell pair search then joins ALL probe rows on the
    * cell id: a true pair is compared when ANY probe cell is shared —
    * candidate volume is bounded by (probes·occupancy)²/2 per cell,
    * a constant factor ≤4 over single assignment, never anything
    * pair-proportional in a shuffle, and the rows are PERSISTED by
    * [[CellIndex]] so the pair join still reads the stored bucketing
    * with zero exchange.
    *
    * Cost shape: one coarse pass (N·√k dots, the top-2 collapsed
    * map-side by the native graft_min2 aggregate — ≤2 rows per vector
    * reach the shuffle) and one fine pass over BOTH probed cells'
    * candidates (N·2√k dots, again aggregate-collapsed). No window
    * over the candidate fan-out, no argmin re-join.
    *
    * Returns (vec_id, probe, cluster, qa), probe ∈ {1, 2}.
    *
    * Since round 16 the aggregates run PACKED (the [[ArgminPack]] key
    * + the declarative graft_min2p top-2) and skinny (qa re-joined
    * from the N-row source after each aggregate): the typed
    * graft_min2 + first(qa) formulation planned as
    * ObjectHashAggregateExec, whose 128-key sort-based fallback
    * externally sorted the entire N·√k fan-out WITH the 64-dim
    * payload attached — measured 722 GB of spill / 180 s in this
    * phase alone at the 1024× decade (r15 verdict #3). Same
    * candidates, same lexicographic (d2, cid) order, bit-identical
    * output; the structs path below is kept for id spaces the pack
    * can't order (never the engine's own corpora) and as the
    * semantics reference.
    */
  def assignMultiProbe(
      q: DataFrame,
      fine: DataFrame,
      activeCoarse: DataFrame,
      dims: Int,
      probes: Int = 2
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(q.sparkSession)
    require(
      probes >= 2 && probes <= graft.functions.MinKPackedAgg.MaxK,
      s"probes must be in [2, ${graft.functions.MinKPackedAgg.MaxK}], got $probes"
    )
    val ac = activeCoarse.select(col("cid"), col("ca"))
    (argminPackFor(ac, dims), argminPackFor(fine, dims)) match {
      case (Some(cPk), Some(fPk)) => assignMultiProbePacked(q, fine, ac, dims, probes, cPk, fPk)
      case _ =>
        require(probes == 2, s"probes=$probes needs a packable centroid id space (got ids the pack can't order)")
        assignMultiProbeStructs(q, fine, ac, dims)
    }
  }

  private def assignMultiProbePacked(
      q: DataFrame,
      fine: DataFrame,
      ac: DataFrame,
      dims: Int,
      probes: Int,
      cPk: ArgminPack,
      fPk: ArgminPack
  ): DataFrame = {
    import graft.functions.GraftFunctions.minkp
    val sentinel = Long.MaxValue
    val qa2 = q.select(col("vec_id"), col("qa"))
    val cd = q
      .crossJoin(broadcast(ac))
      .select(col("vec_id"), cPk.key(dist2(col("qa"), col("ca"), dims), col("cid")).as("p"))
    // the `probes` nearest coarse cells, ascending (slot i = crank i)
    val topP = cd.groupBy(col("vec_id")).agg(minkp(col("p"), probes).as("mk"))
    val vcell = topP
      .select(col("vec_id"), posexplode(filter(col("mk"), s => s =!= lit(sentinel))))
      .select(col("vec_id"), (col("pos") + 1).as("crank"), cPk.cidOf(col("col")).as("cell"))
      .join(qa2, Seq("vec_id"))
    val cand = vcell
      .join(fine, Seq("cell"))
      .select(col("vec_id"), col("crank"), fPk.key(dist2(col("qa"), col("ca"), dims), col("cid")).as("p"))
    // ONE aggregate carries both the legacy argmin (null-skipping min
    // over the crank-1 candidates) and the union top-P; probes 2..P
    // are then the union's best entries excluding the primary (per
    // vector all candidate cids are distinct — fine seeds pin to one
    // cell and the probed cells differ — so packed equality IS cid
    // equality and the union top-P IS the top-P distinct-cid minima)
    val agg = cand
      .groupBy(col("vec_id"))
      .agg(
        min(when(col("crank") === 1, col("p"))).as("pp"),
        minkp(col("p"), probes).as("u")
      )
    val others = slice(
      filter(col("u"), s => s =!= coalesce(col("pp"), lit(sentinel)) && s =!= lit(sentinel)),
      1,
      probes - 1
    )
    agg
      .select(col("vec_id"), posexplode(concat(array(col("pp")), others)))
      .filter(col("col").isNotNull)
      .select(col("vec_id"), (col("pos") + 1).as("probe"), fPk.cidOf(col("col")).as("cluster"))
      .join(qa2, Seq("vec_id"))
      .select(col("vec_id"), col("probe"), col("cluster"), col("qa"))
  }

  /** The struct/typed-aggregate reference formulation (pre-r16 shape;
    * see [[assignMultiProbe]] for why the packed path replaced it on
    * packable id spaces).
    */
  private def assignMultiProbeStructs(q: DataFrame, fine: DataFrame, ac: DataFrame, dims: Int): DataFrame = {
    import graft.functions.GraftFunctions.min2
    val sentinel = Long.MaxValue
    val cd = q
      .crossJoin(broadcast(ac))
      .withColumn("d2", dist2(col("qa"), col("ca"), dims))
    val top2 = cd
      .groupBy(col("vec_id"))
      .agg(min2(col("d2"), col("cid")).as("m2"), first(col("qa")).as("qa"))
    val vcell = top2
      .select(
        col("vec_id"),
        col("qa"),
        explode(
          filter(
            array(
              struct(lit(1).as("crank"), element_at(col("m2"), 2).as("cell")),
              struct(lit(2).as("crank"), element_at(col("m2"), 4).as("cell"))
            ),
            s => s.getField("cell") =!= lit(sentinel)
          )
        ).as("pc")
      )
      .select(col("vec_id"), col("qa"), col("pc.crank").as("crank"), col("pc.cell").as("cell"))
    val cand = vcell
      .join(fine, Seq("cell"))
      .withColumn("d2", dist2(col("qa"), col("ca"), dims))
    val agg = cand
      .groupBy(col("vec_id"))
      .agg(
        min(when(col("crank") === 1, struct(col("d2"), col("cid")))).as("prim"),
        min2(col("d2"), col("cid")).as("u"),
        first(col("qa")).as("qa")
      )
    val u1 = element_at(col("u"), 2)
    val u2 = element_at(col("u"), 4)
    val secCid = when(
      u1 === col("prim").getField("cid"),
      when(u2 === lit(sentinel), lit(null).cast("long")).otherwise(u2)
    ).otherwise(u1)
    agg
      .select(
        col("vec_id"),
        col("qa"),
        explode(
          filter(
            array(
              struct(lit(1).as("probe"), col("prim").getField("cid").as("cluster")),
              struct(lit(2).as("probe"), secCid.as("cluster"))
            ),
            s => s.getField("cluster").isNotNull
          )
        ).as("pr")
      )
      .select(col("vec_id"), col("pr.probe").as("probe"), col("pr.cluster").as("cluster"), col("qa"))
  }

  /** The refined centroid frame (cid, ca) after T Lloyd rounds — the
    * piece PQ composes with: refined centroids feed
    * [[graft.sim.Similarity.pqEncodeWith]] as trained codebooks
    * (cid → code_id, ca → codeword), closing the "q119 is the
    * codebook-training counterpart" loop. K rows, localCheckpoint'd.
    */
  def refineCentroids(q: DataFrame, k: Int, iters: Int, dims: Int): DataFrame =
    refineCentroidsFrom(q, q.filter(col("vec_id") < k), k, iters, dims)

  /** [[refineCentroids]] from an explicit seed-row frame (vec_id, qa
    * rows of `q`) — the piece the rank-seeded two-level path shares
    * with the dense-id default.
    */
  private def refineCentroidsFrom(q: DataFrame, seedRows: DataFrame, k: Int, iters: Int, dims: Int): DataFrame =
    refineCentroidsWithPack(q, seedRows, k, iters, dims)._1

  /** [[refineCentroidsFrom]] also returning the argmin pack computed
    * ONCE from the seed ids — centroid ids never change across Lloyd
    * rounds (the update keys by cid; empty clusters keep their row),
    * so the per-round max-cid probe the old shape paid was a pure
    * driver-job tax (~40 tiny jobs were half of q119's r19 wall).
    * The seeding-count gate and the max-cid probe share ONE job.
    */
  private def refineCentroidsWithPack(
      q: DataFrame,
      seedRows: DataFrame,
      k: Int,
      iters: Int,
      dims: Int
  ): (DataFrame, Option[ArgminPack]) = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    var cents = seedRows
      .select(col("vec_id").as("cid"), col("qa").as("ca"))
      .localCheckpoint()
    // seeding contract (q50's deterministic-centroid convention):
    // vec_ids 0..k-1 must survive quantization. A sparse id space or
    // degenerate first-k vectors would otherwise under-seed and the
    // query would SILENTLY return an under-clustered frame — the
    // checkpointed frame makes the count free, so fail loudly instead
    val seedRow = cents.agg(count(lit(1)), max(col("cid"))).head
    val nSeeds = seedRow.getLong(0)
    require(
      nSeeds == k,
      s"k-means seeding expects $k seed vectors present after quantizeShifted's " +
        s"degenerate-vector filter; found $nSeeds of $k — re-id the corpus or lower k"
    )
    val pack = if (seedRow.isNullAt(1)) None else argminPackForMax(seedRow.getLong(1), dims)
    for (_ <- 1 to iters) {
      val a = assign(q, cents, dims, pack)
      val sums = a
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), (1 to dims).map(i => sum(element_at(col("qa"), i)).as(s"s$i")): _*)
      val next = sums.select(
        col("cluster").as("cid"),
        array((1 to dims).map(i => expr(s"s$i div n")): _*).as("nca")
      )
      // empty clusters keep their previous centroid (left join +
      // coalesce — the declared contract, mirrored in the oracle).
      // LAZY checkpoint: still cuts lineage per round, but the K-row
      // frame materializes inside the next round's job instead of
      // paying one eager job per iteration (the PageRank in-loop
      // shape — ~30% of q97's wall was those launches).
      cents = cents
        .join(next, Seq("cid"), "left_outer")
        .select(col("cid"), coalesce(col("nca"), col("ca")).as("ca"))
        .localCheckpoint(false)
    }
    (cents, pack)
  }
}
