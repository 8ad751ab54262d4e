package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Similarity search over embedding columns ([NS], SURVEY §2.10 N2).
  *
  * Ref-absent (the reference has no vector surface); semantics are standard
  * cosine k-NN. Three tiers, trading exactness for scale:
  *
  *  - [[cosineTopK]] — brute force: broadcast the query vector, score every
  *    row, `TakeOrderedAndProject` top-k. Exact; O(N·d) scan — the right
  *    baseline and the correctness oracle for the approximate tiers.
  *  - [[lshBuckets]] / [[annLsh]] — sign-random-projection LSH: a vector
  *    hashes to a bucket by the sign pattern of `planes` pseudo-random
  *    projections (hyperplane weights derived from md5 of (plane, dim), so
  *    the scheme is deterministic, model-free, and identical on every
  *    executor with zero side state). At 100 TB the table is written
  *    partitioned/bucketed by `bucket` and a probe prunes to one partition —
  *    ~1/2^planes of the scan.
  *  - [[annIvf]] — IVF with sampled-k-means coarse centroids: a few
  *    assignment rounds over a deterministic sample train `nlist`
  *    centroids (driver-held, KBs), every vector is assigned to its
  *    nearest cell with the centroid matrix as a plan-time literal (the
  *    table never shuffles), and queries rerank within the `nprobe` cells
  *    nearest the query. At 100 TB the assigned table is written
  *    partitioned by `cell`, so a probe reads `nprobe/nlist` of the data.
  *
  * Implementation note, measured at sf0.1 (50k × 64-dim vectors): the
  * per-row vector math deliberately stays in higher-order-function folds.
  * An unrolled `element_at` multiply-add chain looks codegen-friendly but
  * a d=64 chain is ONE expression tree — whole-stage codegen cannot split
  * it, janino fails with "Code grows beyond 64 KB", the stage silently
  * falls back to fully-interpreted eval, and every variant measured 2–4×
  * SLOWER than the fold (5.5 s vs 1.6 s pair scoring; 0.84 s vs 0.38 s
  * LSH bucketing). The fold also carries exact fold-order parity with the
  * DuckDB oracle. The literal weight/centroid matrices (no per-row md5,
  * no broadcast of a model) are the part that matters for scale.
  */
object Similarity {

  /** Embedding width, derived from the data — a mismatched assumed width
    * would silently null-poison the projection folds (every vector hashing
    * to bucket 0 degenerates ANN to a full scan). One tiny driver action
    * at plan-build time; 0 on empty input.
    */
  private def vecDims(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol)).as("d")).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => 0
    }

  /** Exact cosine top-k against the vector with id `queryId`.
    * Raw (unrounded) doubles order the result; the emitted score is
    * `floor(sim*100)` — exact integer, portable across engines.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame =
    cosineTopKRaw(emb, idCol, vecCol, queryId, k)
      .select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))

  /** [[cosineTopK]] before the integer rounding: (id, raw-double sim),
    * ordered (sim desc, id). The raw doubles are bit-identical to the
    * oracle's (fold-order parity), so rank positions derived from them —
    * what [[TextSearch.hybridRrf]] fuses — are cross-engine exact.
    */
  private[operators] def cosineTopKRaw(
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame = {
    // Query norm is computed once on the broadcast row; per scanned row one
    // dot fold + one own-norm fold. sqrt(a)·sqrt(b) matches the oracle's
    // operation order bit-for-bit.
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), l2norm(col(vecCol)).as("q_nrm"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("sim", dot(col(vecCol), col("q_vec")) / (l2norm(col(vecCol)) * col("q_nrm")))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("sim"))
  }

  /** All-pairs near-duplicates within a blocking key (a label or a coarse
    * cluster id): the blocked self-join keeps the pair count at Σ|block|²
    * instead of N². At 100 TB the block key IS the partition key, so each
    * block's pairs are generated co-located, shuffle-free after one
    * repartition.
    */
  def blockedNearDup(
      emb: DataFrame, blockCol: String, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    // Norms are materialized per row BELOW the join (one fold per row), so
    // each of the Σ|block|² pairs costs a single dot fold — 3× fewer
    // array folds than computing full cosine per pair.
    val a = emb.select(col(blockCol), col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      l2norm(col(vecCol)).as("nrm_a"))
    val b = emb.select(col(blockCol), col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      l2norm(col(vecCol)).as("nrm_b"))
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= minCosine)
      .select(col(blockCol), col("id_a"), col("id_b"),
        floor(col("sim") * 100).cast("long").as("sim_x100"))
  }

  /** SEMANTIC near-dedup (SemDeDup, Abbas et al. 2023): embedding-space
    * duplicate pairs found by k-means clustering NORMALIZED vectors and
    * comparing only within a cluster — the embedding analog of LSH
    * bucketing, for dups that share meaning but not n-grams (translations,
    * paraphrases, re-encodings).
    *
    * Scale shape: centroids train on a deterministic md5 sample
    * ([[kmeansCentroids]], driver-held KBs); cell assignment is a literal-
    * matrix narrow projection (the table never shuffles —
    * [[assignCells]]); the pairwise stage is [[blockedNearDup]] within
    * cells, Σ|cell|² dot folds. Size `nlist` ≈ n / (desired cell size):
    * cells are ~n/nlist rows, so the pairwise cost stays n·cellSize — at
    * 100 TB, write the table partitioned by `cell` and sub-split any
    * oversized cell (re-cluster within it) before pairing, exactly like
    * the LSH skew cap.
    *
    * Soundness is EXACT (every emitted pair's true cosine ≥ `minCosine` —
    * the verify computes real cosine on the raw vectors); recall is
    * approximate (pairs straddling a cell boundary are missed — spec-
    * pinned on planted near-dups). Zero-norm vectors are excluded up
    * front, as in [[annPq]].
    */
  def semanticNearDup(emb: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, minCosine: Double): DataFrame = {
    val unit = unitized(emb, idCol, vecCol)
    val cents = kmeansCentroids(unit, idCol, "__u", nlist)
    val cells = assignCells(unit, "__u", cents).drop("__u")
    blockedNearDup(cells, "cell", idCol, vecCol, minCosine)
  }

  /** [[semanticNearDup]] under a GIVEN cell geometry — the centroid
    * matrix and multi-assign margin of an existing IVF store
    * ([[graft.streaming.EmbIndexIngest]]) instead of centroids trained
    * on the input. This is the centroids-parameterized core the
    * incremental probe ([[graft.streaming.EmbIndexIngest
    * .semanticDedupProbe]]) is spec-pinned against: both sides assign
    * with [[assignCellsMulti]] (cosine to the normalized centroid,
    * runner-up within `eps` — the exact assignment
    * `EmbIndexIngest.processBatch` stores), so a pair cohabits a cell
    * here iff it cohabits one in the stored layout.
    *
    * Differences vs [[semanticNearDup]], both deliberate: assignment is
    * cosine/multi-assign (the store's geometry, boundary pairs caught
    * from either side) rather than euclidean single-assign, and a pair
    * replicated into both shared cells is normalized to ONE output row
    * (min cell; the cosine is identical in both). Soundness stays exact
    * (real cosine on the raw vectors ≥ `minCosine`); the ≤2× row
    * replication of [[assignCellsMulti]] bounds pairwise work at ≤4×
    * the single-assign Σ|cell|², in exchange for the boundary recall
    * single assignment forfeits.
    */
  def semanticNearDupWithCents(emb: DataFrame, idCol: String, vecCol: String,
                               cents: Array[Array[Double]], eps: Double,
                               minCosine: Double): DataFrame = {
    val cells = assignCellsMulti(unitized(emb, idCol, vecCol), "__u", cents, eps)
      .drop("__u")
    dedupPairRows(blockedNearDup(cells, "cell", idCol, vecCol, minCosine))
  }

  /** Normalize multi-assigned pair output to one row per (id_a, id_b):
    * a pair whose BOTH members were replicated into the same two cells
    * is found twice with an identical cosine — keep the min cell.
    * Shared by [[semanticNearDupWithCents]] and the incremental probe so
    * their outputs stay comparable row-for-row.
    */
  private[graft] def dedupPairRows(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("id_a"), col("id_b"))
      .agg(min(col("cell")).as("cell"), max(col("sim_x100")).as("sim_x100"))
      .select(col("cell"), col("id_a"), col("id_b"), col("sim_x100"))

  /** `(id, vec, __u)` with `__u` the unit-normalized double vector;
    * zero-norm rows dropped (no direction ⇒ never a cosine neighbor; NaN
    * would otherwise poison cell assignment and the k-means stats fold).
    * The norm is materialized ONCE per row before the transform: a
    * `sqrt(graft_dot(v,v))` INSIDE the lambda is re-evaluated per ELEMENT
    * (HOFs get no cross-iteration CSE) — O(d²) folds per row, measured ~2×
    * slower on the d=64 fixture.
    */
  private def unitized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    // Column-API forms of the same expressions: the vector column is a
    // caller NAME and must never re-enter the SQL parser
    emb.filter(dot(col(vecCol), col(vecCol)) > 0d)
      .withColumn("__n", l2norm(col(vecCol)))
      .select(col(idCol), col(vecCol),
        transform(col(vecCol).cast("array<double>"), v => v / col("__n")).as("__u"))

  /** [[unitized]] keeping EVERY input column (the ingest path stores the
    * full row alongside its cell): appends `__u`, drops zero-norm rows —
    * same contract, different projection shape.
    */
  private[graft] def withUnit(df: DataFrame, vecCol: String): DataFrame =
    df.filter(dot(col(vecCol), col(vecCol)) > 0d)
      .withColumn("__n", l2norm(col(vecCol)))
      .withColumn("__u",
        transform(col(vecCol).cast("array<double>"), v => v / col("__n")))
      .drop("__n")

  /** Deterministic md5-derived hyperplane weight in [-0.5, 0.5) for
    * (plane, dim) — computed ONCE on the driver (the per-row SQL-md5
    * variant evaluated planes·dims md5 calls per vector).
    */
  private def planeWeight(p: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p,$i".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 1000001L) / 1000000.0 - 0.5
  }


  /** Sign-LSH bucket id (bit p = sign(v · plane_p)). The weight matrix is a
    * plan-time literal, so the per-row work is `planes` dot folds — no
    * hashing on the hot path. `dims` defaults to the width of the data
    * itself (ADVICE fix: an assumed width ≠ actual width null-poisons the
    * fold and silently hashes everything to bucket 0); pass it explicitly
    * only to share one scheme across frames of known equal width.
    */
  /** Bucket bits live in one Long (bit p = plane p), so planes beyond 63
    * would WRAP (`shiftleft(1L, 64) == 1`): two planes silently share a
    * bit, distinct buckets collide, and recall degrades with no error —
    * the silent-corruption class. Refused at every plane-matrix entry
    * point (64 signed bits also leaves bit 63 the sign bit; 63 is the
    * honest ceiling, and sign-LSH wants ~4–20 planes anyway).
    */
  private def requirePlanes(planes: Int): Unit =
    require(planes >= 1 && planes <= 63,
      s"planes must be in 1..63 (bucket bits live in one Long), got $planes")

  private def planeMatrix(planes: Int, d: Int): Array[Array[Double]] = {
    requirePlanes(planes)
    Array.tabulate(planes, d)((p, i) => planeWeight(p, i))
  }

  def lshBuckets(emb: DataFrame, vecCol: String, planes: Int, dims: Int = 0): DataFrame = {
    val d = if (dims > 0) dims else vecDims(emb, vecCol)
    // one typed Literal node (see assignCells); outer fold over `planes`
    // entries is interpreted but tiny; the per-element work is the native
    // codegen'd graft_dot loop
    val w = typedlit(planeMatrix(planes, d).map(_.toSeq).toSeq)
    emb.withColumn("bucket",
      aggregate(
        transform(sequence(lit(0), lit(planes - 1)), p =>
          when(dot(col(vecCol), element_at(w, p + 1)) > 0d,
            call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))),
        lit(0L), (acc, v) => acc + v))
  }

  /** MULTI-ASSIGNED sign-LSH bucketing (the index-side dual of
    * [[annLshMultiProbe]]'s query-side probing): each vector lands in its
    * own bucket, PLUS the bucket with its single smallest-|margin| plane
    * flipped when that normalized margin is ≤ `eps` — a vector sitting on
    * a plane boundary is findable from both sides without widening the
    * probe budget. One row per (vector, bucket); replication ≤ 2×. The
    * margin normalizes by ‖v‖·‖plane_p‖ — sign is scale-invariant in BOTH
    * factors, and the md5-derived hyperplanes are not unit-norm (their
    * norms differ per plane), so normalizing by ‖v‖ alone would make eps
    * a different geometric boundary width for each plane AND bias the
    * argmin toward short planes. With both norms divided out,
    * |v·p|/(‖v‖‖p‖) = |cos∠(v,p)| and eps is a uniform ANGULAR threshold
    * across planes — the same margin semantics as [[assignCellsMulti]].
    * Plane norms are driver-known constants riding in a literal array.
    * The projection array is computed ONCE per row and reused by the sign
    * fold and the argmin fold.
    *
    * Probe paths joining against this layout must de-duplicate ids
    * ([[probeAndRerank]] `dedup = true`).
    */
  def lshBucketsMulti(emb: DataFrame, vecCol: String, planes: Int,
                      eps: Double, dims: Int = 0): DataFrame = {
    val d = if (dims > 0) dims else vecDims(emb, vecCol)
    val mat = planeMatrix(planes, d)
    val w = typedlit(mat.map(_.toSeq).toSeq)
    // per-plane norms, driver-computed once: divide each |projection| by
    // its plane's norm so the argmin compares ANGULAR margins and eps
    // means the same boundary width on every plane
    val pNorm = typedlit(mat.map(row =>
      math.sqrt(row.foldLeft(0.0)((s, x) => s + x * x))).toSeq)
    emb
      .withColumn("__proj",
        transform(sequence(lit(0), lit(planes - 1)), p =>
          dot(col(vecCol), element_at(w, p + 1))))
      .withColumn("__b",
        aggregate(
          transform(sequence(lit(0), lit(planes - 1)), p =>
            when(element_at(col("__proj"), p + 1) > 0d,
              call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))),
          lit(0L), (acc, v) => acc + v))
      .withColumn("__mp",
        aggregate(
          transform(sequence(lit(0), lit(planes - 1)), p =>
            struct((abs(element_at(col("__proj"), p + 1))
              / element_at(pNorm, p + 1)).as("m"), p.as("p"))),
          struct(lit(Double.PositiveInfinity).as("m"), lit(-1).as("p")),
          (acc, e) => when(e.getField("m") < acc.getField("m"), e).otherwise(acc)))
      .withColumn("bucket", explode(
        when(col("__mp.p") >= 0 &&
          col("__mp.m") <= lit(eps) * l2norm(col(vecCol)),
          array(col("__b"),
            col("__b").bitwiseXOR(call_function("shiftleft", lit(1L), col("__mp.p")))))
          .otherwise(array(col("__b")))))
      .drop("__proj", "__b", "__mp")
  }

  /** Shared ANN probe tail: join candidates to the broadcast probe-bucket
    * set, score, exact-rerank top-k. `dedup` when the bucketed side is
    * multi-assigned ([[lshBucketsMulti]]) — a replicated vector can match
    * two probed buckets; top-2k → distinct ids → k (replication ≤ 2, so
    * ≥ k distinct survive the first cut).
    */
  private def probeAndRerank(bucketed: DataFrame, probes: DataFrame,
                             idCol: String, vecCol: String, queryId: Long, k: Int,
                             dedup: Boolean = false): DataFrame = {
    val scored = bucketed.filter(col(idCol) =!= queryId)
      .join(broadcast(probes), col("bucket") === col("probe_bucket"))
      .withColumn("sim", cosine(col(vecCol), col("q_vec")))
      .select(col(idCol), col("sim"))
    val top =
      if (dedup)
        scored.orderBy(col("sim").desc, col(idCol)).limit(2 * k)
          .dropDuplicates(idCol)
          .orderBy(col("sim").desc, col(idCol)).limit(k)
      else scored.orderBy(col("sim").desc, col(idCol)).limit(k)
    top.select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))
  }

  /** Approximate NN, DEGENERATE single-bucket baseline: score only vectors
    * sharing the query's exact LSH bucket, then exact-rerank. Recall tunes
    * via `planes` (fewer planes → bigger buckets → higher recall, more
    * compute) but a single probe misses every neighbor whose projection
    * straddles ANY plane — measured recall@10 = 0.1 at planes=4 on the
    * fixture. This exists as the recall floor the probing strategies are
    * judged against; the operator to USE is [[annLshMultiProbe]] (the
    * declared `q_ann_lsh` runs it with a 4-bucket budget).
    */
  def annLsh(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
             k: Int, planes: Int): DataFrame = {
    val bucketed = lshBuckets(emb, vecCol, planes)
    val probes = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), col("bucket").as("probe_bucket"))
    probeAndRerank(bucketed, probes, idCol, vecCol, queryId, k)
  }

  /** QUERY-DIRECTED multi-probe LSH (the Lv et al. 2007 probing order,
    * adapted to sign-LSH): a near-miss lands in a bucket differing from
    * the query's exactly on the planes the query sits CLOSEST to, so the
    * best T probe buckets under a scan budget are the T cheapest by
    * flip cost Σ|q·plane_p| over flipped planes — NOT the fixed
    * Hamming-1 ring (which wastes probes flipping planes the query is
    * far from, and can never reach a two-small-margin bucket). The probe
    * set is computed driver-locally from the query's projections with a
    * best-first subset search ([[cheapestMasks]]) — O(t log t), never an
    * enumeration of 2^planes buckets, so scale-grade plane counts (20+)
    * cost the same as small ones; `probeBuckets` defaults to planes+1,
    * the Hamming-1 ring's scan budget, so recall strictly improves at
    * identical cost.
    *
    * Recall at a FIXED scanned fraction is plane-count-invariant on a
    * corpus without margin structure (r10 RecallProbe `mp=` sweep at a
    * measured ~0.25 scan: planes 4/6/8/12 → mean recall 0.55/0.50/0.55/
    * 0.58) — the budget knob is the scan fraction itself, not the
    * resolution. Buy recall above that curve with a different family
    * ([[annIvf]]: 0.9 at 0.31 scanned via learned cells + margin
    * multi-assignment).
    */
  def annLshMultiProbe(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
                       k: Int, planes: Int, probeBuckets: Int = 0,
                       multiEps: Double = 0.0): DataFrame = {
    val t = if (probeBuckets > 0) probeBuckets else planes + 1
    val d = vecDims(emb, vecCol)
    val w = planeMatrix(planes, d)
    // the query is a point lookup (exactly like annIvf's cell selection):
    // margins and the probe-mask ranking are driver-local arithmetic over
    // `planes` doubles — NEVER an enumeration of all 2^planes buckets,
    // which a scale-grade plane count (20+) must not materialize
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head().getSeq[Double](0).toArray
    val margins = w.map(dotLocal(q, _))
    val qBucket = margins.zipWithIndex
      .collect { case (m, p) if m > 0 => 1L << p }.sum
    val masks = cheapestMasks(margins.map(math.abs), t)
    // optional index-side margin spill ([[lshBucketsMulti]]) — OFF by
    // default: measured on the near-random fixture it bought ≤ 0.05
    // recall at 1.9× storage (planes=4 T=4, eps sweep 0→0.15 via
    // RecallProbe), because the query-directed probe order already
    // reaches every single-flip bucket the spill would land in. It earns
    // its storage only when probes are EXPENSIVE relative to storage
    // (e.g. a partition-pruned on-disk layout probed with a tiny T) or
    // the corpus has boundary-concentrated structure.
    val bucketed =
      if (multiEps > 0) lshBucketsMulti(emb, vecCol, planes, multiEps, d)
      else lshBuckets(emb, vecCol, planes, d)
    val probes = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"),
        explode(lit(masks.map(_ ^ qBucket).toArray)).as("probe_bucket"))
    probeAndRerank(bucketed, probes, idCol, vecCol, queryId, k, dedup = multiEps > 0)
  }

  /** [[annLshMultiProbe]]'s probe half against a STORED bucketed table
    * ([[lshBuckets]] output written `partitionBy("bucket")`, the layout
    * PlanAuditSpec pins): probe-bucket selection is driver-local
    * arithmetic over the literal plane matrix (same query-directed
    * cheapest-flip order), and the `bucket IN probes` filter is a
    * plan-time partition PRUNE — the scan reads ~T of 2^planes bucket
    * partitions and nothing else. The 100 TB ANN-LSH store path,
    * benched (`annlsh_index_build` / `annlsh_probe`) like its IVF twin.
    * Answers ≡ in-query [[annLshMultiProbe]] under the same planes/T
    * (spec-pinned); set `dedup = true` semantics are not needed — the
    * stored layout is single-assigned.
    */
  def annLshProbe(bucketed: DataFrame, qVec: Array[Float],
                  idCol: String, vecCol: String, excludeId: Long,
                  k: Int, planes: Int, probeBuckets: Int): DataFrame = {
    val w = planeMatrix(planes, qVec.length)
    val qd = qVec.map(_.toDouble)
    val margins = w.map(dotLocal(qd, _))
    val qBucket = margins.zipWithIndex
      .collect { case (m, p) if m > 0 => 1L << p }.sum
    val probes = cheapestMasks(margins.map(math.abs), probeBuckets).map(_ ^ qBucket)
    bucketed
      .filter(col("bucket").isin(probes: _*) && col(idCol) =!= excludeId)
      .withColumn("sim", cosine(col(vecCol), typedlit(qVec.toSeq)))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))
  }

  /** The probe-bucket set [[annLshMultiProbe]] would scan for this query —
    * diagnostic surface for the RecallProbe recall/scan-fraction sweeps
    * (pair with bucket sizes to measure the actual scanned fraction a
    * (planes, T) budget buys, instead of assuming uniform T/2^planes).
    */
  def lshProbeBuckets(emb: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, planes: Int, probeBuckets: Int): Seq[Long] = {
    val d = vecDims(emb, vecCol)
    val w = planeMatrix(planes, d)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head().getSeq[Double](0).toArray
    val margins = w.map(dotLocal(q, _))
    val qBucket = margins.zipWithIndex
      .collect { case (m, p) if m > 0 => 1L << p }.sum
    cheapestMasks(margins.map(math.abs), probeBuckets).map(_ ^ qBucket)
  }

  /** The `t` cheapest plane-flip masks by total |margin| crossed, via
    * best-first search over subsets of cost-sorted planes (the classic
    * k-smallest-subset-sums expansion: extend-with-next or swap-last-for-
    * next, each subset generated exactly once) — O(t log t) heap ops and
    * O(planes log planes) sort, independent of 2^planes. Mask 0 (the
    * query's own bucket, cost 0) is always first.
    */
  private def cheapestMasks(costs: Array[Double], t: Int): Seq[Long] = {
    val order = costs.zipWithIndex.sortBy { case (c, p) => (c, p) }
    final case class Node(cost: Double, lastPos: Int, mask: Long)
    val pq = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by((n: Node) => (-n.cost, n.mask)))
    val out = scala.collection.mutable.ArrayBuffer[Long](0L)
    if (order.nonEmpty)
      pq.enqueue(Node(order(0)._1, 0, 1L << order(0)._2))
    while (out.size < t && pq.nonEmpty) {
      val n = pq.dequeue()
      out += n.mask
      val next = n.lastPos + 1
      if (next < order.length) {
        pq.enqueue(Node(n.cost + order(next)._1, next,
          n.mask | (1L << order(next)._2)))
        pq.enqueue(Node(n.cost - order(n.lastPos)._1 + order(next)._1, next,
          (n.mask & ~(1L << order(n.lastPos)._2)) | (1L << order(next)._2)))
      }
    }
    out.toSeq
  }

  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def cosineLocal(a: Array[Double], b: Array[Double]): Double =
    dotLocal(a, b) / (math.sqrt(dotLocal(a, a)) * math.sqrt(dotLocal(b, b)))

  /** `cell` = index of the nearest centroid (squared L2; ties → lowest
    * index), with the centroid matrix as a plan-time LITERAL — one
    * broadcast-free narrow projection, the table never shuffles.
    * `argmin ‖x−c‖²` is folded as `argmin (‖c‖²/2 − x·c)`: ‖x‖² is
    * constant across centroids and drops out, halving the per-cell work;
    * the half-norms ride inside the literal as element 0 of each centroid
    * row.
    */
  def assignCells(emb: DataFrame, vecCol: String, cents: Array[Array[Double]]): DataFrame = {
    // centroid row layout: [ ‖c‖²/2 , c_1 … c_d ]; per-centroid score is
    // the native graft_dot loop, only the small argmin fold is interpreted.
    // typedlit, NOT a matrixLit SQL string: the parsed form is a ~nlist·d
    // node CreateArray that re-enters the parser+analyzer on every job
    // using it (twice per score element); the typed literal is ONE node.
    val packed = typedlit(cents.map(c => ((dotLocal(c, c) / 2) +: c).toSeq).toSeq)
    val d = cents.head.length
    emb.withColumn("cell",
      aggregate(
        transform(sequence(lit(0), lit(cents.length - 1)), i =>
          struct(
            (element_at(element_at(packed, i + 1), 1)
              - dot(col(vecCol), slice(element_at(packed, i + 1), lit(2), lit(d))))
              .as("score"),
            i.as("idx"))),
        struct(lit(Double.PositiveInfinity).as("score"), lit(-1).as("idx")),
        (acc, s) => when(s.getField("score") < acc.getField("score"), s).otherwise(acc))
        .getField("idx"))
  }

  /** Multi-assignment cell labeling for the IVF index (Jégou et al.'s
    * multiple-assignment variant): each unit vector gets its best-cosine
    * cell, PLUS the runner-up cell when the cosine margin between them is
    * ≤ `eps` — boundary vectors (exactly the ones a single-assigned probe
    * misses) become findable from either side of the boundary. Output has
    * one row per (vector, cell); replication is bounded at 2× and measured
    * ~1.9× at the default eps=0.15 on the near-random fixture, buying
    * recall@10 0.63→0.93 mean / 0.6→0.9 on the benched query (sf0.1,
    * nlist=16 nprobe=5) where single-assignment needed nprobe=8 (1.6×
    * the probe fan-out) for 0.83; eps=0.1 measured 0.88 mean.
    *
    * Assignment is by COSINE to the normalized centroid (one fold over a
    * literal ĉ matrix — same narrow no-shuffle shape as [[assignCells]]),
    * so index-side assignment and probe-side cell selection
    * ([[annIvf]]/[[annIvfProbe]], cosine to the query) agree on the
    * metric. Rerank paths must de-duplicate ids (a replicated vector can
    * enter through both its cells): take top-2k, dedup, cut to k.
    */
  def assignCellsMulti(df: DataFrame, unitCol: String,
                       cents: Array[Array[Double]], eps: Double): DataFrame = {
    val chat = cents.map { c =>
      val n = math.sqrt(dotLocal(c, c)); if (n > 0) c.map(_ / n) else c
    }
    val packed = typedlit(chat.map(_.toSeq).toSeq)
    df.withColumn("__t2",
      aggregate(
        transform(sequence(lit(0), lit(chat.length - 1)), i =>
          struct(dot(col(unitCol), element_at(packed, i + 1)).as("s"), i.as("idx"))),
        struct(lit(-2.0).as("s1"), lit(-1).as("i1"),
          lit(-2.0).as("s2"), lit(-1).as("i2")),
        (acc, e) =>
          when(e.getField("s") > acc.getField("s1"),
            struct(e.getField("s").as("s1"), e.getField("idx").as("i1"),
              acc.getField("s1").as("s2"), acc.getField("i1").as("i2")))
            .when(e.getField("s") > acc.getField("s2"),
              struct(acc.getField("s1").as("s1"), acc.getField("i1").as("i1"),
                e.getField("s").as("s2"), e.getField("idx").as("i2")))
            .otherwise(acc)))
      .withColumn("cell", explode(
        when(col("__t2.i2") >= 0 && col("__t2.s1") - col("__t2.s2") <= lit(eps),
          array(col("__t2.i1"), col("__t2.i2")))
          .otherwise(array(col("__t2.i1")))))
      .drop("__t2")
  }

  /** Sampled k-means trained in `iters` rounds over a deterministic
    * md5-sample of the table (~`sampleMod`⁻¹ of the rows — training needs
    * a representative sample, not the corpus; the classic big-data k-means
    * recipe). Seeds are the `nlist` sample vectors with the smallest
    * md5-permuted ids — an order-free spread sample, NOT the first ids,
    * whose vectors may be arbitrarily clustered. Each round assigns the
    * sample with the centroids as plan-time literals ([[assignCells]]) and
    * recomputes per-cell means with one `(cell, pos)` aggregation; empty
    * cells keep their previous centroid. Centroids live on the driver
    * between rounds (nlist·d doubles — KBs); results are deterministic up
    * to floating-point summation order of the means.
    */
  def kmeansCentroids(
      emb: DataFrame, idCol: String, vecCol: String, nlist: Int,
      iters: Int = 2, sampleMod: Int = 20): Array[Array[Double]] = {
    val sample = emb
      .select(col(vecCol).cast("array<double>").as("v"),
        h60(col(idCol).cast("string")).as("h"))
      .filter(col("h") % sampleMod === 0 || col("h") < nlist * sampleMod)
      .localCheckpoint(true) // tiny; read once per round, not rescanned
    var cents = sample.orderBy("h").limit(nlist)
      .collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val stats = assignCells(sample, "v", cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cell = r.getAs[Int]("cell")
        val pos = r.getAs[Int]("pos")
        next(cell)(pos) = r.getAs[Double]("s") / r.getAs[Long]("n")
      }
      cents = next
    }
    cents
  }

  /** IVF probe: exact rerank within the `nprobe` k-means cells nearest the
    * query. The query vector is a point lookup (collected to the driver),
    * so cell selection is local arithmetic; the cell filter
    * (`cell IN probes`) is partition-prunable when the table is laid out
    * by cell.
    */
  def annIvf(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
             k: Int, nlist: Int, nprobe: Int,
             multiEps: Double = 0.15): DataFrame = {
    // SPHERICAL k-means + MULTI-ASSIGNMENT: train + assign in unit-
    // normalized space so assignment and probe selection share the cosine
    // metric, and spill boundary vectors into their runner-up cell
    // ([[assignCellsMulti]]) — measured recall@10 0.63→0.93 at the same
    // nlist/nprobe on the near-random fixture. Rerank stays exact cosine
    // on the RAW vectors; top-2k → dedup → k handles replicated rows.
    val unit = unitized(emb, idCol, vecCol)
    val cents = kmeansCentroids(unit, idCol, "__u", nlist)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head().getSeq[Double](0).toArray
    val probeCells = cents.zipWithIndex
      .sortBy { case (c, i) => (-cosineLocal(c, q), i) }
      .take(nprobe).map(_._2)
    val qRow = emb.filter(col(idCol) === queryId).select(col(vecCol).as("q_vec"))
    assignCellsMulti(unit, "__u", cents, multiEps).drop("__u")
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*) && col(idCol) =!= queryId)
      .crossJoin(broadcast(qRow))
      .withColumn("sim", cosine(col(vecCol), col("q_vec")))
      .select(col(idCol), col("sim"))
      // a replicated vector can enter via both its cells with an IDENTICAL
      // projected row — take top-2k (driver-small TakeOrderedAndProject),
      // dedup ids, cut to k: ≥k distinct survive since replication ≤ 2
      .orderBy(col("sim").desc, col(idCol)).limit(2 * k)
      .dropDuplicates(idCol)
      .orderBy(col("sim").desc, col(idCol)).limit(k)
      .select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))
  }

  /** [[annIvf]]'s probe half against a STORED assigned table — vectors
    * already carrying their `cell` (written by [[graft.streaming
    * .EmbIndexIngest]] partitioned by cell, so the `cell IN probes`
    * filter is a plan-time partition PRUNE, not a scan+filter): exact
    * rerank within the `nprobe` stored cells nearest the query. Cell
    * selection is driver-local arithmetic over the KB-scale centroid
    * matrix; the scan reads ~`nprobe/nlist` of the corpus and nothing
    * else — the claim [[annIvf]]'s scaladoc makes about the 100 TB
    * layout, realized. The query rides as an `array<float>` literal (the
    * stored column's own type), so scores are bit-identical to
    * [[annIvf]] under the same centroids (spec-pinned).
    *
    * `excludeId` drops one id from the scan (probing for a vector already
    * in the corpus); pass a sentinel outside the id domain for
    * out-of-corpus queries.
    */
  def annIvfProbe(assigned: DataFrame, cents: Array[Array[Double]],
                  qVec: Array[Float], idCol: String, vecCol: String,
                  excludeId: Long, k: Int, nprobe: Int): DataFrame = {
    val qd = qVec.map(_.toDouble)
    val probeCells = cents.zipWithIndex
      .sortBy { case (c, i) => (-cosineLocal(c, qd), i) }
      .take(nprobe).map(_._2)
    assigned
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*) && col(idCol) =!= excludeId)
      .withColumn("sim", cosine(col(vecCol), typedlit(qVec.toSeq)))
      .select(col(idCol), col("sim"))
      // multi-assigned store: same top-2k → dedup → k as [[annIvf]]
      .orderBy(col("sim").desc, col(idCol)).limit(2 * k)
      .dropDuplicates(idCol)
      .orderBy(col("sim").desc, col(idCol)).limit(k)
      .select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))
  }

  /** All `m` per-subspace PQ codebooks trained TOGETHER: one sample
    * checkpoint and ONE Spark job per k-means round covers every subspace
    * (the naive per-subspace loop pays m× the sample materialization and
    * m·iters driver round trips — measured as the dominant cost of
    * [[annPq]]). Per round, each sample row computes its m cell
    * assignments (literal codebooks, [[assignCells]]'s half-norm argmin
    * inlined per subspace), then one `(flat position)` aggregation sums
    * every (subspace, cell, dim) mean numerator at once: position
    * `p = j·dsub + i` already identifies its subspace `j = p DIV dsub`,
    * so the grouping key is just `(cell_of(p DIV dsub), p)`.
    */
  private[graft] def pqCodebooks(
      unit: DataFrame, idCol: String, unitCol: String, m: Int, ksub: Int,
      iters: Int = 2, sampleMod: Int = 20): Array[Array[Array[Double]]] = {
    val d = vecDims(unit, unitCol)
    // guard EVERY training path (annPq re-checks; the ingest path must
    // not reach the silent trailing-dim drop / null-cell fold)
    require(m > 0 && d % m == 0, s"dims $d must split evenly into $m subspaces")
    val dsub = d / m
    val sample = unit
      .select(col(unitCol).cast("array<double>").as("v"),
        h60(col(idCol).cast("string")).as("h"))
      .filter(col("h") % sampleMod === 0 || col("h") < ksub * sampleMod)
      .localCheckpoint(true)
    var books: Array[Array[Array[Double]]] = {
      val seeds = sample.orderBy("h").limit(ksub)
        .collect().map(_.getSeq[Double](0).toArray)
      // A sample smaller than ksub trains a smaller codebook (codes stay
      // valid — fewer cells, coarser quantization). Loud, not silent.
      if (seeds.length < ksub)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pqCodebooks: sample has only ${seeds.length} rows " +
            s"< ksub=$ksub; training a ${seeds.length}-cell codebook per subspace")
      Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
    }
    for (_ <- 1 to iters) {
      val assigned = (0 until m).foldLeft(sample) { (df, j) =>
        assignCells(df.withColumn("__s", slice(col("v"), j * dsub + 1, dsub)), "__s", books(j))
          .withColumnRenamed("cell", s"__c$j").drop("__s")
      }
      val stats = assigned
        .withColumn("cells", array((0 until m).map(j => col(s"__c$j")): _*))
        .select(posexplode(col("v")).as(Seq("p", "x")), col("cells"))
        .groupBy(expr(s"element_at(cells, CAST(p DIV $dsub AS INT) + 1)").as("cell"), col("p"))
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      stats.foreach { r =>
        val cell = r.getAs[Int]("cell")
        val p = r.getAs[Int]("p")
        next(p / dsub)(cell)(p % dsub) = r.getAs[Double]("s") / r.getAs[Long]("n")
      }
      books = next
    }
    books
  }

  /** ANN: PRODUCT QUANTIZATION (Jégou et al. 2011) — the memory-compression
    * member of the ANN family. Where LSH prunes by bucket and IVF by cell,
    * PQ shrinks the VECTORS: each normalized vector is cut into `m`
    * subvectors, each quantized to its nearest of `ksub` per-subspace
    * codebook centroids — `m` small codes (here 8 × 5 bits) stand in for
    * `d` floats (here 256 bytes, a 32× compression at byte packing). At 100 TB the codes table
    * fits where the raw embeddings cannot, and the first-pass scan reads
    * ONLY codes.
    *
    * Query = ADC (asymmetric distance computation): the query's partial
    * dot products against every per-subspace centroid form an `m × ksub`
    * LITERAL lookup table, so scoring a vector is `m` array lookups + an
    * add — no per-row float math at all. The top `rerank` ADC candidates
    * get an exact cosine rerank (vectors normalized at encode time, so
    * ADC dot ≈ cosine directly). All randomness is md5-derived
    * ([[kmeansCentroids]]); deterministic end to end.
    */
  def annPq(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
            k: Int, m: Int = 8, ksub: Int = 32, rerank: Int = 200): DataFrame = {
    val d = vecDims(emb, vecCol)
    require(m > 0 && d % m == 0, s"dims $d must split evenly into $m subspaces")
    val dsub = d / m
    // Zero-norm embeddings are dropped up front: normalization would put
    // NaN in every subvector, poisoning cell assignment (argmin over NaN
    // scores returns -1) and the driver-side k-means stats fold. A
    // zero vector has no direction, so it can never be a cosine neighbor.
    val unit = unitized(emb, idCol, vecCol)
    val books = pqCodebooks(unit, idCol, "__u", m, ksub)
    val coded = (0 until m).foldLeft(unit) { (df, j) =>
      assignCells(df.withColumn("__s", slice(col("__u"), j * dsub + 1, dsub)), "__s", books(j))
        .withColumnRenamed("cell", s"__c$j").drop("__s")
    }
    val qRows = unit.filter(col(idCol) === queryId).select(col("__u")).take(1)
    require(qRows.nonEmpty, s"annPq: query id $queryId is absent or zero-norm")
    val q = qRows(0).getSeq[Double](0).toArray
    val adc = Array.tabulate(m) { j =>
      val qj = q.slice(j * dsub, (j + 1) * dsub)
      books(j).map(c => dotLocal(qj, c))
    }
    // typedlit, not a rendered SQL string: the parsed form repeated the
    // m×ksub matrix once per subspace term (m·m·ksub literal nodes through
    // the parser+analyzer per job); see assignCells
    val adcLit = typedlit(adc.map(_.toSeq).toSeq)
    val adcScore = (0 until m)
      .map(j => element_at(element_at(adcLit, j + 1), col(s"__c$j") + 1))
      .reduce(_ + _)
    val qRow = emb.filter(col(idCol) === queryId).select(col(vecCol).as("q_vec"))
    coded.filter(col(idCol) =!= queryId)
      .withColumn("__adc", adcScore)
      .orderBy(col("__adc").desc, col(idCol))
      .limit(rerank)
      .crossJoin(broadcast(qRow))
      .withColumn("sim", cosine(col(vecCol), col("q_vec")))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))
  }

  /** Encode unit vectors into their `m`-subspace PQ codes as ONE
    * `array<int>` column `code` (the storable form — 4·m bytes standing
    * in for the d-float vector; the per-subspace argmin is
    * [[assignCells]]'s half-norm fold inlined per subspace). Input must
    * not already carry a `cell` column (the per-subspace assignment uses
    * that name transiently).
    */
  private[graft] def pqEncode(unit: DataFrame, unitCol: String,
                              books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val dsub = books.head.head.length
    val coded = (0 until m).foldLeft(unit) { (df, j) =>
      assignCells(df.withColumn("__s", slice(col(unitCol), j * dsub + 1, dsub)),
          "__s", books(j))
        .withColumnRenamed("cell", s"__c$j").drop("__s")
    }
    coded.withColumn("code", array((0 until m).map(j => col(s"__c$j")): _*))
      .drop((0 until m).map(j => s"__c$j"): _*)
  }

  /** IVF-PQ COMPOSED probe — the memory-bounded 100 TB ANN plan neither
    * index gives alone: IVF prunes WHICH partitions are read (`nprobe`
    * of `nlist` cell partitions), PQ shrinks WHAT is read there (the
    * first pass scans only the `(id, code)` table — 4·m bytes/row, ~16×
    * below the raw d-float vectors — scoring by ADC lookup, no per-row
    * float math); exact cosine reranks only the top `rerank` candidates
    * from the RAW vector store, itself pruned to the same cells plus a
    * candidate-id filter. `rerank` is the recall knob (the ADC first
    * pass is a coarse quantization — measured sweep at sf0.1, nlist=16,
    * nprobe=5, mean over 4 queries: rerank 100→0.63, 200→0.83,
    * 400→0.90, 800→0.93 ≡ plain IVF's 0.93, i.e. at the default budget
    * the compression costs NO recall); raising it grows only the
    * driver-side id list and the pushed rerank filter, never the scan
    * fraction. Both stores are maintained by
    * [[graft.streaming.EmbIndexIngest]] (codes written at ingest under
    * the epoch's frozen codebooks).
    *
    * The candidate ids round-trip through the driver (bounded: ≤
    * 2·`rerank`, required ≤ 10k) so the rerank scan gets a LITERAL isin
    * — a pushable filter on top of the partition prune, where a join
    * would shuffle. Multi-assigned stores replicate rows per cell;
    * replicas carry identical codes, so dedup-after-top keeps ≥ half the
    * candidate budget distinct (same top-2x→dedup pattern as
    * [[annIvfProbe]]).
    */
  def annIvfPqProbe(codes: DataFrame, vectors: DataFrame,
                    cents: Array[Array[Double]],
                    books: Array[Array[Array[Double]]],
                    qVec: Array[Float], idCol: String, vecCol: String,
                    excludeId: Long, k: Int, nprobe: Int,
                    rerank: Int = 800): DataFrame = {
    require(rerank > 0 && rerank <= 10000,
      s"rerank=$rerank out of (0, 10000] — candidate ids ride driver-side")
    val m = books.length
    val qd = qVec.map(_.toDouble)
    // codes quantize UNIT vectors — ADC against the normalized query so
    // the first-pass score approximates cosine directly (see [[annPq]])
    val qn = math.sqrt(dotLocal(qd, qd))
    val qu = if (qn > 0) qd.map(_ / qn) else qd
    val dsub = qu.length / m
    val probeCells = cents.zipWithIndex
      .sortBy { case (c, i) => (-cosineLocal(c, qd), i) }
      .take(nprobe).map(_._2)
    val adc = Array.tabulate(m) { j =>
      books(j).map(c => dotLocal(qu.slice(j * dsub, (j + 1) * dsub), c))
    }
    val adcLit = typedlit(adc.map(_.toSeq).toSeq)
    val adcScore = (0 until m)
      .map(j => element_at(element_at(adcLit, j + 1),
        element_at(col("code"), j + 1) + 1))
      .reduce(_ + _)
    // first pass: codes only — TakeOrdered over ADC scores, dedup the
    // multi-assigned replicas (identical (id, adc) rows), cut to rerank
    val cand = codes
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*) && col(idCol) =!= excludeId)
      .withColumn("__adc", adcScore)
      .select(col(idCol), col("__adc"))
      .orderBy(col("__adc").desc, col(idCol)).limit(2 * rerank)
      .dropDuplicates(idCol)
      .orderBy(col("__adc").desc, col(idCol)).limit(rerank)
      .select(col(idCol))
      .collect().map(_.getLong(0))
    // exact rerank: raw vectors, same cell prune + literal candidate isin
    vectors
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*)
        && col(idCol).isin(cand.map(Long.box).toIndexedSeq: _*))
      .withColumn("sim", cosine(col(vecCol), typedlit(qVec.toSeq)))
      .select(col(idCol), col("sim"))
      .dropDuplicates(idCol)
      .orderBy(col("sim").desc, col(idCol)).limit(k)
      .select(col(idCol), floor(col("sim") * 100).cast("long").as("sim_x100"))
  }
}
