package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity operators over an embedding column (array<float>).
  *
  * Numeric discipline: dot products are strict LEFT folds over the
  * element products in index order (Spark's `aggregate` lambda). A left
  * fold is deterministic for a fixed element order regardless of
  * partitioning — the reduction never crosses rows — so scores are
  * reproducible run-to-run and bit-comparable against any engine that
  * folds the same way (e.g. a SQL `list_reduce`). Per-row folds keep the
  * arithmetic in cheap double registers (a decimal accumulator here costs
  * ~10x; decimals are reserved for CROSS-row sums, where addition order
  * genuinely varies — see distanceToCentroid).
  *
  * Scale notes: brute-force top-k is one broadcast of the query vector +
  * one pass + a k-row per-partition heap (Spark's TakeOrderedAndProject);
  * the LSH variant prunes candidates by sign-bucket before ranking, which
  * is the path that survives 1000x growth (bucket join instead of full
  * scan); pair operators precompute each vector's norm once (O(n) folds)
  * so the quadratic stage folds only the dot (1 fold per pair, not 3);
  * and only (id, score) pairs shuffle, never the vectors.
  */
object SimilarityOps {

  /** Deterministic dot product: strict left fold over index-order element
    * products of two array<float/double> columns. Backed by the native
    * codegen'd [[graft.expressions.DotFold]] — the equivalent
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` HOF chain evaluates
    * interpreted with per-element closure dispatch (~10x slower), and the
    * fold order (hence the result bits) is identical.
    */
  def dotFold(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.DotFold(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** L2 norm of an array<float/double> column (same fold discipline). */
  def normFold(a: Column): Column = sqrt(dotFold(a, a))

  /** Cosine similarity, rounded to 6 dp. */
  def cosine(a: Column, b: Column): Column =
    round(dotFold(a, b) / (normFold(a) * normFold(b)), 6)

  /** Cosine from a precomputed dot and the two precomputed norms. */
  def cosineFromParts(dot: Column, normA: Column, normB: Column): Column =
    round(dot / (normA * normB), 6)

  /** Brute-force cosine top-k against a single query vector (broadcast:
    * the 1-row query side crosses into every partition; the plan is scan →
    * project(score) → TakeOrderedAndProject, no shuffle of vectors).
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "bruteForceTopK")
    val q = broadcast(query1.select(
      col(idCol).as("__qid"), col(vecCol).as("__qvec")))
    // orderBy+limit compiles to TakeOrderedAndProject (per-partition k-heap,
    // driver merge of k*parts rows) — no global sort, no full shuffle; the
    // row_number window then runs over just k rows.
    embeddings
      .join(q, col(idCol) =!= col("__qid"))
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(idCol).asc)))
  }

  /** Deterministic integer hyperplane component i (0-based) of plane p:
    * pseudo-random in [-9, 9], engine-portable closed form.
    */
  def planeWeight(p: Column, i: Column): Column =
    pmod(p * 37 + i * 17, lit(19)) - 9

  /** Sign-LSH bucket id over `numPlanes` deterministic hyperplanes: bit p
    * is set iff dot(vec, plane_p) > 0. Vectors in the same bucket are
    * angularly close with high probability; candidate generation is then
    * an equi-join on the bucket id (shuffle on a small int key).
    * Backed by the native codegen'd [[graft.expressions.LshBucket]]; the
    * higher-order twin below is the executable spec it is tested against.
    */
  def lshBucket(vec: Column, numPlanes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.LshBucket(
      ColumnBridge.expression(vec), numPlanes))
  }

  /** Higher-order twin of [[lshBucket]] (interpreted, O(planes x dims)
    * with per-element closure dispatch — ~10x the native's cost; kept as
    * the equivalence-tested spec of the fold semantics, like DotFold's).
    */
  def lshBucketHof(vec: Column, numPlanes: Int): Column =
    aggregate(
      sequence(lit(0), lit(numPlanes - 1)),
      lit(0L),
      (acc, p) => {
        val dot = aggregate(
          transform(vec, (x, i) => x.cast("double") * planeWeight(p, i)),
          lit(0.0),
          (a, x) => a + x)
        acc + when(dot > 0, pow(lit(2.0), p.cast("double")).cast("long"))
          .otherwise(0L)
      })

  /** LSH-bucketed ANN: assign every vector a bucket; rank the query's
    * bucket-mates by exact cosine. Returns all vectors with their bucket
    * plus rank (null when not a bucket-mate of the query or the query
    * itself) — the scale path scans only the matching bucket's partition.
    */
  def lshTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      k: Int): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "lshTopK")
    val bucketed = embeddings
      .withColumn("bucket", lshBucket(col(vecCol), numPlanes))
    val q = broadcast(query1
      .select(col(idCol).as("__qid"), col(vecCol).as("__qvec"))
      .withColumn("__qbucket", lshBucket(col("__qvec"), numPlanes)))
    bucketed
      .join(q)
      .withColumn("is_candidate",
        (col("bucket") === col("__qbucket")) && col(idCol) =!= col("__qid"))
      .withColumn("sim",
        when(col("is_candidate"), cosine(col(vecCol), col("__qvec"))))
      .withColumn("rank",
        when(col("is_candidate"),
          row_number().over(Window
            .partitionBy(col("is_candidate"))
            .orderBy(col("sim").desc, col(idCol).asc))))
      .filter(!col("is_candidate") || col("rank") <= k)
      .select(col(idCol), col("bucket"), col("is_candidate"),
        col("sim"), col("rank"))
  }

  /** Multi-probe sign-LSH ANN: the query probes its OWN bucket plus every
    * bucket at Hamming distance 1 (each of the `numPlanes` sign bits
    * flipped once) — the standard recall repair for bucketed LSH: a
    * near-neighbor whose dot with one hyperplane sits just across zero
    * lands one bit away, and single-bucket probing misses it. Candidates
    * from the numPlanes+1 buckets are ranked by exact cosine, top-k.
    *
    * Scale shape: identical to [[lshTopK]] — bucket assignment is the
    * native [[lshBucket]] map-side, the probe set (numPlanes+1 rows)
    * broadcasts, the join is an equi-join on the bucket id, and ranking
    * ends in TakeOrderedAndProject. Probing costs (numPlanes+1)/2^planes
    * of the corpus in expectation, not a scan.
    */
  def lshMultiProbeTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      k: Int): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "lshMultiProbeTopK")
    val bucketed = embeddings
      .withColumn("bucket", lshBucket(col(vecCol), numPlanes))
      .withColumn("__norm", normFold(col(vecCol)))
    val q = query1
      .select(col(idCol).as("__qid"), col(vecCol).as("__qvec"))
      .withColumn("__qbucket", lshBucket(col("__qvec"), numPlanes))
      .withColumn("__qnorm", normFold(col("__qvec")))
    // exact bucket first, then each single-bit flip (2^p via the same
    // pow-cast the bucket fold uses — engine-portable)
    val probes = broadcast(q.select(col("__qid"), col("__qvec"), col("__qnorm"),
      explode(concat(
        array(col("__qbucket")),
        transform(sequence(lit(0), lit(numPlanes - 1)), p =>
          col("__qbucket").bitwiseXOR(
            pow(lit(2.0), p.cast("double")).cast("long"))))).as("bucket")))
    bucketed
      .join(probes, Seq("bucket"))
      .filter(col(idCol) =!= col("__qid"))
      .select(col(idCol), col("bucket"),
        cosineFromParts(dotFold(col(vecCol), col("__qvec")),
          col("__norm"), col("__qnorm")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(idCol).asc)))
  }

  /** Batched exact top-k: one TOP-K PER QUERY ROW (the multi-query form
    * the single-query searches refuse). The query batch broadcasts; each
    * (query, candidate) pair scores once; the per-query rank filter
    * compiles to Spark's WindowGroupLimit, so every map partition ships
    * at most k rows per query to the shuffle — the shuffled volume is
    * O(queries x k x partitions), never O(n x queries).
    *
    * For query batches too large to broadcast-scan (q x n pair scoring),
    * compose with the bucketed paths instead: assign both sides
    * [[lshBucket]]s (or IVF cells) and rank within buckets — same
    * per-query window shape after the equi-join.
    */
  def topKPerQuery(
      embeddings: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // Norms once per side: the O(q x n) pair stage folds only the dot
    // (1 fold per pair, not 3 — the module's pair-stage discipline).
    val q = broadcast(queries.select(
      col(idCol).as("qid"), col(vecCol).as("__qvec"))
      .withColumn("__qnorm", normFold(col("__qvec"))))
    embeddings
      .withColumn("__norm", normFold(col(vecCol)))
      .join(q, col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        cosineFromParts(dotFold(col(vecCol), col("__qvec")),
          col("__norm"), col("__qnorm")).as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** k-NN classification: each query row takes the majority label of its
    * `k` nearest training vectors (cosine), ties to the smallest label —
    * the classic embedding-space classifier (weak-label propagation,
    * quality-tier assignment, language-family tagging) built on
    * [[topKPerQuery]]'s broadcast-query + map-side-capped candidate
    * stage. The label join touches only the q×k candidate rows, and the
    * vote is one partial-aggregable groupBy over them.
    */
  def knnClassify(
      train: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val topk = topKPerQuery(train, queries, idCol, vecCol, k)
    topk
      .join(train.select(col(idCol), col(labelCol)), Seq(idCol))
      .groupBy(col("qid"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("votes").desc, col(labelCol).asc)))
      .where(col("__r") === 1)
      .select(col("qid"), col(labelCol).as("pred"), col("votes"))
  }

  /** Per-group centroids via posexplode + exact decimal mean per dimension,
    * then each vector's euclidean distance to its own group centroid.
    * Two shuffles: (group, dim) aggregation + the group equi-join back;
    * at scale the centroid table is tiny and broadcast.
    */
  def distanceToCentroid(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String): DataFrame = {
    val exploded = embeddings.select(
      col(idCol), col(groupCol),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val centroids = exploded
      .groupBy(col(groupCol), col("dim"))
      .agg((sum(round(col("v").cast("double"), 12).cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("c"))
    broadcastableJoin(exploded, centroids, Seq(groupCol, "dim"))
      .withColumn("d2",
        round((col("v").cast("double") - col("c")) *
          (col("v").cast("double") - col("c")), 12).cast("decimal(38,12)"))
      .groupBy(col(idCol), col(groupCol))
      .agg(round(sqrt(sum(col("d2")).cast("double")), 6).as("dist"))
  }

  /** Top-1 nearest neighbor per vector within its group (embedding
    * near-dup candidates): all-pairs inside each group bucket, ranked by
    * exact cosine. Group buckets bound the quadratic term — the 100 TB
    * form is LSH-bucket instead of a semantic group, same plan shape.
    */
  def nearestInGroup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String): DataFrame = {
    // Norms once per vector (O(n) folds); the quadratic pair stage then
    // folds only the dot — 1 fold per pair instead of 3.
    val normed = embeddings.select(col(groupCol), col(idCol), col(vecCol))
      .withColumn("__norm", normFold(col(vecCol)))
    val a = normed.select(col(groupCol), col(idCol).as("a"),
      col(vecCol).as("va"), col("__norm").as("na"))
    val b = normed.select(col(groupCol), col(idCol).as("b"),
      col(vecCol).as("vb"), col("__norm").as("nb"))
    // Top-1 per vector as a partial-aggregable min_by: ordering key
    // struct(-sim, b) makes the lexicographic MIN the (sim desc, b asc)
    // winner. Negating the DOUBLE sim (never the id) keeps the tie-break
    // type-generic — string/date ids order correctly, where a (sim, -id)
    // max would null-cast non-numeric ids. Map-side combine collapses
    // each partition to one row per `a` BEFORE the shuffle — a row_number
    // window would instead shuffle and sort the full quadratic pair set
    // (measured 3x slower at 400k pairs; the gap widens with bucket size).
    a.join(b, Seq(groupCol))
      .filter(col("a") =!= col("b"))
      .select(col(groupCol), col("a"), col("b"),
        cosineFromParts(dotFold(col("va"), col("vb")),
          col("na"), col("nb")).as("sim"))
      .groupBy(col("a"), col(groupCol))
      .agg(min_by(struct(col("b"), col("sim")),
        struct((-col("sim")).as("ns"), col("b"))).as("__m"))
      .select(col("a"), col(groupCol),
        col("__m.b").as("nn"), col("__m.sim").as("sim"))
  }

  /** The top-k searches rank with a single global orderBy/limit and drop
    * the query id, so results of different query rows would compete for
    * one top-k and be unattributable — enforce the one-query contract
    * IN the plan: an `assert_true` over a count window on the (tiny)
    * query side throws at execution when >1 rows arrive, costing zero
    * extra jobs (an eager `limit(2).count()` pre-check would re-scan the
    * table backing a selective query filter on every call — measured on
    * the v1/v2 bench paths). An EMPTY query frame yields an empty
    * result, not an error. Multi-query batches: [[topKPerQuery]].
    */
  private def singleQueryGuard(
      query: DataFrame, idCol: String, op: String): DataFrame = {
    val counted = query.withColumn("__qc",
      count(lit(1)).over(Window.partitionBy(lit(1))))
    counted
      .filter(assert_true(col("__qc") === 1,
        lit(s"$op ranks a SINGLE query row's top-k; pass one row, or use " +
          "topKPerQuery for batches")).isNull)
      .drop("__qc")
  }

  // Centroid side is small (groups x dims); hint broadcast when sensible.
  private def broadcastableJoin(
      big: DataFrame, small: DataFrame, keys: Seq[String]): DataFrame =
    big.join(broadcast(small), keys)

  /** Per-group centroid VECTORS (array<double>, dim-ordered), decimal-exact
    * per-dimension means — the coarse codebook for IVF.
    */
  def centroidVectors(
      embeddings: DataFrame,
      vecCol: String,
      groupCol: String): DataFrame = {
    val exploded = embeddings.select(col(groupCol),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    exploded
      .groupBy(col(groupCol), col("dim"))
      .agg((sum(round(col("v").cast("double"), 12).cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("c"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x("c")).as("centroid"))
  }

  /** Distributed Lloyd's k-means over an embedding column — the "train
    * the IVF codebook" step v5 assumes (there it reuses semantic groups;
    * here the cells are learned). Fully deterministic and engine-portable
    * by construction, so it is oracle-checkable:
    *  - init = the k lowest-id vectors, cluster id by id order;
    *  - assignment = min squared euclidean distance, computed as an
    *    exact DECIMAL(38,12) sum of 12-dp-quantized per-dim terms (no
    *    float addition-order sensitivity), ties -> lowest cluster;
    *  - update = decimal-exact per-dim means (same discipline as
    *    centroidVectors).
    *
    * Iteration shape (the MLlib one): the codebook LIVES ON THE DRIVER
    * between iterations — k x dims doubles, metadata-scale — and is
    * re-broadcast as literal rows each round, so every iteration is ONE
    * scan of the input with constant lineage depth (keeping the codebook
    * as a lazy DataFrame instead makes iteration i recompute iterations
    * 1..i-1). Per iteration: broadcast join, one (id, cluster)
    * partial-aggregable min_by — no window sorts; the mean update is a
    * (cluster, dim) aggregation collected back to the driver.
    */
  def kmeansClusters(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame =
    kmeansFit(embeddings, idCol, vecCol, k, iters)._1
      .select(col(idCol), col("cluster"),
        round(col("d2").cast("double"), 6).as("dist2"))

  /** The nearest-centroid struct(cluster, d2) for a vector column, as
    * the native [[graft.expressions.NearestCentroid]] expression: the
    * whole codebook (k x dims doubles — metadata) rides as expression
    * configuration and every row argmins over it in one compiled loop,
    * bit-identical to the exploded round/cast-decimal/sum formulation
    * (the arithmetic contract is documented on the expression). This is
    * the 100 TB assignment shape — zero shuffles, zero joins, a single
    * codegen'd scan — replacing the exploded broadcast join + two
    * aggregations (which fanned every row out to k x dims rows before
    * collapsing) and ~50x faster than the equivalent higher-order-
    * function tree (interpreted, boxed per element).
    */
  /** `treeLevels` forces the routing structure per CALL (1 = flat,
    * 2/3 = tree); `None` routes by the k-thresholds. A per-call
    * parameter, never process-wide state, so a caller forcing a level
    * (v53's 3-level oracle gate) cannot reroute a concurrent query
    * (ADVICE r17).
    */
  private def nearestExpr(
      vec: Column, centroids: Seq[(Int, Array[Double])],
      treeLevels: Option[Int] = None): Column = {
    val k = centroids.length
    treeLevels match {
      case Some(1) => nearestExprFlat(vec, centroids)
      case Some(2) => nearestExprTree(vec, centroids)
      case Some(3) => nearestExprTree3(vec, centroids)
      case Some(other) => throw new IllegalArgumentException(
        s"treeLevels must be 1, 2 or 3, got $other")
      case None =>
        if (k >= Tree3AssignThreshold) nearestExprTree3(vec, centroids)
        else if (k >= TreeAssignThreshold) nearestExprTree(vec, centroids)
        else nearestExprFlat(vec, centroids)
    }
  }

  /** Past this codebook size, [[nearestExpr]] routes through the
    * two-level coarse-quantizer tree: the flat argmin is O(k·d) per row
    * — the measured kCells wall (SCALE.md §10d: a √n-cells build cost
    * 7× the fixed-32 build at mult=50 purely in assignment) — while the
    * tree is O(√k·d) expected with the SAME result cell-for-cell
    * (triangle-inequality pruning never skips a possible winner; pinned
    * in NearestKitSpec + IvfIndexSpec). Below the threshold the tree's
    * super-level pass is pure overhead. On data whose distances
    * concentrate (bounds never separate), the expression's own
    * per-task [[graft.expressions.TreeRouting]] sample detects the
    * dead screen and falls back to the flat screened argmin after
    * ~4k rows (VERDICT r16 item 3) — so mis-routing above the
    * threshold costs a bounded sample, not the whole task.
    */
  private[graft] val TreeAssignThreshold = 64

  /** Past THIS size the 2-level tree's own super-pass (O(√k·d) per row)
    * is the recorded wall (§10e: k·d ≈ 6.4×10⁷ flops/row at k ~ 10⁶)
    * and [[nearestExpr]] routes through the 3-level form — ⌈√g⌉
    * super-groups over the ⌈√k⌉ groups, O(k^(1/4)·d) at the top. Far
    * beyond sandbox scale by design (VERDICT r16 item 4: the structure
    * should exist before the scale does); `treeLevels = Some(3)` forces
    * it for specs and v53.
    */
  private[graft] val Tree3AssignThreshold = 100000

  private[graft] def nearestExprFlat(
      vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    require(centroids.nonEmpty, "empty codebook")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sorted = centroids.sortBy(_._1)
    ColumnBridge.column(graft.expressions.NearestCentroid(
      ColumnBridge.expression(vec),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray))
  }

  private[graft] def nearestExprTree(
      vec: Column, centroids: Seq[(Int, Array[Double])],
      adaptiveRouting: Boolean = true): Column = {
    require(centroids.nonEmpty, "empty codebook")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sorted = centroids.sortBy(_._1)
    val tree = buildCellTree(sorted.map(_._2).toArray)
    ColumnBridge.column(graft.expressions.NearestCentroidGrouped(
      ColumnBridge.expression(vec),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      tree._1, tree._2, tree._3, adaptiveRouting))
  }

  /** The 3-level form of [[nearestExprTree]]: the 2-level grouping,
    * then the same driver-side Lloyd's once more over the GROUP
    * centroids into ⌈√g⌉ super-groups, each super-radius covering every
    * descendant centroid via d(super, group) + groupRadius. Driver cost
    * O(g^1.5·d) = O(k^0.75·d) — cheaper than the level below it.
    */
  private[graft] def nearestExprTree3(
      vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    require(centroids.nonEmpty, "empty codebook")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sorted = centroids.sortBy(_._1)
    val tree = buildCellTree(sorted.map(_._2).toArray)
    val (gc, gr, gch) = tree
    val superT = buildCellTree(gc)
    val (sc, sch) = (superT._1, superT._3)
    // a super-group's radius must cover CENTROIDS, not just its member
    // groups' centroids: max over members of d(super, group) + radius
    val sr = sch.zipWithIndex.map { case (members, si) =>
      members.map { gi =>
        val d2v = sc(si).zip(gc(gi))
          .map { case (a, b) => (a - b) * (a - b) }.sum
        math.sqrt(d2v) + gr(gi)
      }.max
    }
    ColumnBridge.column(graft.expressions.NearestCentroidGrouped3(
      ColumnBridge.expression(vec),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      gc, gr, gch, sc, sr, sch))
  }

  /** Group k centroids into ⌈√k⌉ super-cells for the tree expression:
    * (groupCentroids, groupRadius, groupChildren — indices into the
    * ascending-id centroid array, ascending within each group). A small
    * plain-double Lloyd's over the CENTROIDS runs on the driver (k × d
    * doubles of metadata; init = first g centroids, fixed 8 rounds,
    * ties to the lowest group — deterministic). Grouping quality only
    * affects pruning EFFICIENCY, never the result: the expression's
    * bound logic is exact for any disjoint cover.
    *
    * The O(g·k·d)-per-round argmin (the O(k^1.5·d) term ANN_TREE_r18
    * measured at 11–14 s of single driver thread at k = 1e5 — VERDICT
    * r18 item 1) is parallelized across driver cores: each index
    * writes only its own `assign` slot, so execution order cannot
    * change the result, and the centroid-mean ACCUMULATION stays
    * sequential in index order — the build is bit-identical to the
    * serial form. The O(k·d) sequential remainder is negligible
    * (6.4e6 adds per round at k=1e5, d=64).
    *
    * Past [[TreeBuildSampleMax]] cells the Lloyd's ROUNDS train on a
    * deterministic stride sample of the centroids (every ⌈k/max⌉-th,
    * spread across the ascending-id order) and only the FINAL
    * assignment — one pass instead of nine — touches all k: grouping
    * quality affects pruning efficiency alone, so a sampled trainer
    * trades nothing but a slightly looser cover for an O(rounds×)
    * build cut exactly where the build is largest (the boundary
    * SCALE.md §10h recorded as "sample the grouping Lloyd's if k
    * grows another order" — built in r19). At 1e6 cells the full
    * loop measured 18.2–21.3 s parallel; the sampled form pays ~1
    * all-k pass ≈ 2–4 s. Below the threshold nothing changes
    * (NearestKitSpec pins the full form against a serial oracle).
    * Past k ~ 1e6 the k × d metadata itself (~0.5 GB) is the next
    * boundary, not the loop.
    */
  /** Above this many cells, [[buildCellTree]]'s Lloyd's rounds train
    * on a stride sample of the centroids instead of all of them. The
    * value keeps every recorded fixture (k ≤ 1e5) on the full,
    * oracle-pinned form while a 1e6-cell codebook trains on ~125k.
    */
  private[graft] val TreeBuildSampleMax: Int = 131072

  private[graft] def buildCellTree(cents: Array[Array[Double]])
      : (Array[Array[Double]], Array[Double], Array[Array[Int]]) = {
    val k = cents.length
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val dims = cents.map(_.length).max
    def d2(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { val df = a(i) - b(i); acc += df * df; i += 1 }
      acc
    }
    var gc: Array[Array[Double]] =
      Array.tabulate(math.min(g, k))(i => cents(i).clone())
    val assign = new Array[Int](k)
    // per-index argmin into its own pre-sized slot: parallel-safe and
    // order-independent; the common-pool fork only pays past a size
    // where the serial loop is already sub-millisecond
    def assignIdx(idx: Array[Int], groups: Array[Array[Double]]): Unit = {
      def one(t: Int): Unit = {
        val i = idx(t)
        var bi = 0; var bd = Double.MaxValue; var j = 0
        while (j < groups.length) {
          val d = d2(cents(i), groups(j))
          if (d < bd) { bd = d; bi = j }
          j += 1
        }
        assign(i) = bi
      }
      if (idx.length.toLong * groups.length < 65536L) {
        var t = 0; while (t < idx.length) { one(t); t += 1 }
      } else
        java.util.stream.IntStream.range(0, idx.length).parallel()
          .forEach(one(_))
    }
    val allIdx = Array.range(0, k)
    // Lloyd's rounds train on a deterministic HASH-spread sample past
    // the threshold (grouping quality only affects pruning
    // efficiency); the final all-k assignment below builds the actual
    // cover. A hash spread, not a stride: cell ids can carry
    // structure (any periodic order aliases a stride to a biased
    // subset — the synthetic 1e6-cell fixture's i%g anchors would
    // train an 8-stride on 1/8 of the anchor groups), while a mixed
    // integer hash has no alignment with any id order and stays
    // replay-deterministic.
    val train =
      if (k <= TreeBuildSampleMax) allIdx
      else {
        val step = math.ceil(k.toDouble / TreeBuildSampleMax).toLong
        val b = Array.newBuilder[Int]
        var i = 0
        while (i < k) {
          var h = i.toLong * 0x9E3779B97F4A7C15L
          h ^= (h >>> 32)
          if (java.lang.Long.remainderUnsigned(h, step) == 0L) b += i
          i += 1
        }
        val t = b.result()
        if (t.isEmpty) allIdx else t
      }
    var round = 0
    while (round < 8) {
      assignIdx(train, gc)
      val sums = Array.fill(gc.length)(new Array[Double](dims))
      val ns = new Array[Int](gc.length)
      var t = 0
      while (t < train.length) {
        val i = train(t)
        val s = sums(assign(i)); val c = cents(i)
        var d = 0
        while (d < c.length) { s(d) += c(d); d += 1 }
        ns(assign(i)) += 1
        t += 1
      }
      gc = Array.tabulate(gc.length) { j =>
        if (ns(j) == 0) gc(j)  // empty group keeps its centroid
        else sums(j).map(_ / ns(j))
      }
      round += 1
    }
    // final assignment -> children lists; drop empty groups
    assignIdx(allIdx, gc)
    val children = Array.fill(gc.length)(Vector.newBuilder[Int])
    var i = 0
    while (i < k) {
      children(assign(i)) += i
      i += 1
    }
    val kept = children.zipWithIndex
      .map { case (b, j) => (b.result(), j) }.filter(_._1.nonEmpty)
    val outC = kept.map { case (_, j) => gc(j) }
    val outCh = kept.map { case (ch, _) => ch.toArray }
    val outR = kept.map { case (ch, j) =>
      ch.map(ci => math.sqrt(d2(gc(j), cents(ci)))).max
    }
    (outC, outR, outCh)
  }

  /** Attach each row's nearest-centroid id (ties -> lowest cluster id)
    * as `outCol`, map-side — see [[nearestExpr]].
    */
  private[operators] def attachCell(
      df: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])],
      outCol: String, treeLevels: Option[Int] = None): DataFrame =
    df.withColumn(outCol,
      nearestExpr(col(vecCol), centroids, treeLevels).getField("cluster"))

  /** Map-side nearest-centroid assignment against a driver-resident
    * codebook: (idCol, cluster, d2). Shared by [[kmeansFit]] and
    * [[IvfIndex.append]], so an appended vector lands in exactly the
    * cell a full rebuild against the same codebook would choose.
    */
  def assignNearest(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])],
      treeLevels: Option[Int] = None): DataFrame =
    df.select(col(idCol),
      nearestExpr(col(vecCol), centroids, treeLevels).as("__m"))
      .select(col(idCol), col("__m.cluster").as("cluster"),
        col("__m.d2").as("d2"))

  /** (cluster, dim, c) codebook rows -> per-cluster dim-ordered arrays,
    * the [[attachCell]]/[[assignNearest]] input shape.
    */
  def centroidArrays(
      cent: Seq[(Int, Int, Double)]): Seq[(Int, Array[Double])] =
    cent.groupBy(_._1).toSeq
      .map { case (cl, rs) => (cl, rs.sortBy(_._2).map(_._3).toArray) }

  /** The fit itself: (final assignment with raw decimal d2, the codebook
    * the assignment was made against as (cluster, dim, c) rows). The
    * codebook is what an IVF index probes — see [[ivfTopKLearned]].
    */
  def kmeansFit(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      treeLevels: Option[Int] = None): (DataFrame, Seq[(Int, Int, Double)]) = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // init: the k lowest-id vectors, cluster id in id order (driver-side;
    // k rows of metadata, like a broadcast-join threshold decision)
    var cent: Seq[(Int, Int, Double)] = embeddings
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol).cast("array<double>").as("vec"))
      .collect().zipWithIndex.flatMap { case (row, cl) =>
        row.getSeq[Double](1).zipWithIndex.map { case (v, dim) => (cl, dim, v) }
      }.toSeq
    var i = 0
    while (i < iters - 1) {
      // one single-scan pass per round: each row's cluster is an in-row
      // argmin ([[attachCell]]), the per-(cluster, dim) decimal mean
      // is the ONLY shuffle (k x dims groups, partial-agged map-side)
      cent = attachCell(embeddings.select(col(vecCol)), vecCol,
        centroidArrays(cent), "cluster", treeLevels)
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("dim", "v0")))
        .groupBy(col("cluster"), col("dim"))
        .agg((sum(round(col("v0").cast("double"), 12).cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("c"))
        .as[(Int, Int, Double)].collect().toSeq
      i += 1
    }
    (assignNearest(embeddings, idCol, vecCol, centroidArrays(cent),
      treeLevels), cent)
  }

  /** IVF ANN over a LEARNED codebook: k-means trains the cells, every
    * vector joins its assigned cell, the query probes its `nprobe`
    * closest learned centroids by cosine, and only those cells' vectors
    * are ranked exactly. The end-to-end composition [[kmeansFit]] →
    * assignment → probe; same 100 TB shape as [[ivfTopK]] (broadcast
    * codebook, cell equi-join, TakeOrdered) with the cells coming from
    * the data instead of a semantic label.
    */
  def ivfTopKLearned(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      kCells: Int,
      trainIters: Int,
      nprobe: Int,
      k: Int): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "ivfTopKLearned")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (_, cent) = kmeansFit(embeddings, idCol, vecCol, kCells, trainIters)
    val cb = broadcast(cent.toDF("cell", "dim", "c")
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x("c")).as("centroid")))
    // cell attaches in-row (attachCell) — no assignment-frame self-join
    val cells = attachCell(embeddings, vecCol, centroidArrays(cent), "cell")
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("__csim").desc, col("cell").asc)
    val probed = query1.join(cb)
      .withColumn("__csim", cosine(col(vecCol), col("centroid")))
      .withColumn("__crank", row_number().over(wProbe))
      .filter(col("__crank") <= nprobe)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qvec"), col("cell"))
    cells
      .join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("__qid"))
      .select(col(idCol), col("cell"),
        cosine(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(idCol).asc)))
  }

  /** IVF-style ANN: a coarse codebook of per-group centroids; every vector
    * is assigned to its nearest cell by cosine (ties -> lowest cell id);
    * the query probes its `nprobe` closest cells and ranks only THOSE
    * cells' vectors by exact cosine. The 100 TB shape: the codebook
    * broadcasts, assignment is one map-side pass, and the search scans
    * nprobe/cells of the data instead of all of it.
    */
  def ivfTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String,
      nprobe: Int,
      k: Int): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "ivfTopK")
    val cb = broadcast(centroidVectors(embeddings, vecCol, groupCol)
      .select(col(groupCol).as("cell"), col("centroid")))
    // Nearest cell per vector (ties -> lowest cell id) as a partial-
    // aggregable min_by over struct(-csim, cell) — no per-vector sort:
    // the broadcast fan-out (n x cells rows) collapses back to one row
    // per vector map-side, before any exchange. The vector rides inside
    // the min_by value struct, so only the winner's copy survives.
    val cells = embeddings.join(cb)
      .select(col(idCol), col(vecCol), col("cell"),
        cosine(col(vecCol), col("centroid")).as("__csim"))
      .groupBy(col(idCol))
      .agg(min_by(struct(col("cell"), col(vecCol)),
        struct((-col("__csim")).as("ns"), col("cell"))).as("__m"))
      .select(col(idCol), col("__m.cell").as("cell"),
        col(s"__m.$vecCol").as(vecCol))
    // Query side keeps the nprobe-rank window: 1 row x |cells|, trivial.
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("__csim").desc, col("cell").asc)
    val probed = query1.join(cb)
      .withColumn("__csim", cosine(col(vecCol), col("centroid")))
      .withColumn("__crank", row_number().over(wProbe))
      .filter(col("__crank") <= nprobe)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qvec"),
        col("cell"))
    val q = broadcast(probed)
    cells
      .join(q, Seq("cell"))
      .filter(col(idCol) =!= col("__qid"))
      .select(col(idCol), col("cell"),
        cosine(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(idCol).asc)))
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ) — the compressed-vector ANN path.
  //
  // A D-dim vector splits into `numSub` contiguous subvectors; each
  // subspace gets its own kCodes-entry codebook (trained with the same
  // deterministic Lloyd's discipline as [[kmeansFit]], generalized with
  // `sub` as an extra grouping key so ONE scan per iteration trains ALL
  // subspace codebooks at once). A vector is then stored as `numSub`
  // small ints — for 64 float dims and numSub=4 that is 256 bytes ->
  // 4 codes, the representation that lets a 100 TB corpus's index fit
  // in cluster memory. Queries run ADC (asymmetric distance
  // computation): one tiny (numSub x kCodes) table of exact
  // query-subvector-to-codeword distances, broadcast; each stored
  // vector's approximate distance is a sum of `numSub` table lookups —
  // the corpus scan touches only the codes, never the original vectors.
  // -------------------------------------------------------------------

  /** (id, sub, dsub, v) long form: dim splits as sub = dim/dsubLen,
    * dsub = dim%dsubLen (0-based, posexplode order).
    */
  private def pqExplode(
      df: DataFrame, idCol: String, vecCol: String, dsubLen: Int): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "v0")))
      .select(col(idCol),
        (col("dim") / dsubLen).cast("int").as("sub"),
        (col("dim") % dsubLen).cast("int").as("dsub"),
        col("v0").cast("double").as("v"))

  /** Attach each row's per-subspace nearest-codeword ids as `outCol`
    * (array<int> in subspace order; ties -> lowest code; same
    * 12-dp-round + decimal arithmetic as every other distance here), as
    * the native [[graft.expressions.PqCodesOf]] expression: the whole
    * PQ codebook (numSub x kCodes x dsubLen doubles — metadata) rides
    * as expression configuration and each row's codes are numSub
    * compiled argmins over its sliced subvectors — zero shuffles, where
    * the exploded formulation paid a broadcast fan-out plus two
    * aggregations per encode.
    */
  private[operators] def attachPqCodes(
      df: DataFrame,
      vec: Column,
      codebook: Seq[(Int, Int, Int, Double)],
      outCol: String): DataFrame = {
    require(codebook.nonEmpty, "empty PQ codebook")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dsubLen = codebook.map(_._3).max + 1
    val numSub = codebook.map(_._1).max + 1
    val bySub: Seq[Seq[(Int, Array[Double])]] = (0 until numSub).map { s =>
      codebook.filter(_._1 == s).groupBy(_._2).toSeq
        .map { case (code, rs) => (code, rs.sortBy(_._3).map(_._4).toArray) }
        .sortBy(_._1)
    }
    require(bySub.forall(_.nonEmpty),
      s"PQ codebook is missing a subspace (numSub=$numSub)")
    df.withColumn(outCol, ColumnBridge.column(graft.expressions.PqCodesOf(
      ColumnBridge.expression(vec),
      bySub.map(_.map(_._1).toArray).toArray,
      bySub.map(_.map(_._2).toArray).toArray,
      dsubLen)))
  }

  /** Train per-subspace PQ codebooks. Same deterministic recipe as
    * [[kmeansFit]] (lowest-id seed vectors, decimal-exact distances and
    * means, lowest-code ties) applied independently in every subspace —
    * but in ONE plan: `sub` rides as a grouping key, so an iteration is
    * a single input scan regardless of numSub. The codebook lives on
    * the driver between iterations (numSub x kCodes x dsubLen doubles,
    * metadata-scale) and is re-broadcast each round, keeping lineage
    * depth constant. `iters = 1` returns the seed codebook itself (the
    * k lowest-id vectors' subvectors) — the oracle-checkable baseline.
    * A codeword that loses all members in an update round drops out,
    * the standard Lloyd's empty-cluster behavior (same as kmeansFit).
    *
    * Returns (sub, code, dsub, c) rows.
    */
  def pqFit(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int,
      kCodes: Int,
      iters: Int): Seq[(Int, Int, Int, Double)] = {
    require(numSub > 0 && kCodes > 0 && iters > 0,
      "numSub, kCodes and iters must be positive")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val seeds = embeddings
      .orderBy(col(idCol)).limit(kCodes)
      .select(col(vecCol).cast("array<double>").as("vec"))
      .collect()
    require(seeds.nonEmpty, "pqFit needs a non-empty embeddings input")
    val dims = seeds.head.getSeq[Double](0).length
    require(dims % numSub == 0,
      s"vector dims ($dims) must divide evenly into numSub ($numSub)")
    val dsubLen = dims / numSub
    var cent: Seq[(Int, Int, Int, Double)] =
      seeds.zipWithIndex.flatMap { case (row, code) =>
        row.getSeq[Double](0).zipWithIndex.map { case (v, dim) =>
          (dim / dsubLen, code, dim % dsubLen, v)
        }
      }.toSeq
    if (iters > 1) {
      var i = 0
      while (i < iters - 1) {
        // one single-scan pass per round: every row's numSub codes are
        // in-row argmins, the per-(sub, code, dsub) decimal mean is the
        // ONLY shuffle (numSub x kCodes x dsubLen groups, partial-agged)
        cent = attachPqCodes(embeddings.select(col(vecCol)), col(vecCol),
          cent, "__codes")
          .select(col("__codes"), posexplode(col(vecCol)).as(Seq("dim", "v0")))
          .select(
            (col("dim") / dsubLen).cast("int").as("sub"),
            element_at(col("__codes"),
              (col("dim") / dsubLen).cast("int") + 1).as("code"),
            (col("dim") % dsubLen).cast("int").as("dsub"),
            col("v0").cast("double").as("v"))
          .groupBy(col("sub"), col("code"), col("dsub"))
          .agg((sum(round(col("v"), 12).cast("decimal(38,12)")).cast("double") /
            count(lit(1))).as("c"))
          .as[(Int, Int, Int, Double)].collect().toSeq
        i += 1
      }
    }
    cent
  }

  /** Encode every vector as its per-subspace nearest-codeword ids:
    * (id, codes array<int> in subspace order). This is the stored
    * representation — numSub small ints per row instead of the vector.
    */
  def pqEncode(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: Seq[(Int, Int, Int, Double)]): DataFrame =
    attachPqCodes(embeddings.select(col(idCol), col(vecCol)), col(vecCol),
      codebook, "codes")
      .select(col(idCol), col("codes"))

  /** In-row residual of a vector against its assigned cell's centroid
    * (the quantity a residual-PQ layout stores codes of): the codebook
    * rides as a literal int->array map, the subtraction is one zip_with.
    */
  private[operators] def residualTo(
      vec: Column, cellCol: Column,
      centroids: Seq[(Int, Array[Double])]): Column = {
    require(centroids.nonEmpty, "empty codebook")
    val cmap = typedlit(centroids.map { case (c, a) => (c, a.toSeq) }.toMap)
    zip_with(vec.cast("array<double>"), element_at(cmap, cellCol),
      (a, b) => a - b)
  }

  /** The ADC lookup table for one query vector against a PQ codebook:
    * (sub, code, d2q DECIMAL(38,12)) — the query subvector's exact
    * squared distance to every codeword, with the same per-term 12-dp
    * round + decimal accumulation as [[pqFit]]/[[pqEncode]], so a
    * persisted-index serving path ([[IvfIndex.queryAdc]]) is
    * bit-identical to the in-memory [[pqTopK]] by construction. The
    * table is numSub x kCodes rows — metadata-scale, always broadcast.
    */
  def pqAdcTable(
      codebook: DataFrame,
      queryVec: Array[Double],
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = codebook.sparkSession
    import spark.implicits._
    val dsubLen = codebook.agg(max(col("dsub"))).as[Int].head() + 1
    val q = Seq((0L, queryVec)).toDF(idCol, vecCol)
    pqExplode(q, idCol, vecCol, dsubLen)
      .join(broadcast(codebook), Seq("sub", "dsub"))
      .select(col("sub"), col("code"),
        round((col("v") - col("c")) * (col("v") - col("c")), 12)
          .cast("decimal(38,12)").as("dd"))
      .groupBy(col("sub"), col("code"))
      .agg(sum(col("dd")).as("d2q"))
  }

  /** PQ ANN end-to-end: fit codebooks, encode the corpus, rank by ADC.
    * The query's exact distance to every codeword of every subspace is
    * one tiny broadcast table (numSub x kCodes rows); each corpus row's
    * approximate squared distance is the decimal-exact sum of its
    * numSub table hits (cross-subspace sums are DECIMAL(38,12), so the
    * result is addition-order-independent and engine-portable). Output:
    * k nearest by approximate distance, (id, ad2, rank); ordered and
    * tie-broken on the ROUNDED distance so rank is reproducible.
    *
    * NOTE: this method couples fit+encode+query in one call because the
    * oracle harness needs a single self-contained plan. A serving path
    * should never re-fit per query — build the artifacts once with
    * [[IvfIndex.write]] (pq = Some(...)) and query the persisted layout
    * via [[IvfIndex.queryAdc]], which reuses the same arithmetic
    * ([[pqAdcTable]]) and so ranks candidates bit-identically.
    */
  def pqTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int,
      kCodes: Int,
      iters: Int,
      k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val query1 = singleQueryGuard(query, idCol, "pqTopK")
    val cb = pqFit(embeddings, idCol, vecCol, numSub, kCodes, iters)
    val cbDf = cb.toDF("sub", "code", "dsub", "c")
    val dsubLen = cb.map(_._3).max + 1
    val codes = pqEncode(embeddings, idCol, vecCol, cb)
    val table = pqExplode(query1, idCol, vecCol, dsubLen)
      .join(broadcast(cbDf), Seq("sub", "dsub"))
      .select(col(idCol).as("__qid"), col("sub"), col("code"),
        round((col("v") - col("c")) * (col("v") - col("c")), 12)
          .cast("decimal(38,12)").as("dd"))
      .groupBy(col("__qid"), col("sub"), col("code"))
      .agg(sum(col("dd")).as("d2q"))
    val ranked = Window.orderBy(col("ad2").asc, col(idCol).asc)
    codes
      .select(col(idCol), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(table), Seq("sub", "code"))
      .filter(col(idCol) =!= col("__qid"))
      .groupBy(col(idCol))
      .agg(sum(col("d2q")).as("__ad2"))
      .select(col(idCol), round(col("__ad2").cast("double"), 6).as("ad2"))
      .orderBy(col("ad2").asc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(ranked))
  }

  /** PQ-ADC retrieve + EXACT re-rank — the two-stage serving shape
    * every production ANN deployment actually runs (faiss's
    * `IndexRefineFlat`, ScaNN's reorder stage): the compressed index
    * proposes a `shortlist` of M candidates by ADC, then the TRUE
    * squared L2 distance is computed for those M rows only and the
    * final top-k ranks by the exact number. Fixes exactly the failure
    * v31 measures (PQ's quantization error reordering close
    * neighbors) at the cost of M raw-vector reads per query instead
    * of the corpus.
    *
    * Scale shape: stage 1 is [[pqTopK]] (codes-only scan, broadcast
    * ADC table); stage 2 broadcasts the M-row shortlist INTO the
    * vector table join — the corpus is touched only by the codes
    * scan, and the raw-vector read is M rows via broadcast-hash, no
    * shuffle. Exact distances assemble per-dim as round-12 decimals
    * (order-free sums), so the output is engine-portable.
    *
    * @return (idCol, ad2, d2, rank) — the approximate and exact
    *         distances side by side; rank is by d2.
    */
  def pqTopKRefined(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int,
      kCodes: Int,
      iters: Int,
      shortlist: Int,
      k: Int): DataFrame = {
    require(shortlist >= k,
      s"pqTopKRefined: shortlist ($shortlist) must be >= k ($k)")
    val short = pqTopK(embeddings, query, idCol, vecCol, numSub, kCodes,
      iters, shortlist).drop("rank")
    val query1 = singleQueryGuard(query, idCol, "pqTopKRefined")
    val qDims = query1.select(
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "qv")))
    val exact = embeddings
      .join(broadcast(short), idCol)
      .select(col(idCol), col("ad2"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .join(broadcast(qDims), "dim")
      .select(col(idCol), col("ad2"),
        round((col("v") - col("qv")) * (col("v") - col("qv")), 12)
          .cast("decimal(38,12)").as("dd"))
      .groupBy(col(idCol), col("ad2"))
      .agg(sum(col("dd")).as("__d2"))
      .select(col(idCol), col("ad2"),
        round(col("__d2").cast("double"), 6).as("d2"))
    val ranked = Window.orderBy(col("d2").asc, col(idCol).asc)
    exact
      .orderBy(col("d2").asc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(ranked))
  }

  // -------------------------------------------------------------------
  // Scalar quantization (SQ8) — the third compression path, between raw
  // vectors and PQ: each dimension quantizes INDEPENDENTLY to an 8-bit
  // code against a per-dimension (min, max) range learned from the
  // corpus. 4x smaller than float32 at far better fidelity than PQ's
  // numSub ints (PQ wins on compression ratio, SQ8 on recall — the
  // standard serving trade, e.g. faiss's SQ8 vs PQ index families).
  // The "codebook" is 2 x dims doubles of driver-resident metadata;
  // encode and dequantize are in-row transforms (zero shuffles, exactly
  // like the PQ encode path); serving scores dequantized vectors with
  // the shared deterministic cosine, so results are engine-portable and
  // oracle-checkable bit for bit.
  // -------------------------------------------------------------------

  /** Sign-matrix RANDOM PROJECTION (Achlioptas 2001's database-friendly
    * JL transform): y_j = Σ_d v_d·s(d,j) with s(d,j) ∈ {±1} derived
    * from the library's deterministic md5 hash of "dim_j" — no stored
    * matrix, no RNG state, any executor (or any ENGINE: the oracle
    * re-derives the same signs) reconstructs the projection from the
    * two dimensions alone. The JL guarantee says m = O(log n/ε²)
    * output dims preserve pairwise distances to (1±ε) — the cheap
    * alternative to PCA (v35) when 100 TB makes a training pass
    * unwelcome: zero training, zero driver state, one shuffle.
    *
    * Engine-portable by the usual discipline: per-(dim, j) terms round
    * to 12 dp and sum as exact decimals, so no float-summation order
    * exists. Output y values are UNSCALED sums (Var[y_j] = ‖v‖²);
    * consumers normalize by √m — kept exact here so distortion
    * measurement can do its one division at the end.
    *
    * Scale shape: the input explodes to inDims·outDims terms per
    * vector before the (id, j) partial-agg — fine for reduction
    * factors like 64→16; a production fuse would compute the fold
    * in-row. The sign "matrix" never materializes anywhere.
    *
    * @return (idCol, j, y) — one row per output dimension,
    *         y DECIMAL-exact
    */
  def rpProject(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      outDims: Int): DataFrame = {
    require(outDims > 0, s"rpProject: outDims must be positive, got $outDims")
    val spark = embeddings.sparkSession
    val js = broadcast(spark.range(outDims).select(col("id").as("j")))
    val sign = when(
      pmod(graft.operators.TextOps.baseHash60(
        concat_ws("_", col("dim").cast("string"), col("j").cast("string"))),
        lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
    embeddings
      .select(col(idCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .join(js)
      .select(col(idCol), col("j"),
        round(col("v") * sign, 12).cast("decimal(26,12)").as("__t"))
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("__t")).as("y"))
  }

  /** Learn the per-dimension (min, max) quantization ranges — the SQ8
    * codebook. One exploded aggregation whose groups are the dims
    * (partial-agged map-side; min/max SELECT input values rather than
    * accumulate, so the fit is exact and engine-portable by nature).
    * Returns dim-ordered (min, max) pairs.
    */
  def sq8Fit(embeddings: DataFrame, vecCol: String): Seq[(Double, Double)] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("dim"))
      .as[(Int, Double, Double)].collect()
      .map { case (_, mn, mx) => (mn, mx) }.toSeq
  }

  /** SQ8 codes for a vector column: code_i = round((v_i - min_i) * 255 /
    * (max_i - min_i)), array<int> in dim order (a constant dimension
    * encodes 0 — decided per dim on the driver, where min == max is
    * exact). In-corpus values land in 0..255 by construction; the same
    * expression shape in SQL reproduces the codes bit for bit (double
    * subtraction/multiplication/division are IEEE-portable, and
    * half-up rounding of non-negative arguments matches round-half-away).
    */
  def sq8EncodeCol(vec: Column, minMax: Seq[(Double, Double)]): Column = {
    require(minMax.nonEmpty, "empty SQ8 codebook")
    val mnLit = typedlit(minMax.map(_._1))
    val mxLit = typedlit(minMax.map(_._2))
    val flat = typedlit(minMax.map { case (mn, mx) => mn == mx })
    transform(vec.cast("array<double>"), (v, i) =>
      when(element_at(flat, i + 1), lit(0))
        .otherwise(round((v - element_at(mnLit, i + 1)) * lit(255.0) /
          (element_at(mxLit, i + 1) - element_at(mnLit, i + 1)), 0)
          .cast("int")))
  }

  /** Reconstruct the quantized approximation: vhat_i = min_i + code_i *
    * (max_i - min_i) / 255. The serving-side inverse of
    * [[sq8EncodeCol]]; per-element double arithmetic, engine-portable.
    */
  def sq8DequantCol(codes: Column, minMax: Seq[(Double, Double)]): Column = {
    require(minMax.nonEmpty, "empty SQ8 codebook")
    val mnLit = typedlit(minMax.map(_._1))
    val mxLit = typedlit(minMax.map(_._2))
    transform(codes, (q, i) =>
      element_at(mnLit, i + 1) + q.cast("double") *
        (element_at(mxLit, i + 1) - element_at(mnLit, i + 1)) / lit(255.0))
  }

  /** SQ8 ANN end-to-end: learn ranges, encode the corpus, rank the
    * DEQUANTIZED vectors by the shared deterministic cosine against one
    * query vector — fit+encode+serve coupled for the oracle harness,
    * like [[pqTopK]] (a serving path builds the codes once and reuses
    * them). Output: (idCol, sim, rank), k rows — [[bruteForceTopK]]'s
    * shape over the compressed representation; at full fidelity
    * (255 >> spread) the ranking approaches the exact one, measured in
    * Sq8Spec. Scan shape: encode and dequantize are in-row, the query
    * broadcasts, TakeOrderedAndProject keeps k rows per partition — no
    * vector ever shuffles.
    */
  def sq8TopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "sq8TopK")
    val mm = sq8Fit(embeddings, vecCol)
    val ranked = Window.orderBy(col("sim").desc, col(idCol).asc)
    embeddings
      .select(col(idCol),
        sq8DequantCol(sq8EncodeCol(col(vecCol), mm), mm).as("__vhat"))
      .join(broadcast(query1.select(col(idCol).as("__qid"),
        col(vecCol).as("__qvec"))))
      .filter(col(idCol) =!= col("__qid"))
      .select(col(idCol), cosine(col("__vhat"), col("__qvec")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(ranked))
  }

  /** L2-normalize an embedding column to unit vectors (the prep pass
    * cosine pipelines want done ONCE at ingest, turning every later
    * cosine into a bare dot product). The norm is materialized as its
    * own column BEFORE the per-element divide: a higher-order lambda
    * re-evaluates outer subexpressions per element (ArrayTransform is
    * not codegen'd), so an inline norm would cost O(d²) per row — two
    * projections keep it O(d). Elements round to 6 dp; an all-zero
    * vector normalizes to all zeros rather than NaN.
    *
    * @return df with `outCol` = unit vector array<double>
    */
  def l2Normalize(
      df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    require(!df.columns.contains("__n"),
      "l2Normalize reserves column __n — rename it on the input")
    df.withColumn("__n", normFold(col(vecCol)))
      .withColumn(outCol,
        transform(col(vecCol).cast("array<double>"),
          x => when(col("__n") > 0, round(x / col("__n"), 6))
            .otherwise(lit(0.0))))
      .drop("__n")
  }

  /** Sign-bit binary quantization: bit (i mod 64) of word (i / 64) is set
    * iff `vec[i] > 0`. 64 dims pack into ONE long — 32× smaller than the
    * float32 vector, which is the 100 TB story: the Hamming first pass
    * scans 8 bytes/vector of packed codes (a codes-only columnar read in
    * a persisted layout), and the float vectors are touched only for the
    * k·rerank survivors. The threshold is literal zero, not a learned
    * per-dim mean, so the bit is a pure float comparison — no arithmetic
    * whose last-ulp could flip a bit between engines or runs.
    */
  def signBits(vec: Column, dims: Int): Column = {
    require(dims > 0, "signBits needs a positive dimension count")
    val words = (dims + 63) / 64
    val wordCols = (0 until words).map { w =>
      val lo = w * 64
      val hi = math.min(dims, lo + 64)
      (lo until hi).map { i =>
        when(element_at(vec, i + 1) > lit(0.0),
          shiftleft(lit(1L), i - lo)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }
    array(wordCols: _*)
  }

  /** Hamming distance between two packed sign-bit codes (array<long>):
    * popcount of the per-word XOR, summed. Pure builtins — bit_count and
    * bitwise xor are codegen'd, so the distance stays inside whole-stage
    * codegen.
    */
  def hammingWords(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("int")

  /** Binary-quantization ANN: rank the whole corpus by Hamming distance
    * between packed sign-bit codes (cheap, 8 bytes/vector at 64 dims),
    * keep the k·rerankFactor closest, then exact-cosine re-rank just
    * those. Candidate cut and final rank are both totally ordered
    * (distance, then id), so the result is deterministic. The plan is
    * scan → project(code, hamming) → TakeOrderedAndProject(k·rerank) →
    * cosine over k·rerank rows — no shuffle of vectors, no global sort.
    */
  def binaryQuantTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int,
      rerankFactor: Int = 4): DataFrame = {
    val query1 = singleQueryGuard(query, idCol, "binaryQuantTopK")
    val q = broadcast(query1.select(
      col(idCol).as("__qid"),
      signBits(col(vecCol), dims).as("__qcode"),
      col(vecCol).as("__qvec")))
    embeddings
      .join(q, col(idCol) =!= col("__qid"))
      .select(col(idCol),
        hammingWords(signBits(col(vecCol), dims), col("__qcode"))
          .as("hamming"),
        col(vecCol), col("__qvec"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k * rerankFactor)
      .select(col(idCol), col("hamming"),
        cosine(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(idCol).asc)))
  }

  /** Top principal direction of an embedding column by POWER ITERATION
    * — in-engine dimensionality reduction (the whitening/projection
    * step ahead of ANN index builds, and the 1-component PCA a corpus
    * drift monitor watches): v ← normalize((XᵀX)·v), iterated from the
    * deterministic all-ones start, converging to the dominant
    * eigenvector of the (uncentered) covariance — run over
    * MEAN-CENTERED vectors upstream when classic PCA is wanted.
    *
    * Numeric discipline (the kmeansFit/t26 recipe): each matrix apply
    * is two partial-aggregable decimal sums — s_i = Σ round(x_ij·v_j)
    * per row, w_j = Σ round(s_i·x_ij) per dim — so cross-row addition
    * order cannot matter; the norm folds the 12-dp-rounded squares
    * exactly on the driver; loadings re-round to 9 dp per round, so
    * the whole trajectory is engine-portable and a SQL oracle can
    * restate every round verbatim.
    *
    * Scale shape: per round, two shuffles over the exploded (id, dim)
    * frame with map-side combine, one broadcast of the 64-row v, and
    * an O(d) driver collect — the Lloyd's shape (iters is a small
    * constant; the corpus is scanned once per round, never held).
    *
    * Output: one row per dimension — `dim` (0-based), `loading`
    * (9 dp), `eigval` (6 dp; ‖w‖ of the final round ≈ the dominant
    * eigenvalue of XᵀX).
    */
  def powerIteration(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4,
      s"powerIteration: iters must be in 1..4 (each is a corpus pass), got $iters")
    val spark = df.sparkSession
    val dims = df.select(col(idCol).as("__id"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "__x")))
    def roundN(x: Double, n: Int): Double =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    def step(vDf: DataFrame): Array[Double] = {
      val s = dims.join(broadcast(vDf), "dim")
        .select(col("__id"),
          round(col("__x") * col("v"), 12).cast("decimal(38,12)").as("__t"))
        .groupBy(col("__id"))
        .agg(sum(col("__t")).cast("double").as("__s"))
      dims.join(s, "__id")
        .select(col("dim"),
          round(col("__s") * col("__x"), 12).cast("decimal(38,12)").as("__t2"))
        .groupBy(col("dim")).agg(sum(col("__t2")).as("__w"))
        .orderBy(col("dim"))
        .collect().map(_.getDecimal(1).doubleValue())
    }
    import spark.implicits._
    var v: Array[Double] = null
    var eig = 0.0
    var vDf = dims.select(col("dim")).distinct()
      .select(col("dim"), lit(1.0).as("v"))
    for (_ <- 1 to iters) {
      val w = step(vDf)
      val norm2 = w.map(x => BigDecimal(roundN(x * x, 12))).sum
      eig = math.sqrt(norm2.toDouble)
      v = w.map(x => roundN(x / eig, 9))
      vDf = v.zipWithIndex.map { case (l, d) => (d, l) }.toSeq
        .toDF("dim", "v")
    }
    v.zipWithIndex.map { case (l, d) => (d, l) }.toSeq
      .toDF("dim", "loading")
      .withColumn("eigval", lit(roundN(eig, 6)))
      .select(col("dim"), col("loading"), col("eigval"))
  }

  /** Project every embedding onto a principal direction — the APPLY
    * side of [[powerIteration]] (whitening / 1-D reduction ahead of an
    * ANN build, and the per-document drift score a corpus monitor
    * ranks by): projection = ⟨x, v⟩, residual = ‖x − proj·v‖ =
    * sqrt(‖x‖² − proj²) — how much of the vector lives OFF the
    * dominant axis (high residual = the document the axis does not
    * explain).
    *
    * Numeric discipline: both ⟨x,v⟩ and ‖x‖² fold as 12-dp-rounded
    * products into exact decimal sums inside ONE partial-aggregable
    * groupBy (order-independent addition); the projection re-rounds to
    * 9 dp BEFORE it is squared for the residual, so both engines
    * subtract identical doubles. One exchange on the id; the loadings
    * frame (O(d) rows) broadcasts.
    */
  def pcaProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      loadings: DataFrame): DataFrame = {
    val dims = df.select(col(idCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "__x")))
    val p = dims
      .join(broadcast(loadings.select(col("dim"), col("loading"))), "dim")
      .groupBy(col(idCol))
      .agg(
        sum(round(col("__x") * col("loading"), 12).cast("decimal(38,12)"))
          .cast("double").as("__p"),
        sum(round(col("__x") * col("__x"), 12).cast("decimal(38,12)"))
          .cast("double").as("__n2"))
    p.select(col(idCol),
        round(col("__p"), 9).as("projection"),
        round(sqrt(greatest(lit(0.0),
          col("__n2") - round(col("__p"), 9) * round(col("__p"), 9))), 6)
          .as("residual"))
      .orderBy(col(idCol))
  }

  /** Per-DIMENSION statistics of an embedding column — the profile that
    * sizes SQ8 ranges, spots dead/saturated dimensions, and sanity-
    * checks a new embedding source. One posexplode + one partial-
    * aggregable groupBy(dim); mean/std derive in double from exact
    * decimal sums (order-independent addition — the same construction
    * as rollingZscore, and what makes the stats hash-checkable).
    */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val dec = col("__x").cast("decimal(18,6)")
    val n = count(lit(1)).cast("double")
    val s1 = sum(dec).cast("double")
    val s2 = sum((dec * dec).cast("decimal(38,12)")).cast("double")
    // sample std is undefined for a single observation — emit null, not
    // the NaN the raw 0/0 division produces (NaN poisons downstream
    // hash-compares and range sizing; the rollingZscore guard, ADVICE
    // r11)
    val std = when(n > lit(1.0),
      round(sqrt((n * s2 - s1 * s1) / (n * (n - lit(1.0)))), 6))
    df.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("__x")), 6).as("lo"),
        round(max(col("__x")), 6).as("hi"),
        round(s1 / n, 6).as("mean"),
        std.as("std"))
      .orderBy(col("dim"))
  }

  /** Per-label centroid state as a MERGEABLE SUMMARY — the sketch/OLS
    * property applied to embedding monitoring: per (label, dim) the
    * exact decimal element sum and count. Additive, associative,
    * commutative, so per-partition / per-day / per-stream-batch
    * summaries fold with [[centroidMerge]] into exactly the one-shot
    * summary, and drift between two corpora ([[centroidDriftFrom]])
    * never re-reads vectors — only O(labels × dims) summary rows.
    * One posexplode + one partial-aggregable groupBy; no raw vector
    * crosses a shuffle un-aggregated.
    */
  def centroidSummarize(
      df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "__x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("__x").cast("decimal(18,6)")).as("s1"),
        count(lit(1)).as("n"))

  /** Fold centroid summaries (same schema as [[centroidSummarize]])
    * — lossless: decimal sums add, counts add.
    */
  def centroidMerge(summaries: DataFrame): DataFrame =
    summaries.groupBy(col("label"), col("dim"))
      .agg(sum(col("s1")).as("s1"), sum(col("n")).as("n"))

  /** Drift between two centroid summaries — v44's outputs (per-label
    * L2 and mean-|Δ| between 9-dp means) computed from summary rows
    * alone. The 9-dp mean differences cast EXACTLY to decimal(18,9)
    * (~2 ulp from the 9-dp grid, never near a cast midpoint), so the
    * distance folds carry no float-order dependence.
    */
  def centroidDriftFrom(oldSum: DataFrame, newSum: DataFrame): DataFrame = {
    def means(s: DataFrame, m: String, n: String) =
      s.select(col("label"), col("dim"),
        round(col("s1").cast("double") / col("n").cast("double"), 9)
          .as(m), col("n").as(n))
    val o = means(oldSum, "mo", "no")
    val nw = means(newSum, "mn", "nn")
      .select(col("label").as("__l"), col("dim").as("__d"),
        col("mn"), col("nn"))
    val dd = round(col("mn") - col("mo"), 9).cast("decimal(18,9)")
    val dims = o.join(nw,
      col("label") === col("__l") && col("dim") === col("__d"))
    val nOld = oldSum.groupBy(col("label"))
      .agg((max(col("n"))).as("n_old"))
    val nNew = newSum.groupBy(col("label"))
      .agg((max(col("n"))).as("n_new"))
    dims.groupBy(col("label"))
      .agg(sum(dd * dd).as("d2"), sum(abs(dd)).as("l1"),
        count(lit(1)).as("ndims"))
      .join(nOld, "label").join(nNew, "label")
      .select(col("label"), col("n_old"), col("n_new"),
        round(sqrt(col("d2").cast("double")), 6).as("drift_l2"),
        round(col("l1").cast("double") / col("ndims").cast("double"), 9)
          .as("mean_abs_diff"))
  }

  /** Maximal Marginal Relevance re-ranking of a per-query candidate
    * head: greedily pick argmax λ·sim − (1−λ)·max_cosine_to_selected —
    * the standard diversity pass between first-stage retrieval and
    * serving (λ=1 degenerates to plain sim order; lower λ demotes
    * near-duplicates of already-picked results). Input columns
    * (qid, vec_id, embedding, sim); output (qid, rank, vec_id,
    * mmr_score).
    *
    * 100 TB shape: the greedy recursion is inherently sequential, so it
    * runs INSIDE `flatMapGroups` per query over the BOUNDED candidate
    * head a first-stage retriever produced (top-50/100) — distributed
    * across queries, O(k·|head|·dim) per query, nothing driver-side
    * and nothing corpus-sized. Ties break by vec_id, so the ranking is
    * deterministic under retries.
    *
    * Scores round to 9 dp BEFORE the argmax compare (the t26/kmeansFit
    * discipline): the greedy pick then depends only on 9-dp-stable
    * quantities, so the whole trajectory replays bit-identically in a
    * SQL engine whose CTE-unrolled rounds apply the same rounding —
    * what lets the v33 oracle hash-check every (rank, vec_id, score).
    */
  def mmrRerank(
      candidates: DataFrame,
      lambdaParam: Double,
      k: Int): DataFrame = {
    require(lambdaParam >= 0.0 && lambdaParam <= 1.0,
      s"mmrRerank: lambda must be in [0,1], got $lambdaParam")
    require(k >= 1, s"mmrRerank: k must be >= 1, got $k")
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates
      .select(col("qid").cast("long"), col("vec_id").cast("long"),
        col("embedding").cast("array<double>"), col("sim").cast("double"))
      .as[(Long, Long, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        def cos(a: Seq[Double], b: Seq[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          val n = math.min(a.length, b.length)
          while (i < n) {
            d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
            i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
        }
        val remaining = scala.collection.mutable.ArrayBuffer(it.toSeq: _*)
        val selected =
          scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Double)]
        var rank = 1
        while (rank <= k && remaining.nonEmpty) {
          var bestIdx = 0
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < remaining.length) {
            val c = remaining(i)
            val red =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(s => cos(c._3, s)).max
            val raw = lambdaParam * c._4 - (1.0 - lambdaParam) * red
            // NaN (a zero-norm vector's cosine) stays NaN — BigDecimal
            // would throw; NaN never beats bestScore, so such rows just
            // rank last, same as before the rounding landed.
            val sc =
              if (raw.isNaN) raw
              else BigDecimal(raw)
                .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (sc > bestScore ||
              (sc == bestScore && c._2 < remaining(bestIdx)._2)) {
              bestScore = sc; bestIdx = i
            }
            i += 1
          }
          val picked = remaining.remove(bestIdx)
          selected += picked._3
          out += ((qid, rank, picked._2,
            if (java.lang.Double.isFinite(bestScore))
              BigDecimal(bestScore)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            else bestScore))
          rank += 1
        }
        out.iterator
      }
      .toDF("qid", "rank", "vec_id", "mmr_score")
  }
}
