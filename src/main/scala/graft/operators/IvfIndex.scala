package graft.operators


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF index: build once (k-means codebook + vectors laid out
  * cell-partitioned on disk), query many — the ANN serving shape at
  * corpus scale. The payoff is in the LAYOUT: a query probes its
  * `nprobe` closest cells as LITERAL partition filters, so the vector
  * scan is partition-PRUNED to nprobe/kCells of the corpus before any
  * IO happens (pinned in IvfIndexSpec), instead of scanning everything
  * and filtering. The codebook (kCells x dims doubles) is metadata: it
  * rides the driver exactly as in [[SimilarityOps.kmeansFit]] — and is
  * CACHED per index path, so serving many single queries pays the
  * codebook read once, not per call (invalidated by [[write]] /
  * [[compact]]; pinned by the `codebookReads` counter in IvfIndexSpec).
  *
  * The index is self-describing: [[write]] persists a `<path>/_meta`
  * JSON sidecar ({idCol, vecCol, kCells, dims, pq}) and every other
  * lifecycle op reads it instead of trusting caller-supplied column
  * names or PQ geometry — a query against the wrong column name is an
  * impossible state, not a silent wrong answer.
  *
  * The full lifecycle lives here (oracle rows `v12_index_batch` /
  * `v13_index_append` / `v14_index_residual` hash-check the
  * round-trips against plain SQL):
  *  - [[write]] build (+ optional [[Pq]] codes), [[append]] /
  *    [[graft.streaming.StreamingOps.indexIngest]] grow without
  *    retrain, [[delete]] point-removes by rewriting only affected
  *    cells, [[compact]] repairs append-accumulated small files,
  *    [[stats]] reports the per-cell skew that decides rebuild cadence;
  *  - [[query]] / [[queryBatch]] / [[queryBatchChunked]] serve
  *    exact-over-probed-cells top-k (optionally filtered by a metadata
  *    predicate that lands on the pruned scan as a PushedFilter);
  *    [[queryAdc]] / [[queryAdcBatch]] serve the PQ-compressed form —
  *    code scan, ADC rank, exact re-rank of the `refine` best.
  *
  * With [[Pq]] the layout additionally stores every vector's product-
  * quantization codes (numSub small ints) alongside it, plus the
  * per-subspace codebooks at `<path>/pq_codebook` — the IVF x PQ
  * composition: the first query pass is partition-pruned AND
  * column-pruned (it reads the codes column, never the vectors — for 64
  * float dims and numSub=4 that is ~64x less IO), ranks by ADC, and
  * only the top `refine` candidates' full vectors are read for the
  * exact re-rank. This persisted layout is the serving surface for PQ:
  * [[SimilarityOps.pqTopK]]'s fit+encode+query coupling exists for the
  * oracle harness; production builds the artifacts once here.
  *
  * `Pq(residual = true)` is canonical IVFADC: what gets quantized is
  * each vector's RESIDUAL against its coarse-cell centroid, not the raw
  * vector. Residuals carry far less energy than raw vectors (the coarse
  * term is already explained by the cell), so the same code budget
  * quantizes a tighter distribution and ADC ranks better at equal
  * nprobe/refine — measured in AnnRecallSpec. The query side then
  * builds a PER-CELL ADC table (the query's residual against cell c is
  * q - centroid_c), still metadata-scale: nprobe x numSub x kCodes rows
  * per query.
  *
  * Determinism discipline matches kmeansFit: probe-side cosines are
  * strict index-order left folds in double (computed on the driver over
  * the cached codebook — same fold order, same bits as the distributed
  * expression), so a rebuilt index probes identical cells; ADC reuses
  * [[SimilarityOps.pqAdcTable]]'s decimal arithmetic, so candidate
  * ranking is bit-identical to [[SimilarityOps.pqTopK]].
  */
object IvfIndex {

  /** PQ layout parameters: dims must divide evenly into `numSub`
    * subspaces, each quantized to a `kCodes`-codeword codebook trained
    * with `iters` Lloyd's rounds (1 = seed codebook). `residual = true`
    * quantizes vector-minus-cell-centroid residuals (true IVFADC).
    */
  final case class Pq(
      numSub: Int, kCodes: Int, iters: Int, residual: Boolean = false)

  /** The persisted self-description of an index (`<path>/_meta`).
    * `sq8` records whether the layout carries per-vector SQ8 codes (the
    * per-dim ranges live at `<path>/sq8_codebook`); `kCellsAuto` whether
    * `kCells` was auto-sized by [[write]] from the corpus row count
    * rather than pinned by the caller (the operational record of the
    * sizing decision — a rebuild can tell a deliberate geometry from a
    * default). Either field absent in sidecars written before it
    * existed reads as false.
    */
  final case class Meta(
      idCol: String, vecCol: String, kCells: Int, dims: Int, pq: Option[Pq],
      sq8: Boolean = false, kCellsAuto: Boolean = false)

  // ---- driver-side caches, keyed by index path --------------------------
  // The codebook is kCells x dims doubles and the meta a few hundred
  // bytes — both metadata-scale, both immutable between rebuilds. Serving
  // many single queries against one index re-paid the codebook parquet
  // read per call; the cache pays it once. write()/compact() invalidate
  // in this JVM; rebuilds from ANOTHER process are caught by stamping
  // every entry with the _meta sidecar's modification time and
  // re-validating with one FS stat per access — a stat instead of a
  // parquet read, and a stale codebook is never served across a rebuild
  // the cache-holding JVM didn't perform. (Granularity is the
  // filesystem's mtime resolution, the usual vanilla-file caveat.)
  private final case class Stamped[T](stamp: Long, value: T)
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Stamped[Map[Int, Array[Double]]]]()
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Stamped[Seq[(Int, Int, Int, Double)]]]()
  private val sq8CodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Stamped[Seq[(Double, Double)]]]()
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Stamped[Meta]]()

  /** The _meta sidecar's modification time — the cache-coherence stamp
    * (write() rewrites _meta last, so a rebuild always moves it).
    */
  private def metaStamp(spark: SparkSession, path: String): Long =
    MetaSidecar.stamp(spark, path, "index",
      "build the index with IvfIndex.write")

  private def stampedGet[T](
      cache: java.util.concurrent.ConcurrentHashMap[String, Stamped[T]],
      path: String,
      stamp: Long)(load: => T): T = {
    // The loader is a distributed read + collect — never run it under the
    // map's bin lock (compute() would serialize unrelated first-touch
    // loads that hash together, and a re-entrant loader would throw).
    // Racing loaders may both read; last-put wins — both hold the same
    // stamp's data, so either value is correct.
    val prev = cache.get(path)
    if (prev != null && prev.stamp == stamp) prev.value
    else {
      val fresh = Stamped(stamp, load)
      cache.put(path, fresh)
      fresh.value
    }
  }

  /** Number of physical codebook loads (test observability: IvfIndexSpec
    * asserts N single queries against one index load the codebook once).
    */
  private[graft] val codebookReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop cached driver-side state for an index path (called by [[write]]
    * and [[compact]]; public for callers that mutate the layout out of
    * band).
    */
  def invalidateCache(path: String): Unit = {
    codebookCache.remove(path)
    pqCodebookCache.remove(path)
    sq8CodebookCache.remove(path)
    metaCache.remove(path)
    ()
  }

  private def cachedCodebook(
      spark: SparkSession, path: String, stamp: Long): Map[Int, Array[Double]] =
    stampedGet(codebookCache, path, stamp) {
      codebookReads.incrementAndGet()
      import spark.implicits._
      spark.read.parquet(s"$path/codebook")
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1)
        .map { case (cell, rows) => cell -> rows.sortBy(_._2).map(_._3) }
    }

  private def cachedPqCodebook(
      spark: SparkSession, path: String,
      stamp: Long): Seq[(Int, Int, Int, Double)] =
    stampedGet(pqCodebookCache, path, stamp) {
      import spark.implicits._
      spark.read.parquet(s"$path/pq_codebook")
        .as[(Int, Int, Int, Double)].collect().toSeq
    }

  /** Dim-ordered (min, max) SQ8 ranges (driver cache, stamp-checked). */
  private def cachedSq8Codebook(
      spark: SparkSession, path: String, stamp: Long): Seq[(Double, Double)] =
    stampedGet(sq8CodebookCache, path, stamp) {
      import spark.implicits._
      spark.read.parquet(s"$path/sq8_codebook")
        .as[(Int, Double, Double)].collect().sortBy(_._1)
        .map { case (_, mn, mx) => (mn, mx) }.toSeq
    }

  private def hadoopPath(s: String) = new org.apache.hadoop.fs.Path(s)

  private def fsFor(spark: SparkSession, s: String) =
    hadoopPath(s).getFileSystem(spark.sessionState.newHadoopConf())

  // Sidecar protocol (I/O, version gate, escaping) is [[MetaSidecar]] —
  // shared with DedupStore; only the field layout is this index's.
  private def writeMeta(spark: SparkSession, path: String, meta: Meta): Unit = {
    import MetaSidecar.jstr
    val pqJson = meta.pq.fold("null") { p =>
      s"""{"numSub":${p.numSub},"kCodes":${p.kCodes},"iters":${p.iters},""" +
        s""""residual":${p.residual}}"""
    }
    MetaSidecar.write(spark, path,
      s""""idCol":${jstr(meta.idCol)},"vecCol":${jstr(meta.vecCol)},""" +
        s""""kCells":${meta.kCells},"dims":${meta.dims},"pq":$pqJson,""" +
        s""""sq8":${meta.sq8},"kCellsAuto":${meta.kCellsAuto}""")
  }

  /** Read the `<path>/_meta` sidecar (cached per path, stamp-checked). */
  def readMeta(spark: SparkSession, path: String): Meta =
    metaAt(spark, path, metaStamp(spark, path))

  // Internal stamped forms: every public entry point stats _meta ONCE
  // and threads the stamp to each cache it touches — a query must not
  // pay one FS stat per cache (on an object store each is a network
  // round-trip), and one stamp per call is the same coherence guarantee.
  private def metaAt(spark: SparkSession, path: String, stamp: Long): Meta =
    stampedGet(metaCache, path, stamp) {
      val node = MetaSidecar.read(spark, path, "index",
        "build the index with IvfIndex.write")
      val pq = Option(node.get("pq")).filterNot(_.isNull).map { n =>
        Pq(n.get("numSub").asInt, n.get("kCodes").asInt, n.get("iters").asInt,
          n.get("residual").asBoolean)
      }
      Meta(node.get("idCol").asText, node.get("vecCol").asText,
        node.get("kCells").asInt, node.get("dims").asInt, pq,
        // absent in pre-sq8/pre-auto sidecars -> false (still version 1)
        Option(node.get("sq8")).exists(_.asBoolean),
        Option(node.get("kCellsAuto")).exists(_.asBoolean))
    }

  /** (cell, __centroid array<double>) rows from the cached codebook — the
    * broadcastable probe/residual side (kCells rows of metadata).
    */
  private def centroidDf(
      spark: SparkSession, path: String, stamp: Long): DataFrame = {
    import spark.implicits._
    cachedCodebook(spark, path, stamp).toSeq
      .map { case (cell, c) => (cell, c) }
      .toDF("cell", "__centroid")
  }

  /** The deterministic training sample `write(trainPct = p)` fits its
    * codebooks on: the rows whose 60-bit md5-of-id lands under `p` of
    * 100 — [[SampleOps.hashSplit]]'s recipe, so the subset is per-row
    * decidable, engine-portable, and stable under any repartitioning
    * (a spec or an independent engine can restate it exactly).
    */
  def trainSampleOf(df: DataFrame, idCol: String, trainPct: Int): DataFrame =
    df.filter(pmod(TextOps.baseHash60(col(idCol).cast("string")),
      lit(100)) < trainPct)

  /** Train on the corpus and write `<path>/codebook` (cell, dim, c),
    * `<path>/vectors` partitioned by cell, and the `<path>/_meta`
    * self-description every other lifecycle op reads. With `pq` set,
    * also writes `<path>/pq_codebook` (sub, code, dsub, c) and a `codes`
    * column (array<int>, subspace order) on every vector row — codes of
    * the raw vectors, or of the cell residuals when `pq.residual`.
    * Rebuilding clears `<path>/_appended` (streaming-ingest replay
    * markers from a previous incarnation must not mask new batches) and
    * the driver-side caches.
    *
    * `trainPct` < 100 fits the k-means and PQ codebooks on the
    * deterministic [[trainSampleOf]] subset instead of the full corpus —
    * the production shape at scale: Lloyd's re-scans its training set
    * once per round, and a 100 TB corpus pays that bill 2x-iters times
    * for centroids a 1-5% sample pins down just as well (sampling noise
    * on a k-point codebook is far below quantization error). ENCODING
    * is untouched — every row's cell, codes, and SQ8 values are in-row
    * argmins/transforms over the full corpus — and so are the SQ8
    * ranges (min/max must COVER the corpus; their fit is one cheap
    * aggregation pass, not per-round). Serving semantics at full
    * probe/refine are sample-independent (any codebook yields the same
    * exact top-k — the v18 oracle gate).
    */
  /** `kCells = 0` (or [[write]] without a pinned value) AUTO-SIZES the
    * cell count as min(⌈√n⌉, [[AutoKCellsCap]]) over the corpus row
    * count — the measured §10d rule promoted from guidance to the
    * default (VERDICT r15 item 2): √n balances probe work (O(k) per
    * query) against per-cell scan size (n/k rows), and the cap bounds
    * the per-row assignment cost, which even under the two-level tree
    * grows as O(√k·d). The choice is recorded in `_meta` as
    * `kCellsAuto` with the effective `kCells`.
    */
  val AutoKCellsCap: Int = 4096

  /** `treeLevels` forces the nearest-centroid routing structure for
    * THIS build's assignments (1 = flat, 2/3 = coarse-quantizer tree;
    * None = k-threshold auto). An explicit parameter, not process-wide
    * state, so forcing a level for one build (v53's 3-level oracle gate)
    * can never reroute a concurrent build (ADVICE r17).
    * Routing affects the PLAN only — every level assigns bit-identically
    * (NearestKitSpec parity pins; v53 hash-matches v52's oracle).
    */
  def write(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      kCells: Int = 0,
      trainIters: Int = 2,
      path: String,
      pq: Option[Pq] = None,
      sq8: Boolean = false,
      trainPct: Int = 100,
      treeLevels: Option[Int] = None): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(trainPct > 0 && trainPct <= 100,
      s"trainPct ($trainPct) must be in 1..100")
    require(kCells >= 0,
      s"kCells ($kCells) must be positive, or 0 to auto-size")
    val auto = kCells == 0
    val k =
      if (!auto) kCells
      else {
        // one count over the corpus (the build re-scans it several
        // times anyway); 4 cells floor keeps tiny corpora partitioned
        val n = embeddings.count()
        math.max(4, math.min(AutoKCellsCap.toLong,
          math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
      }
    // the layout persists every caller column (filtered search predicates
    // may reference them) PLUS the reserved columns the build attaches;
    // a caller column with a reserved name would be silently overwritten
    // (or, for the internal __base, dropped) — fail fast instead
    val reserved = Seq("cell", "codes", "sq8", "__base")
      .filter(embeddings.columns.contains)
    require(reserved.isEmpty,
      s"embeddings frame carries reserved index column(s) " +
        s"${reserved.mkString(", ")} — rename them before write()")
    val trainSet =
      if (trainPct == 100) embeddings
      else trainSampleOf(embeddings, idCol, trainPct)
    val (_, cent) = SimilarityOps.kmeansFit(
      trainSet, idCol, vecCol, k, trainIters, treeLevels)
    // a too-aggressive trainPct on a small corpus can sample zero rows;
    // without this check the failure surfaces as an opaque "max of empty
    // collection" two lines down instead of naming the real cause
    require(cent.nonEmpty,
      s"write: training sample is empty (trainPct=$trainPct selected no " +
        s"rows) — raise trainPct or train on the full corpus")
    val dims = cent.map(_._2).max + 1
    // sidecars are driver-resident metadata — write them without a Spark
    // job each (r22, see DriverParquet; was coalesce(1).write x3 per
    // build, ~50-200 ms of scheduling+commit apiece)
    DriverParquet.overwrite(spark, s"$path/codebook",
      Seq(DriverParquet.Field("cell", "int"), DriverParquet.Field("dim", "int"),
        DriverParquet.Field("c", "double")),
      cent.iterator.map { case (cl, d, c) => Seq(cl, d, c) })
    // Everything after the fit is MAP-SIDE: the cell is an in-row argmin
    // against the literal codebook ([[SimilarityOps.attachCell]]), the
    // residual an in-row zip_with, the PQ codes in-row argmins — no
    // assignment frame joined back on the id, no corpus-scale shuffle or
    // checkpoint anywhere in the build. pqFit re-scans the input once
    // per Lloyd's round and the layout write scans it once more; at
    // corpus scale re-scanning parquet is the right trade (a 100 TB
    // corpus cannot sit in the block manager, and each scan is
    // embarrassingly parallel).
    val centArrs = SimilarityOps.centroidArrays(cent)
    val withCell = SimilarityOps.attachCell(embeddings, vecCol, centArrs,
      "cell", treeLevels)
    var pqCb: Option[Seq[(Int, Int, Int, Double)]] = None
    val withPq = pq.fold(withCell) { p =>
      // what gets quantized: raw vectors, or (residual=true) each
      // vector's offset from its own cell centroid
      val withBase = withCell.withColumn("__base",
        if (!p.residual) col(vecCol).cast("array<double>")
        else SimilarityOps.residualTo(col(vecCol), col("cell"), centArrs))
      // the PQ fit trains on the same sampled subset as the coarse
      // codebook (its Lloyd's rounds re-scan the training set too);
      // __base recomputes on the sample — in-row argmin + zip_with,
      // cheaper than materializing it
      val trainBase =
        if (trainPct == 100) withBase
        else trainSampleOf(withBase, idCol, trainPct)
      val cb = SimilarityOps.pqFit(
        trainBase.select(col(idCol), col("__base").as(vecCol)),
        idCol, vecCol, p.numSub, p.kCodes, p.iters)
      pqCb = Some(cb)
      DriverParquet.overwrite(spark, s"$path/pq_codebook",
        Seq(DriverParquet.Field("sub", "int"), DriverParquet.Field("code", "int"),
          DriverParquet.Field("dsub", "int"), DriverParquet.Field("c", "double")),
        cb.iterator.map { case (s0, co, d0, c0) => Seq(s0, co, d0, c0) })
      SimilarityOps.attachPqCodes(withBase, col("__base"), cb, "codes")
        .drop("__base")
    }
    var sq8Cb: Option[Seq[(Double, Double)]] = None
    val rows =
      if (!sq8) withPq
      else {
        // SQ8 quantizes the RAW vectors per dimension (independent of
        // the coarse cells); ranges fit in one exploded partial-agged
        // pass, the codes attach in-row — same map-side discipline
        val mm = SimilarityOps.sq8Fit(embeddings, vecCol)
        sq8Cb = Some(mm)
        DriverParquet.overwrite(spark, s"$path/sq8_codebook",
          Seq(DriverParquet.Field("dim", "int"), DriverParquet.Field("mn", "double"),
            DriverParquet.Field("mx", "double")),
          mm.iterator.zipWithIndex.map { case ((mn, mx), dim) => Seq(dim, mn, mx) })
        withPq.withColumn("sq8",
          SimilarityOps.sq8EncodeCol(col(vecCol), mm))
      }
    // Cluster by cell before the layout write (guide §6 "hash
    // distribution mode avoids the many-small-files problem at the cost
    // of a shuffle"): each write task then owns whole cells, so a cell
    // directory gets ONE file instead of one per upstream partition —
    // the same layout [[compact]] repairs appends into, now produced by
    // the build itself. At corpus scale this bounds the file count at
    // kCells (vs scan-tasks x kCells); locally it also un-serializes the
    // write — a single-file embeddings scan otherwise writes every cell
    // directory sequentially from one task (measured r22: v52's vectors
    // write 0.87 s serial).
    Layouts.writePartitioned(rows, s"$path/vectors", Seq("cell"))
    // a rebuild is a new incarnation: stale replay markers must not mask
    // the new stream's batch ids (ADVICE r9)
    val fs = fsFor(spark, path)
    fs.delete(hadoopPath(s"$path/_appended"), true)
    val meta = Meta(idCol, vecCol, k, dims, pq, sq8, auto)
    writeMeta(spark, path, meta)
    invalidateCache(path)
    // r21 (guide §1.2 "don't compute things you throw away"): the build
    // just held every driver-side artifact the serving path re-reads —
    // coarse codebook, PQ codebook, SQ8 ranges, meta. Pre-populate the
    // stamped caches so build-then-serve in one JVM pays no parquet
    // re-read jobs; the values are exactly what a read-back yields
    // (parquet round-trips doubles bit-exactly, cachedCodebook's
    // group/sort reproduces centroidArrays), and a rebuild from another
    // process still invalidates through the _meta mtime stamp.
    val stamp = metaStamp(spark, path)
    metaCache.put(path, Stamped(stamp, meta))
    codebookCache.put(path, Stamped(stamp, centArrs.toMap))
    pqCb.foreach(cb => pqCodebookCache.put(path, Stamped(stamp, cb)))
    sq8Cb.foreach(mm => sq8CodebookCache.put(path, Stamped(stamp, mm)))
    ()
  }

  /** Query a persisted index with one vector: probe the `nprobe` closest
    * cells (cosine against the cached codebook, ties -> lowest cell),
    * then rank ONLY those cells' vectors — the isin(cells) filter prunes
    * partitions before IO. Output matches [[SimilarityOps.ivfTopKLearned]]:
    * (idCol, cell, sim, rank).
    *
    * `where` is FILTERED vector search — "top-k among rows satisfying a
    * metadata predicate" (the vector-store feature every retrieval
    * pipeline ends up needing). The layout keeps every non-vector
    * column of the indexed frame alongside the vector, so the predicate
    * lands on the SAME pruned scan as a parquet PushedFilter (pinned in
    * IvfIndexSpec) — post-filtering ("fetch k then discard") is never
    * needed, and k survives arbitrarily selective predicates. NOTE the
    * probe is metadata-blind: cells are probed by query geometry, so a
    * predicate correlated with cell assignment can concentrate matches
    * in unprobed cells — raise nprobe with predicate selectivity (at
    * full probe the result is exactly the filtered brute force, also
    * pinned in the spec).
    */
  def query(
      spark: SparkSession,
      path: String,
      queryVec: Array[Double],
      excludeId: Option[Long],
      nprobe: Int,
      k: Int,
      where: Option[Column] = None): DataFrame = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    require(queryVec.length == meta.dims,
      s"query vector has ${queryVec.length} dims, index expects ${meta.dims}")
    val probed = probeCells(spark, path, queryVec, nprobe, stamp)
    val qv = typedlit(queryVec)
    val vectors = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probed: _*))
    val filtered = where.fold(vectors)(vectors.filter)
    excludeId.fold(filtered)(id => filtered.filter(col(meta.idCol) =!= id))
      .select(col(meta.idCol), col("cell"),
        SimilarityOps.cosine(col(meta.vecCol), qv).as("sim"))
      .orderBy(col("sim").desc, col(meta.idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(meta.idCol).asc)))
  }

  /** ADC first pass over a PQ-enabled index for ONE query vector: the
    * probed cells' CODES (never their vectors) rank by asymmetric
    * distance — (idCol, cell, ad2), ascending, capped at `refine` rows.
    * Runs as a 1-row [[queryAdcBatch]] candidate pass (shared plan, no
    * single-query special case): the scan is partition-pruned to the
    * probed cells and column-pruned to the codes (pinned in
    * IvfIndexSpec), and distances are bit-identical to
    * [[SimilarityOps.pqTopK]]'s (same decimal discipline).
    */
  def adcCandidates(
      spark: SparkSession,
      path: String,
      queryVec: Array[Double],
      excludeId: Option[Long],
      nprobe: Int,
      refine: Int,
      where: Option[Column] = None): DataFrame = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    val (queries, excludeSelf) = singleAsBatch(spark, meta, queryVec, excludeId)
    adcCandidateBatch(spark, path, meta, stamp, queries, excludeSelf, nprobe,
      refine, where)
      .select(col(meta.idCol), col("cell"), col("ad2"))
      .orderBy(col("ad2").asc, col(meta.idCol).asc)
  }

  /** IVF x PQ serving query: ADC-rank the probed cells' codes, take the
    * `refine` best candidates, then exact-re-rank ONLY those candidates'
    * full vectors by cosine. Output matches [[query]] /
    * [[SimilarityOps.ivfTopKLearned]]: (idCol, cell, sim, rank). With
    * `refine` >= the probed cells' population the result is exactly
    * [[query]]'s (pinned in IvfIndexSpec); at corpus scale `refine` is
    * a small multiple of k, so the full-vector read is k-scale — the
    * 100 TB shape: partition-pruned code scan, then point reads.
    *
    * Implemented as a 1-row [[queryAdcBatch]]: candidates flow from the
    * ADC pass to the exact re-rank IN the plan — no driver round-trip
    * collecting candidate ids (the r9 advice item). `where` is filtered
    * vector search on the compressed path: the predicate lands on the
    * pruned codes scan as a PushedFilter (vectors still unread in the
    * first pass); the probe stays metadata-blind, see [[query]].
    */
  def queryAdc(
      spark: SparkSession,
      path: String,
      queryVec: Array[Double],
      excludeId: Option[Long],
      nprobe: Int,
      k: Int,
      refine: Int,
      where: Option[Column] = None): DataFrame = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    val (queries, excludeSelf) = singleAsBatch(spark, meta, queryVec, excludeId)
    adcBatchImpl(spark, path, meta, stamp, queries, excludeSelf, nprobe, k,
      refine, where)
      .drop("qid")
  }

  /** A 1-row query batch frame for the single-vector entry points. When
    * no id is excluded the qid takes a sentinel and self-exclusion is
    * disabled, so a corpus row sharing the sentinel id is NOT dropped.
    */
  private def singleAsBatch(
      spark: SparkSession,
      meta: Meta,
      queryVec: Array[Double],
      excludeId: Option[Long]): (DataFrame, Boolean) = {
    import spark.implicits._
    require(queryVec.length == meta.dims,
      s"query vector has ${queryVec.length} dims, index expects ${meta.dims}")
    val qid = excludeId.getOrElse(0L)
    (Seq((qid, queryVec)).toDF(meta.idCol, meta.vecCol), excludeId.isDefined)
  }

  /** Incremental maintenance: assign NEW vectors to the existing coarse
    * codebook and append them to the cell-partitioned layout — no
    * retrain, no rewrite of existing files. This is how a 100 TB index
    * absorbs a daily embedding batch: the codebook is fixed at build
    * time, assignment is one broadcast-join pass over the new rows
    * (exactly [[SimilarityOps.kmeansFit]]'s decimal-exact euclidean
    * assignment, shared code — an appended vector lands in the cell a
    * full rebuild against the same codebook would choose), and
    * `mode("append")` adds files only under the touched cell
    * directories. With a PQ layout the new rows are encoded against the
    * PERSISTED subspace codebooks ([[SimilarityOps.pqEncode]], the
    * oracle-verified path) — residuals first when the meta says so —
    * so ADC serving sees them immediately. The incoming frame must
    * carry the id/vector columns the index was built with (meta-read,
    * not caller-claimed).
    *
    * Ids are the caller's contract: append assumes the new ids are not
    * already in the index (the reference-pipeline upsert semantics —
    * point-delete then re-add — compose from a partition rewrite, see
    * IncrementalRunner.upsertByKey; an ANN index typically versions
    * instead). Cell drift is the known cost of append-only IVF: as the
    * corpus grows away from the frozen codebook, cells skew — rebuild
    * cadence is an operational knob, and [[write]] is the rebuild.
    * (SQ8 codes of appended rows use the frozen per-dim ranges too: a
    * value outside the original [min, max] encodes outside 0..255 and
    * dequantizes by the same linear inverse — consistent extrapolation,
    * not an error; range drift is another rebuild signal.)
    */
  def append(
      spark: SparkSession,
      path: String,
      embeddings: DataFrame): Unit = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    val idCol = meta.idCol
    val vecCol = meta.vecCol
    // same drifting-schema guard as write()/mergeFrom(): an appended
    // batch carrying a reserved name (or a column set differing from the
    // layout's caller columns) would write parquet files with a different
    // schema into the same directory — served as silent nulls under some
    // read orders. One footer-level schema read per append; cheap even
    // per micro-batch next to the write itself.
    val reservedHit = Seq("cell", "codes", "sq8", "__base")
      .filter(embeddings.columns.contains)
    require(reservedHit.isEmpty,
      s"append: batch carries reserved index column(s) " +
        s"${reservedHit.mkString(", ")} — rename them before append()")
    val layoutReserved =
      Seq("cell") ++ (if (meta.pq.isDefined) Seq("codes") else Nil) ++
        (if (meta.sq8) Seq("sq8") else Nil)
    val layoutCaller = spark.read.parquet(s"$path/vectors")
      .drop(layoutReserved: _*).columns.toSet
    require(embeddings.columns.toSet == layoutCaller,
      s"append: caller column sets differ — index ${layoutCaller.toSeq
        .sorted.mkString("(", ", ", ")")} vs batch ${embeddings.columns
        .sorted.mkString("(", ", ", ")")}")
    // both codebooks ride the driver caches: a streaming ingest appends
    // every trigger interval, and re-reading two parquet artifacts per
    // micro-batch is pure latency (append never mutates either). The
    // whole pass is map-side — cell, residual, and codes are in-row
    // expressions against the literal codebooks, one scan of only the
    // new rows, no joins.
    val centArrs = cachedCodebook(spark, path, stamp).toSeq
    val withCell = SimilarityOps.attachCell(embeddings, vecCol, centArrs, "cell")
    val withPq = meta.pq.fold(withCell) { p =>
      val pqCb = cachedPqCodebook(spark, path, stamp)
      val withBase = withCell.withColumn("__base",
        if (!p.residual) col(vecCol).cast("array<double>")
        else SimilarityOps.residualTo(col(vecCol), col("cell"), centArrs))
      SimilarityOps.attachPqCodes(withBase, col("__base"), pqCb, "codes")
        .drop("__base")
    }
    val rows =
      if (!meta.sq8) withPq
      else withPq.withColumn("sq8", SimilarityOps.sq8EncodeCol(col(vecCol),
        cachedSq8Codebook(spark, path, stamp)))
    // the one partitioned write outside Layouts.writePartitioned: an
    // append adds files (one per task per touched cell, no shuffle) and
    // [[compact]] folds them back to one file per cell
    rows.write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Merge another index's rows into this one — the shard-merge step of
    * the scale build pattern (build per-shard indexes in parallel, then
    * fold the shards into one serving index). The source's RAW vectors
    * (and every caller metadata column) are read back and re-encoded
    * against the DESTINATION's frozen codebooks via [[append]] — the
    * honest cost model: cells, codes, and SQ8 ranges are codebook-
    * relative, so src rows must re-derive all three under dst's
    * codebooks, and that pass is entirely map-side (one scan of src,
    * in-row argmins, zero shuffles). File-level adoption would only be
    * sound for byte-identical codebooks, a coincidence not worth a
    * second code path. The destination's own files are untouched
    * (append semantics); the source index is not modified.
    *
    * Fails fast when the two layouts disagree on the id/vector columns,
    * dims, or the caller metadata column set — an appended parquet
    * directory with drifting schemas would silently serve nulls for the
    * missing columns under some read orders.
    */
  def mergeFrom(spark: SparkSession, dstPath: String, srcPath: String): Unit = {
    // a self-merge passes every compatibility check below and silently
    // doubles every row (append assumes disjoint ids) — fail fast on the
    // filesystem-qualified paths, which catches ./x vs x spellings too
    def qualified(p: String) = {
      val hp = hadoopPath(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(hp).toString
    }
    require(qualified(dstPath) != qualified(srcPath),
      s"mergeFrom: dst and src are the same index ($dstPath) — " +
        s"a self-merge would duplicate every row")
    val dst = readMeta(spark, dstPath)
    val src = readMeta(spark, srcPath)
    require(src.idCol == dst.idCol && src.vecCol == dst.vecCol &&
      src.dims == dst.dims,
      s"mergeFrom: incompatible layouts — dst(id=${dst.idCol}, " +
        s"vec=${dst.vecCol}, dims=${dst.dims}) vs src(id=${src.idCol}, " +
        s"vec=${src.vecCol}, dims=${src.dims})")
    val srcReserved =
      Seq("cell") ++ (if (src.pq.isDefined) Seq("codes") else Nil) ++
        (if (src.sq8) Seq("sq8") else Nil)
    val raw = spark.read.parquet(s"$srcPath/vectors").drop(srcReserved: _*)
    val dstReserved =
      Seq("cell") ++ (if (dst.pq.isDefined) Seq("codes") else Nil) ++
        (if (dst.sq8) Seq("sq8") else Nil)
    val dstCaller = spark.read.parquet(s"$dstPath/vectors")
      .drop(dstReserved: _*).columns.toSet
    require(raw.columns.toSet == dstCaller,
      s"mergeFrom: caller column sets differ — dst ${dstCaller.toSeq.sorted
        .mkString("(", ", ", ")")} vs src ${raw.columns.sorted
        .mkString("(", ", ", ")")}")
    append(spark, dstPath, raw)
  }

  /** Point delete from the layout: remove the given ids (a frame carrying
    * the index's id column) by rewriting ONLY the cell partitions that
    * contain them — the reference pipeline's partition-scoped delete
    * discipline (IncrementalRunner.upsertByDay) applied to the index.
    * The id scan that finds affected cells is column-pruned (ids and
    * cells, never vectors); survivors are read from the affected
    * partitions alone and written back with dynamic partition overwrite,
    * so the rewrite cost is O(affected cells), not O(index). The delete
    * batch must be broadcastable — the practical contract for point
    * deletes (bulk removals are a rebuild). localCheckpoint breaks the
    * read-then-overwrite cycle exactly as upsertByKey documents.
    *
    * Dynamic overwrite only replaces partitions PRESENT in the written
    * data, so a cell whose members are all deleted would silently keep
    * its old files — emptied cells are removed explicitly (and [[stats]]
    * then no longer lists them; a probe of that cell scans nothing).
    * A delete that would empty the ENTIRE index fails fast instead of
    * leaving a schema-less layout every later read trips over (ADVICE
    * r9) — drop the index directory or rebuild via [[write]] instead.
    */
  def delete(
      spark: SparkSession,
      path: String,
      ids: DataFrame): Unit = {
    import spark.implicits._
    val meta = readMeta(spark, path)  // one stat; delete touches no cache
    val idCol = meta.idCol
    val src = s"$path/vectors"
    val vectors = spark.read.parquet(src)
    val affected = vectors.select(col(idCol), col("cell"))
      .join(broadcast(ids.select(col(idCol))), Seq(idCol))
      .select(col("cell")).distinct().as[Int].collect().toSeq
    if (affected.nonEmpty) {
      val survivors = vectors
        .filter(col("cell").isin(affected: _*))
        .join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti")
        .localCheckpoint()
      try {
        val alive = survivors.select(col("cell")).distinct()
          .as[Int].collect().toSet
        if (alive.isEmpty) {
          // only now (the rare terminal branch) is the full cell listing
          // needed — the common O(affected cells) path never scans it
          val allCells = vectors.select(col("cell")).distinct()
            .as[Int].collect().toSet
          if (affected.toSet == allCells)
            throw new IllegalStateException(
              s"delete would remove every row of the index at $path; a " +
                "schema-less layout cannot be read back — rebuild with " +
                "IvfIndex.write or drop the index directory instead")
        }
        if (alive.nonEmpty)
          Layouts.writePartitioned(survivors, src, Seq("cell"),
            dynamic = true)
        val fs = fsFor(spark, src)
        affected.filterNot(alive).foreach { cell =>
          fs.delete(hadoopPath(s"$src/cell=$cell"), true)
        }
      } finally org.apache.spark.sql.graftbridge.CheckpointBridge
        .release(survivors)
    }
  }

  /** Operational observability for the layout: per-cell row and file
    * counts — (cell, rows, files), one row per cell. This is what
    * decides the two maintenance actions: many small files per cell
    * (the accumulation [[append]] causes) -> [[compact]]; row-count
    * skew across cells (the drift of a frozen codebook away from a
    * growing corpus) -> rebuild via [[write]]. One aggregation job over
    * ids and file metadata only (column-pruned — vectors never load).
    */
  def stats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/vectors")
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("rows"),
        countDistinct(col("_metadata.file_path")).as("files"))
      .orderBy(col("cell"))

  /** Rewrite the vector layout as one file per cell, contents unchanged
    * — the small-file repair for an index that has absorbed many
    * [[append]] batches (each append adds >= 1 file per touched cell;
    * thousands of appends make the probe-side scan open thousands of
    * tiny files). [[Layouts.writePartitioned]] moves every cell's rows
    * into a single task before partitionBy splits directories, so each
    * cell directory lands exactly one file.
    *
    * Swap discipline (ADVICE r9): rename-aside, not delete-then-rename —
    * `vectors` -> `vectors_old`, `vectors_compacting` -> `vectors`, then
    * delete `vectors_old`. Hadoop FileSystem signals most failures by
    * RETURNING FALSE rather than throwing, so every step is checked and
    * a false throws: a failed swap can no longer silently leave the
    * index path empty while the data sits stranded in a sibling, and a
    * crash mid-swap leaves the old data recoverable under one of the
    * sibling names. Readers racing the swap see old or new complete
    * layouts on a filesystem with atomic rename, never a mix; the
    * brief no-`vectors` window between the two renames is the
    * vanilla-parquet limitation, closed by a transactional table format.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val src = s"$path/vectors"
    val tmp = s"$path/vectors_compacting"
    val old = s"$path/vectors_old"
    recoverSwap(spark, src, tmp, old)
    Layouts.writePartitioned(spark.read.parquet(src), tmp, Seq("cell"))
    val fs = fsFor(spark, path)
    def must(ok: Boolean, step: String): Unit =
      if (!ok) throw new IllegalStateException(
        s"compact($path): $step failed — layout left under " +
          s"$src/$tmp/$old, no data deleted")
    // a leftover vectors_old from a crashed previous compact blocks the
    // rename; it is a fully-superseded copy, safe to clear
    if (fs.exists(hadoopPath(old))) must(fs.delete(hadoopPath(old), true),
      s"clearing stale $old")
    must(fs.rename(hadoopPath(src), hadoopPath(old)), s"rename $src -> $old")
    must(fs.rename(hadoopPath(tmp), hadoopPath(src)), s"rename $tmp -> $src")
    must(fs.delete(hadoopPath(old), true), s"delete $old")
    invalidateCache(path)
  }

  /** Roll a crashed [[compact]] swap forward or back so a re-run (or any
    * read) finds `vectors` in place (ADVICE r10: a crash BETWEEN the two
    * renames left no `vectors` directory and the next compact failed at
    * the read). The swap only starts after the compacted copy is fully
    * written, so when `vectors` is missing: a present `vectors_compacting`
    * is a COMPLETE superseding copy — roll forward (finish the second
    * rename); otherwise a present `vectors_old` is the complete
    * pre-compact layout — roll back. With `vectors` in place there is
    * nothing to recover (a stale sibling from a crash before the first
    * rename is a partial write; [[compact]] clears/overwrites it).
    */
  private def recoverSwap(
      spark: SparkSession, src: String, tmp: String, old: String): Unit = {
    val fs = fsFor(spark, src)
    if (!fs.exists(hadoopPath(src))) {
      def must(ok: Boolean, step: String): Unit =
        if (!ok) throw new IllegalStateException(
          s"compact swap recovery: $step failed — layout left under " +
            s"$src/$tmp/$old, no data deleted")
      if (fs.exists(hadoopPath(tmp))) {
        must(fs.rename(hadoopPath(tmp), hadoopPath(src)),
          s"roll-forward rename $tmp -> $src")
        if (fs.exists(hadoopPath(old)))
          must(fs.delete(hadoopPath(old), true),
            s"roll-forward delete $old")
      } else if (fs.exists(hadoopPath(old))) {
        must(fs.rename(hadoopPath(old), hadoopPath(src)),
          s"roll-back rename $old -> $src")
      }
    }
  }

  /** Batched serving query: one top-k PER QUERY ROW against the
    * persisted index — the production shape, where queries arrive in
    * batches and the corpus is scanned once for all of them (a
    * per-query loop re-opens the index per vector; measured parity with
    * that loop is pinned in IvfIndexSpec). The query frame carries the
    * index's id/vector columns (meta-read).
    *
    * Plan shape: the coarse codebook broadcasts and every query row
    * ranks its `nprobe` cells IN the plan (a per-query window over
    * kCells rows — tiny); the union of probed cells (<= kCells values,
    * metadata) becomes the isin() partition filter, so the vector scan
    * is still pruned to cells some query actually probes; the probe set
    * broadcasts into an equi-join on the cell id; and the per-query
    * rank filter compiles to WindowGroupLimit, so map partitions ship
    * at most k rows per query to the shuffle (the [[SimilarityOps
    * .topKPerQuery]] discipline). The query batch must be broadcastable
    * — [[queryBatchChunked]] loops broadcastable slices beyond that;
    * each chunk still scans only its own probed cells.
    *
    * The in-plan probe uses the same [[SimilarityOps.cosine]] fold the
    * driver-side [[probeCells]] mirrors bit-for-bit, so a batch of one
    * probes exactly the cells the single-query path probes. Output:
    * (qid, idCol, cell, sim, rank), rank 1..k per qid. Rows whose id
    * equals the query id are excluded (shared id space, as in
    * topKPerQuery). `where` filters the indexed rows by any metadata
    * column before ranking (filtered vector search — see [[query]] for
    * the probe-is-metadata-blind caveat).
    */
  def queryBatch(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      where: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    val idCol = meta.idCol
    val probed = probeBatch(spark, path, meta, stamp, queries, nprobe)
    // union of probed cells: <= kCells ints — metadata, like a broadcast
    // threshold decision; keeps partition pruning for selective batches
    val cells = probed.select(col("cell")).distinct().as[Int].collect().toSeq
    val vectors = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(cells: _*))
    // metadata predicate BEFORE the column prune so it may reference any
    // indexed column; it reaches the scan as a PushedFilter either way
    where.fold(vectors)(vectors.filter)
      .select(col(idCol), col("cell"), col(meta.vecCol))
      .join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("__qid"))
      .select(col("__qid").as("qid"), col(idCol), col("cell"),
        SimilarityOps.cosine(col(meta.vecCol), col("__qvec")).as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** [[queryBatch]] for query batches too large to broadcast: slices the
    * batch into chunks of AT MOST `maxBatch` rows and unions the
    * per-chunk results. Each chunk probes and prunes its OWN cells — a
    * chunk of geometrically-close queries still scans only its cells,
    * not the union over the whole batch — and the broadcasts inside
    * each [[queryBatch]] call stay bounded by `maxBatch`.
    *
    * Chunk assignment is two-level and deterministic WITHOUT a global
    * sort (a batch too big to broadcast is too big to row_number
    * through one partition): a hash pre-chunk spreads rows over
    * ~batch/maxBatch hash groups map-side, then a PARTITIONED window
    * inside each group enforces the strict maxBatch bound. One
    * localCheckpoint materializes the assignment so per-chunk filters
    * re-read it instead of recomputing the query frame; the chunk-id
    * collect and the count are metadata-scale. Chunk membership does
    * not affect results — any disjoint cover unions to the same top-k
    * set (parity pinned in IvfIndexSpec).
    *
    * The returned frame is `localCheckpoint()`ed (result-scale: at most
    * k rows per query — the per-chunk inputs it was computed from are
    * already released). A caller serving MANY chunked batches from one
    * JVM should release each result once consumed via
    * [[org.apache.spark.sql.graftbridge.CheckpointBridge.release]] —
    * a plain `unpersist()` does not free checkpoint blocks.
    */
  def queryBatchChunked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      maxBatch: Int,
      where: Option[Column] = None): DataFrame =
    chunkedOver(spark, path, queries, maxBatch,
      chunk => queryBatch(spark, path, chunk, nprobe, k, where))

  /** Shared chunking harness for the batch serving paths. The query
    * frame's upstream plan evaluates ONCE (checkpointed before the
    * count, so counting reads materialized blocks), the chunk-
    * assignment window evaluates ONCE (the assigned frame is itself
    * checkpointed — per-chunk filters re-read its blocks instead of
    * re-running the full-batch window shuffle per chunk, and
    * row_number ties can never re-resolve differently between chunks),
    * and every batch-scale checkpoint is released eagerly through
    * [[org.apache.spark.sql.graftbridge.CheckpointBridge]] (a plain
    * Dataset.unpersist does NOT free checkpoint blocks — they are
    * RDD-level storage, not CacheManager entries). Only the small
    * (k-rows-per-query) result checkpoint rides until the caller
    * releases it (documented on the public entry points).
    *
    * The query frame is narrowed to exactly (idCol, vecCol) — all the
    * batch paths read — BEFORE chunking: the internal working columns
    * (__h, __sub here; __qid.. in probeBatch) can then never collide
    * with a same-named caller column and silently chunk corrupted data
    * (ADVICE r10), and the checkpoint stores no dead columns. A frame
    * missing the index's columns fails the select with the column name
    * in the error.
    */
  private def chunkedOver(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      maxBatch: Int,
      run: DataFrame => DataFrame): DataFrame = {
    require(maxBatch > 0, s"maxBatch ($maxBatch) must be positive")
    val bridge = org.apache.spark.sql.graftbridge.CheckpointBridge
    val meta = readMeta(spark, path)  // one stat; chunking reads only meta cols
    val base = queries
      .select(col(meta.idCol), col(meta.vecCol))
      .localCheckpoint()
    try {
      val n = base.count()
      if (n <= maxBatch) run(base).localCheckpoint()
      else {
        val groups = math.ceil(n.toDouble / maxBatch).toInt
        val wSub = Window.partitionBy(col("__h")).orderBy(col(meta.idCol))
        val chunked = base
          .withColumn("__h",
            pmod(xxhash64(col(meta.idCol)), lit(groups)).cast("int"))
          .withColumn("__sub",
            ((row_number().over(wSub) - 1) / maxBatch).cast("int"))
          .localCheckpoint()
        try {
          val ids = chunked.select(col("__h"), col("__sub")).distinct()
            .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
          ids.map { case (h, sub) =>
            run(chunked
              .filter(col("__h") === h && col("__sub") === sub)
              .drop("__h", "__sub"))
          }.reduce(_ unionAll _).localCheckpoint()
        } finally bridge.release(chunked)
      }
    } finally bridge.release(base)
  }

  /** In-plan probe shared by the batch paths: (__qid, __qvec, cell) —
    * each query row's `nprobe` closest cells by the same cosine fold the
    * driver-side [[probeCells]] computes, against the cached codebook as
    * a broadcast local relation (no parquet re-read per call).
    */
  private def probeBatch(
      spark: SparkSession,
      path: String,
      meta: Meta,
      stamp: Long,
      queries: DataFrame,
      nprobe: Int): DataFrame = {
    val cbVec = broadcast(centroidDf(spark, path, stamp)
      .withColumnRenamed("__centroid", "centroid"))
    val wProbe = Window.partitionBy(col("__qid"))
      .orderBy(col("__csim").desc, col("cell").asc)
    queries
      .select(col(meta.idCol).as("__qid"), col(meta.vecCol).as("__qvec"))
      .join(cbVec)
      .withColumn("__csim", SimilarityOps.cosine(col("__qvec"), col("centroid")))
      .withColumn("__crank", row_number().over(wProbe))
      .filter(col("__crank") <= nprobe)
      .select(col("__qid"), col("__qvec"), col("cell"))
  }

  /** The batched ADC first pass: (__qid, idCol, cell, ad2), at most
    * `refine` rows per query (WindowGroupLimit — map partitions ship
    * <= refine rows per query). The code scan over the union of probed
    * cells runs ONCE for the whole batch, partition-pruned and
    * column-pruned to the codes.
    *
    * ADC tables build in ONE plan with the same per-term 12-dp round +
    * decimal accumulation as [[SimilarityOps.pqAdcTable]], keyed by
    * __qid — and, for a residual layout, by (__qid, cell): the query's
    * residual against cell c is q - centroid_c, so each probed cell
    * gets its own table (nprobe x numSub x kCodes rows per query,
    * still metadata) and each candidate's codes meet the table of the
    * candidate's OWN cell — canonical IVFADC.
    */
  private def adcCandidateBatch(
      spark: SparkSession,
      path: String,
      meta: Meta,
      stamp: Long,
      queries: DataFrame,
      excludeSelf: Boolean,
      nprobe: Int,
      refine: Int,
      where: Option[Column]): DataFrame = {
    import spark.implicits._
    val probed = probeBatch(spark, path, meta, stamp, queries, nprobe)
    val cells = probed.select(col("cell")).distinct().as[Int].collect().toSeq
    adcCandidateBatchFrom(spark, path, meta, stamp, probed, cells, excludeSelf,
      refine, where)
  }

  private def adcCandidateBatchFrom(
      spark: SparkSession,
      path: String,
      meta: Meta,
      stamp: Long,
      probed: DataFrame,
      cells: Seq[Int],
      excludeSelf: Boolean,
      refine: Int,
      where: Option[Column]): DataFrame = {
    val idCol = meta.idCol
    val pq = meta.pq.getOrElse(throw new IllegalArgumentException(
      s"index at $path has no PQ layout — ADC serving needs " +
        "write(..., pq = Some(...))"))
    val dsubLen = meta.dims / pq.numSub
    import spark.implicits._
    val pqCb = cachedPqCodebook(spark, path, stamp)
      .toDF("sub", "code", "dsub", "c")

    // the query side of the table: residual layouts subtract the probed
    // cell's centroid first (per-(qid, cell) tables); raw layouts share
    // one table per qid across its probed cells
    val tableKey: Seq[String] =
      if (pq.residual) Seq("__qid", "cell") else Seq("__qid")
    val qDims =
      if (pq.residual)
        probed.join(broadcast(centroidDf(spark, path, stamp)), Seq("cell"))
          .select(col("__qid"), col("cell"),
            posexplode(zip_with(col("__qvec").cast("array<double>"),
              col("__centroid"), (a, b) => a - b)).as(Seq("dim", "v0")))
      else
        probed.select(col("__qid"), col("__qvec")).distinct()
          .select(col("__qid"),
            posexplode(col("__qvec")).as(Seq("dim", "v0")))
    val tables = qDims
      .select((tableKey.map(col) :+
        (col("dim") / dsubLen).cast("int").as("sub") :+
        (col("dim") % dsubLen).cast("int").as("dsub") :+
        col("v0").cast("double").as("v")): _*)
      .join(broadcast(pqCb), Seq("sub", "dsub"))
      .select((tableKey.map(col) :+ col("sub") :+ col("code") :+
        round((col("v") - col("c")) * (col("v") - col("c")), 12)
          .cast("decimal(38,12)").as("dd")): _*)
      .groupBy((tableKey ++ Seq("sub", "code")).map(col): _*)
      .agg(sum(col("dd")).as("d2q"))

    val wAdc = Window.partitionBy(col("__qid"))
      .orderBy(col("ad2").asc, col(idCol).asc)
    // the metadata predicate (filtered vector search on the COMPRESSED
    // path) applies BEFORE the column prune so it may reference any
    // indexed column; it reaches the pruned scan as a PushedFilter. The
    // scan then reads codes + the predicate columns — still never the
    // vectors. Probe stays metadata-blind (see [[query]]'s caveat).
    val scan = spark.read.parquet(s"$path/vectors")
    val codes = where.fold(scan)(scan.filter)
      .select(col(idCol), col("cell"), col("codes"))
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probed.select(col("__qid"), col("cell"))), Seq("cell"))
    val candidates = (if (excludeSelf) codes.filter(col(idCol) =!= col("__qid"))
      else codes)
      .select(col("__qid"), col(idCol), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(tables), tableKey ++ Seq("sub", "code"))
      .groupBy(col("__qid"), col(idCol), col("cell"))
      .agg(sum(col("d2q")).as("__ad2"))
      .select(col("__qid"), col(idCol), col("cell"),
        round(col("__ad2").cast("double"), 6).as("ad2"))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= refine)
    candidates.select(col("__qid"), col(idCol), col("cell"), col("ad2"))
  }

  /** Batched IVF x PQ serving: [[queryAdc]] for a query batch, fully
    * in-plan — no driver round-trip between the ADC pass and the exact
    * re-rank. Shape: the codes of the union of probed cells are scanned
    * ONCE for the whole batch; each query ranks its candidates by ADC
    * through a per-query WindowGroupLimit (map partitions ship <=
    * refine rows per query); the surviving (qid, id) pairs then
    * equi-join the full vectors BY ID for the exact cosine re-rank —
    * at corpus scale a k-proportional shuffle, never a second corpus
    * scan. ADC arithmetic is the shared [[SimilarityOps.pqAdcTable]]
    * discipline; residual layouts get per-(query, cell) tables (see
    * [[adcCandidateBatch]]).
    *
    * Output matches [[queryBatch]]: (qid, idCol, cell, sim, rank),
    * rank 1..k per qid by exact cosine among each query's `refine`
    * best ADC candidates.
    */
  def queryAdcBatch(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      refine: Int,
      where: Option[Column] = None): DataFrame = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    adcBatchImpl(spark, path, meta, stamp, queries, excludeSelf = true,
      nprobe, k, refine, where)
  }

  /** [[queryAdcBatch]] for query batches too large to broadcast — the
    * ADC twin of [[queryBatchChunked]]: same two-level deterministic
    * chunking, each slice running the full in-plan ADC + exact re-rank
    * over its OWN probed cells, results unioned. The result is
    * checkpointed — release it once consumed via
    * [[org.apache.spark.sql.graftbridge.CheckpointBridge.release]]
    * (see [[queryBatchChunked]]).
    */
  def queryAdcBatchChunked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      refine: Int,
      maxBatch: Int,
      where: Option[Column] = None): DataFrame =
    chunkedOver(spark, path, queries, maxBatch,
      chunk => queryAdcBatch(spark, path, chunk, nprobe, k, refine, where))

  private def adcBatchImpl(
      spark: SparkSession,
      path: String,
      meta: Meta,
      stamp: Long,
      queries: DataFrame,
      excludeSelf: Boolean,
      nprobe: Int,
      k: Int,
      refine: Int,
      where: Option[Column] = None): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    import spark.implicits._
    val idCol = meta.idCol
    val probed = probeBatch(spark, path, meta, stamp, queries, nprobe)
    val cells = probed.select(col("cell")).distinct().as[Int].collect().toSeq
    val candidates = adcCandidateBatchFrom(
      spark, path, meta, stamp, probed, cells, excludeSelf, refine, where)
      .select(col("__qid"), col(idCol), col("cell"))
    exactReRank(spark, path, meta, queries, candidates, cells, k)
  }

  /** Shared exact re-rank tail of the compressed serving paths: the
    * surviving (qid, id) candidates equi-join the full vectors BY ID,
    * with the scan partition-pruned to the probed cells (candidates
    * cannot come from anywhere else) — the full-vector read touches
    * nprobe-scale data and only k-proportional rows reach the final
    * window. Output: (qid, idCol, cell, sim, rank), rank 1..k per qid
    * by exact cosine.
    */
  private def exactReRank(
      spark: SparkSession,
      path: String,
      meta: Meta,
      queries: DataFrame,
      candidates: DataFrame,
      cells: Seq[Int],
      k: Int): DataFrame = {
    val idCol = meta.idCol
    val qv = broadcast(queries
      .select(col(idCol).as("__qid"), col(meta.vecCol).as("__qvec")))
    candidates
      .join(spark.read.parquet(s"$path/vectors")
        .filter(col("cell").isin(cells: _*))
        .select(col(idCol), col(meta.vecCol)), Seq(idCol))
      .join(qv, Seq("__qid"))
      .select(col("__qid").as("qid"), col(idCol), col("cell"),
        SimilarityOps.cosine(col(meta.vecCol), col("__qvec")).as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** IVF x SQ8 serving for ONE query vector — [[querySq8Batch]] with a
    * 1-row batch (shared plan, no driver round-trips), output matching
    * [[query]]/[[queryAdc]]: (idCol, cell, sim, rank).
    */
  def querySq8(
      spark: SparkSession,
      path: String,
      queryVec: Array[Double],
      excludeId: Option[Long],
      nprobe: Int,
      k: Int,
      refine: Int,
      where: Option[Column] = None): DataFrame = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    val (queries, excludeSelf) = singleAsBatch(spark, meta, queryVec, excludeId)
    sq8BatchImpl(spark, path, meta, stamp, queries, excludeSelf, nprobe, k,
      refine, where)
      .drop("qid")
  }

  /** Batched IVF x SQ8 serving: the probed cells' SQ8 codes (4x smaller
    * than the vectors, column-pruned — the vector column is unread in
    * the first pass) rank every candidate by the cosine of its
    * DEQUANTIZED reconstruction, each query's `refine` best survive
    * (per-query WindowGroupLimit), and the exact cosine re-rank of the
    * survivors' full vectors is k-scale — [[queryAdcBatch]]'s shape
    * with the ADC tables replaced by in-row dequantization. SQ8 sits
    * between the raw and PQ serving modes: ~4x less candidate-scan IO
    * than raw at near-exact fidelity (PQ compresses harder, ranks
    * coarser). At full probe and refine >= candidates the result equals
    * [[queryBatch]] exactly (pinned in IvfIndexSpec). `where` is
    * filtered vector search on the compressed path, same contract as
    * [[queryAdcBatch]].
    */
  def querySq8Batch(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      refine: Int,
      where: Option[Column] = None): DataFrame = {
    val stamp = metaStamp(spark, path)
    val meta = metaAt(spark, path, stamp)
    sq8BatchImpl(spark, path, meta, stamp, queries, excludeSelf = true,
      nprobe, k, refine, where)
  }

  private def sq8BatchImpl(
      spark: SparkSession,
      path: String,
      meta: Meta,
      stamp: Long,
      queries: DataFrame,
      excludeSelf: Boolean,
      nprobe: Int,
      k: Int,
      refine: Int,
      where: Option[Column]): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    require(meta.sq8,
      s"index at $path has no SQ8 codes — build with write(..., sq8 = true)")
    import spark.implicits._
    val idCol = meta.idCol
    val probed = probeBatch(spark, path, meta, stamp, queries, nprobe)
    val cells = probed.select(col("cell")).distinct().as[Int].collect().toSeq
    val mm = cachedSq8Codebook(spark, path, stamp)
    // metadata predicate BEFORE the column prune so it may reference any
    // indexed column; it reaches the pruned scan as a PushedFilter
    val scan = spark.read.parquet(s"$path/vectors")
    val codes = where.fold(scan)(scan.filter)
      .select(col(idCol), col("cell"), col("sq8"))
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probed), Seq("cell"))
    val wApprox = Window.partitionBy(col("__qid"))
      .orderBy(col("__asim").desc, col(idCol).asc)
    val candidates = (if (excludeSelf) codes.filter(col(idCol) =!= col("__qid"))
      else codes)
      .select(col("__qid"), col(idCol), col("cell"),
        SimilarityOps.cosine(
          SimilarityOps.sq8DequantCol(col("sq8"), mm), col("__qvec"))
          .as("__asim"))
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= refine)
      .select(col("__qid"), col(idCol), col("cell"))
    exactReRank(spark, path, meta, queries, candidates, cells, k)
  }

  /** The `nprobe` closest cells to the query by cosine against the
    * cached coarse codebook (ties -> lowest cell id), computed on the
    * driver: kCells x dims doubles of metadata.
    */
  private def probeCells(
      spark: SparkSession,
      path: String,
      queryVec: Array[Double],
      nprobe: Int,
      stamp: Long): Seq[Int] = {
    val codebook = cachedCodebook(spark, path, stamp)
    // driver-side strict left folds — identical order to the DotFold
    // expression, so cell choice matches the distributed formulation
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // NaN/Infinity pass through exactly as Spark's round() does (a
    // zero-norm vector yields NaN; BigDecimal would throw), and the
    // probe sort uses Double.compare so NaN orders LARGEST — matching
    // the distributed formulation's `csim DESC` (Spark sorts NaN above
    // every double), not Scala's default tuple sort.
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val r = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      if (r.isNaN || r.isInfinite) r
      else BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    codebook.toSeq
      .map { case (cell, c) => (cell, cosine(queryVec, c)) }
      .sortWith { case ((c1, s1), (c2, s2)) =>
        val cmp = java.lang.Double.compare(s1, s2)
        if (cmp != 0) cmp > 0 else c1 < c2
      }
      .take(nprobe).map(_._1)
  }
}
