package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval (Okapi BM25) and rank fusion — the keyword half of a
  * hybrid search stack, pairing with [[SimilarityOps]]' vector half.
  *
  * Scale shape:
  *   - the ad-hoc scorer ([[bm25TopK]]) filters the exploded token stream
  *     to the query terms BEFORE any shuffle (an `isin` over a handful of
  *     literals, evaluated map-side inside codegen), so the only
  *     corpus-scale shuffle carries rows that actually mention a query
  *     term; corpus statistics (N, avgdl) and per-term document
  *     frequencies are tiny aggregates broadcast back in;
  *   - the serving path ([[bm25IndexWrite]]/[[bm25QueryIndex]]) persists
  *     postings partitioned by a term-hash bucket, so a query reads only
  *     its terms' buckets (partition pruning, the same trick
  *     [[IvfIndex]] plays with cells) — index once, serve many;
  *   - per-(doc, term) contributions are deterministic scalar doubles,
  *     rounded to 9 dp and summed as decimal(38,9), so scores are
  *     order-independent and engine-portable (the codebase's standard
  *     cross-engine float discipline);
  *   - the k-cut is `orderBy(score, id).limit(k)` — TakeOrderedAndProject
  *     (per-partition k-heap + driver merge), no global sort.
  *
  * Defaults k1 = 1.5, b = 0.75 are inside the standard Okapi ranges AND
  * exactly representable in binary, so `k1 + 1` and `1 - b` are
  * literal-identical across engines (no 1-ulp drift in the oracle).
  */
object SearchOps {

  private val internals = Seq(
    "__toks", "__dl", "__term", "__tf", "__df", "__n", "__avgdl",
    "__contrib", "__s", "__r")

  private def guardReserved(df: DataFrame, op: String): Unit = {
    val hit = internals.filter(df.columns.contains)
    require(hit.isEmpty,
      s"$op reserves column(s) ${hit.mkString(", ")} — rename them on " +
        "the input")
  }

  /** Okapi BM25 top-k over a document table, ad hoc (no index): one pass
    * tokenizes and length-counts, the query-term filter runs map-side on
    * the exploded stream, and scoring joins two broadcast-tiny frames
    * (per-term df, 1-row corpus stats) back onto the per-(doc, term)
    * counts. Terms absent from the corpus contribute nothing. Output:
    * (idCol, bm25 double rounded 6 dp, rank 1-based).
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.5,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: empty term list")
    require(terms.distinct.size == terms.size,
      "bm25TopK: duplicate query terms would double-count — deduplicate")
    guardReserved(docs, "bm25TopK")
    val stats = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl"), col("__toks"))
    // exact integer sum / count → deterministic double division on any
    // engine (never a streaming float mean)
    val corpus = broadcast(stats.agg(
      count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl")))
    val tf = stats
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__term"))
      .filter(col("__term").isin(terms: _*))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))
    val dfByTerm = broadcast(
      tf.groupBy(col("__term")).agg(count(lit(1)).as("__df")))
    scoreAndCut(
      tf.join(dfByTerm, "__term").crossJoin(corpus), idCol, k, k1, b)
  }

  /** Shared BM25 scoring tail over a frame carrying (idCol, __term, __tf,
    * __dl, __df, __n, __avgdl). Lucene-style idf (always positive):
    * ln((N − df + 0.5) / (df + 0.5) + 1).
    */
  private def scoreAndCut(
      joined: DataFrame,
      idCol: String,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val idf = log(
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) +
        lit(1.0))
    val denom = col("__tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl") / col("__avgdl")))
    joined
      .withColumn("__contrib",
        idf * (col("__tf") * lit(k1 + 1.0)) / denom)
      .groupBy(col(idCol))
      .agg(sum(round(col("__contrib"), 9).cast("decimal(38,9)")).as("__s"))
      .orderBy(col("__s").desc, col(idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__s").desc, col(idCol))))
      .select(col(idCol), round(col("__s").cast("double"), 6).as("bm25"),
        col("rank"))
  }

  /** Persist a BM25 postings index: `<path>/postings` = (term, <idCol>,
    * dl, tf) partitioned by `bkt = pmod(xxhash64(term), numBuckets)`, and
    * `<path>/stats` = one row (n, sum_dl, num_buckets, id_col). A query
    * reads only its terms' bucket partitions; per-term df is re-derived
    * from the pruned read (exact — every posting of a term lives in that
    * term's bucket), so no df artifact can go stale. One corpus shuffle
    * to build (groupBy (term, doc)); the write clusters on bkt, so each
    * partition directory is one file instead of one per task.
    */
  def bm25IndexWrite(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numBuckets: Int = 64): Unit = {
    require(numBuckets > 0, "bm25IndexWrite: numBuckets must be positive")
    guardReserved(docs, "bm25IndexWrite")
    require(!docs.columns.exists(Seq("term", "dl", "tf", "bkt").contains),
      "bm25IndexWrite: input carries a reserved layout column " +
        "(term/dl/tf/bkt) — rename it")
    val stats = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl"), col("__toks"))
    stats
      .agg(count(lit(1)).as("n"), sum(col("__dl")).as("sum_dl"),
        lit(numBuckets).as("num_buckets"), lit(idCol).as("id_col"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    val postings = stats
      .select(col(idCol), col("__dl").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bkt",
        pmod(xxhash64(col("term")), lit(numBuckets.toLong)).cast("int"))
    Layouts.writePartitioned(postings, s"$path/postings", Seq("bkt"))
  }

  /** Serve a BM25 query from a persisted postings index. The scan carries
    * the query terms' buckets as partition filters (pruned before IO) and
    * the term `isin` as a pushed data filter; everything downstream is
    * candidate-scale. Numerically identical to [[bm25TopK]] over the same
    * corpus (same statistics construction, same decimal sum).
    */
  def bm25QueryIndex(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.5,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25QueryIndex: empty term list")
    require(terms.distinct.size == terms.size,
      "bm25QueryIndex: duplicate query terms would double-count — " +
        "deduplicate")
    val st = spark.read.parquet(s"$path/stats").collect()(0)
    val n = st.getAs[Long]("n")
    val sumDl = st.getAs[Long]("sum_dl")
    val numBuckets = st.getAs[Int]("num_buckets")
    val idCol = st.getAs[String]("id_col")
    // bucket ids for the query terms: one LocalRelation-sized job (the
    // same xxhash64 the writer used — never re-implemented driver-side)
    import spark.implicits._
    val buckets = terms.toDS()
      .select(pmod(xxhash64(col("value")), lit(numBuckets.toLong))
        .cast("int"))
      .as[Int].collect().toSeq.distinct
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("bkt").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfByTerm = broadcast(
      post.groupBy(col("term")).agg(count(lit(1)).as("__df")))
    scoreAndCut(
      post.join(dfByTerm, "term")
        .withColumnRenamed("tf", "__tf").withColumnRenamed("dl", "__dl")
        .withColumn("__n", lit(n))
        .withColumn("__avgdl", lit(sumDl.toDouble) / lit(n.toDouble)),
      idCol, k, k1, b)
  }

  /** Reciprocal-rank fusion over any number of rankings (each a frame of
    * (idCol, rankCol), rank 1-based): score(id) = Σ_lists 1 / (c + rank),
    * the standard hybrid-search combiner — scale-free, so a BM25 ranking
    * and a cosine ranking fuse without score calibration. Per-list
    * contributions are deterministic doubles rounded to 9 dp and summed
    * as decimal, so fused scores are order-independent. Output: (idCol,
    * rrf double rounded 6 dp, n_lists, rank). Candidate sets are
    * top-k-sized, so every stage downstream of the inputs is trivial.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      k: Int,
      c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    require(c >= 0, "rrfFuse: negative rank constant")
    val unioned = rankings
      .map(_.select(col(idCol), col(rankCol).cast("long").as("__r")))
      .reduce(_ unionByName _)
    unioned
      .withColumn("__contrib", lit(1.0) / (lit(c.toDouble) + col("__r")))
      .groupBy(col(idCol))
      .agg(sum(round(col("__contrib"), 9).cast("decimal(38,9)")).as("__s"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("__s").desc, col(idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__s").desc, col(idCol))))
      .select(col(idCol), round(col("__s").cast("double"), 6).as("rrf"),
        col("n_lists"), col("rank"))
  }

  /** Ranking-quality evaluation — per-query MRR and nDCG@k of a SYSTEM
    * ranking against GRADED relevance truth: the retrieval-eval loop
    * that turns "the index serves something" into a quality number the
    * way the measured-recall family (v25/v26/v29–v32) does for
    * candidate completeness; nDCG adds what recall cannot see — rank
    * ORDER quality under graded relevance.
    *
    * Definitions (standard burst-gain form): dcg = Σ over system ranks
    * i ≤ k of (2^rel − 1)/log2(i+1); idcg = the same sum over truth's
    * top-k by (rel desc, id asc); mrr = 1/rank of the first relevant
    * system hit (0 if none); ndcg = dcg/idcg. Queries with NO
    * positive-relevance truth rows are dropped (ndcg undefined).
    *
    * Numeric discipline: each gain term rounds to 9 dp and sums as
    * decimal (order-independent; the two engines' log2 may differ in
    * the last ulp — 9-dp rounding absorbs it, and gains are irrational
    * so never near a rounding midpoint); mrr and ndcg are one double
    * division each. Scale shape: system and truth join on (qid, id),
    * then two partial-aggregable groupBy(qid) passes and one
    * row_number window over ≤ truth-size rows — nothing corpus-sized;
    * eval sets are bounded by construction.
    */
  def rankEval(
      system: DataFrame,
      truth: DataFrame,
      qidCol: String,
      idCol: String,
      rankCol: String,
      relCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"rankEval: k must be >= 1, got $k")
    val sys = system.select(col(qidCol).as("__qid"), col(idCol).as("__id"),
        col(rankCol).cast("int").as("__rank"))
      .filter(col("__rank") <= k)
    val tr = truth.select(col(qidCol).as("__qid"), col(idCol).as("__id"),
      col(relCol).cast("int").as("__rel"))
    def gainOf(rel: Column, pos: Column) =
      round((pow(lit(2.0), rel.cast("double")) - lit(1.0)) /
        log2(pos.cast("double") + lit(1.0)), 9).cast("decimal(38,9)")
    val perSys = sys.join(tr, Seq("__qid", "__id"), "left")
      .withColumn("__relv", coalesce(col("__rel"), lit(0)))
      .groupBy(col("__qid"))
      .agg(
        sum(gainOf(col("__relv"), col("__rank"))).as("__dcg"),
        min(when(col("__relv") > 0, col("__rank"))).as("__first"))
    val pos = tr.filter(col("__rel") > 0)
    val nRel = pos.groupBy(col("__qid")).agg(count(lit(1)).as("n_rel"))
    val wI = Window.partitionBy(col("__qid"))
      .orderBy(col("__rel").desc, col("__id").asc)
    val ideal = pos
      .withColumn("__pos", row_number().over(wI))
      .filter(col("__pos") <= k)
      .groupBy(col("__qid"))
      .agg(sum(gainOf(col("__rel"), col("__pos"))).as("__idcg"))
    nRel.join(ideal, Seq("__qid"))
      .join(perSys, Seq("__qid"), "left")
      .select(col("__qid").as(qidCol), col("n_rel"),
        coalesce(round(lit(1.0) / col("__first").cast("double"), 6),
          lit(0.0)).as("mrr"),
        round(coalesce(col("__dcg").cast("double"), lit(0.0)), 9).as("dcg"),
        round(col("__idcg").cast("double"), 9).as("idcg"),
        round(coalesce(col("__dcg").cast("double"), lit(0.0)) /
          col("__idcg").cast("double"), 6).as("ndcg"))
      .orderBy(col(qidCol))
  }
}
