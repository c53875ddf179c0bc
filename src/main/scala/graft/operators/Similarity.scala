package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Vector similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact; broadcast the query set,
  * scan the corpus once). Scale path: random-hyperplane LSH buckets —
  * candidate generation is a bucket equi-join, O(n·buckets) instead of
  * O(n·q). The per-pair vector math is a native codegen'd Catalyst
  * expression ([[org.apache.spark.sql.graft.VectorExpressions]]).
  */
object Similarity {

  /** Parallelize a CPU-heavy per-row index-build stage (PQ encode, cell
    * assignment) over an UNSPLITTABLE input (optimization guide §2.5):
    * a one-split corpus otherwise runs its interpreted encode UDFs on a
    * single core (r20 profile: q72b's encode+ADC ran as 4 single-task
    * stages per run). Gated on an input-parallelism deficit exactly
    * like `Q.par`: skipped when the plan already yields >= cores
    * partitions, so a real multi-split corpus pays no extra shuffle.
    * Every consumer re-aggregates or ranks by key, so results are
    * partitioning-invariant.
    */
  private[operators] def parIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val planned =
      try df.rdd.getNumPartitions
      catch { case NonFatal(_) => 1 }
    if (planned >= cores) df else df.repartition(cores)
  }

  /** Double-precision dot product — a native codegen'd Catalyst
    * expression ([[org.apache.spark.sql.graft.VectorExpressions.DotProduct]]):
    * a primitive fused loop inside WholeStageCodegen, where the
    * `aggregate(zip_with(...))` builtin formulation would run one
    * interpreted closure call per element per candidate pair.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-normalize a float-array column to doubles. After this, cosine
    * is a bare dot product — norms are computed once per row instead of
    * once per candidate pair. A single-pass static kernel wired in via
    * `StaticInvoke` (stays in the codegen span, no UDF encoder
    * boundary); the builtin `transform(a, x / norm(a))` would
    * re-evaluate the norm aggregate per element.
    */
  def normalize(a: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.normalizeFloat(a)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` is expected to be small (it is broadcast); the corpus is
    * scanned once, ranked per query with a window — one shuffle on
    * query id. At 1000 executors this is the classic
    * broadcast-then-rank ANN baseline.
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      normalize(col(corpusVec)).as("__cvec"))
    val q = queries.select(col(queryId).as("query_id"),
      normalize(col(queryVec)).as("__qvec"))
    val joined = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("__qvec"), col("__cvec")).as("cos"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic random-hyperplane bucket: `planes` pseudo-random
    * hyperplanes, one sign bit each. Hyperplane p's component d is a
    * hash of (d, p) mapped to [-1, 1] — seedable, identical across
    * executors, no stored model.
    *
    * The component matrix is row-independent, so it is materialized
    * ONCE per (planes, dim) per executor JVM and the per-row work is a
    * pure multiply-add loop — at corpus scale the hashing would
    * otherwise dominate the dot products it feeds (one MurmurHash +
    * Tuple2 allocation per row×plane×dimension).
    */
  private object PlaneCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
    // productHash's exact value IS the bucket contract (specs and any
    // persisted LSH index depend on it); 2.13's suggested caseClassHash
    // hashes differently, so pin the deprecated function deliberately.
    @annotation.nowarn("cat=deprecation")
    def component(d: Int, p: Int): Double = {
      val h = scala.util.hashing.MurmurHash3.productHash((d, p)).toLong
      (Math.floorMod(h, 2000001L).toDouble / 1000000.0) - 1.0
    }
    def get(planes: Int, dim: Int): Array[Array[Double]] =
      cache.computeIfAbsent((planes, dim), { key =>
        Array.tabulate(key._1, key._2)((p, d) => component(d, p))
      })
  }

  private val bucketUdf = udf { (v: Seq[Float], planes: Int) =>
    if (v == null) null.asInstanceOf[java.lang.Long]
    else {
      val vec = v.toArray
      val m = PlaneCache.get(planes, vec.length)
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val row = m(p)
        var proj = 0.0
        var d = 0
        while (d < vec.length) {
          proj += vec(d).toDouble * row(d)
          d += 1
        }
        if (proj >= 0) bucket |= (1L << p)
        p += 1
      }
      java.lang.Long.valueOf(bucket)
    }
  }

  def hyperplaneBucket(vec: Column, planes: Int): Column =
    bucketUdf(vec, lit(planes))

  /** SQ8 codes of a vector column as array<int> — symmetric int8
    * scalar quantization, `round(x·127/max|x|)` per component. Integer
    * output, so SQ8 pipelines oracle-check exactly (unlike any
    * float-scored ANN).
    */
  def sq8Codes(vec: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.sq8Codes(vec)

  /** SQ8 storage form: the same codes packed one signed byte per
    * dimension (binary column, 4× smaller than the float embedding).
    */
  def sq8Packed(vec: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.sq8Packed(vec)

  /** Per-vector reconstruction scale max|x|/127 (|error| ≤ scale/2). */
  def sq8Scale(vec: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.sq8Scale(vec)

  /** Top-k neighbors by SQ8 integer dot product — the quantized ANN
    * scan: corpus stored as packed int8 codes (4× less IO/memory than
    * float), similarity = exact integer dot of code vectors, ranked
    * (sim desc, id asc). Approximates dot-product (MIPS) ranking;
    * compose with [[normalize]] upstream when cosine ranking is wanted.
    *
    * Scale shape matches [[bruteForceTopK]]: broadcast the query codes,
    * scan the (4× smaller) corpus once, one shuffle on query id for the
    * per-query rank. Every value in the plan is an integer, so the
    * whole scan — codes, similarity, rank — hash-checks against a SQL
    * replay (q83b).
    */
  def sq8TopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val dotI8 = org.apache.spark.sql.graft.VectorExpressions.dotInt8 _
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      sq8Packed(col(corpusVec)).as("__ccode"))
    val q = queries.select(col(queryId).as("query_id"),
      sq8Packed(col(queryVec)).as("__qcode"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotI8(col("__qcode"), col("__ccode")).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Quantized near-dup PAIRS: probes against the corpus by exact
    * integer dot of SQ8 codes with an integer threshold — the
    * quantized prefilter stage of embedding dedup (cheap 4×-smaller
    * scan finds candidates; the float verifier runs on survivors
    * only). Every value integer → the whole decision oracle-checks
    * (q41c), unlike the float-cosine path (q41).
    *
    * `probe` bounds the left side (e.g. `col(id) < 50` for a probe
    * set, or a batch predicate in incremental dedup) — cost is
    * O(|probes| × corpus), broadcast-probe shaped, never all-pairs.
    */
  def sq8NearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      probe: Column, threshold: Long): DataFrame = {
    val dotI8 = org.apache.spark.sql.graft.VectorExpressions.dotInt8 _
    val coded = corpus.select(col(idCol), sq8Packed(col(vecCol)).as("__code"))
    val a = coded.filter(probe)
      .select(col(idCol).as("id_a"), col("__code").as("__ca"))
    val b = coded.select(col(idCol).as("id_b"), col("__code").as("__cb"))
    b.crossJoin(broadcast(a))
      .filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"),
        dotI8(col("__ca"), col("__cb")).cast("long").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Deterministic QUANTIZED cell dedup — the oracled twin of
    * SemDeDup-style semantic dedup (q57): blocking cells come from an
    * md5 prefix of the id (cross-engine deterministic, unlike float
    * k-means), similarity is the exact SQ8 integer dot, and the drop
    * rule is "dominated by ANY lower-id cell-mate at ≥ threshold" —
    * one relational pass (anti-join), no greedy chain, so the whole
    * decision replays in SQL (q57b). Slightly more aggressive than
    * greedy keep-one (a dropped dominator still eliminates its
    * victims) — that is the documented contract difference vs q57.
    *
    * Scale shape: quadratic only WITHIN a cell (`cellHexLen` tunes the
    * block count), one cell-keyed self-join + left-anti — the blocked
    * dedup shape of q33/q57, never corpus all-pairs.
    */
  def quantizedCellDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Long, cellHexLen: Int = 1): DataFrame = {
    require(cellHexLen >= 1 && cellHexLen <= 8)
    val dotI8 = org.apache.spark.sql.graft.VectorExpressions.dotInt8 _
    val coded = df.select(col(idCol),
      substring(md5(col(idCol).cast("string")), 1, cellHexLen).as("cell"),
      sq8Packed(col(vecCol)).as("__code"))
      // user-specified repartition on the blocking key: the in-cell
      // join expands quadratically, and AQE's input-byte coalescing
      // would serialize it onto a couple of partitions (the
      // [[graft.operators.Dedup.semanticDedup]] sf10 finding); an
      // explicit repartition is exempt and both sides reuse it
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("cell"))
    val a = coded.select(col("cell"), col(idCol).as("__ida"),
      col("__code").as("__ca"))
    val b = coded.select(col("cell"), col(idCol).as("__idb"),
      col("__code").as("__cb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("__idb") < col("__ida") &&
        dotI8(col("__ca"), col("__cb")) >= threshold)
      .select(col("__ida").as(idCol)).distinct()
    coded.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** ANN evaluation: recall@k of approximate results against ground
    * truth. Both inputs are (query_id, neighbor_id, rank ≤ k) result
    * sets (any of the topK operators); recall = |approx ∩ truth| / k
    * per query. The eval-harness metric every index tuning loop needs —
    * an inner join on (query, neighbor) + one small agg, integer
    * counting so it oracle-checks when both result sets do (q91).
    */
  def recallAtK(approx: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val t = truth.select(col("query_id"), col("neighbor_id"))
    t.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      .join(t.select("query_id").distinct(), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Approximate top-k: rank candidates within each query's bucket.
    * Recall is tunable via `planes` (fewer planes → bigger buckets).
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, planes: Int = 4): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      normalize(col(corpusVec)).as("cvec"),
      hyperplaneBucket(col(corpusVec), planes).as("bucket"))
    val q = queries.select(col(queryId).as("query_id"),
      normalize(col(queryVec)).as("qvec"),
      hyperplaneBucket(col(queryVec), planes).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of several
    * retrievers' rankings — the standard hybrid-retrieval combiner
    * (lexical + vector, exact + quantized): each list contributes
    * `1/(kRrf + rank)` per item, items sum across lists, top-k by the
    * fused score with a neighbor-id tie-break. Inputs are
    * `(query_id, neighbor_id, rank)` frames (any extra columns are
    * dropped).
    *
    * Scale shape: the ranked lists are k-bounded per query already, so
    * the union + aggregation is O(queries × k × lists) — result-sized,
    * never corpus-sized.
    *
    * Determinism for ANY list count: the per-item score Σᵢ 1/cᵢ (with
    * cᵢ = kRrf + rankᵢ) is accumulated as an EXACT integer rational
    * N/D — D = Πcᵢ, N = Σᵢ D/cᵢ, both order-independent 64-bit exact —
    * and becomes a double in ONE correctly-rounded IEEE division. A
    * naive float SUM would depend on shuffle arrival order from three
    * addends up (and differs from the rational value in the last ulp),
    * which is why the oracle replays the same rational form. Exact
    * while D < 2⁶³: guarded to ≤6 lists, which with default kRrf=60
    * is safe for input ranks up to ~2¹⁰ (1084⁶ < 2⁶³).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rankings.size <= 6,
      s"${rankings.size} lists could overflow the exact rational " +
        "accumulator (D = prod(kRrf+rank) must stay under 2^63); " +
        "fuse hierarchically beyond 6")
    require(k >= 1 && kRrf >= 0)
    // The ≤6-lists guard alone doesn't make the rational exact: with
    // huge ranks (or a big kRrf) the denominator Π(kRrf+rank) can still
    // pass 2⁶³ and wrap silently. Enforce the per-factor bound at
    // runtime: every cost must satisfy cᴸ < 2⁶³ for L lists, so the
    // worst-case product stays exact no matter which lists an item
    // appears in.
    val maxCost: Long = {
      var c = math.pow(2.0, 63.0 / rankings.size).toLong + 1
      while (BigInt(c).pow(rankings.size) >= BigInt(2).pow(63)) c -= 1
      c
    }
    val costChecked = when(
      (lit(kRrf.toLong) + col("rank").cast("long")) > maxCost,
      raise_error(concat(
        lit(s"rrfFuse: kRrf+rank exceeds $maxCost, the exact-rational " +
          s"bound for ${rankings.size} lists (prod of costs must stay " +
          "under 2^63); truncate the input rankings or fuse fewer lists"),
        lit(" (rank="), col("rank").cast("string"), lit(")"))))
      .otherwise(col("rank"))
    val unioned = rankings
      .map(_.select(col("query_id"), col("neighbor_id"),
        costChecked.as("rank")))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    // fold carries (numerator, denominator): (n, d) ⊕ c = (n·c + d, d·c)
    val folded = aggregate(
      col("__cs"),
      struct(lit(0L).as("n"), lit(1L).as("d")),
      (acc: Column, c: Column) => struct(
        (acc.getField("n") * c + acc.getField("d")).as("n"),
        (acc.getField("d") * c).as("d")))
    unioned
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(collect_list((lit(kRrf) + col("rank")).cast("long")).as("__cs"))
      .withColumn("__nd", folded)
      .select(col("query_id"), col("neighbor_id"),
        (col("__nd.n").cast("double") / col("__nd.d").cast("double"))
          .as("rrf_score"),
        size(col("__cs")).cast("long").as("n_lists"))
      .withColumn("fused_rank", row_number().over(w).cast("int"))
      .filter(col("fused_rank") <= k)
  }

  /** Top-k neighbors by SQ8 integer L1 (Manhattan) distance — a third
    * integer-exact retriever leg next to [[sq8TopK]]'s dot product:
    * distance = Σ|qᵢ−cᵢ| over int8 codes, ranked (dist asc, id asc).
    * Same scale shape as [[bruteForceTopK]]: broadcast query codes, one
    * corpus scan, one shuffle on query id for the per-query rank; every
    * value an integer, so the ranking replays exactly in SQL.
    */
  def sq8L1TopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      sq8Codes(col(corpusVec)).as("__cc"))
    val q = queries.select(col(queryId).as("query_id"),
      sq8Codes(col(queryVec)).as("__qc"))
    val dist = aggregate(
      zip_with(col("__qc"), col("__cc"), (x, y) => abs(x - y)),
      lit(0L), (acc: Column, v: Column) => acc + v)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("dist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
