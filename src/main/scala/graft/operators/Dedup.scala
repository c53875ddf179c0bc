package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four families, all shuffle-minimal and expressed with codegen'd
  * built-ins wherever possible:
  *
  *  - exact:     hash-groupBy on content digest — one shuffle.
  *  - jaccard:   blocked pairwise n-gram/token Jaccard — the exact
  *               verifier used on LSH candidates (and standalone with a
  *               blocking key at small-to-mid scale).
  *  - minhash:   shingle → k minhashes → banded LSH bucket join — the
  *               100 TB path: candidate generation cost is
  *               O(docs × bands), never O(docs²).
  *  - simhash:   64-bit fingerprint + chunk-bucketed Hamming join.
  *
  * Scale notes: every pair generation is a self-equi-join on a bucket
  * key (Catalyst hash join after one shuffle each side); skewed buckets
  * are handled by AQE skew-join splitting. Nothing collects to the
  * driver.
  */
object Dedup {

  /** Whitespace tokens of a text column (shared with TextOps). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  // ---- exact ----------------------------------------------------------

  /** Exact-duplicate groups by content digest: (digest, n, min doc id).
    * One hash shuffle; at 100 TB this is the cheapest dedup pass and
    * runs first to shrink later stages.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** Keep one representative row per exact-duplicate group. */
  def exactDedup(df: DataFrame, textCol: String): DataFrame =
    df.dropDuplicates(textCol)

  // ---- token-set Jaccard ----------------------------------------------

  /** Jaccard similarity of two token-array columns. Inputs are
    * deduplicated first — inclusion-exclusion (|A∪B| = |A|+|B|-|A∩B|)
    * is only valid on set sizes, and this keeps the public helper
    * correct for arrays that still carry duplicate tokens. Only the
    * intersection is materialized; array_union would allocate a merged
    * array per pair just to take its length.
    */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db))
    inter.cast("double") / (size(da) + size(db) - inter)
  }

  /** Blocked pairwise Jaccard: candidate pairs share `blockCol` and pass
    * a threshold-derived size pre-filter, then exact token-set Jaccard
    * ≥ threshold. The pre-filter is lossless: J(A,B) ≥ t implies
    * |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), and |A∩B| ≤ min(|A|,|B|),
    * so min(|A|,|B|) ≥ t·max(|A|,|B|) — any pair it drops could not
    * have passed the Jaccard test. Quadratic only within blocks.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    // Tokens are hashed to 64-bit longs once per document, before the
    // pair join: the O(pairs) intersect then compares primitive longs
    // instead of UTF8 strings. Set sizes (and hence Jaccard) are
    // preserved up to 64-bit collisions — odds ~n²/2⁶⁵ per doc,
    // negligible against the pairwise stage it accelerates.
    val hashedToks = array_distinct(transform(tokens(col(textCol)), xxhash64(_)))
    // one tokenization pass materialized at an AQE-exempt repartition
    // on the blocking key: the in-block join expands quadratically and
    // must not coalesce onto a couple of partitions (the
    // [[semanticDedup]] sf10 finding); both sides reuse the exchange,
    // so each document tokenizes once instead of once per side
    val prepared = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      hashedToks.as("tok"))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("blk"))
    val a = prepared.select(col("blk"), col("id").as("id_a"),
      col("tok").as("tok_a"))
    val b = prepared.select(col("blk"), col("id").as("id_b"),
      col("tok").as("tok_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") &&
        size(col("tok_a")).cast("double") >= lit(threshold) * size(col("tok_b")) &&
        size(col("tok_b")).cast("double") >= lit(threshold) * size(col("tok_a")))
      .withColumn("jac", {
        // |A∩B| via the zero-allocation counting kernel (the arrays are
        // hashed-distinct longs); |A∪B| by inclusion-exclusion
        val inter = org.apache.spark.sql.graft.VectorExpressions
          .intersectCardinality(col("tok_a"), col("tok_b"))
        inter.cast("double") /
          (size(col("tok_a")) + size(col("tok_b")) - inter)
      })
      .filter(col("jac") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), col("jac"))
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** Word w-shingles as strings ("w1 w2 w3" ...). */
  def shingles(text: Column, w: Int): Column = {
    val tok = tokens(text)
    when(size(tok) < w, array(concat_ws(" ", tok)))
      .otherwise(transform(
        sequence(lit(0), size(tok) - w),
        i => concat_ws(" ", slice(tok, i + 1, lit(w)))))
  }

  /** Same shingle semantics as [[shingles]], as one row-local UDF pass.
    * The builtin formulation evaluates transform∘slice∘concat_ws
    * INTERPRETED per gram (higher-order functions don't codegen) —
    * swapping it for this kernel measured ~5× on the shingle-exploding
    * bench queries. Use in hot paths; [[shingles]] stays for contexts
    * already inside pure-builtin expressions.
    */
  private val shinglesUdf = udf { (toks: Seq[String], w: Int) =>
    if (toks == null) IndexedSeq.empty[String]
    else if (toks.length < w) IndexedSeq(toks.mkString(" "))
    else toks.iterator.sliding(w).withPartial(false).map(_.mkString(" ")).toIndexedSeq
  }
  def shinglesFast(text: Column, w: Int): Column =
    shinglesUdf(tokens(text), lit(w))

  /** k minhash signatures in one pass per document.
    *
    * A UDF on purpose: the pure-builtin formulation (k × array_min ∘
    * transform ∘ xxhash64 over the shingle array) re-materializes the
    * shingle array per hash through interpreted higher-order functions —
    * measured 80× slower at sf0.1. Here each shingle is hashed once to
    * (h1, h2) and the k signatures use Kirsch-Mitzenmacher double
    * hashing g_i = h1 + i·h2, the standard minhash trick.
    */
  private val signatureUdf = udf {
    (toks: Seq[String], numHashes: Int, shingleWidth: Int) =>
      if (toks == null) null
      else {
        val shingleSet = new scala.collection.mutable.HashSet[String]
        if (toks.length < shingleWidth) shingleSet += toks.mkString(" ")
        else toks.sliding(shingleWidth).foreach(s => shingleSet += s.mkString(" "))
        val sig = Array.fill(numHashes)(Long.MaxValue)
        shingleSet.foreach { s =>
          val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong
          val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b).toLong | 1L
          var i = 0
          while (i < numHashes) {
            val g = h1 + i * h2
            if (g < sig(i)) sig(i) = g
            i += 1
          }
        }
        sig.toSeq
      }
  }

  def minhashSignature(text: Column, numHashes: Int, shingleWidth: Int): Column =
    signatureUdf(tokens(text), lit(numHashes), lit(shingleWidth))

  /** Banding parameters for a target Jaccard threshold: among the
    * (bands, rows) factorizations of `numHashes`, pick the one whose
    * S-curve inflection (1/b)^(1/r) lands closest to `threshold`
    * (Leskovec-Rajaraman-Ullman, MMDS §3.4.3 — the standard tuning
    * rule). Returns (bands, rowsPerBand, inflection). At 100 TB this
    * choice IS the cost model: bands drive index size and candidate
    * volume, rows drive selectivity; picking them by hand usually
    * lands orders of magnitude off on one side.
    */
  def lshParams(numHashes: Int, threshold: Double): (Int, Int, Double) = {
    require(numHashes >= 2, s"numHashes=$numHashes must be >= 2")
    require(threshold > 0 && threshold < 1,
      s"threshold=$threshold must be in (0, 1)")
    val cands = (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    cands.minBy { case (_, _, s) => math.abs(s - threshold) }
  }

  /** Probability a pair at similarity `s` becomes an LSH candidate
    * under (bands, rows): 1 - (1 - s^r)^b — the S-curve itself, for
    * coverage estimates next to the dropped-bucket metrics row.
    */
  def lshCandidateProb(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Banded minhash index rows for a document table:
    * (id, sig, band_idx, band_hash) — the unit both the batch pair
    * join and the streaming dedup filter operate on.
    */
  def bandedMinhash(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleWidth: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes, shingleWidth).as("sig"))
    sig.select(col("id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        bnd => xxhash64(concat_ws(",",
          slice(col("sig"), bnd * rowsPerBand + 1, lit(rowsPerBand))), bnd))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** LSH candidate pairs: signatures split into `bands` bands of
    * `rowsPerBand`; docs sharing any band bucket become candidates, then
    * exact signature agreement estimates Jaccard. Returns
    * (id_a, id_b, est_jaccard ≥ threshold).
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleWidth: Int = 3, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100): DataFrame = {
    // explode into (band_idx, band_hash, id, sig)
    val banded = bandedMinhash(df, idCol, textCol, numHashes, shingleWidth, bands)
    // Materialize the banded signature index once: it feeds three
    // consumers (bucket-size stats and both self-join legs), and
    // without caching each consumer re-runs the signature UDF over
    // the whole corpus. At scale this is "build the LSH index, then
    // query it" — the index is k longs per doc, tiny next to the text.
    // persist (recomputable lineage) rather than localCheckpoint: a
    // lost executor recomputes the block instead of failing the job.
    val indexed = banded.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Mega-bucket cap: buckets above maxBucketSize are boilerplate-like
    // clusters whose quadratic self-join dominates cost while adding
    // mostly-noise pairs; dropping them bounds the join at
    // O(buckets * cap^2) — the standard LSH guard at corpus scale.
    val pruned = indexed.join(
      indexed.groupBy(col("band_idx"), col("band_hash"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") <= maxBucketSize)
        .drop("_bsz"),
      Seq("band_idx", "band_hash"))
    val l = pruned.select(col("band_idx"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = pruned.select(col("band_idx"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // signature agreement via the primitive counting kernel — this
        // runs once per candidate pair, where the zip_with/aggregate
        // builtin formulation pays interpreted closures per element
        (org.apache.spark.sql.graft.VectorExpressions
          .positionalMatches(col("sig_a"), col("sig_b"))
          .cast("double") / size(col("sig_a"))).as("est_jaccard"))
      .distinct() // a pair may collide in several bands
      .filter(col("est_jaccard") >= threshold)
  }

  /** Coverage contract for a capped bucket index: ONE metrics row
    * (total_buckets, dropped_buckets, index_rows, dropped_index_rows,
    * dropped_candidate_pairs) where dropped_candidate_pairs is the
    * Σ n·(n−1)/2 the mega-bucket cap declined to generate. The caps in
    * [[minhashPairs]]/[[simhashPairs]] are the right scale guard, but a
    * silent one: at 100 TB a boilerplate-heavy corpus could shed most
    * true near-dups with no signal. This row IS the signal — run it
    * next to the pair job (same index DataFrame, one extra
    * aggregation) and alert when dropped_candidate_pairs is a
    * non-trivial fraction of the corpus. Deterministic (pure
    * aggregation — no accumulator under-/double-counting on retries).
    */
  private def bucketCoverage(index: DataFrame, keyCols: Seq[String],
      maxBucketSize: Int): DataFrame = {
    index.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .agg(
        count(lit(1)).as("total_buckets"),
        sum(when(col("_bsz") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(col("_bsz")).as("index_rows"),
        sum(when(col("_bsz") > maxBucketSize, col("_bsz")).otherwise(0L))
          .as("dropped_index_rows"),
        sum(when(col("_bsz") > maxBucketSize,
          expr("_bsz * (_bsz - 1) div 2")).otherwise(0L)) // integral div
          .as("dropped_candidate_pairs"))
  }

  /** [[bucketCoverage]] over the banded minhash index [[minhashPairs]]
    * prunes — same parameters produce the same buckets.
    */
  def minhashCoverage(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleWidth: Int = 3, bands: Int = 4,
      maxBucketSize: Int = 100): DataFrame =
    bucketCoverage(
      bandedMinhash(df, idCol, textCol, numHashes, shingleWidth, bands),
      Seq("band_idx", "band_hash"), maxBucketSize)

  /** [[bucketCoverage]] over the simhash chunk index [[simhashPairs]]
    * prunes.
    */
  def simhashCoverage(df: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int = 200): DataFrame =
    bucketCoverage(simhashChunks(df, idCol, textCol),
      Seq("chunk_idx", "chunk"), maxBucketSize)

  /** STREAMING near-dup dedup against a persistent LSH index — the
    * incremental form of the dedup pass, i.e. what a continuously-fed
    * training-data pipeline actually runs: each microbatch
    *
    *   1. drops docs whose minhash signature matches the accumulated
    *      index at `est_jaccard ≥ threshold` (bucket equi-join against
    *      the banded index, never a corpus scan),
    *   2. canonicalizes near-dups WITHIN the batch (pair join +
    *      connected components, min id survives),
    *   3. appends the survivors to `outPath` and their banded
    *      signatures to `indexPath`.
    *
    * Exactly-once: both appends go to per-batch subdirectories
    * (`batch=<id>`, overwritten on retry), so a crashed microbatch
    * re-runs idempotently; the checkpoint is the resume token. Readers
    * use `spark.read.parquet(outPath)` (the `batch` partition column
    * materializes; drop it). The index holds k longs + bands rows per
    * KEPT doc — tiny next to the text, and shared across the fleet as
    * plain parquet.
    */
  def minhashStreamDedup(stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      numHashes: Int = 16, shingleWidth: Int = 3, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamDedupAgainstIndex(stream, idCol,
      indexer = batch => bandedMinhash(batch, idCol, textCol,
        numHashes, shingleWidth, bands),
      bucketCols = Seq("band_idx", "band_hash"),
      similarity = (a, b) => org.apache.spark.sql.graft.VectorExpressions
        .positionalMatches(a, b).cast("double") / size(a),
      threshold, indexPath, outPath, checkpoint, maxBucketSize, trigger)

  /** [[minhashStreamDedup]] for EMBEDDING streams: incoming vectors
    * are dropped when an already-kept vector in the same hyperplane
    * bucket has cosine ≥ threshold — streaming embedding-level dedup
    * for multimodal/encoder pipelines, same persistent-index contract.
    */
  def embeddingStreamDedup(stream: DataFrame, idCol: String, vecCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      threshold: Double = 0.9, planes: Int = 8, maxBucketSize: Int = 10000,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamDedupAgainstIndex(stream, idCol,
      indexer = batch => batch.select(col(idCol).as("id"),
        Similarity.normalize(col(vecCol)).as("sig"),
        Similarity.hyperplaneBucket(col(vecCol), planes).as("bucket")),
      bucketCols = Seq("bucket"),
      similarity = (a, b) => Similarity.dot(a, b), // unit vectors: dot = cosine
      threshold, indexPath, outPath, checkpoint, maxBucketSize, trigger)

  /** Shared streaming-dedup core: `indexer` turns a batch into index
    * rows (id, sig, bucket columns); docs match when they share a
    * bucket and `similarity(sig, sig) ≥ threshold`. Steps per batch:
    * drop vs the accumulated index, canonicalize in-batch (pair join +
    * connected components, min id survives), append survivors to
    * `outPath` and their index rows to `indexPath` — each into a
    * per-batch `batch=<id>` subdirectory overwritten on retry, so a
    * crashed microbatch replays idempotently (the index read excludes
    * the current batch's own partition, or a replay after a
    * post-write crash would self-match and wipe the batch).
    * `maxBucketSize` bounds both joins against boilerplate mega
    * buckets, mirroring [[minhashPairs]]; docs in an oversized batch
    * bucket bypass dedup (kept) rather than stalling the query.
    */
  private def streamDedupAgainstIndex(stream: DataFrame, idCol: String,
      indexer: DataFrame => DataFrame, bucketCols: Seq[String],
      similarity: (Column, Column) => Column, threshold: Double,
      indexPath: String, outPath: String, checkpoint: String,
      maxBucketSize: Int,
      trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def cache(df: DataFrame): DataFrame = {
          persisted += df
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        try {
          val rows = cache(indexer(batch))
          val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          // mega-bucket guard (minhashPairs' maxBucketSize, streaming
          // form): batch rows in oversized buckets skip candidate
          // joins entirely — they survive to the output unfiltered
          val smallBuckets = rows.groupBy(bucketCols.map(col): _*)
            .agg(count(lit(1)).as("_bsz"))
            .filter(col("_bsz") <= maxBucketSize)
            .drop("_bsz")
          val joinable = rows.join(smallBuckets, bucketCols.toIndexedSeq)
          // 1. drop batch docs already represented in the index
          // (minus the current batch partition — see scaladoc)
          val afterIndex = cache(
            if (!fs.exists(new org.apache.hadoop.fs.Path(indexPath))) rows
            else {
              val idx = spark.read.parquet(indexPath)
                .filter(col("batch") =!= batchId)
                .select(bucketCols.map(col) :+ col("sig").as("sig_idx"): _*)
              val dupIds = joinable.join(idx, bucketCols.toIndexedSeq)
                .filter(similarity(col("sig"), col("sig_idx")) >= threshold)
                .select(col("id")).distinct()
              rows.join(dupIds, Seq("id"), "left_anti")
            })
          // 2. canonicalize near-dups within the batch (same keep-one
          // step as the batch pipeline)
          val candidates = afterIndex.join(smallBuckets, bucketCols.toIndexedSeq)
          val l = candidates.select(bucketCols.map(col) ++
            Seq(col("id").as("id_a"), col("sig").as("sig_a")): _*)
          val r = candidates.select(bucketCols.map(col) ++
            Seq(col("id").as("id_b"), col("sig").as("sig_b")): _*)
          val pairs = l.join(r, bucketCols.toIndexedSeq)
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"),
              similarity(col("sig_a"), col("sig_b")).as("sim"))
            .distinct()
            .filter(col("sim") >= threshold)
          val kept = cache(canonicalize(afterIndex, "id", pairs, "id_a", "id_b"))
          val keptIds = kept.select(col("id")).distinct()
          // 3. append survivors + their index rows, idempotently per batch
          batch.join(keptIds,
              batch(idCol) === keptIds("id"), "left_semi")
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          kept.write.mode("overwrite")
            .parquet(s"$indexPath/batch=$batchId")
        } finally { persisted.foreach(_.unpersist()); () }
        ()
      }
      .start()

  // ---- SimHash ---------------------------------------------------------

  /** The simhash chunk index: (id, fp, chunk_idx, chunk) — 16-bit
    * fingerprint chunks as bucket keys. Shared by [[simhashPairs]] and
    * [[simhashCoverage]] so the coverage row audits exactly the buckets
    * the pair join prunes.
    */
  private[graft] def simhashChunks(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fp = df.select(col(idCol).as("id"),
      TextOps.simhash64(tokens(col(textCol))).as("fp"))
    fp.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map { c =>
        shiftrightunsigned(col("fp"), c * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
  }

  /** 64-bit simhash per doc + Hamming-bucket candidate pairs: fingerprint
    * chunks of 16 bits are bucket keys (pigeonhole: pairs within Hamming
    * distance ≤ 3 share at least one of 4 chunks).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 200): DataFrame = {
    val chunked = simhashChunks(df, idCol, textCol)
      // materialize the fingerprint index once (three consumers — same
      // fault-tolerant-persist rationale as minhashPairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // same mega-bucket guard as minhashPairs
    val pruned = chunked.join(
      chunked.groupBy(col("chunk_idx"), col("chunk"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") <= maxBucketSize)
        .drop("_bsz"),
      Seq("chunk_idx", "chunk"))
    val l = pruned.select(col("chunk_idx"), col("chunk"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = pruned.select(col("chunk_idx"), col("chunk"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- near-dup clustering --------------------------------------------

  /** Connected components over a pair list — the step AFTER pair
    * generation in a dedup pipeline: near-dup pairs form a graph, each
    * component is one duplicate cluster, and the canonical document is
    * the component's minimum id.
    *
    * Two paths, same result:
    *
    *  - **small graph** (≤ `maxDriverEdges` symmetric edges, the common
    *    case after blocking/bucketing caps cluster sizes): collect the
    *    edge list (2 longs per edge) and run union-find with path
    *    compression on the driver — one distributed job total. The
    *    same bounded-model trade as IVF centroid training.
    *  - **large graph**: hash-min label propagation, the standard
    *    distributed CC — every node starts labeled with itself, each
    *    hop takes the minimum label over the closed neighborhood, K
    *    hops chain per driver action, stop when a checkpoint changes
    *    nothing. Everything is joins/aggregations on the edge list;
    *    driver state is a loop counter.
    *
    * Returns (doc_id, component) for every node that appears in
    * `pairs`; singleton documents (no pair) are their own component by
    * definition and can be unioned in by the caller if needed.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, maxDriverEdges: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the expensive upstream (LSH/jaccard pair join) feeds the size
    // probe AND the chosen path — cache it so it runs exactly once
    val cachedPairs = pairs.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the driver path's LongMap needs integral ids; fractional or
    // string ids would truncate/NPE under cast — route them distributed
    val integralIds = Seq(aCol, bCol).forall { c =>
      pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }
    if (maxDriverEdges > 0 && integralIds) {
      // probe the size with the same capped-collect trick as the
      // broadcast as-of guard: one job, bounded driver memory
      val capped = math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt
      val edgeRows = cachedPairs
        .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .limit(capped).collect()
      if (edgeRows.length <= maxDriverEdges) {
        // driver-local union-find, min id as representative
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        edgeRows.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) {
            val root = math.min(ra, rb)
            parent(math.max(ra, rb)) = root
            parent(math.min(ra, rb)) = root
          }
        }
        val nodes = edgeRows.iterator
          .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray.distinct
        val idType = pairs.schema(aCol).dataType
        cachedPairs.unpersist()
        // cast back to the input id type so both paths return one schema
        return nodes.map(n => (n, find(n))).toSeq
          .toDF("doc_id", "component")
          .select(col("doc_id").cast(idType).as("doc_id"),
            col("component").cast(idType).as("component"))
      }
      // fall through: graph exceeds the driver budget — distributed path
    }
    // symmetric closed edge list: both directions + self-loops, so a
    // node's neighborhood minimum includes its own label
    val sym = cachedPairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(cachedPairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    val edges = sym
      .unionByName(nodes.select(col("id").as("src"), col("id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize the edge cache off the pair cache...
    cachedPairs.unpersist() // ...then release the upstream
    // seed labels from the cached edges' self-loop rows (every node has
    // exactly one), NOT from `nodes` — whose lineage would re-run the
    // pair generation after the unpersist above
    var labels = edges.filter(col("src") === col("dst"))
      .select(col("src").as("id"), col("src").as("comp"))
      .distinct() // input self-pairs would otherwise duplicate a seed
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Unroll K propagation hops per driver action: each Spark job is
    // the expensive part at small diameters (scheduling + AQE replan
    // per stage), so checking convergence every hop triples the job
    // count for nothing. K hops chain as one lazy plan; persist and
    // test only at the checkpoints.
    val K = 3
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      var next = labels
      var k = 0
      while (k < math.min(K, maxIter - it)) {
        next = edges
          .join(next.withColumnRenamed("id", "dst"), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min(col("comp")).as("comp"))
        k += 1
      }
      val mat = next.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one action per checkpoint: did any label shrink across K hops?
      val changed = mat.join(labels.withColumnRenamed("comp", "prev"), Seq("id"))
        .filter(col("comp") < col("prev")).limit(1).count()
      labels.unpersist()
      labels = mat
      converged = changed == 0
      it += k
    }
    edges.unpersist()
    // silent wrong labels are worse than a loud stop: an unconverged
    // exit would split one duplicate cluster into several "components"
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter hops; " +
        "raise maxIter (needed ≈ diameter of the largest component)")
    labels.select(col("id").as("doc_id"), col("comp").as("component"))
  }

  /** Keep one canonical document per near-dup cluster: drop every doc
    * whose component root is another doc. Composes any pair generator
    * ([[jaccardPairs]], [[minhashPairs]], [[simhashPairs]],
    * [[embeddingNearDups]]) with [[connectedComponents]] — the
    * keep-one step that finishes a dedup pass. Docs in no pair are
    * their own cluster and are kept. One left-anti join against the
    * (small) set of non-canonical ids.
    */
  def canonicalize(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val dropIds = connectedComponents(pairs, aCol, bCol)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  // ---- embedding near-dup ---------------------------------------------

  /** SEMANTIC dedup (SemDeDup-style): cluster embeddings with a trained
    * k-means coarse quantizer, generate cosine-≥-threshold pairs only
    * WITHIN each cell, keep the minimum id per near-dup component.
    * Returns the surviving rows of `emb`.
    *
    * Versus [[embeddingNearDups]]' random hyperplanes, trained cells
    * put semantically close vectors in the same block by construction —
    * fewer cross-block misses at equal block count. Cost shape is
    * identical: one model broadcast, one cell shuffle, quadratic only
    * within cells (AQE splits skewed cells).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16,
      /** Upper bound on the EXPECTED cell population: the in-cell
        * pair join is quadratic in cell size, so `nlist` must grow
        * with the corpus (SemDeDup sizes cells to fit device memory
        * for exactly this reason). The effective cell count is
        * `max(nlist, ceil(n / targetCellSize))` — at small SFs the
        * caller's nlist wins (behavior unchanged, specs/oracles
        * stable), at 100× the corpus the cells stay bounded instead
        * of exploding the pair count 10,000×. The one count() job is
        * metadata-sized next to the training scan that follows.
        */
      targetCellSize: Int = 1024): DataFrame = {
    val spark = emb.sparkSession
    // ONE scan of the input: the normalized projection is persisted and
    // the count() that sizes the cell grid materializes it, so the
    // training sample, the balance probe, and the re-cell pass below all
    // read the cache instead of re-running normalization (and the
    // source scan) — on the large corpora this operator targets the
    // input IO dominated everything else (r18 advice).
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("rawvec"),
      Similarity.normalize(col(vecCol)).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    val nlistEff = math.max(nlist,
      ((n + targetCellSize - 1) / targetCellSize).toInt)
    val centroids = Ivf.trainCentroids(base, "rawvec", nlistEff)
    // centroid assignment is nlistEff×dim work per row — persisted so
    // the census below computes it ONCE and the re-cell/join pass reads
    // it back instead of re-assigning
    val assigned = base.select(col("id"), col("vec"),
      Ivf.assignCells(base, "rawvec", centroids).as("cell0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // BALANCE GUARD: k-means cell population is data-dependent — a
    // clustered corpus can land half its mass in ONE cell no matter
    // how large nlist grows (measured at the sf1.0 smoke: 20 cells,
    // max population 10,010 of 20,000), and the in-cell join is
    // quadratic in the largest cell. Cells beyond 4× the target split
    // by RESIDUAL-hyperplane signbits (LSH on v − centroid, enough
    // bits to bound the expected sub-cell at the target): identical
    // vectors share every signbit, so exact-duplicate cliques never
    // split; a near-dup pair (cos ≥ t) crosses one plane with
    // probability ∝ its (small) angle — the same
    // approximate-by-blocking semantics SemDeDup's own cluster cap
    // trades on. The count() probe is nlist-rows-sized.
    val capPop = 4L * targetCellSize
    val overs: Map[Int, Int] = assigned.groupBy("cell0").count()
      .collect().iterator.collect {
        case r if r.getLong(1) > capPop =>
          val bits = math.min(10, math.ceil(math.log(
            r.getLong(1).toDouble / targetCellSize) / math.log(2)).toInt)
          r.getInt(0) -> bits
      }.toMap
    val recelled =
      if (overs.isEmpty) assigned.withColumnRenamed("cell0", "cell")
      else {
        // plane elements are constants per (cell, j, d): precompute the
        // matrix per OVERSIZED cell driver-side (bits×dim doubles — KBs)
        // so the executor UDF is a plain dot product instead of
        // bits×dim MurmurHash3 calls PER ROW (~7,700 hashes/row at
        // 10 bits × 768 dims — pure hot-path waste at exactly the scale
        // the balance guard targets). Values are bit-identical to the
        // previous inline derivation, so bucket assignment (and q57b's
        // oracle) is unchanged.
        val planes: Map[Int, Array[Array[Double]]] =
          overs.map { case (cell, bits) =>
            val dim = centroids(cell).length
            cell -> Array.tabulate(bits) { j =>
              Array.tabulate(dim) { d =>
                // deterministic pseudo-random plane element for (j, d)
                val h = scala.util.hashing.MurmurHash3.productHash((j, d))
                h.toDouble / Int.MaxValue
              }
            }
          }
        val bcC = spark.sparkContext.broadcast(centroids)
        val bcP = spark.sparkContext.broadcast(planes)
        val sub = udf { (cell: Int, vec: Seq[Double]) =>
          bcP.value.get(cell) match {
            case None => cell.toLong << 16
            case Some(pl) =>
              val c = bcC.value(cell)
              var b = 0L
              var j = 0
              while (j < pl.length) {
                val p = pl(j)
                var dot = 0.0
                var d = 0
                while (d < c.length) {
                  dot += (vec(d) - c(d)) * p(d)
                  d += 1
                }
                if (dot >= 0) b |= 1L << j
                j += 1
              }
              (cell.toLong << 16) | b
          }
        }
        assigned.withColumn("cell", sub(col("cell0"), col("vec")))
          .drop("cell0")
      }
    // USER-SPECIFIED repartition on the join key: the in-cell pair
    // join EXPANDS quadratically, and AQE's input-byte-sized
    // coalescing would fold the small assignment shuffle into a
    // couple of partitions, serializing the quadratic work (observed
    // 2-of-32-core utilization at the sf10 smoke). An explicit
    // repartition is exempt from coalescing, and both join sides
    // reuse the one partitioning — no extra exchange.
    val withCell = recelled.repartition(
      spark.sessionState.conf.numShufflePartitions, col("cell"))
    val l = withCell.select(col("cell"), col("id").as("id_a"), col("vec").as("vec_a"))
    val r = withCell.select(col("cell"), col("id").as("id_b"), col("vec").as("vec_b"))
    val pairs = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.dot(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
    val res = canonicalize(emb, idCol, pairs, "id_a", "id_b")
    // canonicalize's component iteration runs eagerly (it counts per
    // convergence checkpoint and persists its own label frontier), so
    // the pair join has been fully consumed by the time it returns and
    // the cached projections can be released
    base.unpersist(false)
    assigned.unpersist(false)
    res
  }

  /** Near-duplicates by embedding cosine ≥ threshold, blocked by an LSH
    * signbit bucket (see [[Similarity.hyperplaneBucket]]) so the join is
    * not O(n²) at scale.
    */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8): DataFrame = {
    val withBucket = emb.select(col(idCol).as("id"),
      Similarity.normalize(col(vecCol)).as("vec"),
      Similarity.hyperplaneBucket(col(vecCol), planes).as("bucket"))
      // AQE-exempt repartition on the blocking key — the expanding
      // self-join must not coalesce onto a couple of partitions (the
      // [[semanticDedup]] sf10 finding)
      .repartition(emb.sparkSession.sessionState.conf.numShufflePartitions,
        col("bucket"))
    val l = withBucket.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val r = withBucket.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.dot(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---- oracled minhash (cross-engine-exact hash family) ---------------

  /** Minhash over the ORACLED hash family: shingles are hashed with the
    * same mod-(2^61-1) polynomial rolling hash that q38b proved
    * cross-engine-exact (`TextOps.fingerprint64`), and the k "random"
    * permutations are affine maps g_j(h) = ((2j+1)·h + 999983·j) mod p
    * over the same Mersenne prime. Everything is integer arithmetic, so
    * DuckDB replays the full signature (HUGEINT list_reduce per shingle
    * + the affine min per permutation) bit-exactly — this is the oracle
    * twin of [[minhashSignature]], whose MurmurHash3 kernel has no
    * cross-engine expression. Same normalization contract as q38b:
    * lower → trim → collapse whitespace (BMP text; see SCALE.md).
    *
    * Scale shape is identical to the production kernel: one row-local
    * pass per document (each shingle hashed once, k affine updates),
    * no shuffle until the caller aggregates.
    */
  private val oracleSignatureUdf = udf {
    (text: String, numHashes: Int, shingleWidth: Int) =>
      if (text == null) null
      else {
        val hs = Mod61.shingleHashes(text, shingleWidth)
        if (hs == null) null
        else {
          val sig = Array.fill(numHashes)(Long.MaxValue)
          var i = 0
          while (i < hs.length) {
            val h = hs(i)
            var j = 0
            while (j < numHashes) {
              val g = (Mod61.mulMod(2L * j + 1L, h) + j * 999983L) % Mod61.MOD
              if (g < sig(j)) sig(j) = g
              j += 1
            }
            i += 1
          }
          sig.toSeq
        }
      }
  }

  /** Exploded oracled signatures: (idCol, j, minhash) — one row per
    * document per permutation. Fully DuckDB-hash-matched (q34d).
    */
  def oracleMinhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleWidth: Int = 3): DataFrame =
    df.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        posexplode(oracleSignatureUdf(col(textCol), lit(numHashes), lit(shingleWidth)))
          .as(Seq("j", "minhash")))

  /** Banded-LSH candidate pairs over the oracled signatures: band key is
    * the in-band signature values joined as a string (no re-hash — the
    * key stays cross-engine-exact), pairs are the distinct (a < b) doc
    * ids sharing any band key. This oracles the ENTIRE production LSH
    * path shape — signature, banding, bucket equi-join — end to end
    * (q34e). Cost is the production cost: O(docs × bands) index rows,
    * one bucket-key shuffle, never all-pairs.
    */
  /** The banded index over the ORACLE hash family — the q34e candidate
    * join and the q34f coverage metric both read this one shape.
    */
  def oracleBandedIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleWidth: Int = 3, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    oracleMinhashSignatures(df, idCol, textCol, numHashes, shingleWidth)
      .withColumn("band", expr(s"j div $rows"))
      .groupBy(col(idCol), col("band"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(j, minhash))), x -> cast(x.minhash as string))"),
        "_").as("bkey"))
  }

  def oracleLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleWidth: Int = 3, bands: Int = 4): DataFrame = {
    // persist the banded index so both self-join legs reuse ONE
    // signature pass over the corpus (same rationale as minhashPairs:
    // the index is bands rows of one string per doc, tiny next to the
    // text; recomputable lineage beats localCheckpoint on executor loss)
    val banded = oracleBandedIndex(df, idCol, textCol, numHashes,
      shingleWidth, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("band"), col("bkey"), col(idCol).as("doc_a"))
    val b = banded.select(col("band"), col("bkey"), col(idCol).as("doc_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** LSH dedup EVALUATION — precision/recall of the banded-LSH
    * candidate generator against exact blocked Jaccard ground truth
    * (the q91-for-ANN analogue, for dedup): truth = same-block pairs
    * with token-set Jaccard ≥ `jaccardThreshold`; candidates = the
    * oracle-hash LSH pairs restricted to the same universe (same
    * block). n_hit/n_candidates and n_hit/n_truth are each ONE IEEE
    * division of integers, so even the float metrics replay bit-exact
    * cross-engine (q34g). This is the tuning-loop metric every LSH
    * deployment watches when picking bands/hashes vs a threshold.
    */
  /** Distinct shingle hashes per doc, sorted — the exact sets the
    * minhash signatures summarize, in the oracle hash family.
    */
  private val oracleShingleSetUdf = udf {
    (text: String, shingleWidth: Int) =>
      if (text == null) null
      else {
        val hs = Mod61.shingleHashes(text, shingleWidth)
        if (hs == null) null else { java.util.Arrays.sort(hs); hs }
      }
  }

  /** The ground-truth side is a within-block all-pairs self-join —
    * O(blockSize²) by nature. `maxBlockSize` bounds it: each block is
    * deterministically capped to its first `maxBlockSize` docs in
    * (md5(id), id) order — a partitioning-independent, cross-engine
    * replayable sample — and BOTH truth and candidate sides run over the
    * same capped universe, so precision/recall stay coherent. The shed
    * volume is reported in-band (`n_docs_shed`, `n_pairs_shed` = Σ per
    * block of C(n,2) − C(cap,2)), the [[bucketCoverage]] contract: a
    * capped evaluation SAYS it is capped instead of silently reading as
    * exhaustive. Per-block cost is ≤ cap², so the evaluation scales
    * linearly in block COUNT no matter how skewed block sizes get.
    */
  def oracleLshEval(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, jaccardThreshold: Double, numHashes: Int = 16,
      shingleWidth: Int = 3, bands: Int = 4,
      maxBlockSize: Int = 1000): DataFrame = {
    require(maxBlockSize >= 2,
      s"maxBlockSize=$maxBlockSize leaves no pairs to evaluate")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    // The capped universe feeds FOUR consumers (truth sets, both
    // candidate source-lookup legs, and the banded index inside
    // oracleLshPairs) — persist it so the row_number shuffle and scan
    // run once, not per consumer.
    val capped = df
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBlockSize)
      .drop("__rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capL = maxBlockSize.toLong
    val shed = df.groupBy(col(blockCol)).agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(when(col("__n") > capL, col("__n") - capL)), lit(0L))
          .as("n_docs_shed"),
        coalesce(sum(when(col("__n") > capL,
            shiftright(col("__n") * (col("__n") - 1) -
              lit(capL * (capL - 1)), 1))), lit(0L))
          .as("n_pairs_shed"))
    // ground truth over SHINGLE sets — the similarity minhash actually
    // approximates (token-set Jaccard is a different duplicate notion:
    // two random orderings of one vocabulary are token-identical but
    // share no shingles)
    // the shingle-set UDF (per-doc full-text hashing, the truth side's
    // CPU hotspot) feeds BOTH legs of the self-join below — without a
    // persist each leg re-evaluates it over the whole capped corpus
    // (guide §1.2 per-task work: r20 profile showed it as the largest
    // CPU group in q34g). Persisted like the banded index in
    // oracleLshPairs; the sets are longs-only, tiny next to the text.
    val sets = capped.select(col(blockCol).as("__blk"), col(idCol),
        oracleShingleSetUdf(col(textCol), lit(shingleWidth)).as("__hs"))
      .filter(col("__hs").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sets.select(col("__blk"), col(idCol).as("id_a"),
      col("__hs").as("__ha"))
    val b = sets.select(col("__blk"), col(idCol).as("id_b"),
      col("__hs").as("__hb"))
    val truth = a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      // length prefilter (semantics-preserving, oracle untouched):
      // J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so a pair can only reach the
      // threshold when the smaller set is at least t× the larger — the
      // classic size-ratio bound skips the expensive intersection for
      // most pairs. The −1 slack keeps boundary pairs regardless of
      // float rounding; survivors still face the exact test below.
      .filter(
        least(size(col("__ha")), size(col("__hb"))).cast("double") >=
          lit(jaccardThreshold) *
            greatest(size(col("__ha")), size(col("__hb"))).cast("double")
            - 1.0)
      .withColumn("__i", org.apache.spark.sql.graft.VectorExpressions
        .intersectCardinality(col("__ha"), col("__hb")).cast("double"))
      .filter(col("__i") >=
        lit(jaccardThreshold) *
          (size(col("__ha")) + size(col("__hb")) - col("__i")))
      .select(col("id_a"), col("id_b"))
    val srcA = capped.select(col(idCol).as("id_a"), col(blockCol).as("__sa"))
    val srcB = capped.select(col(idCol).as("id_b"), col(blockCol).as("__sb"))
    val cand = oracleLshPairs(capped, idCol, textCol, numHashes,
        shingleWidth, bands)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      .join(srcA, Seq("id_a")).join(srcB, Seq("id_b"))
      .filter(col("__sa") === col("__sb"))
      .select(col("id_a"), col("id_b"))
    // ONE job counts truth, candidates, and their overlap: both sides
    // are unique on (id_a, id_b), so a 1:1 full-outer join tags each
    // pair as truth-only / cand-only / both, and three sums replace the
    // former intersect + three separate count jobs — each of which
    // re-derived the truth/cand lineage from scratch (the round-10
    // bench hotspot: this query alone was 8% of the suite).
    val counts = truth.withColumn("__t", lit(1L))
      .join(cand.withColumn("__c", lit(1L)), Seq("id_a", "id_b"),
        "full_outer")
      .agg(
        coalesce(sum(col("__t")), lit(0L)).as("n_truth"),
        coalesce(sum(col("__c")), lit(0L)).as("n_candidates"),
        coalesce(sum(col("__t") * col("__c")), lit(0L)).as("n_hit"))
    counts.crossJoin(shed)
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        // NULL, not DIVIDE_BY_ZERO, on a corpus with no candidate or
        // no truth pairs (the oracle SQL's NULLIF)
        (col("n_hit").cast("double") / nullif(col("n_candidates"), lit(0L)))
          .as("precision"),
        (col("n_hit").cast("double") / nullif(col("n_truth"), lit(0L)))
          .as("recall"),
        col("n_docs_shed"), col("n_pairs_shed"))
  }

  /** ORACLED cap-coverage metric (the q34c contract over the oracle
    * hash family): the same [[bucketCoverage]] aggregation the
    * production guard runs, on the q34e banded index — every output an
    * integer, DuckDB-replayable end to end.
    */
  def oracleLshCoverage(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleWidth: Int = 3, bands: Int = 4,
      maxBucketSize: Int = 100): DataFrame =
    bucketCoverage(
      oracleBandedIndex(df, idCol, textCol, numHashes, shingleWidth, bands),
      Seq("band", "bkey"), maxBucketSize)

  // ------------------------------------------------- exact substrings

  /** Hashes of the k-char windows of `text` at stride-spaced positions
    * (0, stride, 2·stride, …; only full windows), in the oracled
    * GF(2^61-1) polynomial family. Texts shorter than k contribute no
    * windows.
    */
  private val windowHashesUdf = udf { (text: String, k: Int, stride: Int) =>
    if (text == null) null
    else {
      val n = text.length
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var p = 0
      while (p + k <= n) {
        out += Mod61.hashString(text.substring(p, p + k))
        p += stride
      }
      out.toArray
    }
  }

  /** CHARACTER-window duplication profile — the ExactSubstr dedup
    * notion of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2021) at the paper's own granularity: long
    * verbatim CHARACTER spans repeated anywhere in the corpus
    * (boilerplate, licenses, templated text) that document-level and
    * near-dup passes both miss. Complements [[TextOps.substringDupStats]]
    * (q73), which works in TOKEN windows at stride 1 and reports
    * per-token coverage: this family samples k-CHAR windows at a
    * STRIDE — the knob that makes a 100 TB pass affordable (work is
    * O(corpus_chars / stride)) — and adds the corpus-wide top-N view.
    * The paper builds a single-node suffix array; the distributed
    * re-expression is a hash-shingle shuffle, with a window counted as
    * DUPLICATED when its content occurs at more than one window site
    * corpus-wide (other docs or self-repetition alike).
    *
    * Output: one row per document with ≥1 window (`len(text) ≥ k`):
    * `(idCol, n_windows, n_dup_windows, dup_ratio)` — integers plus one
    * IEEE division, so the whole profile replays exactly in SQL.
    *
    * 100 TB shape: windows are O(corpus_chars / stride) map-side rows;
    * the site count is one hash-shuffled aggregation WITH map-side
    * partial combine; the count join back to window sites is
    * co-partitioned on the same hash key (no extra shuffle on the big
    * side — each window row matches exactly ONE count row, so a
    * boilerplate mega-window skews only the count row's popularity, not
    * the join fan-out); the per-doc rollup is the one remaining
    * shuffle. 61-bit hashes make cross-content collisions negligible
    * (documented probabilistic contract; the oracle replays the SAME
    * hashes, so the gate is exact regardless).
    */
  def charWindowDupStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40, stride: Int = 10): DataFrame = {
    require(k >= 2, s"window k=$k must be >= 2")
    require(stride >= 1, s"stride=$stride must be >= 1")
    val win = df
      .select(col(idCol),
        explode(windowHashesUdf(col(textCol), lit(k), lit(stride))).as("__h"))
    val sites = win.groupBy(col("__h"))
      .agg(count(lit(1)).as("__sites"))
    win.join(sites, Seq("__h"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("__sites") > 1L, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows"))
  }

  /** The corpus-wide view of the same profile: the `topN` most-repeated
    * k-char windows by site count (ties broken on the hash), with the
    * number of distinct documents they appear in — the "what IS this
    * boilerplate" inspection query next to [[substringDupStats]]'s
    * per-doc ratios. All integers; fully oracled.
    */
  def charWindowDupTop(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40, stride: Int = 10, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN=$topN must be >= 1")
    df.select(col(idCol),
        explode(windowHashesUdf(col(textCol), lit(k), lit(stride))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("sites"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("sites") > 1L)
      .orderBy(col("sites").desc, col("h").asc)
      .limit(topN)
  }
}

/** Exact arithmetic over GF(2^61-1) shared by the oracled hash family
  * (fingerprint q38b, minhash q34d/q34e, simhash q35c). The Mersenne
  * prime makes the 128-bit product reducible with shifts only:
  * 2^64 ≡ 8, 2^61 ≡ 1 (mod p).
  */
private[operators] object Mod61 {
  val MOD: Long = (1L << 61) - 1

  /** (a·b) mod (2^61-1) for 0 ≤ a,b < 2^61, via the exact 128-bit
    * product: product = hi·2^64 + lo ≡ hi·8 + (lo >>> 61) + (lo & MOD).
    */
  def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = hi * 8 + (lo >>> 61) + (lo & MOD)
    if (r >= MOD) r -= MOD
    if (r >= MOD) r -= MOD
    r
  }

  /** The q38b polynomial rolling hash: fold (acc·1000003 + char) mod p
    * over UTF-16 code units (== code points on BMP text — the
    * documented cross-engine contract vs DuckDB's per-code-point
    * string_split).
    */
  def hashString(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (mulMod(h, 1000003L) + s.charAt(i)) % MOD
      i += 1
    }
    h
  }

  /** B^e mod p for the rolling-hash base, table-backed for the token
    * lengths real text has (chained multiplies past the table).
    */
  private val PowB: Array[Long] = {
    val a = new Array[Long](4096)
    a(0) = 1L
    var i = 1
    while (i < a.length) { a(i) = mulMod(a(i - 1), 1000003L); i += 1 }
    a
  }
  private def powB(e: Int): Long =
    if (e < PowB.length) PowB(e)
    else {
      var r = 1L
      var k = e
      while (k >= PowB.length) {
        r = mulMod(r, PowB(PowB.length - 1)); k -= PowB.length - 1
      }
      mulMod(r, PowB(k))
    }

  /** DISTINCT shingle hashes of `text` under the oracle contract
    * (lower → trim → collapse whitespace → width-token shingles joined
    * by ' ' → q38b polynomial hash), WITHOUT materializing a string
    * per shingle: `h(a ⧺ ' ' ⧺ b) = h(a)·B^{len(b)+1} + ' '·B^{len(b)}
    * + h(b) (mod p)`, so per-token hashes computed once fold into each
    * shingle in O(width) mulMods instead of re-hashing every character
    * ~width times — and the dedup set holds longs, not freshly built
    * strings (guide §1.2 per-task work; the r19 q34g profile put ~7 s
    * CPU/run in this kernel). Distinct-by-hash equals the oracle's
    * DISTINCT-by-shingle-string downstream: equal strings share a
    * hash, and a colliding distinct pair contributes identically to
    * every consumer (minhash g_j(h), set intersection, banding all
    * read only h) on BOTH engines. Pinned against the string path in
    * PipelineSpec ("shingleHashes ≡ per-string hashing").
    * Returns null for null/blank text (the callers' filter contract).
    */
  def shingleHashes(text: String, width: Int): Array[Long] = {
    if (text == null) return null
    val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
    if (norm.isEmpty) return null
    val tk = norm.split(" ")
    val n = tk.length
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = hashString(tk(i)); i += 1 }
    val w = math.min(width, n)
    val nSh = if (n < width) 1 else n - width + 1
    val seen = new java.util.HashSet[java.lang.Long](nSh * 2)
    val out = new Array[Long](nSh)
    var m = 0
    var s0 = 0
    while (s0 < nSh) {
      var h = th(s0)
      var j = s0 + 1
      while (j < s0 + w) {
        val lb = tk(j).length
        // three addends each < 2^61: no overflow before the mod
        h = (mulMod(h, powB(lb + 1)) + mulMod(32L, powB(lb)) + th(j)) % MOD
        j += 1
      }
      if (seen.add(h)) { out(m) = h; m += 1 }
      s0 += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }
}
