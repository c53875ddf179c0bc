package graft.queries

import org.apache.spark.sql.functions._
import Q._
import graft.operators.{Dedup, Multimodal, Similarity, TextOps}

/** Training-data pipeline operators over the documents/embeddings
  * tables: dedup (exact, Jaccard, MinHash-LSH, SimHash, embedding),
  * similarity search, text analysis, multimodal plumbing.
  *
  * Oracle coverage: everything integer-exact reproduces in DuckDB —
  * counts/ratios, blocked Jaccard, the 61-bit oracle hash family
  * (q34d/e, q35c, q38b), gear-hash chunking (q80, recursive HUGEINT
  * walk) and BPE train/apply (q68/q68b, unrolled MATERIALIZED CTEs).
  * The 17 remaining rows-only entries are xxhash64/murmur3
  * fingerprints and float cosine/log scores (no cross-engine twin by
  * design — each has an oracled integer companion where one exists:
  * q23b, q34d/e, q35c, q38b, q39b, q40c, q69b, q70b, q72b, q83b) and
  * are covered by PipelineSpec instead.
  */
object PipelineQueries {

  private val stop = Seq("the", "a")

  /** DuckDB replay of [[graft.operators.Bpe.train]] (numMerges rounds,
    * minPairFreq = 2): generated, not hand-written, because each round
    * is the same three CTEs — overlapping pair counts, argmax with the
    * (freq desc, a, b) tie-break, greedy merge apply. The merge apply
    * is windowed, not sequential: for a ≠ b adjacent matches cannot
    * overlap, and for a == b greedy left-to-right merges land exactly
    * at even offsets within each maximal run of a's. An early stop
    * (best freq < 2) yields an empty bestK, which empties every later
    * level — the same truncation the trainer performs.
    */
  private def bpeChainSql(rounds: Int): String = {
    def round(k: Int): String =
      s"""pc$k AS MATERIALIZED (
         |  SELECT syms[p] AS a, syms[p+1] AS b, SUM(n)::BIGINT AS freq
         |  FROM lvl$k, UNNEST(range(1, len(syms))) AS u(p)
         |  GROUP BY 1, 2
         |),
         |best$k AS (SELECT a, b, freq FROM pc$k WHERE freq >= 2
         |           ORDER BY freq DESC, a, b LIMIT 1),
         |lvl${k + 1} AS MATERIALIZED (
         |  SELECT w, list(sym ORDER BY p) AS syms, MIN(n) AS n
         |  FROM (
         |    SELECT w, n, p, CASE WHEN m THEN s || s2 ELSE s END AS sym, m,
         |           lag(m, 1, FALSE) OVER (PARTITION BY w ORDER BY p) AS pm
         |    FROM (
         |      SELECT e.w, e.n, e.p, e.s, e.s2,
         |             (e.s = x.a AND e.s2 IS NOT DISTINCT FROM x.b AND
         |              (x.a <> x.b OR (e.p - MIN(e.p) OVER
         |                 (PARTITION BY e.w, e.s, e.p - e.rn)) % 2 = 0)) AS m
         |      FROM (
         |        SELECT l.w, l.n, u.p, l.syms[u.p] AS s,
         |               CASE WHEN u.p < len(l.syms) THEN l.syms[u.p+1] END AS s2,
         |               ROW_NUMBER() OVER (PARTITION BY l.w, l.syms[u.p]
         |                                  ORDER BY u.p) AS rn
         |        FROM lvl$k l, UNNEST(range(1, len(l.syms)+1)) AS u(p)
         |      ) e CROSS JOIN best$k x
         |    )
         |  )
         |  WHERE NOT pm
         |  GROUP BY w
         |)""".stripMargin
    val lvl0 =
      """WITH
        |lvl0 AS MATERIALIZED (
        |  SELECT w, string_split(w, '') AS syms, COUNT(*)::BIGINT AS n
        |  FROM (
        |    SELECT unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS w
        |    FROM documents WHERE text IS NOT NULL
        |  ) WHERE w <> '' GROUP BY w
        |)""".stripMargin
    (lvl0 +: (0 until rounds).map(round)).mkString(",\n")
  }

  private def bpeOracleSql(rounds: Int): String = {
    val sel = (0 until rounds)
      .map(k => s"SELECT ${k + 1} AS rank, a AS left, b AS right, freq FROM best$k")
      .mkString(" UNION ALL ")
    bpeChainSql(rounds) +
      s"""\nSELECT CAST(rank AS INT) AS rank, "left", "right", freq
         |FROM ($sel) ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Bpe.segmentStats]] under the
    * same trained merges: the lvl$rounds table IS the corpus vocabulary
    * segmented by the full merge list (rank-priority apply ==
    * sequential training passes for greedily-learned merges), so
    * per-doc subword counts are one token-to-vocab join away.
    */
  private def bpeSegmentOracleSql(rounds: Int): String =
    bpeChainSql(rounds) +
      s""",
         |seg AS (SELECT w, len(syms)::BIGINT AS k FROM lvl$rounds),
         |tok AS (
         |  SELECT doc_id,
         |    unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS w
         |  FROM documents WHERE text IS NOT NULL
         |)
         |SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
         |       SUM(s.k)::BIGINT AS n_subwords
         |FROM tok t JOIN seg s ON s.w = t.w GROUP BY t.doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Exact dedup by digest — hash-groupBy, one shuffle
    QueryDef("q32_dedup_exact",
      """SELECT md5(text) AS digest, COUNT(*) AS n, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
    },

    // Blocked token-set Jaccard near-dup pairs (exact verifier)
    QueryDef("q33_jaccard_pairs",
      """WITH toks AS (
        |  SELECT source, doc_id,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |)
        |SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        |    / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) AS jac
        |FROM toks a JOIN toks b ON a.source = b.source
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(a.tok) AS DOUBLE) >= 0.8 * len(b.tok)
        |  AND CAST(len(b.tok) AS DOUBLE) >= 0.8 * len(a.tok)
        |  AND CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        |    / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", "source", threshold = 0.8)
    },

    // Near-dup CLUSTERING: connected components over the q33 pair graph
    // (the step after pair generation — each component is one duplicate
    // cluster, min id = canonical doc). Spark: hash-min label
    // propagation; oracle: DuckDB recursive transitive closure.
    QueryDef("q48_dedup_components",
      """WITH RECURSIVE toks AS (
        |  SELECT source, doc_id,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |),
        |edges AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM toks a JOIN toks b ON a.source = b.source
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(a.tok) AS DOUBLE) >= 0.8 * len(b.tok)
        |    AND CAST(len(b.tok) AS DOUBLE) >= 0.8 * len(a.tok)
        |    AND CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        |      / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8
        |),
        |sym AS (
        |  SELECT id_a AS a, id_b AS b FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        |)
        |SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
        |FROM reach GROUP BY a""".stripMargin) { (s, dir) =>
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", "source", threshold = 0.8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    },

    // Keep-one canonicalization over the same pair graph: documents
    // surviving near-dup dedup (component roots + singletons)
    QueryDef("q52_canonical_docs",
      """WITH RECURSIVE toks AS (
        |  SELECT source, doc_id,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |),
        |edges AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM toks a JOIN toks b ON a.source = b.source
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(a.tok) AS DOUBLE) >= 0.8 * len(b.tok)
        |    AND CAST(len(b.tok) AS DOUBLE) >= 0.8 * len(a.tok)
        |    AND CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        |      / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8
        |),
        |sym AS (
        |  SELECT id_a AS a, id_b AS b FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        |),
        |drops AS (
        |  SELECT a AS doc_id FROM reach GROUP BY a
        |  HAVING LEAST(a, MIN(b)) <> a
        |)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs,
        "doc_id", "text", "source", threshold = 0.8)
      Dedup.canonicalize(docs, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("source"), col("n_chars"))
    },

    // MinHash + banded LSH candidates (the O(n·bands) scale path).
    // xxhash64 signatures have no DuckDB twin -> rows-only.
    QueryDef.noOracle("q34_minhash_pairs") { (s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, shingleWidth = 3, bands = 4, threshold = 0.25)
    },

    // SimHash fingerprint + Hamming-bucket pairs — rows-only.
    QueryDef.noOracle("q35_simhash_pairs") { (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
    },

    // ORACLED minhash signatures: the q38b rolling hash as shingle hash
    // + affine permutations mod 2^61-1, all integer arithmetic — DuckDB
    // replays the full signature bit-exactly. Oracle twin of q34's
    // MurmurHash3 kernel (same shape, cross-engine-exact hash family).
    QueryDef("q34d_minhash_oracle",
      """WITH norm AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |),
        |shing AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[p:least(p+2, len(tk))], ' ') AS s
        |  FROM norm, UNNEST(range(1, greatest(len(tk)-2, 1)+1)) AS u(p)
        |),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(s, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h
        |  FROM shing
        |)
        |SELECT doc_id, CAST(j AS INT) AS j,
        |  CAST(MIN(((2*j+1)::HUGEINT * h + j*999983) % 2305843009213693951) AS BIGINT) AS minhash
        |FROM hashed CROSS JOIN (SELECT unnest(range(0,16)) AS j) perms
        |GROUP BY doc_id, j""".stripMargin) { (s, dir) =>
      Dedup.oracleMinhashSignatures(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, shingleWidth = 3)
    },

    // ORACLED banded-LSH candidate pairs over the q34d signatures — the
    // ENTIRE production LSH path (signature → band key → bucket
    // equi-join → distinct pairs) hash-matched end to end.
    QueryDef("q34e_lsh_pairs_oracle",
      """WITH norm AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |),
        |shing AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[p:least(p+2, len(tk))], ' ') AS s
        |  FROM norm, UNNEST(range(1, greatest(len(tk)-2, 1)+1)) AS u(p)
        |),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(s, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h
        |  FROM shing
        |),
        |sig AS (
        |  SELECT doc_id, j,
        |    CAST(MIN(((2*j+1)::HUGEINT * h + j*999983) % 2305843009213693951) AS BIGINT) AS minhash
        |  FROM hashed CROSS JOIN (SELECT unnest(range(0,16)) AS j) perms
        |  GROUP BY doc_id, j
        |),
        |banded AS (
        |  SELECT doc_id, j // 4 AS band,
        |    string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY j) AS bkey
        |  FROM sig GROUP BY doc_id, j // 4
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
        |WHERE a.doc_id < b.doc_id""".stripMargin) { (s, dir) =>
      Dedup.oracleLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, shingleWidth = 3, bands = 4)
    },

    // ORACLED 61-bit simhash: strict bitwise majority vote over the
    // q38b token hashes — the oracle twin of q35's 64-bit Murmur
    // simhash. Bit sums replay in DuckDB via (h >> j) & 1.
    QueryDef("q35c_simhash_oracle",
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(t, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS BIGINT) AS h
        |  FROM tok
        |),
        |bits AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(0,61)) AS j) b
        |  GROUP BY doc_id, j
        |)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), TextOps.simhash61Oracle(col("text")).as("simhash"))
    },

    // Mega-bucket COVERAGE contract for the capped LSH/simhash pair
    // generators (q34/q35 parameters): one row per family counting the
    // buckets/index-rows/candidate-pairs the cap dropped — the alerting
    // signal that at scale the guard isn't silently shedding true
    // near-dups. Rows-only (bucket keys hash a UDF signature); planted
    // mega-bucket counts asserted in PipelineSpec.
    QueryDef.noOracle("q34c_lsh_coverage") { (s, dir) =>
      Dedup.minhashCoverage(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 16, shingleWidth = 3, bands = 4)
        .withColumn("family", lit("minhash"))
        .unionByName(
          Dedup.simhashCoverage(t(s, dir, "documents"), "doc_id", "text")
            .withColumn("family", lit("simhash")))
    },

    // ORACLED cap-coverage metric — q34c's exact aggregation over the
    // q34e oracle-hash banded index, cap 1 so every shared bucket
    // registers as dropped: total/dropped buckets, index rows, and
    // Σ n·(n−1)/2 shed candidate pairs, all integers, hash-matched.
    // This pins the GUARD's arithmetic cross-engine; q34c keeps the
    // production (murmur/xxhash) index under ScalaTest planted-bucket
    // checks.
    QueryDef("q34f_lsh_coverage_oracle",
      """WITH norm AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |),
        |shing AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[p:least(p+2, len(tk))], ' ') AS s
        |  FROM norm, UNNEST(range(1, greatest(len(tk)-2, 1)+1)) AS u(p)
        |),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(s, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h
        |  FROM shing
        |),
        |sig AS (
        |  SELECT doc_id, j,
        |    CAST(MIN(((2*j+1)::HUGEINT * h + j*999983) % 2305843009213693951) AS BIGINT) AS minhash
        |  FROM hashed CROSS JOIN (SELECT unnest(range(0,16)) AS j) perms
        |  GROUP BY doc_id, j
        |),
        |banded AS (
        |  SELECT doc_id, j // 4 AS band,
        |    string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY j) AS bkey
        |  FROM sig GROUP BY doc_id, j // 4
        |),
        |bsz AS (
        |  SELECT band, bkey, COUNT(*) AS n FROM banded GROUP BY band, bkey
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS total_buckets,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
        |  CAST(SUM(n) AS BIGINT) AS index_rows,
        |  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dropped_index_rows,
        |  CAST(SUM(CASE WHEN n > 1 THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT)
        |    AS dropped_candidate_pairs
        |FROM bsz""".stripMargin) { (s, dir) =>
      Dedup.oracleLshCoverage(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, shingleWidth = 3, bands = 4, maxBucketSize = 1)
    },

    // ORACLED LSH dedup EVALUATION — the q91-for-ANN analogue: the
    // banded-LSH candidate generator's precision/recall against exact
    // same-source SHINGLE-Jaccard ground truth at 0.5 (the similarity
    // minhash actually approximates — token-set Jaccard is a different
    // duplicate notion: two random orderings of one vocabulary are
    // token-identical yet share no shingles, a distinction this very
    // harness surfaced during development). Counts + single-division
    // float metrics all hash-matched (one IEEE division each is
    // bit-exact cross-engine). The tuning-loop readout for picking
    // bands/hashes against a target threshold. The quadratic truth side
    // is bounded: blocks are capped at 1000 docs via a deterministic
    // (md5(id), id)-order sample mirrored in this SQL, with shed doc/pair
    // volume reported in-band (zero at every test SF — the cap exists
    // for the skewed-block case a 100× corpus would hit).
    QueryDef("q34g_lsh_eval_oracle",
      """WITH ranked AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |),
        |samp AS (SELECT doc_id FROM ranked WHERE rn <= 1000),
        |shed AS (
        |  SELECT
        |    CAST(COALESCE(SUM(CASE WHEN n > 1000 THEN n - 1000 ELSE 0 END), 0)
        |      AS BIGINT) AS n_docs_shed,
        |    CAST(COALESCE(SUM(CASE WHEN n > 1000
        |      THEN (n * (n - 1) - 1000 * 999) // 2 ELSE 0 END), 0)
        |      AS BIGINT) AS n_pairs_shed
        |  FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
        |),
        |norm AS (
        |  SELECT d.doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents d JOIN samp USING (doc_id)
        |  WHERE text IS NOT NULL AND trim(text) <> ''
        |),
        |shing AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[p:least(p+2, len(tk))], ' ') AS s
        |  FROM norm, UNNEST(range(1, greatest(len(tk)-2, 1)+1)) AS u(p)
        |),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(s, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h
        |  FROM shing
        |),
        |sets AS (
        |  SELECT doc_id, list_distinct(list(h)) AS hs
        |  FROM hashed GROUP BY doc_id
        |),
        |setsrc AS (
        |  SELECT s.doc_id, d.source, s.hs
        |  FROM sets s JOIN documents d USING (doc_id)
        |),
        |truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM setsrc a JOIN setsrc b ON a.source = b.source
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
        |      / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.5
        |),
        |sig AS (
        |  SELECT doc_id, j,
        |    CAST(MIN(((2*j+1)::HUGEINT * h + j*999983) % 2305843009213693951) AS BIGINT) AS minhash
        |  FROM hashed CROSS JOIN (SELECT unnest(range(0,16)) AS j) perms
        |  GROUP BY doc_id, j
        |),
        |banded AS (
        |  SELECT doc_id, j // 4 AS band,
        |    string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY j) AS bkey
        |  FROM sig GROUP BY doc_id, j // 4
        |),
        |cand0 AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id
        |),
        |src AS (SELECT d.doc_id, d.source FROM documents d JOIN samp USING (doc_id)),
        |cand AS (
        |  SELECT c.id_a, c.id_b FROM cand0 c
        |  JOIN src sa ON c.id_a = sa.doc_id
        |  JOIN src sb ON c.id_b = sb.doc_id
        |  WHERE sa.source = sb.source
        |),
        |hit AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
        |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
        |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
        |  CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        |    / NULLIF((SELECT COUNT(*) FROM cand), 0) AS precision,
        |  CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        |    / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall,
        |  (SELECT n_docs_shed FROM shed) AS n_docs_shed,
        |  (SELECT n_pairs_shed FROM shed) AS n_pairs_shed""".stripMargin) {
      (s, dir) =>
      Dedup.oracleLshEval(t(s, dir, "documents"), "doc_id", "text",
        "source", jaccardThreshold = 0.5, maxBlockSize = 1000)
    },

    // Token counting + quality metrics (all integer-exact or
    // double-of-identical-ints => oracle-checkable)
    QueryDef("q36_text_quality",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |       + FLOOR((length(text) + 3) / 4) AS BIGINT) AS token_estimate,
        |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |       x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.tokenEstimate(col("text")).as("token_estimate"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.stopwordRatio(col("text"), stop).as("stop_ratio"))
    },

    // Same search through a materialized INVERTED INDEX (the at-scale
    // path q36b's scan predicate stands in for): posting-list
    // intersection + anti-join exclusion, O(touched postings) not
    // O(corpus). Same oracle as q36b by construction.
    QueryDef("q36c_fulltext_indexed",
      """SELECT doc_id, n_chars
        |FROM documents
        |WHERE list_has_all(regexp_split_to_array(trim(text), '\s+'),
        |                   ['spark', 'window', 'stream'])
        |  AND NOT list_contains(regexp_split_to_array(trim(text), '\s+'), 'slow')""".stripMargin) { (s, dir) =>
      import graft.operators.TextOps
      val docs = t(s, dir, "documents")
      val idx = TextOps.invertedIndex(docs, "doc_id", "text")
      val hits = TextOps.searchAll(idx, Seq("spark", "window", "stream"))
        .join(idx.filter(col("token") === "slow").select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      docs.join(hits, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("n_chars"))
    },

    // Within-doc n-gram repetition metrics (Gopher-style quality
    // filters): duplicate 2/3-gram instance fractions + the most
    // frequent 2-gram per doc. Integer-count math over identical
    // tokenization => fully oracled.
    QueryDef("q53_repetition",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |  FROM documents
        |),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tok) < 2 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 1),
        |                             i -> array_to_string(tok[i:i+1], ' ')) END AS g2,
        |    CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 2),
        |                             i -> array_to_string(tok[i:i+2], ' ')) END AS g3
        |  FROM tok
        |),
        |fracs AS (
        |  SELECT doc_id,
        |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup2_fraction,
        |    CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup3_fraction
        |  FROM grams
        |),
        |counts AS (
        |  SELECT doc_id, gram, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, unnest(g2) AS gram FROM grams)
        |  GROUP BY doc_id, gram
        |),
        |top AS (
        |  SELECT doc_id, gram AS top_gram, cnt AS top_n,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
        |  FROM counts
        |),
        |totals AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams FROM counts GROUP BY doc_id
        |)
        |SELECT f.doc_id, f.dup2_fraction, f.dup3_fraction,
        |  t.top_gram, CAST(t.top_n AS BIGINT) AS top_n, tl.n_grams,
        |  CAST(t.top_n AS DOUBLE) / tl.n_grams AS top_fraction
        |FROM fracs f
        |JOIN top t ON f.doc_id = t.doc_id AND t.rn = 1
        |JOIN totals tl ON f.doc_id = tl.doc_id""".stripMargin) { (s, dir) =>
      // every output is row-local -> ONE map-only UDF pass, zero exchanges
      TextOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text",
        nTop = 2, nDup = 3)
    },

    // CORPUS-level duplicate n-gram fraction (RefinedWeb-style): how
    // much of each doc's 5-gram content appears in >=2 docs. The Spark
    // side runs the production path (xxhash64'd gram keys); fractions
    // are hash-free so the oracle matches exactly.
    QueryDef("q54_ngram_corpus_dedup",
      """WITH grams AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 4),
        |                             i -> array_to_string(tok[i:i+4], ' ')) END) AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |        FROM documents)
        |),
        |df AS (
        |  SELECT gram, COUNT(DISTINCT doc_id) AS docs FROM grams GROUP BY gram
        |)
        |SELECT g.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN df.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST(SUM(CASE WHEN df.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS shared_fraction
        |FROM grams g JOIN df ON g.gram = df.gram
        |GROUP BY g.doc_id""".stripMargin) { (s, dir) =>
      TextOps.corpusDupNgramStats(t(s, dir, "documents"), "doc_id", "text",
        n = 5, hashGrams = true)
    },

    // Benchmark DECONTAMINATION: docs with doc_id % 97 == 0 stand in
    // for the eval set; every other doc is flagged when it shares any
    // 5-gram with that set. Spark side: distinct eval shingles
    // broadcast against the corpus shingle stream (hashed keys).
    QueryDef("q55_decontaminate",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |  FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 4),
        |                             i -> array_to_string(tok[i:i+4], ' ')) END)) AS gram
        |  FROM tok
        |),
        |eval_grams AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
        |),
        |shared AS (
        |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |  FROM grams g JOIN eval_grams e ON g.gram = e.gram
        |  WHERE g.doc_id % 97 <> 0
        |  GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(s.n_shared_grams, 0) AS n_shared_grams,
        |  COALESCE(s.n_shared_grams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
        |WHERE d.doc_id % 97 <> 0""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text",
        n = 5, hashGrams = true)
    },

    // Count-Min Sketch corpus-frequency estimates for eval-set grams —
    // the BOUNDED-MEMORY counting path (Cormode & Muthukrishnan): the
    // hash-aggregate key space is the depth×width cell grid, so per-task
    // state and shuffle volume are capped regardless of corpus size, and
    // the finished sketch broadcasts for map-side lookups. Built on the
    // q38b/q34d mod-(2^61-1) hash family => sketch construction AND
    // point queries replay bit-exactly in DuckDB (est is deterministic,
    // and the output demonstrates est >= exact, the CMS guarantee).
    QueryDef("q86_cms_gram_freq",
      """WITH train AS (
        |  SELECT text FROM documents WHERE doc_id % 97 <> 0 AND text IS NOT NULL
        |),
        |tg AS (
        |  SELECT unnest(
        |    CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 4),
        |                             i -> array_to_string(tok[i:i+4], ' ')) END) AS gram
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS tok FROM train)
        |),
        |th AS (
        |  SELECT gram, list_reduce(list_prepend(0::HUGEINT,
        |      list_transform(string_split(gram, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h
        |  FROM tg
        |),
        |ds AS (SELECT unnest(range(0, 4)) AS d),
        |cells AS (
        |  SELECT CAST(d AS INT) AS d,
        |    CAST(((2*d+1)::HUGEINT * h + d*999983) % 2305843009213693951 % 65536 AS BIGINT) AS cell,
        |    COUNT(*) AS c
        |  FROM th CROSS JOIN ds GROUP BY 1, 2
        |),
        |eg AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 4),
        |                             i -> array_to_string(tok[i:i+4], ' ')) END) AS gram
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS tok
        |        FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL)
        |),
        |eh AS (
        |  SELECT gram, list_reduce(list_prepend(0::HUGEINT,
        |      list_transform(string_split(gram, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h
        |  FROM eg
        |),
        |ec AS (
        |  SELECT gram, CAST(d AS INT) AS d,
        |    CAST(((2*d+1)::HUGEINT * h + d*999983) % 2305843009213693951 % 65536 AS BIGINT) AS cell
        |  FROM eh CROSS JOIN ds
        |),
        |est AS (
        |  SELECT ec.gram, MIN(COALESCE(cells.c, 0)) AS est
        |  FROM ec LEFT JOIN cells ON ec.d = cells.d AND ec.cell = cells.cell
        |  GROUP BY ec.gram
        |),
        |exact AS (SELECT gram, COUNT(*) AS cnt FROM tg GROUP BY gram)
        |SELECT e.gram, CAST(e.est AS BIGINT) AS est,
        |  CAST(COALESCE(x.cnt, 0) AS BIGINT) AS exact
        |FROM est e LEFT JOIN exact x ON e.gram = x.gram""".stripMargin) { (s, dir) =>
      import graft.operators.Sketches
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val sketch = Sketches.cmsBuild(train, "text", n = 5,
        depth = 4, width = 65536)
      val evalGrams = Sketches.gramOccurrences(
        docs.filter(col("doc_id") % 97 === 0), "text", n = 5).distinct()
      val exact = Sketches.gramOccurrences(train, "text", n = 5)
        .groupBy("gram").agg(count(lit(1)).as("__cnt"))
      Sketches.cmsEstimate(sketch, evalGrams, "gram",
          depth = 4, width = 65536)
        .join(exact, Seq("gram"), "left")
        .select(col("gram"), col("est"),
          coalesce(col("__cnt"), lit(0L)).as("exact"))
    },

    // Exact token-length percentiles per source via a bounded histogram
    // (data-card distribution stats). No corpus sort at any scale: the
    // only wide operation is the (source, len) histogram groupBy, whose
    // map-side state is capped by the grid; percentile selection
    // (percentile_disc semantics, integer rule 100·cum >= p·total) runs
    // on the histogram. Fully oracled.
    QueryDef("q87_length_percentiles",
      """WITH hist AS (
        |  SELECT source AS grp,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS len,
        |    COUNT(*) AS cnt
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT grp, len,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY len) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS total
        |  FROM hist
        |)
        |SELECT grp AS source,
        |  MIN(CASE WHEN cum * 100 >= total * 50 THEN len END) AS p50,
        |  MIN(CASE WHEN cum * 100 >= total * 90 THEN len END) AS p90,
        |  MIN(CASE WHEN cum * 100 >= total * 99 THEN len END) AS p99
        |FROM cum GROUP BY grp""".stripMargin) { (s, dir) =>
      TextOps.lengthPercentiles(t(s, dir, "documents"), "source", "text",
        ps = Seq(50, 90, 99))
    },

    // Decontamination via the BLOOM scale path (eval sets too big to
    // broadcast): Bloom-filter pre-prune + exact verify join. Results
    // are bit-identical to q55 by construction (false positives only
    // add exact-join input), so the SAME DuckDB oracle applies — the
    // scale path itself is hash-matched cross-engine.
    QueryDef("q55b_decontaminate_bloom",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |  FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
        |         ELSE list_transform(generate_series(1, len(tok) - 4),
        |                             i -> array_to_string(tok[i:i+4], ' ')) END)) AS gram
        |  FROM tok
        |),
        |eval_grams AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
        |),
        |shared AS (
        |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |  FROM grams g JOIN eval_grams e ON g.gram = e.gram
        |  WHERE g.doc_id % 97 <> 0
        |  GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(s.n_shared_grams, 0) AS n_shared_grams,
        |  COALESCE(s.n_shared_grams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
        |WHERE d.doc_id % 97 <> 0""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text",
        n = 5, expectedGrams = 500000L)
    },

    // Length-bucketed BATCH ASSIGNMENT (training prep): power-of-two
    // token-length buckets (bit length — map-only), batches of 8
    // numbered within (bucket, salt) groups. The salt bounds every
    // window partition, so the plan has no single-partition sort at
    // any scale. Integer-exact => fully oracled.
    QueryDef("q82_length_batches",
      """WITH t AS (
        |  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(length(bin(n_tokens)) AS INT) AS bucket,
        |    CAST(doc_id % 4 AS INT) AS salt
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, bucket, salt,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY bucket, salt ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_id
        |FROM b""".stripMargin) { (s, dir) =>
      TextOps.lengthBatches(t(s, dir, "documents"), "doc_id", "text",
        batchSize = 8, saltGroups = 4)
    },

    // Deterministic EPOCH SHUFFLE (training order): md5(key:epoch) →
    // 256 interleaved buckets, rank within bucket, sparse strictly-
    // ordered shuffle_pos. A pure function of (key, epoch) — same
    // order on every run/partitioning/engine — with NO global sort in
    // the plan (window partitions bounded at ~corpus/256). md5-hex +
    // integer math => fully oracled.
    QueryDef("q84_epoch_shuffle",
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':1') AS hx FROM documents
        |),
        |b AS (
        |  SELECT doc_id, hx,
        |    CAST((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
        |       + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) AS INT) AS bucket
        |  FROM h
        |)
        |SELECT doc_id, bucket,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hx, doc_id) - 1 AS BIGINT) AS rank_in_bucket,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hx, doc_id) - 1) * 256 + bucket AS BIGINT) AS shuffle_pos
        |FROM b""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.epochShuffle(
        t(s, dir, "documents"), "doc_id", epoch = 1)
    },

    // ONNX model inference — the reference's config-declared ONNX UDF
    // surface (dozer-sql/expression/src/onnx/udf.rs) run through graft's
    // pure-JVM runtime (OnnxMini: protobuf wire parse + MLP interpreter).
    // The 64→16→8 classifier head has INTEGER weights from a closed-form
    // rule and scores SQ8-quantized (integer) inputs, so every f32
    // activation is an exact integer < 2^24 — the full network REPLAYS
    // in DuckDB integer arithmetic and the argmax label hash-matches.
    // The query encodes the model to ONNX bytes and re-parses it, so the
    // wire format itself is on the oracled path. Map-only at any scale:
    // the model ships inside the UDF closure (KB-sized), no shuffle.
    QueryDef("q85_onnx_mlp",
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma
        |  FROM embeddings
        |),
        |x AS (
        |  SELECT vec_id, CAST(g AS INT) AS i,
        |    CASE WHEN ma = 0 THEN 0
        |      ELSE CAST(round(CAST(embedding[g + 1] AS DOUBLE) * 127.0 / ma) AS INT)
        |    END AS xi
        |  FROM m, UNNEST(range(len(embedding))) AS t(g)
        |),
        |w1 AS (
        |  SELECT CAST(i.g AS INT) AS i, CAST(j.g AS INT) AS j,
        |    ((i.g * 7 + j.g * 3) % 5) - 2 AS w
        |  FROM UNNEST(range(64)) i(g), UNNEST(range(16)) j(g)
        |),
        |h AS (
        |  SELECT x.vec_id, w1.j,
        |    GREATEST(0, SUM(x.xi * w1.w) + ((w1.j % 3) - 1)) AS hj
        |  FROM x JOIN w1 ON x.i = w1.i GROUP BY x.vec_id, w1.j
        |),
        |w2 AS (
        |  SELECT CAST(j.g AS INT) AS j, CAST(k.g AS INT) AS k,
        |    ((j.g * 5 + k.g * 11) % 7) - 3 AS w
        |  FROM UNNEST(range(16)) j(g), UNNEST(range(8)) k(g)
        |),
        |lg AS (
        |  SELECT h.vec_id, w2.k, SUM(h.hj * w2.w) AS lk
        |  FROM h JOIN w2 ON h.j = w2.j GROUP BY h.vec_id, w2.k
        |)
        |SELECT vec_id, CAST(k AS INT) AS label FROM (
        |  SELECT vec_id, k,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY lk DESC, k) AS rn
        |  FROM lg) WHERE rn = 1""".stripMargin) { (s, dir) =>
      import graft.functions.{OnnxMini, OnnxModels}
      OnnxMini.register(s, "graft_q85",
        OnnxMini.parse(OnnxModels.q85Bytes))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.sq8Codes(col("embedding")).as("codes"))
        .select(col("vec_id"),
          expr("graft_q85_vec(transform(codes, c -> cast(c AS float)))")
            .cast("int").as("label"))
    },

    // Context-window CHUNKING: split each doc into 32-token windows at
    // stride 16 (training/embedding input prep). Pure tokenize + slice
    // math => fully oracled.
    QueryDef("q58_chunking",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |  FROM documents
        |),
        |starts AS (
        |  SELECT doc_id, tok, unnest(generate_series(1, len(tok), 16)) AS s
        |  FROM tok
        |)
        |SELECT doc_id,
        |  CAST((s - 1) // 16 AS BIGINT) AS chunk_idx,
        |  array_to_string(tok[s:s+31], ' ') AS chunk_text,
        |  CAST(LEAST(32, len(tok) - s + 1) AS BIGINT) AS n_tokens
        |FROM starts""".stripMargin) { (s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"), col("n_tokens"))
    },

    // CCNet-style corpus SPAN DEDUP: 16-token spans, first occurrence
    // (by doc_id, position) survives corpus-wide, docs reassembled from
    // their kept spans. The keep-first decision keys on span equality
    // (Spark distributes by the span's 64-bit hash; the oracle
    // partitions by the span text itself — same decision) => oracled.
    QueryDef("q64_span_dedup",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |  FROM documents
        |),
        |spans AS (
        |  SELECT doc_id, CAST((s - 1) // 16 AS INTEGER) AS span_idx,
        |    array_to_string(tok[s:s+15], ' ') AS span
        |  FROM (SELECT doc_id, tok, unnest(generate_series(1, len(tok), 16)) AS s
        |        FROM tok)
        |),
        |first AS (
        |  SELECT doc_id, span_idx, span,
        |    ROW_NUMBER() OVER (PARTITION BY span
        |                       ORDER BY doc_id, span_idx) AS occ
        |  FROM spans
        |)
        |SELECT doc_id,
        |  array_to_string(list(span ORDER BY span_idx), ' ') AS text_dedup,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans_kept
        |FROM first WHERE occ = 1 GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.spanDedup(t(s, dir, "documents"), "doc_id", "text", unit = 16)
    },

    // Concat-and-cut sequence PACKING: lay each source's docs out in
    // doc_id order, cut the token stream every 512 tokens — the
    // pretraining sequence-packing layout. Window-cumsum integer math
    // => fully oracled.
    QueryDef("q59_packing",
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t
        |)
        |SELECT source, doc_id, n_tokens, cum_before,
        |  CAST(cum_before // 512 AS BIGINT) AS seq_idx,
        |  CAST(cum_before % 512 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin) { (s, dir) =>
      TextOps.packSequences(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", "doc_id", "n_tokens", budget = 512)
    },

    // Vocabulary stats — tokenizer/BPE training input: top-50 tokens by
    // total count (deterministic tie-break on the token itself)
    QueryDef("q51_vocab_stats",
      """SELECT token,
        |  CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |)
        |GROUP BY token
        |ORDER BY n_total DESC, token ASC
        |LIMIT 50""".stripMargin) { (s, dir) =>
      graft.operators.TextOps.vocabulary(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("n_total").desc, col("token").asc)
        .limit(50)
    },

    // PII scrubbing: deterministic fake emails/IPs planted per doc, then
    // redacted — regex subset chosen for identical Java/RE2 semantics so
    // the scrubbed text hash-matches the oracle exactly
    QueryDef("q49_pii_scrub",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || doc_id || '@example.com via 10.0.'
        |           || (doc_id % 256) || '.7',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |FROM documents""".stripMargin) { (s, dir) =>
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.operators.TextOps.scrubPii(planted).as("clean"))
    },

    // Full-text keyword search (dozer IndexDefinition::FullText analogue,
    // SURVEY §1.1 — here as a scan-time predicate; at scale the same
    // tokens column backs an inverted index / bloom filter file skip)
    QueryDef("q36b_fulltext",
      """SELECT doc_id, n_chars
        |FROM documents
        |WHERE list_has_all(regexp_split_to_array(trim(text), '\s+'),
        |                   ['spark', 'window', 'stream'])
        |  AND NOT list_contains(regexp_split_to_array(trim(text), '\s+'), 'slow')""".stripMargin) { (s, dir) =>
      val toks = graft.operators.TextOps.tokens(col("text"))
      t(s, dir, "documents")
        .filter(
          forall(array(lit("spark"), lit("window"), lit("stream")),
            term => array_contains(toks, term)) &&
            !array_contains(toks, "slow"))
        .select(col("doc_id"), col("n_chars"))
    },

    // Language-ID marker scoring + argmax (tie -> largest lang code)
    QueryDef("q37_langid",
      """WITH scored AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |        ['the','a','of','and','is','to','in'])) AS en_hits,
        |    len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |        ['der','die','das','und','ist','nicht','ein'])) AS de_hits,
        |    len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |        ['el','la','de','y','es','que','un'])) AS es_hits,
        |    len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |        ['le','la','de','et','est','que','un'])) AS fr_hits,
        |    len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |        ['的','是','了','我','不','在','有'])) AS zh_hits
        |  FROM documents
        |)
        |SELECT doc_id, labeled_lang, en_hits, de_hits, es_hits, fr_hits, zh_hits,
        |  CASE WHEN GREATEST(en_hits, de_hits, es_hits, fr_hits, zh_hits) = 0 THEN 'und'
        |       WHEN zh_hits = GREATEST(en_hits, de_hits, es_hits, fr_hits, zh_hits) THEN 'zh'
        |       WHEN fr_hits = GREATEST(en_hits, de_hits, es_hits, fr_hits, zh_hits) THEN 'fr'
        |       WHEN es_hits = GREATEST(en_hits, de_hits, es_hits, fr_hits, zh_hits) THEN 'es'
        |       WHEN en_hits = GREATEST(en_hits, de_hits, es_hits, fr_hits, zh_hits) THEN 'en'
        |       ELSE 'de' END AS predicted
        |FROM scored""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("lang").as("labeled_lang"),
        TextOps.langHits(col("text"), "en").as("en_hits"),
        TextOps.langHits(col("text"), "de").as("de_hits"),
        TextOps.langHits(col("text"), "es").as("es_hits"),
        TextOps.langHits(col("text"), "fr").as("fr_hits"),
        TextOps.langHits(col("text"), "zh").as("zh_hits"),
        TextOps.langId(col("text")).as("predicted"))
    },

    // 64-bit content fingerprints — rows-only (custom hash)
    QueryDef.noOracle("q38_fingerprint") { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprint64(col("text")).as("fp"),
        TextOps.simhash64(TextOps.tokens(col("text"))).as("simhash"))
    },

    // Rolling-hash fingerprint, fully oracled: the mod-(2^61-1) polynomial
    // recurrence is pure integer arithmetic, so DuckDB replays it exactly
    // with a HUGEINT list_reduce over the normalized character stream.
    // This oracles the custom-hash family that q38 itself (simhash) can't.
    QueryDef("q38b_fingerprint_oracle",
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN trim(text) = '' THEN 0
        |       ELSE CAST(list_reduce(
        |    list_prepend(0::HUGEINT,
        |      list_transform(
        |        string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ''),
        |        c -> ord(c)::HUGEINT)),
        |    (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS BIGINT)
        |  END AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextOps.fingerprint64(col("text")).as("fp"))
    },

    // Brute-force cosine top-5 for 10 query vectors — rows-only
    QueryDef.noOracle("q39_ann_bruteforce") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5)
    },

    // LSH-bucketed ANN — rows-only; recall vs brute force in PipelineSpec
    QueryDef.noOracle("q40_ann_lsh") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5, planes = 4)
    },

    // IVF ANN: centroid-partitioned scale path — rows-only
    QueryDef.noOracle("q40b_ann_ivf") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.operators.Ivf.ivfTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5, nlist = 16, nprobe = 4)
    },

    // Product-quantization ANN: 8-byte codes per vector (vs 4·dim-byte
    // floats), ADC table scan — the memory-compression scale path.
    // Rows-only; ADC-vs-reconstruction invariant + recall in PipelineSpec.
    QueryDef.noOracle("q56_ann_pq") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.Pq.train(emb, "embedding", m = 8, k = 16)
      graft.operators.Pq.adcTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", kNeighbors = 5, model, rerank = 50)
    },

    // IVF-PQ ANN — the production 100 TB shape: coarse cells prune the
    // corpus to nprobe/nlist, PQ codes make the cell scan m bytes per
    // vector, exact rerank touches `rerank` floats per query. Rows-only;
    // recall vs brute force in PipelineSpec.
    QueryDef.noOracle("q72_ann_ivfpq") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.Ivf.trainCentroids(emb, "embedding", nlist = 16)
      val model = graft.operators.Pq.train(emb, "embedding", m = 8, k = 16)
      graft.operators.Pq.ivfAdcTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", kNeighbors = 5, cents, nprobe = 4, model, rerank = 50)
    },

    // Embedding near-dup pairs — rows-only (float cosine); the
    // quantized prefilter stage is fully oracled by the q41c companion.
    QueryDef.noOracle("q41_embedding_neardup") { (s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, planes = 4)
    },

    // ORACLED quantized near-dup prefilter — the SQ8 stage of embedding
    // dedup (integer codes, exact integer dot, integer threshold): the
    // cheap 4x-smaller candidate scan whose survivors the float
    // verifier re-checks. Broadcast-probe shaped (probes x corpus,
    // never all-pairs); every value hash-matches DuckDB.
    QueryDef("q41c_quantized_neardup",
      """WITH m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma,
        |    embedding
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS code
        |  FROM m
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(list_dot_product(a.code, b.code) AS BIGINT) AS sim
        |FROM codes a, codes b
        |WHERE a.vec_id < 50 AND b.vec_id > a.vec_id
        |  AND list_dot_product(a.code, b.code) >= 65000""".stripMargin) {
      (s, dir) =>
      Similarity.sq8NearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", probe = col("vec_id") < 50,
        threshold = 65000L)
    },

    // ORACLED quantized cell dedup — q57's shape with cross-engine-
    // deterministic pieces: md5-prefix cells (16 blocks), exact SQ8
    // integer-dot similarity, dominated-by-lower-id drop rule (one
    // relational pass, no greedy chain — the documented contract
    // delta vs q57's keep-one). Quadratic only within a cell.
    QueryDef("q57b_quantized_cell_dedup",
      """WITH m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma,
        |    embedding
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id, substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) AS cell,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS code
        |  FROM m
        |)
        |SELECT vec_id, cell FROM codes a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM codes b
        |  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
        |    AND list_dot_product(a.code, b.code) >= 55000)""".stripMargin) {
      (s, dir) =>
      Similarity.quantizedCellDedup(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 55000L, cellHexLen = 1)
    },

    // Semantic dedup (SemDeDup-style): trained-cell blocking + cosine
    // keep-one — rows-only (float k-means has no SQL twin); the
    // quantized deterministic twin is fully oracled as q57b.
    QueryDef.noOracle("q57_semantic_dedup") { (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.98, nlist = 16)
        .select(col("vec_id"), col("label"))
    },

    // Deterministic stratified sampling (training-data curation):
    // exactly 30 docs per source, chosen by doc_id order — identical
    // semantics in DuckDB's window formulation
    QueryDef("q41b_stratified_sample",
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 30""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.stratifiedExact(
        t(s, dir, "documents").select(
          col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", n = 30)
    },

    // End-to-end CURATION pipeline — the composition a real training-data
    // run executes: hygiene filter (alpha ratio + token bounds) → exact
    // dedup (min doc per content digest) → per-source stratified sample.
    // Every stage is an already-oracled operator; this proves they
    // compose without breaking cross-engine determinism.
    QueryDef("q50_curation",
      """WITH hygiene AS (
        |  SELECT doc_id, source, n_chars, text FROM documents
        |  WHERE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
        |          / length(text) >= 0.5
        |    AND len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5 AND 2000
        |),
        |dedup AS (
        |  SELECT * FROM hygiene
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM hygiene GROUP BY md5(text))
        |),
        |ranked AS (
        |  SELECT doc_id, source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM dedup
        |)
        |SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 20""".stripMargin) { (s, dir) =>
      import graft.operators.{Sampling, TextOps}
      val hygiene = t(s, dir, "documents")
        .filter(TextOps.alphaRatio(col("text")) >= 0.5 &&
          TextOps.tokenCount(col("text")).between(5, 2000))
      // reuse the oracled exact-dedup operator (q32) for the digest stage
      val keep = graft.operators.Dedup.exactGroups(hygiene, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val deduped = hygiene.join(keep, Seq("doc_id"), "left_semi")
      Sampling.stratifiedExact(
        deduped.select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", n = 20)
    },

    // Multimodal: binary payload byte length (real, oracle-checked)
    QueryDef("q42_multimodal_bytes",
      """SELECT doc_id AS id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.decodeDocuments(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id"), col("nBytes").as("n_bytes"))
    },

    // Multimodal: REAL image decode (javax.imageio) over generated real
    // PNGs whose dims/gray are closed-form in doc_id — fully oracled:
    // width/height/channels from the PNG header+raster, mean_luma from
    // the pixels (constant image => gray/255 exactly).
    QueryDef("q43_multimodal_decode",
      """SELECT doc_id AS id,
        |  CAST(16 + doc_id % 32 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 17 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(doc_id % 200 AS DOUBLE) / 255.0 AS mean_luma
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderPngs(t(s, dir, "documents"), "doc_id")
      Multimodal.decodeBatched(media)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("width"), col("height"), col("channels"),
          col("meanLuma").as("mean_luma"))
    },

    // Multimodal: REAL resize — render PNGs, bilinear-rescale every one
    // to 24x18, decode the resized bytes back. Dims prove the rescale
    // happened; mean_luma proves content survived (constant gray is
    // interpolation-invariant).
    QueryDef("q43b_multimodal_resize",
      """SELECT doc_id AS id,
        |  CAST(24 AS INTEGER) AS width,
        |  CAST(18 AS INTEGER) AS height,
        |  CAST(doc_id % 200 AS DOUBLE) / 255.0 AS mean_luma
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderPngs(t(s, dir, "documents"), "doc_id")
      val resized = Multimodal.resizeBatched(media, 24, 18)
        .map(r => Multimodal.MediaRow(r.id, r.payload, r.kind))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
      Multimodal.decodeBatched(resized)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("width"), col("height"),
          col("meanLuma").as("mean_luma"))
    },

    // Multimodal: perceptual image hashing (aHash 64-bit + dHash 56-bit)
    // over the REAL javax.imageio decode path — image near-dup
    // fingerprints. Fully oracled via the gradient fixture: 64×64
    // gradient PNGs put every 8×8 bilinear grid sample at fraction .5,
    // so each cell is the exact mean of 4 integer pixels (dyadic
    // rationals, bit-reproducible) and DuckDB replays grid, mean,
    // threshold bits, and the signed-64 assembly exactly.
    QueryDef("q88_image_phash",
      """WITH g AS (SELECT doc_id, doc_id % 97 AS g0 FROM documents),
        |cell AS (
        |  SELECT doc_id, CAST(x.gx AS INT) AS gx, CAST(y.gy AS INT) AS gy,
        |    ( (g0 + 3*(8*x.gx+3) + 5*(8*y.gy+3)) % 256
        |    + (g0 + 3*(8*x.gx+4) + 5*(8*y.gy+3)) % 256
        |    + (g0 + 3*(8*x.gx+3) + 5*(8*y.gy+4)) % 256
        |    + (g0 + 3*(8*x.gx+4) + 5*(8*y.gy+4)) % 256 ) / 4.0 AS v
        |  FROM g, UNNEST(range(8)) x(gx), UNNEST(range(8)) y(gy)
        |),
        |m AS (SELECT doc_id, SUM(v) / 64.0 AS mean FROM cell GROUP BY doc_id),
        |a AS (
        |  SELECT c.doc_id,
        |    SUM(CASE WHEN c.v > m.mean
        |        THEN (1::HUGEINT << (c.gy * 8 + c.gx)) ELSE 0::HUGEINT END) AS au
        |  FROM cell c JOIN m ON c.doc_id = m.doc_id GROUP BY c.doc_id
        |),
        |d AS (
        |  SELECT l.doc_id,
        |    SUM(CASE WHEN rgt.v > l.v
        |        THEN (1::BIGINT << (l.gy * 7 + l.gx)) ELSE 0::BIGINT END) AS dh
        |  FROM cell l JOIN cell rgt
        |    ON l.doc_id = rgt.doc_id AND rgt.gy = l.gy AND rgt.gx = l.gx + 1
        |  WHERE l.gx < 7 GROUP BY l.doc_id
        |)
        |SELECT a.doc_id AS id,
        |  CAST(CASE WHEN au >= 9223372036854775808::HUGEINT
        |       THEN au - 18446744073709551616::HUGEINT ELSE au END AS BIGINT) AS ahash,
        |  CAST(d.dh AS BIGINT) AS dhash
        |FROM a JOIN d ON a.doc_id = d.doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderGradientPngs(t(s, dir, "documents"), "doc_id")
      Multimodal.perceptualHashBatched(media).toDF()
        .filter(col("ok"))
        .select(col("id"), col("ahash"), col("dhash"))
    },

    // Multimodal: REAL frame sampling — render GFRM containers of real
    // PNG frames (count/dims/gray closed-form in doc_id), parse the
    // container index, uniformly sample 2 keyframes, decode each with
    // the real image decoder. Fully oracled: sampled indices are
    // floor(i·n/k) and a constant frame's mean luma is gray/255.
    QueryDef("q63_frame_sample",
      """SELECT doc_id AS id,
        |  CAST(idx AS INTEGER) AS frame_idx,
        |  CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
        |  CAST(8 + doc_id % 8 AS INTEGER) AS width,
        |  CAST(8 + doc_id % 5 AS INTEGER) AS height,
        |  CAST((doc_id * 31 + idx * 17) % 200 AS DOUBLE) / 255.0 AS mean_luma
        |FROM (SELECT doc_id, unnest([0, (2 + doc_id % 4) // 2]) AS idx
        |      FROM documents)""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderVideos(t(s, dir, "documents"), "doc_id")
      Multimodal.frameSample(media, framesPerDoc = 2)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("frameIdx").as("frame_idx"),
          col("nFrames").as("n_frames"), col("width"), col("height"),
          col("meanLuma").as("mean_luma"))
    },

    // REAL ISO-BMFF (MP4) keyframe sampling: mux real box trees
    // (ftyp/mdat/moov with stts/stss/stsc/stsz/stco sample tables), then
    // demux by walking the tables — keyframe byte ranges + stts
    // timestamps located WITHOUT decoding video, exactly how a real
    // pipeline indexes 100 TB of video. Sample payloads are PNG (the
    // JDK has no H.264 decoder — codec is the documented delta, the
    // container walk is the real thing). Fully oracled: sampled sync
    // samples are floor(i·kfn/2) over keyframes at even indices,
    // ts = idx·100 ms, constant frames decode to gray/255.
    QueryDef("q94_mp4_demux",
      """SELECT doc_id AS id,
        |  CAST(idx AS INTEGER) AS frame_idx,
        |  CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
        |  CAST((3 + doc_id % 4) // 2 AS INTEGER) AS kf_count,
        |  CAST(idx AS DOUBLE) * 100 AS ts_ms,
        |  CAST(8 + doc_id % 8 AS INTEGER) AS width,
        |  CAST(8 + doc_id % 5 AS INTEGER) AS height,
        |  CAST((doc_id * 31 + idx * 17) % 200 AS DOUBLE) / 255.0 AS mean_luma
        |FROM (SELECT doc_id,
        |        unnest(CASE WHEN doc_id % 4 = 0 THEN [0] ELSE [0, 2] END) AS idx
        |      FROM documents)""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderMp4s(t(s, dir, "documents"), "doc_id")
      Multimodal.mp4FrameSample(media, framesPerDoc = 2)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("frameIdx").as("frame_idx"),
          col("nFrames").as("n_frames"), col("kfCount").as("kf_count"),
          col("tsMs").as("ts_ms"), col("width"), col("height"),
          col("meanLuma").as("mean_luma"))
    },

    // No-decode H.264 stream probe: REAL avcC boxes (spec-encoded
    // SPS/PPS, ISO/IEC 14496-15 + ITU-T H.264 §7.3.2.1.1) inside real
    // avc1 sample entries — profile/level/coded-resolution read from
    // the parameter sets WITHOUT touching a payload byte (the codec
    // decode stays the documented out-of-JDK delta; indexing never
    // needed it). Resolution exercises the frame-cropping window
    // (widths/heights not multiples of 16). Fully oracled: every
    // column is closed-form in doc_id.
    QueryDef("q94b_avcc_probe",
      """SELECT doc_id AS id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77
        |       ELSE 100 END AS INTEGER) AS profile_idc,
        |  CAST(30 + (doc_id % 3) * 10 AS INTEGER) AS level_idc,
        |  CAST(2 * (50 + doc_id % 37) AS INTEGER) AS width,
        |  CAST(2 * (40 + doc_id % 29) AS INTEGER) AS height,
        |  CAST(4 AS INTEGER) AS nal_length_size,
        |  CAST(1 AS INTEGER) AS n_sps,
        |  CAST(1 AS INTEGER) AS n_pps
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderAvcMp4s(t(s, dir, "documents"), "doc_id")
      Multimodal.mp4AvccProbe(media).toDF()
        .filter(col("ok"))
        .select(col("id"), col("profileIdc").as("profile_idc"),
          col("levelIdc").as("level_idc"), col("width"), col("height"),
          col("nalLengthSize").as("nal_length_size"),
          col("nSps").as("n_sps"), col("nPps").as("n_pps"))
    },

    // No-decode H.265 stream probe — hvcC parity with q94b: REAL
    // HEVCDecoderConfigurationRecords (spec-encoded H.265 SPS, ISO/IEC
    // 14496-15 §8.3.3.1 + ITU-T H.265 §7.3.2.2.1) inside hvc1 sample
    // entries; profile space/tier/profile/level/chroma from the record,
    // resolution from the SPS conformance window. Fully oracled:
    // every column closed-form in doc_id.
    QueryDef("q94c_hvcc_probe",
      """SELECT doc_id AS id,
        |  CAST(doc_id % 2 AS INTEGER) AS tier_flag,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS profile_idc,
        |  CAST(60 + 30 * (doc_id % 3) AS INTEGER) AS level_idc,
        |  CAST(1 AS INTEGER) AS chroma_format,
        |  CAST(2 * (60 + doc_id % 33) AS INTEGER) AS width,
        |  CAST(2 * (40 + doc_id % 23) AS INTEGER) AS height,
        |  CAST(4 AS INTEGER) AS nal_length_size,
        |  CAST(1 AS INTEGER) AS n_arrays
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderHevcMp4s(t(s, dir, "documents"), "doc_id")
      Multimodal.mp4HvccProbe(media).toDF()
        .filter(col("ok"))
        .select(col("id"), col("tierFlag").as("tier_flag"),
          col("profileIdc").as("profile_idc"),
          col("levelIdc").as("level_idc"),
          col("chromaFormat").as("chroma_format"),
          col("width"), col("height"),
          col("nalLengthSize").as("nal_length_size"),
          col("nArrays").as("n_arrays"))
    },

    // No-decode AV1 stream probe — av1C parity with q94b/q94c,
    // completing the codec trio: REAL AV1CodecConfigurationRecords
    // (spec-encoded Sequence Header OBUs, AV1 spec §5.5 + the ISOBMFF
    // binding) inside av01 sample entries; profile/level/tier/depth/
    // chroma from the record, resolution from the OBU bit parse (raw
    // bits + leb128 — AV1 has no emulation prevention). Fully oracled.
    QueryDef("q94d_av1c_probe",
      """SELECT doc_id AS id,
        |  CAST(doc_id % 3 AS INTEGER) AS seq_profile,
        |  CAST(8 + doc_id % 5 AS INTEGER) AS seq_level_idx,
        |  CAST(doc_id % 2 AS INTEGER) AS seq_tier,
        |  CAST(0 AS INTEGER) AS high_bitdepth,
        |  CAST(0 AS INTEGER) AS monochrome,
        |  CAST(100 + doc_id % 37 AS INTEGER) AS width,
        |  CAST(60 + doc_id % 23 AS INTEGER) AS height
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderAv1Mp4s(t(s, dir, "documents"), "doc_id")
      Multimodal.mp4Av1Probe(media).toDF()
        .filter(col("ok"))
        .select(col("id"),
          col("seqProfile").as("seq_profile"),
          col("seqLevelIdx").as("seq_level_idx"),
          col("seqTier").as("seq_tier"),
          col("highBitdepth").as("high_bitdepth"),
          col("monochrome").as("monochrome"),
          col("width"), col("height"))
    },

    // Multimodal AUDIO: REAL RIFF/PCM16 WAV codec — render a constant-
    // |amplitude| square-wave WAV per doc (every field closed-form in
    // doc_id), decode the bytes back at the RIFF chunk level. Fully
    // oracled: rate/channels/frames from the header walk, mean |amp|
    // from the PCM samples (= A/32768 exactly for a square wave).
    QueryDef("q74_audio_decode",
      """SELECT doc_id AS id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(400 + doc_id % 256 AS BIGINT) AS n_frames,
        |  CAST(400 + doc_id % 256 AS DOUBLE) * 1000 / 8000 AS duration_ms,
        |  CAST((doc_id * 37) % 16384 + 1 AS DOUBLE) / 32768 AS mean_amp
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderWavs(t(s, dir, "documents"), "doc_id")
      Multimodal.decodeWavBatched(media)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("sampleRate").as("sample_rate"),
          col("channels"), col("nFrames").as("n_frames"),
          col("durationMs").as("duration_ms"), col("meanAmp").as("mean_amp"))
    },

    // Multimodal AUDIO features: REAL windowed RMS + zero-crossing rate
    // over the decoded PCM (window=256). Square-wave closed forms: every
    // window's RMS is A/32768; ZCR is 1.0 except the single-sample tail
    // at n=513 (doc_id%256=113), which contributes 0.
    QueryDef("q74b_audio_features",
      """SELECT doc_id AS id,
        |  CAST((400 + doc_id % 256 + 255) // 256 AS BIGINT) AS n_windows,
        |  CAST((doc_id * 37) % 16384 + 1 AS DOUBLE) / 32768 AS mean_rms,
        |  CASE WHEN 400 + doc_id % 256 = 513
        |       THEN CAST(2 AS DOUBLE) / 3 ELSE 1.0 END AS mean_zcr
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderWavs(t(s, dir, "documents"), "doc_id")
      Multimodal.audioFeaturesBatched(media, window = 256)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("nWindows").as("n_windows"),
          col("meanRms").as("mean_rms"), col("meanZcr").as("mean_zcr"))
    },

    // Multimodal AUDIO fingerprinting (Haitsma-Kalker energy-delta sign
    // bits) over the REAL WAV decode path — the acoustic analogue of
    // q88. Fully oracled via the staircase fixture: window w's RMS is
    // exactly A_w/32768 (constant |sample| per window, exact sqrt), so
    // bit w = [A_{w+1} > A_w] is closed-form integer arithmetic.
    QueryDef("q89_audio_fingerprint",
      """SELECT doc_id AS id,
        |  CAST(SUM(CASE WHEN (doc_id*31 + (w+1)*57) % 16384 + 1
        |                   > (doc_id*31 + w*57) % 16384 + 1
        |           THEN (1::BIGINT << CAST(w AS INT)) ELSE 0::BIGINT END)
        |       AS BIGINT) AS fp
        |FROM documents, UNNEST(range(31)) t(w)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderStaircaseWavs(
        t(s, dir, "documents"), "doc_id")
      Multimodal.audioFingerprintBatched(media, window = 128)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("fp"))
    },

    // Multimodal VIDEO temporal fingerprint — the sequence analogue of
    // q88/q89: REAL GFRM container demux + REAL per-frame PNG decode,
    // bit f = [mean_luma(f+1) > mean_luma(f)]. Fully oracled: frame
    // lumas are closed-form in (doc_id, f), so the bit pattern is
    // integer arithmetic (constant frames ⇒ exact gray/255 luma).
    QueryDef("q90_video_fingerprint",
      """SELECT doc_id AS id, CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
        |  CAST(SUM(CASE WHEN (doc_id*31 + (f+1)*17) % 200
        |                   > (doc_id*31 + f*17) % 200
        |           THEN (1::BIGINT << CAST(f AS INT)) ELSE 0::BIGINT END)
        |       AS BIGINT) AS fp
        |FROM documents, UNNEST(range(1 + doc_id % 4)) t(f)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderVideos(t(s, dir, "documents"), "doc_id")
      Multimodal.videoFingerprintBatched(media)
        .toDF()
        .filter(col("ok"))
        .select(col("id"), col("nFrames").as("n_frames"), col("fp"))
    },

    // End-to-end MULTIMODAL curation: text hygiene × real image decode ×
    // real audio decode, joined per doc with a composite keep decision —
    // the q50 pipeline generalized across modalities. Every leg is an
    // already-oracled operator; the composition stays bit-exact.
    QueryDef("q75_multimodal_curation",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(doc_id % 200 AS DOUBLE) / 255.0 AS mean_luma,
        |  CAST((doc_id * 37) % 16384 + 1 AS DOUBLE) / 32768 AS mean_amp,
        |  len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5 AND 2000
        |    AND CAST(doc_id % 200 AS DOUBLE) / 255.0 < 0.7
        |    AND CAST((doc_id * 37) % 16384 + 1 AS DOUBLE) / 32768 < 0.4 AS kept
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val text = docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val images = Multimodal.decodeBatched(
          Multimodal.renderPngs(docs, "doc_id")).toDF()
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("meanLuma").as("mean_luma"))
      val audio = Multimodal.decodeWavBatched(
          Multimodal.renderWavs(docs, "doc_id")).toDF()
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("meanAmp").as("mean_amp"))
      text.join(images, Seq("doc_id")).join(audio, Seq("doc_id"))
        .withColumn("kept",
          col("n_tokens").between(5, 2000) &&
            col("mean_luma") < 0.7 && col("mean_amp") < 0.4)
    },

    // Weighted SOURCE MIXING (pretraining data-mixture step): per-source
    // keep rates as a pure md5-threshold function of doc_id — portable
    // hash, so the kept set is oracle-checkable verbatim in SQL.
    QueryDef("q62_data_mix",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8) AS hx
        |  FROM documents)
        |WHERE CASE source
        |  WHEN 'src0' THEN FALSE
        |  WHEN 'src1' THEN hx < '40000000'
        |  WHEN 'src2' THEN hx < '80000000'
        |  WHEN 'src3' THEN TRUE
        |  ELSE hx < '19999999' END""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.weightedBySource(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id",
        weights = Map("src0" -> 0.0, "src1" -> 0.25,
          "src2" -> 0.5, "src3" -> 1.0),
        seed = 7L, defaultWeight = 0.1)
    },

    // Exact-substring duplication (Lee et al. deduplicating-training-data
    // signal, window-hash form): positions covered by any 8-token window
    // duplicated anywhere in the corpus. Integer-exact despite internal
    // xxhash64 keys -> fully oracled.
    QueryDef("q73_substring_dup",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |  FROM documents
        |),
        |wins AS (
        |  SELECT doc_id, i, array_to_string(tok[i:i+7], ' ') AS gram
        |  FROM t, UNNEST(range(1, len(tok) - 6)) AS u(i)
        |  WHERE len(tok) >= 8
        |),
        |cnts AS (SELECT gram, COUNT(*) AS cnt FROM wins GROUP BY gram),
        |dup_pos AS (
        |  SELECT DISTINCT w.doc_id, p.pos
        |  FROM wins w JOIN cnts c USING (gram),
        |       UNNEST(range(w.i, w.i + 8)) AS p(pos)
        |  WHERE c.cnt >= 2
        |),
        |cov AS (SELECT doc_id, COUNT(*) AS n FROM dup_pos GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.tok) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(cov.n, 0) AS BIGINT) AS n_dup_tokens,
        |  CAST(COALESCE(cov.n, 0) AS DOUBLE) / len(t.tok) AS dup_fraction
        |FROM t LEFT JOIN cov USING (doc_id)""".stripMargin) { (s, dir) =>
      TextOps.substringDupStats(t(s, dir, "documents"), "doc_id", "text", w = 8)
    },

    // Vocabulary-coverage (OOV) quality gate: reference vocab = src0's
    // tokens; OOV tokens are PLANTED per doc_id (the synthetic corpus
    // shares one vocabulary, so un-planted OOV would be uniformly zero).
    // Integer-exact counts -> fully oracled.
    QueryDef("q65_oov",
      """WITH vocab AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE source = 'src0'
        |),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(
        |      text || ' zz' || CAST(doc_id % 7 AS VARCHAR) || ' ' ||
        |      CASE WHEN doc_id % 3 = 0 THEN 'spark'
        |           ELSE 'qq' || CAST(doc_id % 4 AS VARCHAR) END), '\s+')) AS token
        |  FROM documents
        |)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" zz"), (col("doc_id") % 7).cast("string"), lit(" "),
          when(col("doc_id") % 3 === 0, lit("spark"))
            .otherwise(concat(lit("qq"), (col("doc_id") % 4).cast("string"))))
          .as("text"))
      val vocab = docs.filter(col("source") === "src0")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      TextOps.oovStats(planted, "doc_id", "text", vocab)
    },

    // Blocklist word filter (LDNOOBW-style gate): flagged-instance
    // counts + integer-math keep decision at 50 per mille.
    QueryDef("q66_blocklist",
      """SELECT doc_id, n_tokens, n_flagged,
        |  n_flagged * 1000 < n_tokens * 50 AS kept
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> list_contains(['slow', 'dup', 'big'], t))) AS BIGINT) AS n_flagged
        |  FROM documents)""".stripMargin) { (s, dir) =>
      TextOps.blocklistStats(t(s, dir, "documents"), "doc_id", "text",
        blocklist = Seq("slow", "dup", "big"), maxPerMille = 50)
    },

    // Tf-idf key-term extraction: top-3 characteristic terms per doc by
    // tf·N/df (log-free rarity weight -> bit-exact cross-engine score).
    QueryDef("q67_keyterms",
      """WITH counts AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM documents)
        |  GROUP BY doc_id, token
        |),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM counts GROUP BY token),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, df, score, CAST(rn AS INTEGER) AS term_rank FROM (
        |  SELECT c.doc_id, c.token, c.tf, d.df,
        |    CAST(c.tf AS DOUBLE) * n.n_docs / d.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY c.doc_id
        |      ORDER BY CAST(c.tf AS DOUBLE) * n.n_docs / d.df DESC, c.token ASC) AS rn
        |  FROM counts c JOIN dfreq d USING (token) CROSS JOIN n
        |) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      TextOps.keyTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
    },

    // BPE merge learning (tokenizer training). Iterative greedy argmax
    // has no single-statement SQL twin -> rows-only; PipelineSpec checks
    // the distributed trainer against a sequential reference and the
    // Sennrich toy corpus.
    // FULLY ORACLED (round 8): BPE training is exact integer math —
    // word counts, overlapping adjacent-pair counts, argmax with
    // (freq desc, a, b) tie-break, greedy left-to-right merge — so the
    // 12 rounds unroll into chained MATERIALIZED CTEs DuckDB replays
    // bit-exactly. The greedy merge needs no sequential scan in SQL:
    // for a ≠ b matches can't overlap (merge all); for a == b merges
    // land at even offsets within each run of consecutive a's
    // (islands trick + parity). MATERIALIZED matters: without it each
    // lvl CTE re-inlines into its two consumers and the 12-level chain
    // re-evaluates exponentially.
    QueryDef("q68_bpe_merges", bpeOracleSql(rounds = 12)) { (s, dir) =>
      val merges = graft.operators.Bpe.train(
        t(s, dir, "documents"), "text", numMerges = 12)
      graft.operators.Bpe.mergesDf(s, merges)
    },

    // CCNet-style LM quality scoring: bigram perplexity of every doc
    // against a src0-trained reference model. Float log math -> rows-only;
    // closed-form hand-computed checks in PipelineSpec.
    QueryDef.noOracle("q69_lm_perplexity") { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.LangModel.perplexity(
        docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", alpha = 1.0)
    },

    // Integer-exact companion to the LM filter: fraction of each doc's
    // bigram INSTANCES seen in the src0 reference model — same broadcast
    // -model scoring shape, but count math only, so fully oracled.
    QueryDef("q69b_bigram_coverage",
      """WITH ref AS (
        |  SELECT DISTINCT tok[i] || ' ' || tok[i+1] AS gram
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS tok
        |        FROM documents WHERE source = 'src0'),
        |       UNNEST(range(1, len(tok))) AS t(i)
        |  WHERE len(tok) >= 2
        |),
        |docg AS (
        |  SELECT doc_id, tok[i] || ' ' || tok[i+1] AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |        FROM documents),
        |       UNNEST(range(1, len(tok))) AS t(i)
        |  WHERE len(tok) >= 2
        |)
        |SELECT d.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN r.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_known,
        |  CAST(SUM(CASE WHEN r.gram IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / COUNT(*) AS coverage
        |FROM docg d LEFT JOIN ref r ON d.gram = r.gram
        |GROUP BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.LangModel.bigramCoverage(
        docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text")
    },

    // Tokenizer APPLY step: per-doc subword counts under the corpus-
    // trained merge list. FULLY ORACLED (round 8): the q68 training
    // chain's final level IS the vocabulary's segmentation, and every
    // corpus token is in the vocabulary by construction, so subword
    // counts replay as one token-to-vocab join (plus the PipelineSpec
    // per-token reference segmentation checks).
    QueryDef("q68b_bpe_segment", bpeSegmentOracleSql(rounds = 12)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.train(docs, "text", numMerges = 12)
      graft.operators.Bpe.segmentStats(docs, "doc_id", "text", merges)
    },

    // Linear quality classifier (fastText-style hash features + log-odds
    // head; the reference's ONNX-scoring analogue, Spark-first). Lang
    // marker tokens are PLANTED so the en-vs-rest head has signal to
    // learn on this single-vocabulary synthetic corpus. Float log
    // weights -> rows-only; closed-form + discrimination in PipelineSpec.
    QueryDef.noOracle("q70_quality_classifier") { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" tag_"), col("lang")).as("text"))
      val weights = graft.operators.Classifier.trainLogOdds(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text", dim = 1024)
      graft.operators.Classifier.scoreLinear(docs, "doc_id", "text", weights)
    },

    // Content-defined chunk dedup over the corpus's byte payloads
    // (FastCDC gear boundaries -> md5 digests -> digest-keyed dedup):
    // the binary-side near-dup story — shift-resistant shared-segment
    // detection. FULLY ORACLED (round 8): the gear rolling hash is pure
    // integer math mod 2^64 — DuckDB replays it in HUGEINT with the
    // same 256 gear constants (embedded from the kernel's own table)
    // via a recursive byte-walk, cutting where (h & 255) == 0 at
    // len >= 64, hard-cut 4096, chunk at end-of-doc; md5 over the text
    // agrees byte-for-byte because the corpus is ASCII (the Spark side
    // chunks the UTF-8 payload bytes).
    QueryDef("q80_cdc_chunk_dedup",
      s"""WITH RECURSIVE
        |g(b, v) AS (VALUES ${
          graft.operators.Multimodal.gearConstantsUnsigned.zipWithIndex
            .map { case (v, i) => s"($i,$v)" }.mkString(",")}),
        |d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |      WHERE length(text) > 0),
        |step(doc_id, i, h, start, boundary, c_start, c_len) AS (
        |  SELECT doc_id, 0, 0::HUGEINT, 1, FALSE, 0, 0 FROM d
        |  UNION ALL
        |  SELECT doc_id, i, CASE WHEN cut THEN 0::HUGEINT ELSE h2 END,
        |         CASE WHEN cut THEN i + 1 ELSE start END,
        |         cut, start, len
        |  FROM (
        |    SELECT s.doc_id, s.i + 1 AS i, s.start,
        |           (s.h * 2 + g.v) % 18446744073709551616 AS h2,
        |           (s.i + 2 - s.start) AS len,
        |           (((s.i + 2 - s.start) >= 64 AND
        |             ((s.h * 2 + g.v) % 18446744073709551616) % 256 = 0)
        |             OR (s.i + 2 - s.start) >= 4096 OR s.i + 1 = d.n) AS cut
        |    FROM step s
        |    JOIN d ON d.doc_id = s.doc_id AND s.i < d.n
        |    JOIN g ON g.b = ord(substr(d.text, s.i + 1, 1))
        |  )
        |),
        |chunks AS (
        |  SELECT s.doc_id, md5(substr(d.text, s.c_start, s.c_len)) AS digest,
        |         s.c_len AS chunk_len
        |  FROM step s JOIN d ON d.doc_id = s.doc_id WHERE s.boundary
        |)
        |SELECT digest, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies,
        |       CAST(MIN(chunk_len) AS BIGINT) AS chunk_len
        |FROM chunks GROUP BY digest HAVING COUNT(*) > 1""".stripMargin) {
      (s, dir) =>
      val docs = graft.operators.Multimodal.withBinaryPayload(
        t(s, dir, "documents"), "text", "text/plain")
      graft.operators.Multimodal.chunkDedup(
        graft.operators.Multimodal.chunkify(docs, "doc_id", "payload"))
    },

    // Fixed-stride chunk dedup — the SQL-expressible exact variant of
    // q80 (stride boundaries instead of gear boundaries), fully oracled:
    // md5 over UTF8 bytes agrees between Spark and DuckDB, so the whole
    // chunk-digest report hash-matches.
    QueryDef("q80b_fixed_chunk_dedup",
      """WITH offs AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1, 256)) AS o
        |  FROM documents WHERE length(text) > 0
        |), chunks AS (
        |  SELECT doc_id, md5(substr(text, CAST(o AS INTEGER), 256)) AS digest,
        |         length(substr(text, CAST(o AS INTEGER), 256)) AS chunk_len
        |  FROM offs
        |)
        |SELECT digest, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies,
        |       CAST(MIN(chunk_len) AS BIGINT) AS chunk_len
        |FROM chunks GROUP BY digest HAVING COUNT(*) > 1""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")), lit(256))).as("o"))
        .select(col("doc_id"),
          expr("substring(text, CAST(o AS INT), 256)").as("chunk"))
        .select(col("doc_id"), md5(encode(col("chunk"), "UTF-8")).as("digest"),
          length(col("chunk")).as("chunk_len"))
        .groupBy(col("digest"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_copies"),
          min(col("chunk_len")).cast("long").as("chunk_len"))
        .filter(col("n_copies") > 1)
    },

    // DSIR importance resampling: hashed unigram+bigram log-ratios
    // fitted en-vs-raw (markers planted, q70 pattern), raw corpus scored
    // map-only, deterministic top-100 selection. Float log weights ->
    // rows-only; ordering + closed-form lambda checks in PipelineSpec;
    // the distributed hashing+counting core is fully oracled by the
    // q79b companion.
    QueryDef.noOracle("q79_dsir_resample") { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" tag_"), col("lang")).as("text"))
      graft.operators.Dsir.resample(
        docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", dim = 2048, k = 100)
    },

    // ORACLED DSIR sufficient statistics — q79's distributed core with
    // the GF(2^61-1) rolling hash (q34d family) in place of murmur3:
    // per-bucket target (en) / raw feature-instance counts over hashed
    // unigrams+bigrams, one shared corpus scan, one dim-keyed shuffle.
    // Everything past these integers is O(dim) driver-side log-ratio
    // arithmetic (closed-form in PipelineSpec), so this pins the DSIR
    // pipeline cross-engine bit-exactly.
    QueryDef("q79b_dsir_bucket_oracle",
      """WITH toks AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                x -> x <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL
        |), feats AS (
        |  SELECT lang, tk[i] AS f
        |  FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT lang, tk[i - 1] || ' ' || tk[i] AS f
        |  FROM toks, UNNEST(range(2, len(tk) + 1)) AS u(i)
        |), hashed AS (
        |  SELECT lang,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(f, ''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951)
        |      % 2048 AS b
        |  FROM feats
        |)
        |SELECT CAST(b AS BIGINT) AS bucket,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS target_n,
        |  CAST(COUNT(*) AS BIGINT) AS raw_n
        |FROM hashed GROUP BY b""".stripMargin) { (s, dir) =>
      graft.operators.Dsir.oracleBucketStats(
        t(s, dir, "documents"), col("lang") === "en", "text", dim = 2048)
        .select(col("bucket").cast("long").as("bucket"),
          col("target_n"), col("raw_n"))
    },

    // Exact-integer classifier head: per-token polarity votes (rate
    // comparison by cross-multiplication — no floats anywhere), margins
    // as integer vote sums. Fully oracled; covers the classifier family
    // exactly where q70's float log-odds head can only be rows-only.
    QueryDef("q70b_token_polarity",
      """WITH tk AS (
        |  SELECT doc_id, lang = 'en' AS pos,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL
        |), tk2 AS (SELECT * FROM tk WHERE token <> ''),
        |rates AS (
        |  SELECT token,
        |         SUM(CASE WHEN pos THEN 1 ELSE 0 END)::HUGEINT AS pos_n,
        |         SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END)::HUGEINT AS neg_n
        |  FROM tk2 GROUP BY token
        |), tot AS (
        |  SELECT SUM(pos_n) AS pos_tot, SUM(neg_n) AS neg_tot FROM rates
        |), votes AS (
        |  SELECT token,
        |         CASE WHEN pos_n * neg_tot > neg_n * pos_tot THEN 1
        |              WHEN pos_n * neg_tot < neg_n * pos_tot THEN -1
        |              ELSE 0 END AS vote
        |  FROM rates, tot
        |)
        |SELECT tk2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(votes.vote) AS BIGINT) AS margin
        |FROM tk2 JOIN votes USING (token)
        |GROUP BY tk2.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Classifier.scoreTokenPolarity(
        t(s, dir, "documents"), "doc_id", "text", "lang", "en")
    },

    // Per-source DATASET CARD: the corpus-statistics report every
    // training-data release ships — doc/token/char totals, language
    // spread, quality-gate pass rate per source. Integer counts and
    // exact-decimal means -> fully oracled.
    QueryDef("q77_data_card",
      """SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
        |  CAST(SUM(CASE WHEN len(regexp_split_to_array(trim(text), '\s+'))
        |                BETWEEN 5 AND 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len
        |FROM documents GROUP BY source""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"),
          sum(when(TextOps.tokenCount(col("text")).between(5, 2000), 1L)
            .otherwise(0L)).as("n_pass_len"))
    },

    // Filter-funnel ATTRITION REPORT: per-stage drop accounting for a
    // cumulative curation chain (non-empty -> length gate -> alpha gate
    // -> token-uniqueness gate -> exact dedup). All counts are integers
    // and the ratio gates use cross-multiplication (2*alpha >= len,
    // 10*distinct >= 3*tokens) so there is no float anywhere -> fully
    // oracled. One scan + one dedup-key shuffle; O(#stages) output.
    QueryDef("q111_filter_funnel",
      """WITH f AS (
        |  SELECT doc_id, text,
        |    COALESCE(text IS NOT NULL AND trim(text) <> '', FALSE) AS s1
        |  FROM documents
        |), f2 AS (
        |  SELECT *, COALESCE(s1 AND
        |    len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5 AND 2000,
        |    FALSE) AS s2 FROM f
        |), f3 AS (
        |  SELECT *, COALESCE(s2 AND
        |    2 * (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
        |      >= length(text), FALSE) AS s3 FROM f2
        |), f4 AS (
        |  SELECT *, COALESCE(s3 AND
        |    10 * len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      >= 3 * len(regexp_split_to_array(trim(text), '\s+')), FALSE) AS s4
        |  FROM f3
        |), f5 AS (
        |  SELECT *, COALESCE(s4 AND doc_id =
        |    MIN(CASE WHEN s4 THEN doc_id END) OVER (PARTITION BY md5(text)),
        |    FALSE) AS s5 FROM f4
        |), tot AS (
        |  SELECT COUNT(*) AS c0,
        |    CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
        |  FROM f5
        |)
        |SELECT CAST(1 AS INTEGER) AS stage_id, 'non_empty' AS stage,
        |       c0 AS n_in, c1 AS n_pass, c0 - c1 AS n_drop FROM tot
        |UNION ALL SELECT CAST(2 AS INTEGER), 'len_gate', c1, c2, c1 - c2 FROM tot
        |UNION ALL SELECT CAST(3 AS INTEGER), 'alpha_gate', c2, c3, c2 - c3 FROM tot
        |UNION ALL SELECT CAST(4 AS INTEGER), 'uniq_gate', c3, c4, c3 - c4 FROM tot
        |UNION ALL SELECT CAST(5 AS INTEGER), 'exact_dedup', c4, c5, c4 - c5 FROM tot""".stripMargin) { (s, dir) =>
      import graft.operators.{Funnel, TextOps}
      val toks = TextOps.tokens(col("text"))
      Funnel.report(
        t(s, dir, "documents"), "doc_id",
        Seq(
          "non_empty" -> (col("text").isNotNull && trim(col("text")) =!= ""),
          "len_gate" -> TextOps.tokenCount(col("text")).between(5, 2000),
          "alpha_gate" ->
            (TextOps.charClassCount(col("text"), "[A-Za-z]") * 2 >=
              length(col("text"))),
          "uniq_gate" ->
            (size(array_distinct(toks)) * 10 >= size(toks) * 3)),
        dedupKey = Some(md5(col("text").cast("binary"))))
    },

    // Per-LANGUAGE attrition — q111's funnel broken out by lang (the
    // per-language rows a dataset card publishes): same single scan,
    // group keys ride the final aggregation; exact dedup keeps its
    // GLOBAL canonical (a cross-language duplicate keeps one copy
    // corpus-wide, counted in the keeper's language). All integers.
    QueryDef("q121_filter_funnel_by_lang",
      """WITH f AS (
        |  SELECT doc_id, lang, text,
        |    COALESCE(text IS NOT NULL AND trim(text) <> '', FALSE) AS s1
        |  FROM documents
        |), f2 AS (
        |  SELECT *, COALESCE(s1 AND
        |    len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5 AND 2000,
        |    FALSE) AS s2 FROM f
        |), f3 AS (
        |  SELECT *, COALESCE(s2 AND
        |    2 * (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
        |      >= length(text), FALSE) AS s3 FROM f2
        |), f4 AS (
        |  SELECT *, COALESCE(s3 AND
        |    10 * len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      >= 3 * len(regexp_split_to_array(trim(text), '\s+')), FALSE) AS s4
        |  FROM f3
        |), f5 AS (
        |  SELECT *, COALESCE(s4 AND doc_id =
        |    MIN(CASE WHEN s4 THEN doc_id END) OVER (PARTITION BY md5(text)),
        |    FALSE) AS s5 FROM f4
        |), tot AS (
        |  SELECT lang, COUNT(*) AS c0,
        |    CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
        |  FROM f5 GROUP BY lang
        |)
        |SELECT lang, CAST(1 AS INTEGER) AS stage_id, 'non_empty' AS stage,
        |       c0 AS n_in, c1 AS n_pass, c0 - c1 AS n_drop FROM tot
        |UNION ALL SELECT lang, CAST(2 AS INTEGER), 'len_gate', c1, c2, c1 - c2 FROM tot
        |UNION ALL SELECT lang, CAST(3 AS INTEGER), 'alpha_gate', c2, c3, c2 - c3 FROM tot
        |UNION ALL SELECT lang, CAST(4 AS INTEGER), 'uniq_gate', c3, c4, c3 - c4 FROM tot
        |UNION ALL SELECT lang, CAST(5 AS INTEGER), 'exact_dedup', c4, c5, c4 - c5 FROM tot""".stripMargin) {
      (s, dir) =>
      import graft.operators.{Funnel, TextOps}
      val toks = TextOps.tokens(col("text"))
      Funnel.reportByGroup(
        t(s, dir, "documents"), "doc_id", Seq("lang"),
        Seq(
          "non_empty" -> (col("text").isNotNull && trim(col("text")) =!= ""),
          "len_gate" -> TextOps.tokenCount(col("text")).between(5, 2000),
          "alpha_gate" ->
            (TextOps.charClassCount(col("text"), "[A-Za-z]") * 2 >=
              length(col("text"))),
          "uniq_gate" ->
            (size(array_distinct(toks)) * 10 >= size(toks) * 3)),
        dedupKey = Some(md5(col("text").cast("binary"))))
    },

    // windowFunnel CONVERSION REPORT: per-user max sequential depth
    // through view -> click -> purchase within 6h of the chain's first
    // event, strict (ts, event_id) order. The greedy latest-chain-start
    // fold is provably the EXISTS-chain reachability the oracle's
    // self-joins express (validity only compares each step against the
    // chain start, so a later start dominates). Integer output -> fully
    // oracled.
    QueryDef("q112_window_funnel",
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |           WHERE event_type IN ('view','click','purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b ON a.user_id = b.user_id
        |       WHERE a.event_type='view' AND b.event_type='click'
        |         AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000),
        |l3 AS (SELECT DISTINCT a.user_id FROM e a
        |       JOIN e b ON a.user_id=b.user_id JOIN e c ON a.user_id=c.user_id
        |       WHERE a.event_type='view' AND b.event_type='click' AND c.event_type='purchase'
        |         AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |         AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |         AND epoch_us(c.ts) - epoch_us(a.ts) <= 21600000000)
        |SELECT u.user_id,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |            ELSE 0 END AS INTEGER) AS funnel_level
        |FROM u""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.windowFunnel(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), windowMicros = 21600000000L)
    },

    // Cohort RETENTION report: users bucketed by first-activity day with
    // day+1 / day+7 return counts — the dashboard companion to q112.
    // Cohort keys are epoch-day BIGINTs (hash-stable; raw DATE columns
    // are the one type the driver's hasher renders differently, q103/104
    // round-8 lesson). All-integer -> fully oracled.
    QueryDef("q113_retention_cohorts",
      """WITH ev AS (SELECT user_id,
        |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events),
        |d0 AS (SELECT user_id, MIN(day) AS d0 FROM ev GROUP BY user_id),
        |f AS (SELECT d.user_id, d.d0,
        |        MAX(CASE WHEN e.day = d.d0 + 1 THEN 1 ELSE 0 END) AS r1,
        |        MAX(CASE WHEN e.day = d.d0 + 7 THEN 1 ELSE 0 END) AS r7
        |      FROM d0 d JOIN ev e USING (user_id) GROUP BY d.user_id, d.d0)
        |SELECT d0 AS cohort_day, COUNT(*) AS n_users,
        |  CAST(SUM(r1) AS BIGINT) AS n_d1, CAST(SUM(r7) AS BIGINT) AS n_d7
        |FROM f GROUP BY d0""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.retention(
        t(s, dir, "events"), "user_id", "ts", Seq(1, 7))
    },

    // windowFunnel STRICT_INCREASE: chain timestamps must STRICTLY
    // increase (equal-ts events cannot chain) — reachability semantics,
    // so the oracle is q112's EXISTS-chain with strict ts inequalities.
    // The Spark fold stages same-timestamp updates and commits them when
    // the clock advances, which makes keep-max-start greedy exact.
    QueryDef("q112b_funnel_strict_increase",
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE ts IS NOT NULL
        |             AND event_type IN ('view','click','purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b ON a.user_id = b.user_id
        |       WHERE a.event_type='view' AND b.event_type='click'
        |         AND b.ts > a.ts
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000),
        |l3 AS (SELECT DISTINCT a.user_id FROM e a
        |       JOIN e b ON a.user_id=b.user_id JOIN e c ON a.user_id=c.user_id
        |       WHERE a.event_type='view' AND b.event_type='click' AND c.event_type='purchase'
        |         AND b.ts > a.ts AND c.ts > b.ts
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |         AND epoch_us(c.ts) - epoch_us(a.ts) <= 21600000000)
        |SELECT u.user_id,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |            ELSE 0 END AS INTEGER) AS funnel_level
        |FROM u""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.windowFunnel(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), windowMicros = 21600000000L,
        mode = graft.operators.EventFunnel.FunnelMode.StrictIncrease)
    },

    // windowFunnel STRICT_ORDER: chain events must be CONSECUTIVE among
    // ALL the user's events — any interleaved event of any type breaks
    // the chain. Universe = every event (signup/error interleaves
    // matter), so the oracle's adjacency is a NOT EXISTS over the full
    // stream in (ts, event_id) tuple order.
    QueryDef("q112c_funnel_strict_order",
      """WITH ae AS (SELECT user_id, ts, event_id, event_type FROM events
        |            WHERE ts IS NOT NULL),
        |u AS (SELECT DISTINCT user_id FROM ae),
        |l1 AS (SELECT DISTINCT user_id FROM ae WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT a.user_id FROM ae a JOIN ae b ON a.user_id = b.user_id
        |       WHERE a.event_type='view' AND b.event_type='click'
        |         AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |         AND NOT EXISTS (SELECT 1 FROM ae x WHERE x.user_id = a.user_id
        |           AND (x.ts > a.ts OR (x.ts = a.ts AND x.event_id > a.event_id))
        |           AND (x.ts < b.ts OR (x.ts = b.ts AND x.event_id < b.event_id)))),
        |l3 AS (SELECT DISTINCT a.user_id FROM ae a
        |       JOIN ae b ON a.user_id=b.user_id JOIN ae c ON a.user_id=c.user_id
        |       WHERE a.event_type='view' AND b.event_type='click' AND c.event_type='purchase'
        |         AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |         AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |         AND epoch_us(c.ts) - epoch_us(a.ts) <= 21600000000
        |         AND NOT EXISTS (SELECT 1 FROM ae x WHERE x.user_id = a.user_id
        |           AND (x.ts > a.ts OR (x.ts = a.ts AND x.event_id > a.event_id))
        |           AND (x.ts < b.ts OR (x.ts = b.ts AND x.event_id < b.event_id)))
        |         AND NOT EXISTS (SELECT 1 FROM ae x WHERE x.user_id = b.user_id
        |           AND (x.ts > b.ts OR (x.ts = b.ts AND x.event_id > b.event_id))
        |           AND (x.ts < c.ts OR (x.ts = c.ts AND x.event_id < c.event_id))))
        |SELECT u.user_id,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |            ELSE 0 END AS INTEGER) AS funnel_level
        |FROM u""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.windowFunnel(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), windowMicros = 21600000000L,
        mode = graft.operators.EventFunnel.FunnelMode.StrictOrder)
    },

    // windowFunnel STRICT_DEDUP: a repeat of a condition the chain has
    // already satisfied breaks it — a second 'view' between the chain's
    // view and click kills level 2; a 'view' or 'click' between the
    // click and the purchase kills level 3. Conditions NOT yet held
    // (e.g. a click between view and click) never interrupt.
    QueryDef("q112d_funnel_strict_dedup",
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |           WHERE ts IS NOT NULL
        |             AND event_type IN ('view','click','purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b ON a.user_id = b.user_id
        |       WHERE a.event_type='view' AND b.event_type='click'
        |         AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |         AND NOT EXISTS (SELECT 1 FROM e x WHERE x.user_id = a.user_id
        |           AND x.event_type = 'view'
        |           AND (x.ts > a.ts OR (x.ts = a.ts AND x.event_id > a.event_id))
        |           AND (x.ts < b.ts OR (x.ts = b.ts AND x.event_id < b.event_id)))),
        |l3 AS (SELECT DISTINCT a.user_id FROM e a
        |       JOIN e b ON a.user_id=b.user_id JOIN e c ON a.user_id=c.user_id
        |       WHERE a.event_type='view' AND b.event_type='click' AND c.event_type='purchase'
        |         AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |         AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
        |         AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |         AND epoch_us(c.ts) - epoch_us(a.ts) <= 21600000000
        |         AND NOT EXISTS (SELECT 1 FROM e x WHERE x.user_id = a.user_id
        |           AND x.event_type = 'view'
        |           AND (x.ts > a.ts OR (x.ts = a.ts AND x.event_id > a.event_id))
        |           AND (x.ts < b.ts OR (x.ts = b.ts AND x.event_id < b.event_id)))
        |         AND NOT EXISTS (SELECT 1 FROM e x WHERE x.user_id = b.user_id
        |           AND x.event_type IN ('view','click')
        |           AND (x.ts > b.ts OR (x.ts = b.ts AND x.event_id > b.event_id))
        |           AND (x.ts < c.ts OR (x.ts = c.ts AND x.event_id < c.event_id))))
        |SELECT u.user_id,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |            ELSE 0 END AS INTEGER) AS funnel_level
        |FROM u""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.windowFunnel(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), windowMicros = 21600000000L,
        mode = graft.operators.EventFunnel.FunnelMode.StrictDedup)
    },

    // sequenceCount (ClickHouse's other event-sequence aggregate): per
    // user, the MAXIMUM number of non-overlapping view->purchase pairs
    // under greedy matching. Closed relational form — bracket matching:
    // n_matched = n_second − max(0, worst prefix excess of seconds over
    // firsts) — one prefix-sum window, all integers, fully oracled.
    QueryDef("q114_sequence_pair_count",
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
        |), x AS (
        |  SELECT user_id, event_type,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        |  FROM e
        |)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_first,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_second,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    - GREATEST(MAX(xs), 0) AS BIGINT) AS n_matched
        |FROM x GROUP BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.sequencePairCount(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        first = "view", second = "purchase")
    },

    // Minimum time-to-conversion per user (view -> purchase within 6h):
    // the oracle states the O(n²) pair-join MIN; the operator computes
    // the same value with ONE ignore-nulls window pass (only the latest
    // preceding view matters per purchase) + one same-key aggregation.
    QueryDef("q116_time_to_conversion",
      """SELECT a.user_id,
        |  CAST(MIN(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS min_ttc_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.ts IS NOT NULL AND b.ts IS NOT NULL
        |  AND a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        |  AND epoch_us(b.ts) - epoch_us(a.ts) <= 21600000000
        |GROUP BY a.user_id""".stripMargin) { (s, dir) =>
      graft.operators.EventFunnel.timeToConversion(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        first = "view", second = "purchase", windowMicros = 21600000000L)
    },

    // MULTI-TOUCH ATTRIBUTION (first / last / linear in one pass) —
    // which channel gets conversion credit, the marketing readout next
    // to the funnel family. Channels derive from the event props JSON;
    // linear credit is an INTEGER permille per touch (1000 div n) so
    // the sums are shuffle-order-proof where a float 1/n sum is not —
    // every output column hash-matches.
    QueryDef("q128_attribution",
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id AS tord,
        |    CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
        |      WHEN 0 THEN 'organic' WHEN 1 THEN 'ads'
        |      WHEN 2 THEN 'email' ELSE 'social' END AS ch
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'view'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS cus, event_id AS cord
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
        |), j AS (
        |  SELECT t.ch, t.user_id, c.cus, c.cord, t.tus, t.tord
        |  FROM t JOIN c ON t.user_id = c.user_id
        |  WHERE (t.tus < c.cus OR (t.tus = c.cus AND t.tord < c.cord))
        |    AND c.cus - t.tus <= 21600000000
        |), r AS (
        |  SELECT ch,
        |    COUNT(*) OVER (PARTITION BY user_id, cus, cord) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, cus, cord
        |      ORDER BY tus, tord) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, cus, cord
        |      ORDER BY tus DESC, tord DESC) AS rl
        |  FROM j
        |)
        |SELECT ch AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS touches,
        |  CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS first_touch_convs,
        |  CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS last_touch_convs,
        |  CAST(SUM(1000 // n) AS BIGINT) AS linear_credit_permille
        |FROM r GROUP BY ch""".stripMargin) { (s, dir) =>
      val channel = expr(
        """CASE CAST(get_json_object(props, '$.k') AS BIGINT) % 4
          |  WHEN 0 THEN 'organic' WHEN 1 THEN 'ads'
          |  WHEN 2 THEN 'email' ELSE 'social' END""".stripMargin)
      graft.operators.EventFunnel.attribution(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        channel, touchType = "view", convType = "purchase",
        windowMicros = 21600000000L)
    },

    // KMV hierarchical ROLLUP — the mergeability the sketch exists for:
    // per-nation sketches union into per-region sketches (k smallest of
    // the flattened union — order-independent, raw data never re-read),
    // estimate next to the exact regional distinct count. Oracled end
    // to end including the estimate.
    QueryDef("q119_kmv_rollup",
      """WITH hashed AS (
        |  SELECT DISTINCT c_nationkey AS nation,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(CAST(c_custkey AS VARCHAR), ''),
        |          c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h0
        |  FROM customer
        |), fin AS (
        |  SELECT nation,
        |    (h0 * 1250284240999530269::HUGEINT + 558566537817138577)
        |      % 2305843009213693951 AS h
        |  FROM hashed
        |), ranked AS (
        |  SELECT nation, h,
        |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY h) AS rn
        |  FROM fin
        |), sk AS (
        |  SELECT nation, list(CAST(h AS BIGINT) ORDER BY h) AS kmv
        |  FROM ranked WHERE rn <= 32 GROUP BY nation
        |), rolled AS (
        |  SELECT n.n_regionkey AS region,
        |    list_sort(list_distinct(flatten(list(sk.kmv))))[1:32] AS un,
        |    COUNT(*) AS n_nations
        |  FROM sk JOIN nation n ON sk.nation = n.n_nationkey
        |  GROUP BY n.n_regionkey
        |), ex AS (
        |  SELECT n.n_regionkey AS region,
        |    COUNT(DISTINCT c.c_custkey) AS exact_distinct
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_regionkey
        |)
        |SELECT r.region, CAST(r.n_nations AS BIGINT) AS n_nations,
        |  CAST(len(un) AS INTEGER) AS n_kmv,
        |  CASE WHEN len(un) < 32 THEN CAST(len(un) AS DOUBLE)
        |       ELSE CAST(31 AS DOUBLE) * CAST(2305843009213693951 AS DOUBLE)
        |            / CAST(un[32] AS DOUBLE) END AS est_distinct,
        |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
        |FROM rolled r JOIN ex USING (region)""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      val cust = t(s, dir, "customer")
      val nat = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey")))
      val sk = Kmv.sketch(cust, Seq("c_nationkey"), "c_custkey", 32)
      val rolled = sk
        .join(nat, sk("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_regionkey").as("region"))
        .agg(collect_list(col("kmv")).as("__sks"),
          count(lit(1)).as("n_nations"))
        .select(col("region"), col("n_nations"),
          Kmv.unionAll(col("__sks"), 32).as("un"))
      val ex = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_regionkey").as("region"))
        .agg(countDistinct(col("c_custkey")).as("exact_distinct"))
      rolled.join(ex, "region").select(col("region"), col("n_nations"),
        size(col("un")).cast("int").as("n_kmv"),
        Kmv.estimate(col("un"), 32).as("est_distinct"),
        col("exact_distinct"))
    },

    // Z-ORDER key — the write-side layout optimization behind
    // multi-dimensional data skipping (Delta/Iceberg OPTIMIZE ZORDER):
    // interleave (customer, order-day) bits into one Morton key whose
    // sort ranges are tight in BOTH dimensions. The key is pure
    // shift/and/or bit arithmetic (codegen'd, no UDF) and replays
    // exactly in SQL — layout decisions audit cross-engine.
    QueryDef("q117_zorder_key",
      """WITH base AS (
        |  SELECT o_orderkey,
        |    (o_custkey & 2147483647) AS x0,
        |    (CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
        |      & 2147483647) AS y0
        |  FROM orders
        |), s1 AS (
        |  SELECT o_orderkey,
        |    (x0 | (x0 << 16)) & 281470681808895 AS x,
        |    (y0 | (y0 << 16)) & 281470681808895 AS y
        |  FROM base
        |), s2 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 8)) & 71777214294589695 AS x,
        |    (y | (y << 8)) & 71777214294589695 AS y
        |  FROM s1
        |), s3 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 4)) & 1085102592571150095 AS x,
        |    (y | (y << 4)) & 1085102592571150095 AS y
        |  FROM s2
        |), s4 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 2)) & 3689348814741910323 AS x,
        |    (y | (y << 2)) & 3689348814741910323 AS y
        |  FROM s3
        |), s5 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 1)) & 6148914691236517205 AS x,
        |    (y | (y << 1)) & 6148914691236517205 AS y
        |  FROM s4
        |)
        |SELECT o_orderkey, x | (y << 1) AS zkey FROM s5""".stripMargin) {
      (s, dir) =>
      import graft.operators.Layout
      t(s, dir, "orders").select(col("o_orderkey"),
        Layout.mortonKey(Seq(
          col("o_custkey"),
          // NTZ parquet timestamps: cast interprets in the session's
          // pinned UTC, matching the oracle's epoch_us
          floor(unix_micros(col("o_orderdate").cast("timestamp")) /
            86400000000L).cast("long"))).as("zkey"))
    },

    // 3-D Z-order key — the (customer, order-day, priority-bucket)
    // interleave for three-predicate data skipping; the every-third-bit
    // magic-mask cascade replayed as BIGINT arithmetic in the oracle.
    QueryDef("q122_zorder3_key",
      """WITH base AS (
        |  SELECT o_orderkey,
        |    (o_custkey & 2097151) AS x0,
        |    (CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
        |      & 2097151) AS y0,
        |    (length(o_orderpriority) & 2097151) AS z0
        |  FROM orders
        |), s1 AS (
        |  SELECT o_orderkey,
        |    (x0 | (x0 << 32)) & 8725724278095871 AS x,
        |    (y0 | (y0 << 32)) & 8725724278095871 AS y,
        |    (z0 | (z0 << 32)) & 8725724278095871 AS z
        |  FROM base
        |), s2 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 16)) & 8725728556220671 AS x,
        |    (y | (y << 16)) & 8725728556220671 AS y,
        |    (z | (z << 16)) & 8725728556220671 AS z
        |  FROM s1
        |), s3 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 8)) & 1157144660301377551 AS x,
        |    (y | (y << 8)) & 1157144660301377551 AS y,
        |    (z | (z << 8)) & 1157144660301377551 AS z
        |  FROM s2
        |), s4 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 4)) & 1207822528635744451 AS x,
        |    (y | (y << 4)) & 1207822528635744451 AS y,
        |    (z | (z << 4)) & 1207822528635744451 AS z
        |  FROM s3
        |), s5 AS (
        |  SELECT o_orderkey,
        |    (x | (x << 2)) & 1317624576693539401 AS x,
        |    (y | (y << 2)) & 1317624576693539401 AS y,
        |    (z | (z << 2)) & 1317624576693539401 AS z
        |  FROM s4
        |)
        |SELECT o_orderkey, x | (y << 1) | (z << 2) AS zkey FROM s5""".stripMargin) {
      (s, dir) =>
      import graft.operators.Layout
      t(s, dir, "orders").select(col("o_orderkey"),
        Layout.mortonKey(Seq(
          col("o_custkey"),
          floor(unix_micros(col("o_orderdate").cast("timestamp")) /
            86400000000L).cast("long"),
          length(col("o_orderpriority")).cast("long"))).as("zkey"))
    },

    // KMV distinct sketch, fully ORACLED — the first sketch family
    // where even the float ESTIMATE hash-matches: the sketch is "the k
    // smallest distinct GF(2^61-1) hashes" (ORDER BY hash LIMIT k in
    // SQL), the estimator (k-1)·M/kth is two fixed-order IEEE ops.
    // Per-nation distinct customers, estimate next to the exact count.
    QueryDef("q115_kmv_distinct",
      """WITH hashed AS (
        |  SELECT DISTINCT c_nationkey AS nation,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(CAST(c_custkey AS VARCHAR), ''),
        |          c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h0
        |  FROM customer
        |), fin AS (
        |  SELECT nation,
        |    (h0 * 1250284240999530269::HUGEINT + 558566537817138577)
        |      % 2305843009213693951 AS h
        |  FROM hashed
        |), ranked AS (
        |  SELECT nation, h,
        |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY h) AS rn
        |  FROM fin
        |), sk AS (
        |  SELECT nation, list(CAST(h AS BIGINT) ORDER BY h) AS kmv
        |  FROM ranked WHERE rn <= 32 GROUP BY nation
        |), ex AS (
        |  SELECT c_nationkey AS nation,
        |    COUNT(DISTINCT c_custkey) AS exact_distinct
        |  FROM customer GROUP BY 1
        |)
        |SELECT sk.nation, array_to_string(kmv, ',') AS kmv,
        |  CAST(len(kmv) AS INTEGER) AS n_kmv,
        |  CASE WHEN len(kmv) < 32 THEN CAST(len(kmv) AS DOUBLE)
        |       ELSE CAST(31 AS DOUBLE) * CAST(2305843009213693951 AS DOUBLE)
        |            / CAST(kmv[32] AS DOUBLE) END AS est_distinct,
        |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
        |FROM sk JOIN ex USING (nation)""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      val cust = t(s, dir, "customer")
      val sk = Kmv.sketch(cust, Seq("c_nationkey"), "c_custkey", 32)
        .withColumnRenamed("c_nationkey", "nation")
      val ex = cust.groupBy(col("c_nationkey").as("nation"))
        .agg(countDistinct(col("c_custkey")).as("exact_distinct"))
      // The raw array<bigint> sketch crashes the harness comparator
      // (pandas lexsort can't hash list cells) — emit it as the
      // canonical comma-joined string, mirrored by array_to_string in
      // the oracle SQL. Values are identical; only the transport is
      // string-typed.
      sk.join(ex, "nation").select(col("nation"),
        concat_ws(",", col("kmv")).as("kmv"),
        size(col("kmv")).cast("int").as("n_kmv"),
        Kmv.estimate(col("kmv"), 32).as("est_distinct"),
        col("exact_distinct"))
    },

    // KMV SET OPERATIONS — the audience-overlap question sketches
    // exist for: union sketch of two segments (merge+truncate, the
    // mergeability that rolls per-partition sketches up), Jaccard from
    // the union sketch's votes, intersection estimate = jaccard ×
    // union estimate — next to the exact intersection for calibration.
    // Every float is a fixed-order composition of IEEE ops -> oracled.
    QueryDef("q115b_kmv_overlap",
      """WITH e AS (
        |  SELECT event_type, user_id FROM events
        |  WHERE event_type IN ('view', 'purchase')
        |), hashed AS (
        |  SELECT DISTINCT event_type,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(CAST(user_id AS VARCHAR), ''),
        |          c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951) AS h0
        |  FROM e
        |), fin AS (
        |  SELECT event_type,
        |    (h0 * 1250284240999530269::HUGEINT + 558566537817138577)
        |      % 2305843009213693951 AS h
        |  FROM hashed
        |), ranked AS (
        |  SELECT event_type, h,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM fin
        |), sk AS (
        |  SELECT event_type, list(CAST(h AS BIGINT) ORDER BY h) AS kmv
        |  FROM ranked WHERE rn <= 32 GROUP BY event_type
        |), ab AS (
        |  SELECT (SELECT kmv FROM sk WHERE event_type = 'view') AS a,
        |         (SELECT kmv FROM sk WHERE event_type = 'purchase') AS b
        |), uu AS (
        |  SELECT a, b, list_sort(list_distinct(list_concat(a, b)))[1:32] AS un
        |  FROM ab
        |), est AS (
        |  SELECT
        |    CAST(len(a) AS INTEGER) AS n_a,
        |    CAST(len(b) AS INTEGER) AS n_b,
        |    CAST(len(un) AS INTEGER) AS n_union_sketch,
        |    CAST(len(list_intersect(list_intersect(un, a), b)) AS DOUBLE)
        |      / CAST(len(un) AS DOUBLE) AS jaccard_est,
        |    (CAST(len(list_intersect(list_intersect(un, a), b)) AS DOUBLE)
        |      / CAST(len(un) AS DOUBLE))
        |    * (CASE WHEN len(un) < 32 THEN CAST(len(un) AS DOUBLE)
        |            ELSE CAST(31 AS DOUBLE) * CAST(2305843009213693951 AS DOUBLE)
        |                 / CAST(un[32] AS DOUBLE) END) AS est_intersection
        |  FROM uu
        |), exact AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
        |    SELECT DISTINCT user_id FROM e WHERE event_type = 'view'
        |    INTERSECT
        |    SELECT DISTINCT user_id FROM e WHERE event_type = 'purchase')
        |)
        |SELECT est.*, exact.exact_intersection FROM est, exact""".stripMargin) {
      (s, dir) =>
      import graft.operators.Kmv
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
      val sk = Kmv.sketch(ev, Seq("event_type"), "user_id", 32)
      val a = sk.filter(col("event_type") === "view")
        .select(col("kmv").as("a"))
      val b = sk.filter(col("event_type") === "purchase")
        .select(col("kmv").as("b"))
      val exact = ev.filter(col("event_type") === "view")
        .select("user_id").distinct()
        .intersect(ev.filter(col("event_type") === "purchase")
          .select("user_id").distinct())
        .agg(count(lit(1)).as("exact_intersection"))
      a.crossJoin(b).select(
        size(col("a")).cast("int").as("n_a"),
        size(col("b")).cast("int").as("n_b"),
        size(Kmv.union(col("a"), col("b"), 32)).cast("int")
          .as("n_union_sketch"),
        Kmv.jaccard(col("a"), col("b"), 32).as("jaccard_est"),
        Kmv.intersectEstimate(col("a"), col("b"), 32)
          .as("est_intersection"))
        .crossJoin(exact)
    },

    // BM25 lexical retrieval (the standard-formula counterpart to the
    // ANN family — what every RAG pipeline runs next to the vector
    // index). Float idf/length-norm scores -> rows-only; hand-computed
    // closed-form check in PipelineSpec; the integer statistics
    // underneath are fully oracled by the q109b companion.
    QueryDef.noOracle("q109_bm25_retrieval") { (s, dir) =>
      graft.operators.TextOps.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "merge", "vector"), k = 10)
    },

    // ORACLED BM25 sufficient statistics — per matching (doc, query
    // term): tf + doc length; per term: df; corpus totals for
    // idf/avgdl. Everything an integer; the postings shuffle carries
    // ONLY the query terms' rows (isin before the explode's
    // aggregation).
    QueryDef("q109b_bm25_stats_oracle",
      """WITH base AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, len(tk) AS dl, t.token, COUNT(*) AS tf
        |  FROM base, UNNEST(tk) AS t(token)
        |  WHERE t.token IN ('spark', 'merge', 'vector')
        |  GROUP BY doc_id, len(tk), t.token
        |), dfc AS (
        |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
        |), tot AS (
        |  SELECT COUNT(*) AS n_docs, SUM(len(tk)) AS total_len FROM base
        |)
        |SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
        |  CAST(tf.dl AS BIGINT) AS dl, CAST(dfc.df AS BIGINT) AS df,
        |  CAST(tot.n_docs AS BIGINT) AS n_docs,
        |  CAST(tot.total_len AS BIGINT) AS total_len
        |FROM tf JOIN dfc USING (token) CROSS JOIN tot""".stripMargin) {
      (s, dir) =>
      graft.operators.TextOps.bm25Stats(t(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "merge", "vector"))
    },

    // Retrieval HYDRATION: ANN neighbors joined back to the source table
    // — the vector-store serving pattern (search → fetch document). Rank
    // order is float-stable here (q39b analysis), and the hydration join
    // is a broadcast of the tiny result set against the corpus.
    QueryDef("q76_retrieval",
      """WITH rank AS (
        |  SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS nn_rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 3)
        |SELECT r.query_id, r.neighbor_id, r.nn_rank, d.lang, d.n_chars
        |FROM rank r JOIN documents d ON r.neighbor_id = d.doc_id""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val hits = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("nn_rank"))
      hits.join(t(s, dir, "documents")
          .select(col("doc_id").as("neighbor_id"), col("lang"), col("n_chars")),
        Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("nn_rank"),
          col("lang"), col("n_chars"))
    },

    // Cluster-balanced sampling (topic-balance curation): k-means cells
    // over the embedding corpus, then an exact per-cell quota — the
    // "diversify by semantic cluster" step of dataset mixing. Float
    // k-means has no SQL twin -> rows-only; cell stability + quota
    // enforcement in PipelineSpec; the quota machinery itself is fully
    // oracled by the q71b companion.
    QueryDef.noOracle("q71_cluster_balance") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.Ivf.trainCentroids(emb, "embedding", nlist = 16)
      graft.operators.Sampling.stratifiedExact(
        emb.withColumn("cell", graft.operators.Ivf.assignCells(emb, "embedding", cents))
          .select(col("vec_id"), col("label"), col("cell")),
        "cell", "vec_id", n = 20)
    },

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // an exact-budget k with inclusion odds proportional to per-row
    // weight (here n_chars — longer documents more likely) — the
    // data-mixing primitive an expected-fraction filter cannot give.
    // Deterministic md5-keyed draws (partition-independent, replayable)
    // but float pow priorities -> rows-only; weight bias, exact budget,
    // determinism, and partition independence in PipelineSpec.
    QueryDef.noOracle("q108_weighted_sample") { (s, dir) =>
      graft.operators.Sampling.weightedSampleExact(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars")),
        "doc_id", "n_chars", k = 200)
    },

    // ORACLED A-ES draw — q108's replayable twin: weights restricted to
    // powers of two, so the float priority u^(1/w) is an ITERATED-SQRT
    // chain (IEEE sqrt is correctly rounded everywhere; general pow is
    // not) over an exact 48-bit md5 uniform — the whole draw, priority
    // double included, hash-matches DuckDB end to end.
    QueryDef("q108b_weighted_sample_oracle",
      """WITH wt AS (
        |  SELECT doc_id,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END
        |      AS INTEGER) AS w
        |  FROM documents
        |), pr AS (
        |  SELECT doc_id, w,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 12))
        |       ::BIGINT::DOUBLE + 1.0) / 281474976710656.0 AS u
        |  FROM wt
        |)
        |SELECT doc_id, w,
        |  CASE w WHEN 1 THEN u WHEN 2 THEN sqrt(u)
        |         ELSE sqrt(sqrt(u)) END AS priority
        |FROM pr
        |ORDER BY priority DESC, doc_id
        |LIMIT 200""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, 1)
          .when(col("doc_id") % 3 === 1, 2)
          .otherwise(4).cast("int").as("w"))
      graft.operators.Sampling.weightedSamplePow2(docs, "doc_id", "w", k = 200)
    },

    // PER-GROUP weighted quota — the "k docs per language, weight-
    // biased" curation budget: the q108b pow2 A-ES priorities ranked
    // within each lang (one group-keyed window), fully oracled
    // including the sqrt-chain priority doubles.
    QueryDef("q120_weighted_quota_per_group",
      """WITH wt AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END
        |      AS INTEGER) AS w
        |  FROM documents
        |), pr AS (
        |  SELECT doc_id, lang, w,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 12))
        |       ::BIGINT::DOUBLE + 1.0) / 281474976710656.0 AS u
        |  FROM wt
        |), scored AS (
        |  SELECT doc_id, lang, w,
        |    CASE w WHEN 1 THEN u WHEN 2 THEN sqrt(u)
        |           ELSE sqrt(sqrt(u)) END AS priority
        |  FROM pr
        |)
        |SELECT doc_id, lang, w, priority FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY priority DESC, doc_id) AS rn
        |  FROM scored)
        |WHERE rn <= 20""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        when(col("doc_id") % 3 === 0, 1)
          .when(col("doc_id") % 3 === 1, 2)
          .otherwise(4).cast("int").as("w"))
      graft.operators.Sampling.weightedSamplePow2PerGroup(
        docs, Seq("lang"), "doc_id", "w", kPerGroup = 20)
    },

    // ORACLED stratified quota — q71's selection machinery over a
    // DETERMINISTIC cross-engine cell assignment (md5 prefix of the
    // vec id; md5 hex is identical in every engine — the q41b/q62
    // portability argument): per-cell row_number quota, same
    // stratifiedExact operator, hash-matched end to end. Only the cell
    // SOURCE differs from q71 (float k-means has no SQL twin); the
    // quota path is byte-identical code.
    QueryDef("q71b_stratified_quota_oracle",
      """SELECT vec_id, label, cell FROM (
        |  SELECT vec_id, label, cell,
        |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        |  FROM (
        |    SELECT vec_id, label,
        |      substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) AS cell
        |    FROM embeddings))
        |WHERE rn <= 20""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
        substring(md5(col("vec_id").cast("string")), 1, 2).as("cell"))
      graft.operators.Sampling.stratifiedExact(emb, "cell", "vec_id", n = 20)
    },

    // Brute-force ANN with an ORACLE: rank order (cos desc, id asc) is
    // float-stable here — the smallest adjacent top-k cosine gap in
    // this data is ~2e-5, nine orders above any accumulation-order
    // noise — so emitting (query, neighbor, rank) without the float
    // score hash-matches DuckDB's list_cosine_similarity ranking.
    QueryDef("q39b_ann_rank",
      """SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS nn_rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |               c.vec_id ASC) AS rn
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("nn_rank"))
    },

    // IVF ANN at FULL probe (nprobe = nlist) — the oracle-mode
    // degenerate configuration: every cell is probed, so the candidate
    // set is the whole corpus and the exact within-cell cosine ranking
    // must equal brute force (PipelineSpec proves the equality; this
    // query proves it cross-engine vs DuckDB). Rank-only output (q39b
    // float-stability analysis applies: the smallest adjacent cosine
    // gap is ~2e-5, far above accumulation-order noise). Production
    // shape is q40b (nprobe << nlist); this pins the pipeline exact.
    QueryDef("q40c_ann_ivf_fullprobe",
      """SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS nn_rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |               c.vec_id ASC) AS rn
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.operators.Ivf.ivfTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("nn_rank"))
    },

    // IVF-PQ at full probe + full exact rerank — same oracle-mode idea
    // one level up: all cells probed, ADC shortlist wide enough (4096 >
    // corpus at every test SF) that the exact-rerank stage re-scores
    // every candidate with true cosine, so the final ranking must equal
    // brute force regardless of PQ quantization error. Proves the whole
    // IVF-PQ pipeline (cell assign → code encode → ADC scan → exact
    // rerank) is exact when un-approximated; production shape is q72.
    QueryDef("q72b_ann_ivfpq_rerank",
      """SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS nn_rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |               c.vec_id ASC) AS rn
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.Ivf.trainCentroids(emb, "embedding", nlist = 16)
      val model = graft.operators.Pq.train(emb, "embedding", m = 8, k = 16)
      graft.operators.Pq.ivfAdcTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", kNeighbors = 5, cents, nprobe = 16, model,
        rerank = 4096)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("nn_rank"))
    },

    // SQ8 scalar quantization (the standard 4×-compression embedding
    // store: float32 → int8 codes + one scale per vector). Codes are
    // round(x·127/max|x|) — INTEGER output, and round-half-away-from-
    // zero is the SQL ROUND rule, so unlike float-scored ANN the whole
    // quantization hash-checks cell-by-cell cross-engine. Map-only.
    QueryDef("q83_sq8_quantize",
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma
        |  FROM embeddings
        |),
        |codes AS (
        |  SELECT vec_id, ma / 127.0 AS scale,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> 0)
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS INT))
        |    END AS code
        |  FROM m
        |)
        |SELECT vec_id, CAST(g AS INT) AS pos, code[g + 1] AS code, scale
        |FROM codes, UNNEST(range(len(code))) AS t(g)""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(Similarity.sq8Codes(col("embedding"))).as(Seq("pos", "code")),
          Similarity.sq8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("pos"), col("code"), col("scale"))
    },

    // SQ8 ANN scan: corpus stored as packed int8 codes (4× less scan
    // IO), similarity = EXACT integer dot product of code vectors,
    // ranked (sim desc, id asc). Every value in the plan is an integer
    // — codes, similarity, rank — so this ANN query hash-matches a SQL
    // replay outright, no rank-only float-stability argument needed.
    // ANN EVAL harness: recall@5 of the SQ8 integer scan (q83b) against
    // the exact float ranking (rank-stable per the q39b argument) — the
    // metric every index/quantizer tuning loop reads. Both result sets
    // replay in DuckDB (integer dot / list_cosine_similarity), so the
    // recall counts hash-match end to end.
    QueryDef("q91_ann_recall",
      """WITH m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma,
        |    embedding
        |  FROM embeddings
        |),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS code
        |  FROM m
        |),
        |approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.code, c.code) DESC, c.vec_id ASC) AS rn
        |    FROM codes q, codes c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rn <= 5
        |),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rn <= 5
        |)
        |SELECT t.query_id,
        |  CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
        |  CAST(COUNT(a.neighbor_id) AS DOUBLE) / 5 AS recall
        |FROM truth t LEFT JOIN approx a
        |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
        |GROUP BY t.query_id""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val approx = Similarity.sq8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      Similarity.recallAtK(approx, truth, k = 5)
    },

    QueryDef("q83b_sq8_ann",
      """WITH m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma,
        |    embedding
        |  FROM embeddings
        |),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS code
        |  FROM m
        |)
        |SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS nn_rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_dot_product(q.code, c.code) AS BIGINT) AS sim,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.code, c.code) DESC, c.vec_id ASC) AS rn
        |  FROM codes q, codes c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("sim").cast("long").as("sim"), col("rank").as("nn_rank"))
    },

    // HYBRID RETRIEVAL FUSION, fully oracled: reciprocal-rank fusion
    // of the exact-cosine retriever (q39b's rank-stable ranking) and
    // the SQ8 integer-dot retriever (q83b) — the standard two-leg
    // hybrid combiner. The DOUBLE rrf score hash-matches cross-engine
    // because both engines accumulate it as the EXACT integer rational
    // N/D (see rrfFuse scaladoc) and divide once — IEEE-identical for
    // any list count; ties break on neighbor id identically. Cost is
    // result-sized: input lists are k-bounded per query before the
    // fusion shuffle.
    QueryDef("q110_hybrid_rrf",
      """WITH brute AS (
        |  SELECT query_id, neighbor_id, rn FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 10
        |), m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma,
        |    embedding
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS code
        |  FROM m
        |), sq8 AS (
        |  SELECT query_id, neighbor_id, rn FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.code, c.code) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM codes q, codes c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 10
        |), u AS (
        |  SELECT * FROM brute UNION ALL SELECT * FROM sq8
        |), f AS (
        |  SELECT query_id, neighbor_id, list(60 + rn) AS cs
        |  FROM u GROUP BY query_id, neighbor_id
        |), fr AS (
        |  SELECT query_id, neighbor_id, cs,
        |    list_reduce(cs, (a, b) -> a * b) AS d
        |  FROM f
        |), fx AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(list_sum(list_transform(cs, x -> d // x)) AS DOUBLE) / d
        |      AS rrf_score,
        |    CAST(len(cs) AS BIGINT) AS n_lists
        |  FROM fr
        |)
        |SELECT query_id, neighbor_id, rrf_score, n_lists,
        |  CAST(rk AS INTEGER) AS fused_rank
        |FROM (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY query_id
        |        ORDER BY rrf_score DESC, neighbor_id ASC) AS rk FROM fx)
        |WHERE rk <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      val sq8 = Similarity.sq8TopK(
        emb, "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      Similarity.rrfFuse(Seq(brute, sq8), k = 5)
    },

    // THREE-LIST hybrid fusion — the case the naive float-sum RRF
    // cannot oracle (three addends depend on shuffle arrival order):
    // exact cosine + SQ8 dot + SQ8 L1 fused through the same rational
    // accumulator, proving rrfFuse determinism beyond two lists.
    QueryDef("q110b_hybrid_rrf3",
      """WITH brute AS (
        |  SELECT query_id, neighbor_id, rn FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 10
        |), m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma,
        |    embedding
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0
        |      THEN list_transform(embedding, y -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             y -> CAST(round(CAST(y AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS code
        |  FROM m
        |), sq8 AS (
        |  SELECT query_id, neighbor_id, rn FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.code, c.code) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM codes q, codes c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 10
        |), l1 AS (
        |  SELECT query_id, neighbor_id, rn FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_sum(list_transform(list_zip(q.code, c.code),
        |                   x -> abs(x[1] - x[2]))) ASC,
        |                 c.vec_id ASC) AS rn
        |    FROM codes q, codes c
        |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 10
        |), u AS (
        |  SELECT * FROM brute UNION ALL SELECT * FROM sq8
        |  UNION ALL SELECT * FROM l1
        |), f AS (
        |  SELECT query_id, neighbor_id, list(60 + rn) AS cs
        |  FROM u GROUP BY query_id, neighbor_id
        |), fr AS (
        |  SELECT query_id, neighbor_id, cs,
        |    list_reduce(cs, (a, b) -> a * b) AS d
        |  FROM f
        |), fx AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(list_sum(list_transform(cs, x -> d // x)) AS DOUBLE) / d
        |      AS rrf_score,
        |    CAST(len(cs) AS BIGINT) AS n_lists
        |  FROM fr
        |)
        |SELECT query_id, neighbor_id, rrf_score, n_lists,
        |  CAST(rk AS INTEGER) AS fused_rank
        |FROM (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY query_id
        |        ORDER BY rrf_score DESC, neighbor_id ASC) AS rk FROM fx)
        |WHERE rk <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      val sq8 = Similarity.sq8TopK(
        emb, "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      val l1 = Similarity.sq8L1TopK(
        emb, "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      Similarity.rrfFuse(Seq(brute, sq8, l1), k = 5)
    },

    // URL canonicalization + crawl dedup (Common-Crawl-style corpora
    // dedup by canonical URL before any content pass): two messy
    // variants of every page — scheme/host case, www., explicit :443,
    // trailing slash, utm_/fbclid tracking params, unsorted query,
    // fragment — built deterministically per doc pair, canonicalized
    // with NATIVE parse_url+array column work (no UDF, map-only), then
    // deduped keep-first by doc_id (one hash shuffle). The oracle
    // states the canonical form closed-form per doc_id — every rule
    // must land exactly for the hash to match.
    QueryDef("q105_url_canonical_dedup",
      """SELECT doc_id,
        |  'https://example.com/item/' || CAST(doc_id // 2 AS VARCHAR)
        |    || '?a=1&b=2' AS canonical_url
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val base = (col("doc_id") / 2).cast("long").cast("string")
      val url = when(col("doc_id") % 2 === 0,
        concat(lit("https://Example.com/item/"), base,
          lit("/?b=2&a=1#frag")))
        .otherwise(concat(lit("HTTPS://WWW.example.COM:443/item/"), base,
          lit("?utm_source=feed&fbclid=xyz&a=1&utm_medium=rss&b=2")))
      TextOps.urlDedup(docs.withColumn("url", url), "url", "doc_id")
        .select(col("doc_id"), col("canonical_url"))
    },

    // Domain-level blocklist filtering (the standard web-curation step
    // BEFORE any content pass — spam/SEO domains are dropped by
    // registered domain, not per-URL): deterministic host per
    // doc_id%5, registered domain = last two host labels, blocklist
    // {bad-ads.net}; unparseable URLs fail closed. Map-only native
    // column work; the oracle states domain and keep decision
    // closed-form per residue.
    QueryDef("q106_domain_filter",
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.com'
        |    WHEN 3 THEN 'site.org' END AS domain
        |FROM documents WHERE doc_id % 5 IN (0, 1, 3)""".stripMargin) {
      (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val host = element_at(array(lit("a.b.example.com"),
        lit("WWW.Example.COM"), lit("spam.bad-ads.net"),
        lit("news.site.org"), lit("cdn.bad-ads.net")),
        (col("doc_id") % 5).cast("int") + 1)
      val withUrl = docs.withColumn("url",
        concat(lit("https://"), host, lit("/p/"), col("doc_id")))
      TextOps.domainFilter(withUrl, "url", Seq("bad-ads.net"))
        .filter(col("domain_kept"))
        .select(col("doc_id"), col("domain"))
    },

    // PUBLIC-SUFFIX-LIST registered domains (q106's ccTLD-correct
    // sibling): deterministic hosts per doc_id%8 exercise multi-label
    // registries (co.uk, com.au), the private section (github.io), a
    // wildcard TLD (*.ck), its exception (!www.ck), and the
    // no-registrable-domain case (a host that IS a public suffix →
    // null). The hosts are synthetic, so the oracle states the PSL
    // algorithm's answers closed-form per residue — the Spark side must
    // reproduce them through the real snapshot + algorithm
    // (operators/Psl.scala, codegen'd StaticInvoke lookup).
    QueryDef("q106b_psl_domains",
      """SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'example.co.uk'
        |    WHEN 1 THEN 'example.co.uk'
        |    WHEN 2 THEN 'bbc.com.au'
        |    WHEN 3 THEN 'project.github.io'
        |    WHEN 4 THEN 'foo.bar.ck'
        |    WHEN 5 THEN 'www.ck'
        |    WHEN 6 THEN 'example.com'
        |    ELSE NULL END AS domain
        |FROM documents""".stripMargin) { (s, dir) =>
      val hosts = array(
        lit("www.example.co.uk"),        // www subdomain + co.uk registry
        lit("deep.sub.example.co.uk"),   // deep subdomain, same domain
        lit("news.bbc.com.au"),          // com.au registry
        lit("project.github.io"),        // PSL private section
        lit("foo.bar.ck"),               // *.ck wildcard: bar.ck is a suffix
        lit("www.ck"),                   // !www.ck exception beats *.ck
        lit("a.b.example.com"),          // plain gTLD
        lit("co.uk"))                    // IS a public suffix -> null
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.registeredDomain(
          element_at(hosts, (col("doc_id") % 8).cast("int") + 1))
          .as("domain"))
    },

    // EXACT-SUBSTRING duplication profile (Lee et al. 2021's ExactSubstr
    // dedup notion, distributed as a hash-shingle shuffle instead of the
    // paper's single-node suffix array): per-doc count of 40-char
    // stride-10 windows whose content recurs ANYWHERE in the corpus
    // (other docs or self-repetition) — the long-verbatim-boilerplate
    // signal doc-level and near-dup passes both miss. Window hashes are
    // the oracled GF(2^61-1) polynomial, counts are integers, the ratio
    // is one IEEE division -> the whole profile hash-matches.
    QueryDef("q123_char_window_dup",
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(substr(text, p, 40), ''),
        |          c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951)
        |      AS BIGINT) AS h
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2, 10)) AS u(p)
        |  WHERE text IS NOT NULL AND length(text) >= 40
        |), s AS (
        |  SELECT h, COUNT(*) AS sites FROM w GROUP BY h
        |)
        |SELECT w.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN s.sites > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  CAST(SUM(CASE WHEN s.sites > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS dup_ratio
        |FROM w JOIN s USING (h)
        |GROUP BY w.doc_id""".stripMargin) { (s, dir) =>
      Dedup.charWindowDupStats(t(s, dir, "documents"), "doc_id", "text",
        k = 40, stride = 10)
    },

    // LOG-LINEAR HISTOGRAM (HdrHistogram-style mergeable quantile
    // sketch): per-flag bucket counts of price cents with 5 sub-bucket
    // bits — relative error ≤ 2^-5, state O(64·2^5) buckets per group,
    // per-shard histograms roll up by bucket-wise sum. The bucket
    // mapping is pure integer arithmetic (length(bin(v))-1 is the
    // cross-engine integer log2), so the SKETCH ITSELF hash-matches —
    // unlike t-digest/KLL whose float centroids or randomness cannot.
    QueryDef("q124_log_histogram",
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem
        |), b AS (
        |  SELECT flag,
        |    CASE WHEN cents <= 0 THEN 0
        |         ELSE cents - cents % CAST(pow(2.0,
        |           greatest(length(bin(cents)) - 1 - 5, 0)) AS BIGINT)
        |    END AS bucket_lo
        |  FROM v
        |)
        |SELECT flag, bucket_lo, CAST(COUNT(*) AS BIGINT) AS n
        |FROM b GROUP BY flag, bucket_lo""".stripMargin) { (s, dir) =>
      import graft.operators.Sketches
      val cents = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      Sketches.logHistogram(cents, Seq("flag"), "cents", bits = 5)
    },

    // Quantiles read off the histogram: per flag, the p50/p90/p99
    // bucket lower bounds (cumulative-count walk, percentile_disc rank
    // rule as a pure integer comparison) next to the group total. A
    // LOWER bound on each true quantile within 2^-5 relative error —
    // and every value an integer, so the estimates replay exactly.
    QueryDef("q124b_log_hist_quantiles",
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem
        |), b AS (
        |  SELECT flag,
        |    CASE WHEN cents <= 0 THEN 0
        |         ELSE cents - cents % CAST(pow(2.0,
        |           greatest(length(bin(cents)) - 1 - 5, 0)) AS BIGINT)
        |    END AS bucket_lo
        |  FROM v
        |), h AS (
        |  SELECT flag, bucket_lo, COUNT(*) AS n FROM b GROUP BY 1, 2
        |), c AS (
        |  SELECT flag, bucket_lo,
        |    SUM(n) OVER (PARTITION BY flag ORDER BY bucket_lo) AS cum,
        |    SUM(n) OVER (PARTITION BY flag) AS total
        |  FROM h
        |), q AS (
        |  SELECT flag, bucket_lo, cum, total, q_pct
        |  FROM c, UNNEST([50, 90, 99]) AS u(q_pct)
        |)
        |SELECT flag, q_pct, CAST(MIN(bucket_lo) AS BIGINT) AS est_lo,
        |  CAST(MIN(total) AS BIGINT) AS n_total
        |FROM q WHERE cum * 100 >= q_pct * total
        |GROUP BY flag, q_pct""".stripMargin) { (s, dir) =>
      import graft.operators.Sketches
      val cents = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      Sketches.logHistQuantiles(cents, Seq("flag"), "cents", bits = 5,
        qPcts = Seq(50, 90, 99))
    },

    // LEAKAGE-SAFE SPLITS, fully oracled (splitTag's md5 twin): every
    // doc sharing a dedup-cluster key (here the exact-dup digest) lands
    // in the SAME train/val/test split by construction — the property
    // that keeps near-duplicates of training docs out of eval — with
    // the audit column proving it in-band (max_splits_per_cluster must
    // be 1). Assignment = 48 md5 bits against INTEGER thresholds
    // floor(2^48·cum/1000): partitioning- and engine-independent.
    QueryDef("q126_leakage_safe_split",
      """WITH keyed AS (
        |  SELECT doc_id, md5(text) AS ckey
        |  FROM documents WHERE text IS NOT NULL
        |), a AS (
        |  SELECT doc_id, ckey,
        |    ('0x' || substr(md5(ckey || ':7'), 1, 12))::BIGINT AS u
        |  FROM keyed
        |), s AS (
        |  SELECT doc_id, ckey,
        |    CASE WHEN u < (281474976710656 * 800) // 1000 THEN 'train'
        |         WHEN u < (281474976710656 * 900) // 1000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM a
        |), aud AS (
        |  SELECT CAST(MAX(ns) AS BIGINT) AS max_splits_per_cluster
        |  FROM (SELECT ckey, COUNT(DISTINCT split) AS ns
        |        FROM s GROUP BY ckey)
        |)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT ckey) AS BIGINT) AS n_clusters,
        |  (SELECT max_splits_per_cluster FROM aud) AS max_splits_per_cluster
        |FROM s GROUP BY split""".stripMargin) { (s, dir) =>
      import graft.operators.Sampling
      val keyed = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), md5(col("text")).as("ckey"))
      val tagged = Sampling.splitByKey(keyed, "ckey",
        Seq(("train", 800), ("val", 100), ("test", 100)), seed = 7L)
      val aud = tagged.groupBy(col("ckey"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(max(col("ns")).as("max_splits_per_cluster"))
      tagged.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("ckey")).as("n_clusters"))
        .crossJoin(aud)
    },

    // NATIVE DELTA ROUND-TRIP through the driver gate: each run builds
    // a REAL Delta table (public log format — two append commits via
    // DeltaLite.write) from region rows and reads it back through the
    // native snapshot reader (log replay, active-file set, schema from
    // metaData). The oracle states the final table contents directly,
    // so a replay/commit/schema bug anywhere in the reader or writer
    // hash-mismatches. This is the delta connector capability
    // (reader.rs full-scan parity) exercised end to end with ZERO
    // delta-spark involvement.
    QueryDef("q129_delta_roundtrip",
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, upper(r_name) AS r_name
        |FROM region WHERE r_regionkey < 3""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q129_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      DeltaLite.write(s, r, tbl) // commit 0
      DeltaLite.write(s, // commit 1: appended derived rows
        r.filter(col("r_regionkey") < 3)
          .select((col("r_regionkey") + 100).as("r_regionkey"),
            upper(col("r_name")).as("r_name")), tbl)
      DeltaLite.read(s, tbl)
    },

    // NATIVE DELTA COPY-ON-WRITE MERGE through the driver gate: build a
    // two-file table (key-ranged commits), then one atomic upsert commit
    // that REPLACES key 1, DELETES key 4, and INSERTS key 200 — only
    // files whose per-file key stats intersect the batch range are
    // rewritten (DeltaLite.upsert). The oracle states the merged table
    // directly, so a wrong replace/delete/insert, a mis-pruned file, or
    // a stats/commit bug all hash-mismatch. This is the reference's
    // replace-by-key sink contract (ReplacingMergeTree semantics) as a
    // Delta MERGE, with ZERO delta-spark involvement.
    QueryDef("q130_delta_upsert",
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_regionkey NOT IN (1, 4)
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS r_regionkey, 'MERGED' AS r_name
        |UNION ALL
        |SELECT CAST(200 AS BIGINT) AS r_regionkey, 'NEWKEY' AS r_name""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q130_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      DeltaLite.write(s, r.filter(col("r_regionkey") < 3).coalesce(1), tbl)
      DeltaLite.write(s, r.filter(col("r_regionkey") >= 3).coalesce(1), tbl)
      DeltaLite.upsert(s,
        Seq((1L, "MERGED"), (200L, "NEWKEY")).toDF("r_regionkey", "r_name"),
        tbl, Seq("r_regionkey"),
        deleteKeys = Some(Seq(Tuple1(4L)).toDF("r_regionkey")))
      DeltaLite.read(s, tbl)
    },

    // NATIVE ICEBERG ROUND-TRIP through the driver gate: each run
    // builds a REAL Iceberg v2 table (public table-format spec — two
    // append commits via IcebergLite.write, then a POSITION-DELETE
    // commit suppressing two rows merge-on-read) and reads the latest
    // snapshot back natively (metadata json → avro manifest list →
    // manifests → parquet scan → pos-delete anti join). The oracle
    // states the final visible rows directly, so a manifest/metadata/
    // delete-application bug anywhere in the reader or writer
    // hash-mismatches. ZERO iceberg-spark involvement.
    QueryDef("q131_iceberg_roundtrip",
      """SELECT r_regionkey, r_name FROM region WHERE r_regionkey <> 1
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, upper(r_name) AS r_name
        |FROM region
        |WHERE r_regionkey < 3 AND r_regionkey + 100 <> 102""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q131_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r, tbl) // snapshot 1
      IcebergLite.write(s, // snapshot 2: appended derived rows
        r.filter(col("r_regionkey") < 3)
          .select((col("r_regionkey") + 100).as("r_regionkey"),
            upper(col("r_name")).as("r_name")), tbl)
      // snapshot 3: position deletes across BOTH earlier commits
      IcebergLite.deleteWhere(s, tbl,
        col("r_regionkey") === 1 || col("r_regionkey") === 102)
      IcebergLite.read(s, tbl)
    },

    // NATIVE ICEBERG MERGE-ON-READ UPSERT through the driver gate:
    // build a two-file table, then ONE atomic merge snapshot that
    // REPLACES key 1, DELETES key 4, and INSERTS key 200 — a
    // position-delete manifest suppresses the touched keys and the
    // batch lands as a data manifest, with no data file rewritten
    // (IcebergLite.upsert; the MoR counterpart of q130's delta
    // copy-on-write). The oracle states the merged table directly.
    QueryDef("q132_iceberg_merge",
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_regionkey NOT IN (1, 4)
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS r_regionkey, 'MERGED' AS r_name
        |UNION ALL
        |SELECT CAST(200 AS BIGINT) AS r_regionkey, 'NEWKEY' AS r_name""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q132_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r.filter(col("r_regionkey") < 3).coalesce(1), tbl)
      IcebergLite.write(s, r.filter(col("r_regionkey") >= 3).coalesce(1), tbl)
      IcebergLite.upsert(s,
        Seq((1L, "MERGED"), (200L, "NEWKEY")).toDF("r_regionkey", "r_name"),
        tbl, Seq("r_regionkey"),
        deleteKeys = Some(Seq(Tuple1(4L)).toDF("r_regionkey")))
      IcebergLite.read(s, tbl)
    },

    // GOP-STRUCTURE CENSUS without payload decode: real avc1 MP4s whose
    // mdat samples are length-framed H.264 coded-slice NALs with
    // spec-complete slice HEADERS (ITU-T H.264 §7.3.3 through the
    // deblocking idc — slice DATA stays the documented opaque
    // stand-in), classified I/P/B from the header alone and
    // cross-checked against the container's stss keyframe table
    // (operators/Multimodal.mp4GopProbe + IsoBmff.avcSliceInfo). The
    // GOP law is closed-form in doc_id, so every count is oracled:
    // nFrames = 4 + id%5, gop = 2 + id%3, IDR at j%gop==0, P at 1,
    // B otherwise.
    QueryDef("q133_gop_census",
      """SELECT doc_id AS id, 'avc1' AS codec,
        |  CAST(4 + doc_id % 5 AS BIGINT) AS n_samples,
        |  CAST((4 + doc_id % 5 + 1 + doc_id % 3)
        |       // (2 + doc_id % 3) AS BIGINT) AS n_idr,
        |  CAST((4 + doc_id % 5 + 1 + doc_id % 3)
        |       // (2 + doc_id % 3) AS BIGINT) AS n_i,
        |  CAST((2 + doc_id % 5) // (2 + doc_id % 3) + 1 AS BIGINT) AS n_p,
        |  CAST((4 + doc_id % 5)
        |       - (4 + doc_id % 5 + 1 + doc_id % 3) // (2 + doc_id % 3)
        |       - ((2 + doc_id % 5) // (2 + doc_id % 3) + 1)
        |       AS BIGINT) AS n_b,
        |  CAST(1 AS INTEGER) AS stss_agree
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderAvcGopMp4s(t(s, dir, "documents"), "doc_id")
      Multimodal.mp4GopProbe(media).toDF()
        .filter(col("ok"))
        .select(col("id"), col("codec"),
          col("nSamples").as("n_samples"), col("nIdr").as("n_idr"),
          col("nI").as("n_i"), col("nP").as("n_p"), col("nB").as("n_b"),
          col("stssAgrees").cast("int").as("stss_agree"))
    },

    // The HEVC mirror: IDR_W_RADL / TRAIL_R / TRAIL_N NAL types with
    // slice_segment_header classification (ITU-T H.265 §7.3.6.1) and
    // the same oracled GOP law — one probe operator covers both codecs.
    QueryDef("q133b_gop_census_hevc",
      """SELECT doc_id AS id, 'hvc1' AS codec,
        |  CAST(4 + doc_id % 5 AS BIGINT) AS n_samples,
        |  CAST((4 + doc_id % 5 + 1 + doc_id % 3)
        |       // (2 + doc_id % 3) AS BIGINT) AS n_idr,
        |  CAST((4 + doc_id % 5 + 1 + doc_id % 3)
        |       // (2 + doc_id % 3) AS BIGINT) AS n_i,
        |  CAST((2 + doc_id % 5) // (2 + doc_id % 3) + 1 AS BIGINT) AS n_p,
        |  CAST((4 + doc_id % 5)
        |       - (4 + doc_id % 5 + 1 + doc_id % 3) // (2 + doc_id % 3)
        |       - ((2 + doc_id % 5) // (2 + doc_id % 3) + 1)
        |       AS BIGINT) AS n_b,
        |  CAST(1 AS INTEGER) AS stss_agree
        |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.renderHevcGopMp4s(t(s, dir, "documents"), "doc_id")
      Multimodal.mp4GopProbe(media).toDF()
        .filter(col("ok"))
        .select(col("id"), col("codec"),
          col("nSamples").as("n_samples"), col("nIdr").as("n_idr"),
          col("nI").as("n_i"), col("nP").as("n_p"), col("nB").as("n_b"),
          col("stssAgrees").cast("int").as("stss_agree"))
    },

    // ICEBERG COMPACTION through the driver gate: build a table, retract
    // odd keys merge-on-read (position-delete commit), then COMPACT —
    // the touched files rewrite with the deletes resolved, delete
    // manifests drop, and the oracle states the surviving rows, so a
    // wrong rewrite, a lost carried file, or a mis-applied delete all
    // hash-mismatch. The read path after compaction is a plain scan
    // (no anti join left to pay).
    QueryDef("q134_iceberg_compact",
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_regionkey % 2 = 0""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q134_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r.filter(col("r_regionkey") < 3).coalesce(1), tbl)
      IcebergLite.write(s, r.filter(col("r_regionkey") >= 3).coalesce(1), tbl)
      IcebergLite.deleteWhere(s, tbl, col("r_regionkey") % 2 === 1)
      IcebergLite.compact(s, tbl)
      IcebergLite.read(s, tbl)
    },

    // ICEBERG EQUALITY DELETES through the driver gate: retract keys 1
    // and 3 with deleteByKeys (ZERO table reads — the write-optimized
    // retraction), then RE-INSERT key 1: the spec's sequence rule makes
    // the delete suppress only older data files, so the re-insert is
    // visible. The oracle states the final rows, so a wrong sequence
    // comparison, a tuple-match bug, or a mis-scoped anti join all
    // hash-mismatch.
    QueryDef("q135_iceberg_eq_delete",
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_regionkey NOT IN (1, 3)
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS r_regionkey,
        |  'RETURNED' AS r_name""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q135_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r, tbl)
      IcebergLite.deleteByKeys(s,
        tbl, Seq(Tuple1(1L), Tuple1(3L)).toDF("r_regionkey"),
        Seq("r_regionkey"))
      IcebergLite.write(s,
        Seq((1L, "RETURNED")).toDF("r_regionkey", "r_name"), tbl)
      IcebergLite.read(s, tbl)
    },

    // ICEBERG SCHEMA EVOLUTION through the driver gate: commit the base
    // table, then append WIDER rows (a new `tag` column) — the schema
    // evolves under a fresh schema-id and the pre-evolution files read
    // the addition as null. The oracle states the merged shape
    // directly, so a wrong id assignment, a mis-filled old file, or a
    // schema-selection bug all hash-mismatch.
    QueryDef("q136_iceberg_evolution",
      """SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS tag
        |FROM region
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, r_name,
        |  upper(r_name) AS tag
        |FROM region""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q136_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r, tbl)
      IcebergLite.write(s,
        r.select((col("r_regionkey") + 100).as("r_regionkey"),
          col("r_name"), upper(col("r_name")).as("tag")), tbl)
      IcebergLite.read(s, tbl)
    },

    // RENAME EVOLUTION through the driver gate: nation lands under the
    // original column names, then a METADATA-ONLY rename flips
    // n_name → nation_name, and a post-rename append mixes files
    // written under BOTH schemas. The read resolves the old files by
    // FIELD ID (the spec's indirection) — a reader that matched by
    // name would return nulls for every pre-rename row and
    // hash-mismatch against the oracle, which computes the same union
    // straight from the raw parquet.
    QueryDef("q136b_iceberg_rename",
      """SELECT n_nationkey, n_name AS nation_name FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100 AS n_nationkey,
        |  lower(n_name) AS nation_name
        |FROM nation""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q136b_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name").cast("string").as("n_name"))
      IcebergLite.write(s, n, tbl)
      IcebergLite.renameColumn(s, tbl, "n_name", "nation_name")
      IcebergLite.write(s,
        n.select((col("n_nationkey") + 100).as("n_nationkey"),
          lower(col("n_name")).as("nation_name")), tbl)
      IcebergLite.read(s, tbl)
    },

    // DELTA METADATA-ONLY RENAME through the driver gate (the q136b
    // contract, delta-side): an unmapped table upgrades to column
    // mapping `name` mode in place (protocol 2/5, fresh ids,
    // physicalName = original name), RENAMES a column without touching
    // any data file, then appends under the NEW logical name — the
    // staged file carries the ORIGINAL physical name, so the read must
    // resolve both generations through physicalName. A reader matching
    // raw names would null every post-rename row; a writer staging
    // logical names would null every pre-rename row — either
    // hash-fails against the oracle's union over raw parquet.
    QueryDef("q145_delta_rename",
      """SELECT n_nationkey, n_name AS nation_name FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100 AS n_nationkey,
        |  lower(n_name) AS nation_name
        |FROM nation""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q145_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name").cast("string").as("n_name"))
      DeltaLite.write(s, n, tbl)
      DeltaLite.enableColumnMapping(s, tbl)
      DeltaLite.renameColumn(s, tbl, "n_name", "nation_name")
      DeltaLite.write(s,
        n.select((col("n_nationkey") + 100).as("n_nationkey"),
          lower(col("n_name")).as("nation_name")), tbl)
      DeltaLite.read(s, tbl)
    },

    // ICEBERG METADATA TABLES through the driver gate: a fixed commit
    // sequence (append, append, MoR delete, merge) audited through the
    // snapshots/files inspection surface — operations, per-content
    // file-kind row totals, and the live row count all deterministic.
    // A wrong summary, a lost delete manifest, or a mis-counted
    // record_count hash-mismatches.
    QueryDef("q137_iceberg_meta_tables",
      """SELECT * FROM (VALUES
        |  ('op:append', CAST(2 AS BIGINT)),
        |  ('op:delete', CAST(1 AS BIGINT)),
        |  ('op:overwrite', CAST(1 AS BIGINT)),
        |  ('files:data', CAST(3 AS BIGINT)),
        |  ('files:position_deletes', CAST(2 AS BIGINT)),
        |  ('visible_rows', CAST(4 AS BIGINT))
        |) AS t(metric, n)""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q137_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r.filter(col("r_regionkey") < 3).coalesce(1), tbl)
      IcebergLite.write(s, r.filter(col("r_regionkey") >= 3).coalesce(1), tbl)
      IcebergLite.deleteWhere(s, tbl, col("r_regionkey") === 0)
      IcebergLite.upsert(s, // merge: one more pos-delete + one data file
        Seq((1L, "MERGED")).toDF("r_regionkey", "r_name"),
        tbl, Seq("r_regionkey"))
      val ops = IcebergLite.snapshotsDf(s, tbl)
        .groupBy(concat(lit("op:"), col("operation")).as("metric"))
        .agg(count(lit(1)).as("n"))
      val files = IcebergLite.filesDf(s, tbl)
        .groupBy(concat(lit("files:"), col("content")).as("metric"))
        .agg(count(lit(1)).as("n"))
      val rows = IcebergLite.read(s, tbl)
        .agg(count(lit(1)).as("n"))
        .select(lit("visible_rows").as("metric"), col("n"))
      ops.unionByName(files).unionByName(rows)
    },

    // DELTA HISTORY through the driver gate: every native commit now
    // leads with the commitInfo action mainstream writers emit, and
    // DESCRIBE-HISTORY-as-a-DataFrame reads it back — a fixed
    // write/overwrite/merge sequence makes version, operation and
    // add/remove counts all deterministic.
    QueryDef("q138_delta_history",
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'WRITE', CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'WRITE', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'MERGE', CAST(1 AS BIGINT), CAST(0 AS BIGINT))
        |) AS t(version, operation, n_add, n_remove)""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q138_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      DeltaLite.write(s, r.filter(col("r_regionkey") < 3).coalesce(1), tbl)
      DeltaLite.write(s,
        r.filter(col("r_regionkey") >= 3).coalesce(1), tbl, "overwrite")
      DeltaLite.upsert(s,
        Seq((1L, "M")).toDF("r_regionkey", "r_name"), tbl,
        Seq("r_regionkey"))
      DeltaLite.historyDf(s, tbl)
        .select(col("version"), col("operation"),
          col("num_added_files").as("n_add"),
          col("num_removed_files").as("n_remove"))
    },

    // IDENTITY-PARTITIONED ICEBERG WRITE through the driver gate: the
    // table lands with a real partition spec (spec fields + per-file
    // partition values in the manifests, data under par=<v> dirs, all
    // columns kept in the files per the spec) and reads back whole.
    QueryDef("q139_iceberg_partitioned",
      """SELECT r_regionkey, r_regionkey % 2 AS par, r_name
        |FROM region""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q139_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          (col("r_regionkey") % 2).cast("bigint").as("par"),
          col("r_name").cast("string").as("r_name"))
      IcebergLite.write(s, r, tbl, partitionBy = Seq("par"))
      IcebergLite.read(s, tbl)
    },

    // DAY-TRANSFORM-PARTITIONED ICEBERG WRITE + PRUNED READ through the
    // driver gate: a month of orders lands under day(o_orderdate)
    // partitions (spec transform + per-file date partition values in
    // the manifests), and the read-back goes through the transform-
    // aware manifest pruner — only the matching days' files are
    // scanned, then the residual filter + aggregate run distributed.
    // The oracle recomputes the same window straight from the raw
    // parquet, so a pruning bug (wrongly dropped or ghost-resurrected
    // partition) hash-fails.
    QueryDef("q139b_iceberg_day_transform",
      """SELECT CAST(o_orderdate AS DATE) AS o_orderdate, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-03-01'
        |  AND o_orderdate < DATE '1995-03-16'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q139b_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val lo = java.sql.Date.valueOf("1995-03-01")
      val cut = java.sql.Date.valueOf("1995-03-16")
      val hi = java.sql.Date.valueOf("1995-04-01")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      IcebergLite.write(s, o, tbl,
        partitionBy = Seq("day(o_orderdate)"))
      IcebergLite.read(s, tbl, where =
          Some(col("o_orderdate") >= lo && col("o_orderdate") < cut))
        .groupBy("o_orderdate")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").cast("long").as("sum_cust"))
    },

    // PARTITIONED ICEBERG ROW-LEVEL MUTATIONS through the driver gate:
    // a day-partitioned orders table takes a native DELETE (partition
    // predicate + residual — the pruner bounds the scan to the matching
    // day, the position-delete files land partition-scoped) and a keyed
    // MERGE (batch staged through the same transform layout, prior
    // images suppressed by partition-scoped position deletes in the
    // SAME snapshot). The oracle rebuilds the final state from raw
    // parquet — a delete leaking outside its day, a resurrected prior
    // image, or a mis-partitioned batch file hash-fails.
    QueryDef("q146_iceberg_partitioned_merge",
      """SELECT o_orderkey, o_custkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-03-01'
        |  AND o_orderdate < DATE '1995-04-01'
        |  AND NOT (o_orderdate = DATE '1995-03-05' AND o_custkey % 2 = 0)
        |  AND o_orderdate <> DATE '1995-03-10'
        |UNION ALL
        |SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders WHERE o_orderdate = DATE '1995-03-10'""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q146_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val lo = java.sql.Date.valueOf("1995-03-01")
      val hi = java.sql.Date.valueOf("1995-04-01")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      IcebergLite.write(s, o, tbl, partitionBy = Seq("day(o_orderdate)"))
      IcebergLite.deleteWhere(s, tbl,
        col("o_orderdate") === java.sql.Date.valueOf("1995-03-05") &&
          col("o_custkey") % 2 === 0)
      IcebergLite.upsert(s,
        o.filter(col("o_orderdate") === java.sql.Date.valueOf("1995-03-10"))
          .select(col("o_orderkey"),
            (col("o_custkey") + 1000000).as("o_custkey"),
            col("o_orderdate")),
        tbl, Seq("o_orderkey"))
      IcebergLite.read(s, tbl)
    },

    // GLOBAL EQUALITY DELETE on a PARTITIONED table through the driver
    // gate: a region-partitioned nation table takes a zero-read
    // deleteByKeys across partitions (the delete manifest rides a
    // second, unpartitioned spec — multi-spec metadata), then a LATER
    // append re-inserts one retracted key, which the sequence rule must
    // re-admit. The oracle rebuilds the final state from raw parquet —
    // a delete leaking forward in time, a key surviving retraction, or
    // a spec mix-up that loses the partition layout hash-fails.
    QueryDef("q147_iceberg_global_eq_delete",
      """SELECT n_nationkey, n_regionkey, n_name FROM nation
        |WHERE n_nationkey % 4 <> 1
        |UNION ALL
        |SELECT n_nationkey, n_regionkey, 'REBORN' AS n_name
        |FROM nation WHERE n_nationkey = 5""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q147_iceberg").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_regionkey").cast("bigint").as("n_regionkey"),
          col("n_name").cast("string").as("n_name"))
      IcebergLite.write(s, n, tbl, partitionBy = Seq("n_regionkey"))
      IcebergLite.deleteByKeys(s, tbl,
        n.filter(col("n_nationkey") % 4 === 1)
          .select(col("n_nationkey")), Seq("n_nationkey"))
      IcebergLite.write(s, {
        import s.implicits._
        n.filter(col("n_nationkey") === 5)
          .select(col("n_nationkey"), col("n_regionkey"),
            lit("REBORN").as("n_name"))
      }, tbl)
      IcebergLite.read(s, tbl)
    },

    // DELETION-VECTOR DELETE through the driver gate: customers land in
    // a native delta table, a merge-on-read DV delete retracts a key
    // slice WITHOUT rewriting any data file (bitmap + re-add commits),
    // a second delete stacks (bitmap union), and the read applies the
    // vectors. The oracle recomputes the surviving set straight from
    // the raw parquet — resurrected rows, over-deletes, or bitmap
    // decode drift hash-fail.
    QueryDef("q141_delta_dv_delete",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey % 3 <> 0 AND c_custkey % 7 <> 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q141_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_name").cast("string").as("c_name"))
      DeltaLite.write(s, c, tbl)
      DeltaLite.deleteWhere(s, tbl, col("c_custkey") % 3 === 0)
      DeltaLite.deleteWhere(s, tbl, col("c_custkey") % 7 === 1)
      DeltaLite.read(s, tbl)
    },

    // MERGE OVER LIVE DELETION VECTORS through the driver gate: a DV
    // delete retracts every third customer, then a keyed MERGE lands
    // WITHOUT an intervening compact — its rewrite scans read through
    // the row_index anti-filter, touched files absorb their bitmaps,
    // untouched range-clustered files keep theirs. The oracle builds
    // the same final state from raw parquet: a resurrected DV-deleted
    // row, a lost merge image, or an over-absorbed bitmap hash-fails.
    QueryDef("q144_delta_merge_dv",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey <= 30 THEN 'MERGED' ELSE c_name END AS c_name
        |FROM customer
        |WHERE c_custkey % 3 <> 0 OR c_custkey <= 30""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q144_mergedv").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_name").cast("string").as("c_name"))
      // range-clustered files so the merge's stats pruning touches only
      // the low-key files; the rest keep their DVs live
      DeltaLite.write(s,
        c.repartitionByRange(4, col("c_custkey")), tbl)
      DeltaLite.deleteWhere(s, tbl, col("c_custkey") % 3 === 0)
      DeltaLite.upsert(s,
        c.filter(col("c_custkey") <= 30)
          .select(col("c_custkey"), lit("MERGED").as("c_name")),
        tbl, Seq("c_custkey"))
      DeltaLite.read(s, tbl)
    },

    // NATIVE LAKEHOUSE TAIL through the driver gate: a delta table
    // accumulates three versions (create, append, keyed upsert), then
    // the version-offset streaming tail replays it from version 0 with
    // Trigger.AvailableNow — one micro-batch per version, each the
    // O(changed-files) keyed CDC diff. The sunk feed (row + _op + _seq
    // = version) must equal the oracle's hand-built expectation over
    // the same region source; a wrong diff, skipped version, or
    // mis-sequenced batch hash-fails.
    QueryDef("q142_delta_tail_replay",
      """SELECT r_regionkey, r_name, 'insert' AS _op,
        |  CAST(0 AS BIGINT) AS _seq
        |FROM region
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, r_name,
        |  'insert' AS _op, CAST(1 AS BIGINT) AS _seq
        |FROM region
        |UNION ALL
        |SELECT r_regionkey, 'MERGED' AS r_name,
        |  'update_postimage' AS _op, CAST(2 AS BIGINT) AS _seq
        |FROM region WHERE r_regionkey = 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q142_tail").toString
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val tbl = s"$base/tbl"
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      DeltaLite.write(s, r, tbl)
      DeltaLite.write(s,
        r.select((col("r_regionkey") + 100).as("r_regionkey"),
          col("r_name")), tbl)
      DeltaLite.upsert(s, {
        import s.implicits._
        Seq((1L, "MERGED")).toDF("r_regionkey", "r_name")
      }, tbl, Seq("r_regionkey"))
      val q = s.readStream.format("graft.sources.LakeTailSource")
        .option("path", tbl).option("table_format", "delta")
        .option("keys", "r_regionkey").option("starting_version", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "tail replay timed out")
      s.read.parquet(s"$base/out")
        .select(col("r_regionkey"), col("r_name"), col("_op"), col("_seq"))
    },

    // TIMESTAMP-PARTITIONED + COLUMN-MAPPED DELTA MUTATION TWIN: one
    // query composes the delta feature set — a date-partitioned table
    // upgrades to column mapping (metadata-only protocol+schema
    // commit), then a mixed partition+predicate deleteWhere (a full
    // partition drops, other files gain DVs) and a keyed MERGE both
    // land on the mapped partitioned layout (physical partition dirs,
    // partitionValues keyed by physicalName, DV-absorbing rewrite).
    // The oracle rebuilds the same final state from raw parquet — a
    // mis-mapped physical name, resurrected DV row, or lost partition
    // literal hash-fails.
    QueryDef("q148_delta_mapped_mutation",
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_orderdate AS DATE) AS o_orderdate
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-03-01'
        |    AND o_orderdate < DATE '1995-03-08'
        |), after_del AS (
        |  SELECT * FROM base
        |  WHERE NOT (o_orderdate = DATE '1995-03-05' OR o_custkey % 7 = 0)
        |), merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    o_orderdate
        |  FROM after_del
        |)
        |SELECT o_orderdate, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q148_mapped").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      // one WEEK of orders (~7 date partitions): the rig still pins
      // CM upgrade + partitioned staging + DV delete + merge, without
      // a month-wide staging pass dominating bench wall-clock
      val lo = java.sql.Date.valueOf("1995-03-01")
      val hi = java.sql.Date.valueOf("1995-03-08")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      DeltaLite.write(s, o, tbl, partitionBy = Seq("o_orderdate"))
      DeltaLite.enableColumnMapping(s, tbl)
      DeltaLite.deleteWhere(s, tbl,
        col("o_orderdate") === java.sql.Date.valueOf("1995-03-05") ||
          col("o_custkey") % 7 === 0)
      // the batch's lineage is itself a DV-filtered read of the table
      // being merged — persist it so upsert's stats/semi/anti jobs and
      // the rewrite union evaluate the read once
      val batch = DeltaLite.read(s, tbl)
        .filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_custkey", col("o_custkey") + 1000000L)
        .persist()
      DeltaLite.upsert(s, batch, tbl, Seq("o_orderkey"))
      batch.unpersist()
      DeltaLite.read(s, tbl)
        .groupBy("o_orderdate")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").cast("long").as("sum_cust"))
    },

    // CDF TAIL TWIN — q142's rig on a table created with
    // delta.enableChangeDataFeed=true: the tail takes the EXACT
    // change-data path (cdc files for the MERGE, derived inserts for
    // the blind appends, per-commit _seq) instead of the keyed
    // snapshot diff, and the sunk feed must hash-match the SAME
    // oracle expectation as the keyed path — the two CDC derivations
    // agree row-for-row. The rig pins the CDF path by asserting the
    // MERGE wrote _change_data files.
    QueryDef("q149_cdf_tail_replay",
      """SELECT r_regionkey, r_name, 'insert' AS _op,
        |  CAST(0 AS BIGINT) AS _seq
        |FROM region
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, r_name,
        |  'insert' AS _op, CAST(1 AS BIGINT) AS _seq
        |FROM region
        |UNION ALL
        |SELECT r_regionkey, 'MERGED' AS r_name,
        |  'update_postimage' AS _op, CAST(2 AS BIGINT) AS _seq
        |FROM region WHERE r_regionkey = 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q149_cdf").toString
      val p = new org.apache.hadoop.fs.Path(base)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.delete(p, true)
      val tbl = s"$base/tbl"
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      DeltaLite.write(s, r, tbl,
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      DeltaLite.write(s,
        r.select((col("r_regionkey") + 100).as("r_regionkey"),
          col("r_name")), tbl)
      DeltaLite.upsert(s, {
        import s.implicits._
        Seq((1L, "MERGED")).toDF("r_regionkey", "r_name")
      }, tbl, Seq("r_regionkey"))
      // the MERGE must have written exact change-data files — pin the
      // CDF path (a silent keyed-diff fallback would also pass the
      // oracle, defeating the twin's purpose)
      require(fsys.exists(new org.apache.hadoop.fs.Path(tbl,
        "_change_data")), "CDF table wrote no _change_data files")
      require(DeltaLite.changeFeedIfAvailable(s, tbl, 1, 2).nonEmpty,
        "CDF range (1,2] unexpectedly unavailable")
      val q = s.readStream.format("graft.sources.LakeTailSource")
        .option("path", tbl).option("table_format", "delta")
        .option("keys", "r_regionkey").option("starting_version", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "CDF tail replay timed out")
      s.read.parquet(s"$base/out")
        .select(col("r_regionkey"), col("r_name"), col("_op"), col("_seq"))
    },

    // BATCH CHANGE-DATA-FEED READ through the driver gate: a CDF table
    // accumulates create → DV delete → keyed MERGE (which re-inserts
    // some previously deleted keys and updates live ones), and
    // changeFeed(-1, 2] must return the EXACT per-commit classification
    // — derived inserts for the creation, cdc deletes for the DV
    // delete, and insert vs update_preimage/update_postimage split by
    // whether the merged key was live. The oracle rebuilds every
    // change row from raw parquet; one misclassified row, lost
    // preimage, or wrong commit version hash-fails.
    QueryDef("q150_delta_cdf_batch",
      """SELECT c_custkey, c_name, 'insert' AS _change_type,
        |  CAST(0 AS BIGINT) AS _commit_version FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, 'delete', 1 FROM customer
        |WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey, 'MERGED', 'insert', 2 FROM customer
        |WHERE c_custkey <= 30 AND c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, 'update_preimage', 2 FROM customer
        |WHERE c_custkey <= 30 AND c_custkey % 3 <> 0
        |UNION ALL
        |SELECT c_custkey, 'MERGED', 'update_postimage', 2 FROM customer
        |WHERE c_custkey <= 30 AND c_custkey % 3 <> 0""".stripMargin) {
      (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q150_cdf").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_name").cast("string").as("c_name"))
      DeltaLite.write(s, c, tbl,
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      DeltaLite.deleteWhere(s, tbl, col("c_custkey") % 3 === 0)
      DeltaLite.upsert(s,
        c.filter(col("c_custkey") <= 30)
          .select(col("c_custkey"), lit("MERGED").as("c_name")),
        tbl, Seq("c_custkey"))
      DeltaLite.changeFeed(s, tbl, -1, 2)
        .select(col("c_custkey"), col("c_name"), col("_change_type"),
          col("_commit_version"))
    },

    // ICEBERG TAIL TWIN (q149's contract on the OTHER table format):
    // the sequence-number tail replays append → append → position
    // delete with Trigger.AvailableNow. The rig PINS both derivations
    // — the pure-append range must take the appendOnlyAdds fast path
    // (inserts straight from the added files, no keyed join) and the
    // delete range must decline it (keyed snapshot-diff fallback) —
    // and the sunk feed must hash-match ONE oracle expectation across
    // both paths: the two CDC derivations agree row-for-row.
    QueryDef("q151_iceberg_tail_replay",
      """SELECT r_regionkey, r_name, 'insert' AS _op,
        |  CAST(1 AS BIGINT) AS _seq
        |FROM region
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, r_name,
        |  'insert' AS _op, CAST(2 AS BIGINT) AS _seq
        |FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete' AS _op,
        |  CAST(3 AS BIGINT) AS _seq
        |FROM region WHERE r_regionkey % 2 = 0
        |UNION ALL
        |SELECT r_regionkey + 100 AS r_regionkey, r_name,
        |  'delete' AS _op, CAST(3 AS BIGINT) AS _seq
        |FROM region WHERE (r_regionkey + 100) % 2 = 0""".stripMargin) {
      (s, dir) =>
      import graft.sources.IcebergLite
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q151_icetail").toString
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val tbl = s"$base/tbl"
      val r = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name").cast("string").as("r_name"))
      val s1 = IcebergLite.write(s, r, tbl)
      val s2 = IcebergLite.write(s,
        r.select((col("r_regionkey") + 100).as("r_regionkey"),
          col("r_name")), tbl)
      val s3 = IcebergLite.deleteWhere(s, tbl,
        col("r_regionkey") % 2 === 0)
      require(IcebergLite.appendOnlyAdds(s, tbl, s1, s2).nonEmpty,
        "append range unexpectedly declined the appendOnlyAdds fast path")
      require(IcebergLite.appendOnlyAdds(s, tbl, s2, s3).isEmpty,
        "delete range unexpectedly took the append-only fast path")
      val q = s.readStream.format("graft.sources.LakeTailSource")
        .option("path", tbl).option("table_format", "iceberg")
        .option("keys", "r_regionkey").option("starting_version", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "iceberg tail replay timed out")
      s.read.parquet(s"$base/out")
        .select(col("r_regionkey"), col("r_name"), col("_op"), col("_seq"))
    },

    // ALTER TABLE SET TBLPROPERTIES through the driver gate: a table
    // CREATED PLAIN gains change-data-feed AND a CHECK constraint
    // post-creation (one metadata commit upgrading the protocol), then
    // an append and a DV delete land under the new contract — the
    // append must survive the constraint scan, a violating append must
    // refuse in-rig, and changeFeed over the post-enable range must
    // return the exact per-commit classification. The oracle rebuilds
    // the change set from raw parquet; a lost enablement, skipped
    // constraint, or misclassified row hash-fails.
    QueryDef("q152_delta_alter_properties",
      """SELECT c_custkey + 1000 AS c_custkey, c_name,
        |  'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |FROM customer WHERE c_custkey <= 50
        |UNION ALL
        |SELECT c_custkey, c_name, 'delete', 3 FROM customer
        |WHERE c_custkey <= 100 AND c_custkey % 4 = 0
        |UNION ALL
        |SELECT c_custkey + 1000, c_name, 'delete', 3 FROM customer
        |WHERE c_custkey <= 50 AND (c_custkey + 1000) % 4 = 0""".stripMargin) {
      (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q152_alter").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_name").cast("string").as("c_name"))
      DeltaLite.write(s, c.filter(col("c_custkey") <= 100), tbl)  // v0
      DeltaLite.setTableProperties(s, tbl, Map(                   // v1
        "delta.enableChangeDataFeed" -> "true",
        "delta.constraints.cpos" -> "c_custkey >= 0"))
      // the new constraint is LIVE: a violating append refuses by name
      val refused =
        try { DeltaLite.write(s, {
            import s.implicits._
            Seq((-1L, "bad")).toDF("c_custkey", "c_name")
          }, tbl); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("cpos") }
      require(refused, "post-creation CHECK constraint not enforced")
      DeltaLite.write(s, c.filter(col("c_custkey") <= 50)         // v2
        .select((col("c_custkey") + 1000).as("c_custkey"),
          col("c_name")), tbl)
      DeltaLite.deleteWhere(s, tbl, col("c_custkey") % 4 === 0)   // v3
      // the ALTER actually enabled CDF: exact cdc files + writer-4 floor
      require(fsys.exists(new org.apache.hadoop.fs.Path(tbl,
        "_change_data")), "post-creation CDF wrote no _change_data")
      require(DeltaLite.snapshot(s, tbl).protocol
        .forall(_.minWriterVersion >= 4), "protocol not upgraded")
      DeltaLite.changeFeed(s, tbl, 1, 3)
        .select(col("c_custkey"), col("c_name"), col("_change_type"),
          col("_commit_version"))
    },

    // GENERATED PARTITION COLUMN through the driver gate: a delta
    // table partitioned by a GENERATED bucket column (the 100-TB
    // shape: a date/bucket derived from a business key so scans prune
    // without the writer hand-computing it). The creation provides the
    // column (validated `col <=> expr`); the second append OMITS it —
    // the native writer computes it from the table's generation
    // expression and lands each row in the right partition directory.
    // The oracle recomputes the bucket closed-form; a skipped compute,
    // wrong expression, or lost partition literal hash-fails.
    QueryDef("q153_delta_generated_partition",
      """WITH all_rows AS (
        |  SELECT o_orderkey, o_custkey, o_orderkey % 10 AS o_bucket
        |  FROM orders WHERE o_orderkey <= 4000
        |)
        |SELECT o_bucket, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM all_rows GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q153_gen").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"))
        .filter(col("o_orderkey") <= 4000)
      val genMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("delta.generationExpression", "o_orderkey % 10")
        .build()
      val first = o.filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 10).as("o_bucket", genMeta))
      DeltaLite.write(s, first, tbl, partitionBy = Seq("o_bucket"))
      // the append OMITS the generated partition column entirely
      DeltaLite.write(s, o.filter(col("o_orderkey") > 2000), tbl)
      require(DeltaLite.snapshot(s, tbl).protocol
        .forall(_.minWriterVersion >= 4), "generatedColumns floor lost")
      DeltaLite.read(s, tbl)
        .groupBy("o_bucket")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").cast("long").as("sum_cust"))
    },

    // ICEBERG ORC DATA FILES end-to-end through the driver gate: an
    // identity-partitioned table whose data files are ORC (creation
    // stamps write.format.default=orc; the second append INHERITS it),
    // scanned through Spark's bundled ORC source with per-file bounds
    // from the ORC footers (OrcFooterStats) recovering the partition
    // values. An EQUALITY delete retracts key 3 and a POSITION delete
    // retracts key 103 — the latter stages EXACT row ordinals through
    // the orc-core row reader (IcebergOrcData; Spark's ORC source has
    // no row index) and re-applies through the same reader on scan.
    // The oracle recomputes from raw parquet, so a mis-scanned ORC
    // file, wrong partition value, drifted ordinal, or unapplied
    // delete hash-fails.
    QueryDef("q154_iceberg_orc",
      """WITH all_rows AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |    CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name
        |  FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 100 AS BIGINT) AS n_nationkey,
        |    CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |    upper(n_name) AS n_name
        |  FROM nation
        |)
        |SELECT n_nationkey, n_regionkey, n_name FROM all_rows
        |WHERE n_regionkey < 3 AND n_nationkey NOT IN (3, 103)""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q154_orc").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_regionkey").cast("bigint").as("n_regionkey"),
          col("n_name").cast("string").as("n_name"))
      IcebergLite.write(s, n, tbl, partitionBy = Seq("n_regionkey"),
        format = Some("orc"))
      IcebergLite.write(s, // inherits write.format.default=orc
        n.select((col("n_nationkey") + 100).as("n_nationkey"),
          col("n_regionkey"), upper(col("n_name")).as("n_name")), tbl)
      require(IcebergLite.filesDf(s, tbl)
          .filter(col("content") === "data")
          .select("file_format").as[String].collect().toSet == Set("ORC"),
        "q154 rig must scan ORC data files")
      IcebergLite.deleteByKeys(s, tbl,
        Seq(3L).toDF("n_nationkey"), Seq("n_nationkey"))
      IcebergLite.deleteWhere(s, tbl, col("n_nationkey") === 103L)
      require(IcebergLite.filesDf(s, tbl)
          .filter(col("content") === "position_deletes").count() > 0,
        "q154 rig must exercise the ORC position-delete path")
      IcebergLite.read(s, tbl, where = Some(col("n_regionkey") < 3))
    },

    // ICEBERG AVRO DATA FILES with the FULL mutation surface: the
    // avro codec decodes containers with EXACT per-file row ordinals,
    // so position deletes stage and apply against avro data files
    // (deleteWhere), and a merge-on-read upsert replaces + inserts
    // keys with the batch landing as avro too. The oracle restates
    // delete + merge over raw parquet — a drifted row ordinal would
    // suppress the WRONG rows and hash-fail.
    QueryDef("q155_iceberg_avro_mutation",
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
        |  FROM customer WHERE c_custkey <= 500
        |),
        |survived AS (
        |  SELECT * FROM base
        |  WHERE c_custkey % 7 <> 0 AND c_custkey NOT IN (1, 2, 3)
        |),
        |merged AS (
        |  SELECT * FROM survived
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'MERGED'),
        |    (CAST(2 AS BIGINT), 'MERGED'), (CAST(3 AS BIGINT), 'MERGED'),
        |    (CAST(900001 AS BIGINT), 'MERGED'))
        |    v(c_custkey, c_mktsegment)
        |)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      import s.implicits._
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q155_avro").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_mktsegment").cast("string").as("c_mktsegment"))
        .filter(col("c_custkey") <= 500)
      IcebergLite.write(s, c, tbl, format = Some("avro"))
      IcebergLite.deleteWhere(s, tbl, col("c_custkey") % 7 === 0)
      IcebergLite.upsert(s,
        Seq((1L, "MERGED"), (2L, "MERGED"), (3L, "MERGED"),
          (900001L, "MERGED")).toDF("c_custkey", "c_mktsegment"),
        tbl, Seq("c_custkey"))
      require(IcebergLite.filesDf(s, tbl)
          .filter(col("content") === "data")
          .select("file_format").as[String].collect().toSet == Set("AVRO"),
        "q155 rig must scan AVRO data files")
      IcebergLite.read(s, tbl)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum("c_custkey").cast("long").as("sum_key"))
    },

    // DELTA RESTORE through the driver gate: two appends, a DV delete
    // that retracts every third key, then RESTORE TABLE to the
    // pre-delete version — one commit re-adds the DV'd files without
    // their vectors. The oracle states the UNDELETED table, so a
    // restore that silently kept the deletion vectors (or missed a
    // re-add) hash-fails. The rig asserts the delete really bit first.
    QueryDef("q156_delta_restore",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey <= 4000 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q156_restore").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_orderpriority").cast("string").as("o_orderpriority"))
        .filter(col("o_orderkey") <= 4000)
      DeltaLite.write(s, o.filter(col("o_orderkey") <= 2000), tbl) // v0
      DeltaLite.write(s, o.filter(col("o_orderkey") > 2000), tbl) // v1
      val full = o.count()
      DeltaLite.deleteWhere(s, tbl, col("o_orderkey") % 3 === 0) // v2
      require(DeltaLite.read(s, tbl).count() < full,
        "q156 rig: the delete must bite before the restore undoes it")
      DeltaLite.restore(s, tbl, 1L) // v3: back to the full table
      DeltaLite.read(s, tbl)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum("o_orderkey").cast("long").as("sum_key"))
    },

    // ICEBERG ROLLBACK through the driver gate: a destructive
    // OVERWRITE replaces the supplier table with a subset, then the
    // metadata-only rollback repoints current-snapshot-id at the
    // pre-overwrite snapshot. The oracle states the FULL table — an
    // unrolled-back read (the subset) hash-fails.
    QueryDef("q157_iceberg_rollback",
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  COUNT(*) AS n, CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
        |FROM supplier GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q157_rollback").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("bigint").as("s_suppkey"),
          col("s_nationkey").cast("bigint").as("s_nationkey"))
      val full = sup.count()
      val s1 = IcebergLite.write(s, sup, tbl)
      IcebergLite.write(s, sup.filter(col("s_suppkey") <= 2), tbl,
        "overwrite") // destructive
      require(IcebergLite.read(s, tbl).count() < full,
        "q157 rig: the overwrite must bite before the rollback undoes it")
      IcebergLite.rollbackTo(s, tbl, s1)
      IcebergLite.read(s, tbl)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum("s_suppkey").cast("long").as("sum_key"))
    },

    // DELTA SHALLOW CLONE through the driver gate: the source table
    // (with a live deletion vector) clones by REFERENCE — zero data
    // copied — then the clone takes an append the source must never
    // see. The oracle states the diverged CLONE; the rig asserts the
    // SOURCE kept its own row set, so a clone that shared state with
    // its source would either hash-fail or trip the require.
    QueryDef("q158_delta_clone",
      """WITH src AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_brand
        |  FROM part WHERE p_partkey <= 400
        |),
        |after_del AS (
        |  SELECT * FROM src WHERE p_partkey % 5 <> 0
        |),
        |cloned AS (
        |  SELECT * FROM after_del
        |  UNION ALL
        |  SELECT CAST(900001 AS BIGINT) AS p_partkey,
        |    'Brand#99' AS p_brand
        |)
        |SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(p_partkey) AS BIGINT) AS sum_key
        |FROM cloned GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val srcT = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q158_src").toString
      val tgtT = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q158_clone").toString
      Seq(srcT, tgtT).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val src = t(s, dir, "part")
        .select(col("p_partkey").cast("bigint").as("p_partkey"),
          col("p_brand").cast("string").as("p_brand"))
        .filter(col("p_partkey") <= 400)
      DeltaLite.write(s, src, srcT)
      DeltaLite.deleteWhere(s, srcT, col("p_partkey") % 5 === 0) // DV
      val srcCount = DeltaLite.read(s, srcT).count()
      DeltaLite.clone(s, srcT, tgtT)
      DeltaLite.write(s, // diverge: the clone takes an append
        s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(900001L, "Brand#99")),
          DeltaLite.read(s, tgtT).schema), tgtT)
      require(DeltaLite.read(s, srcT).count() == srcCount,
        "q158 rig: the source must not see the clone's append")
      DeltaLite.read(s, tgtT)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum("p_partkey").cast("long").as("sum_key"))
    },

    // ICEBERG TAG time travel through the driver gate: a release tag
    // pins the full table, a destructive overwrite replaces it, and
    // snapshot EXPIRY reaps everything unreferenced — the tagged
    // snapshot must survive (the spec's expiration contract) and read
    // back by NAME. The oracle states the tagged (original) table, so
    // a reaped tag or a by-name resolution miss hash-fails.
    QueryDef("q159_iceberg_tag_travel",
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q159_tag").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_regionkey").cast("bigint").as("n_regionkey"))
      IcebergLite.write(s, n, tbl)
      IcebergLite.createRef(s, tbl, "rel-1", "tag")
      IcebergLite.write(s, n.filter(col("n_nationkey") < 2), tbl,
        "overwrite") // destructive
      IcebergLite.expireSnapshots(s, tbl, keepLast = 1)
      IcebergLite.read(s, tbl,
          Some(IcebergLite.snapshotForRef(s, tbl, "rel-1")))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"),
          sum("n_nationkey").cast("long").as("sum_key"))
    },

    // DELTA COLUMN DEFAULTS through the driver gate: the table's
    // status column carries CURRENT_DEFAULT metadata (the
    // allowColumnDefaults writer feature, stamped at creation), and
    // the second append OMITS the column entirely — the writer fills
    // 'pending' from the default expression. The oracle states both
    // generations explicitly, so a dropped fill (nulls) or a
    // mis-evaluated default hash-fails.
    QueryDef("q160_delta_defaults",
      """SELECT status, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    'created' AS status
        |  FROM orders WHERE o_orderkey <= 1000
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    'pending' AS status
        |  FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000
        |) GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q160_defaults").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"))
        .filter(col("o_orderkey") <= 2000)
      val defMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("CURRENT_DEFAULT", "'pending'").build()
      DeltaLite.write(s, o.filter(col("o_orderkey") <= 1000)
        .select(col("o_orderkey"),
          lit("created").as("status", defMeta)), tbl)
      DeltaLite.write(s, // OMITS status: the default fills
        o.filter(col("o_orderkey") > 1000), tbl)
      require(DeltaLite.snapshot(s, tbl).protocol.exists(
          _.writerFeatures.exists(_.contains("allowColumnDefaults"))),
        "q160 rig must ride the allowColumnDefaults feature")
      DeltaLite.read(s, tbl)
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum("o_orderkey").cast("long").as("sum_key"))
    },

    // DELTA IDENTITY COLUMNS through the driver gate: a GENERATED
    // ALWAYS id (start 100, step 10) allocates distributed
    // (zipWithIndex — per-partition counts + offsets, no
    // single-partition shuffle) over two appends, the second OMITTING
    // the column entirely and continuing past the high-water mark the
    // first commit's metaData recorded. Batches are sorted and
    // key-disjoint, so the oracle states each row's id in closed form
    // (100 + rank*10) — a duplicated, gapped-wrong, or restarted
    // allocation hash-fails.
    QueryDef("q161_delta_identity",
      """WITH ordered AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn
        |  FROM orders WHERE o_orderkey <= 2000
        |)
        |SELECT CAST(100 + rn * 10 AS BIGINT) AS id, o_orderkey
        |FROM ordered""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q161_identity").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"))
      val idMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("delta.identity.start", 100L)
        .putLong("delta.identity.step", 10L)
        .build()
      DeltaLite.write(s, o.filter(col("o_orderkey") <= 1000)
        .orderBy("o_orderkey")
        .select(lit(null).cast("long").as("id", idMeta),
          col("o_orderkey")), tbl)
      DeltaLite.write(s, // OMITS id: allocation continues past the mark
        o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000)
          .orderBy("o_orderkey"), tbl)
      DeltaLite.read(s, tbl).select("id", "o_orderkey")
    },

    // ROW-TRACKED delta table through the driver gate: creation with
    // delta.enableRowTracking stamps the feature pair, two appends
    // allocate base row ids (the rig asserts contiguous coverage and
    // the advanced high-water mark), and a DV delete re-adds the
    // touched file WITH its coordinates. The oracle states the visible
    // rows — a row-tracked write path that corrupted data (or a
    // re-add that dropped/duplicated rows) hash-fails.
    QueryDef("q162_delta_rowtracking",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
        |FROM lineitem
        |WHERE l_orderkey <= 1000 AND l_linenumber = 1
        |  AND l_orderkey % 10 <> 0
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q162_rowtrack").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val l = t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 1000 && col("l_linenumber") === 1)
        .select(col("l_orderkey").cast("bigint").as("l_orderkey"),
          col("l_returnflag").cast("string").as("l_returnflag"))
      DeltaLite.write(s, l.filter(col("l_orderkey") <= 500), tbl,
        configuration = Map("delta.enableRowTracking" -> "true"))
      DeltaLite.write(s, l.filter(col("l_orderkey") > 500), tbl)
      locally { // allocation invariants: contiguous coverage, mark right
        val snap = DeltaLite.snapshot(s, tbl)
        require(snap.protocol.exists(_.writerFeatures
          .exists(_.contains("rowTracking"))), "q162 needs rowTracking")
        val n = DeltaLite.read(s, tbl).count()
        require(snap.rowIds.size == snap.files.size,
          "every add must carry row-tracking coordinates")
        require(snap.domainMetadata("delta.rowTracking")
          .contains(s"rowIdHighWaterMark\\\":${n - 1}"),
          "high-water mark must equal rows-1 after contiguous allocation")
      }
      DeltaLite.deleteWhere(s, tbl, col("l_orderkey") % 10 === 0)
      locally { // the DV re-add kept its file's coordinates
        val snap = DeltaLite.snapshot(s, tbl)
        require(snap.rowIds.size == snap.files.size,
          "a DV re-add must restate row-tracking coordinates")
      }
      DeltaLite.read(s, tbl)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_orderkey").cast("long").as("sum_key"))
    },

    // LIQUID-CLUSTERED compact through the driver gate: shuffled keys
    // land in many small files, the clustering feature + domain stamp
    // (the delta-spark shape), and OPTIMIZE rewrites into a clustered
    // layout — the rig asserts pairwise-DISJOINT per-file key ranges,
    // and the oracle states the untouched row set (a compact that
    // dropped or duplicated rows while re-laying them out hash-fails).
    QueryDef("q163_delta_clustered_compact",
      """SELECT CAST(SUM(p_partkey) AS BIGINT) AS sum_key,
        |  COUNT(*) AS n, COUNT(DISTINCT p_brand) AS brands
        |FROM part WHERE p_partkey <= 600""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q163_cluster").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.delete(p, true)
      val pa = t(s, dir, "part")
        .filter(col("p_partkey") <= 600)
        .select(col("p_partkey").cast("bigint").as("p_partkey"),
          col("p_brand").cast("string").as("p_brand"))
      // shuffled + split so every file's key range overlaps pre-compact
      DeltaLite.write(s, pa.orderBy(org.apache.spark.sql.functions
        .xxhash64(col("p_partkey"))).repartition(6), tbl)
      locally { // stamp the clustering feature + domain
        val snap = DeltaLite.snapshot(s, tbl)
        val logDir = new org.apache.hadoop.fs.Path(tbl, "_delta_log")
        val out = fsys.create(new org.apache.hadoop.fs.Path(logDir,
          f"${snap.version + 1}%020d.json"), true)
        try out.write((Seq(
          """{"commitInfo":{"timestamp":1,"operation":"CLUSTER BY"}}""",
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","domainMetadata","clustering"]}}""",
          """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"p_partkey\"]]}","removed":false}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
      DeltaLite.compact(s, tbl, smallFileBytes = 6144)
      locally { // clustered layout: per-file key ranges disjoint
        val snap = DeltaLite.snapshot(s, tbl)
        require(snap.files.size >= 2, "q163 wants a multi-file layout")
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val ranges = snap.files.keys.toSeq.map { f =>
          val st = om.readTree(snap.stats(f))
          (st.get("minValues").get("p_partkey").asLong,
            st.get("maxValues").get("p_partkey").asLong)
        }.sortBy(_._1)
        ranges.sliding(2).foreach {
          case Seq((_, hi), (lo2, _)) =>
            require(hi < lo2, s"q163: overlapping clustered ranges $ranges")
          case _ =>
        }
      }
      DeltaLite.read(s, tbl)
        .agg(sum("p_partkey").cast("long").as("sum_key"),
          count(lit(1)).as("n"),
          countDistinct(col("p_brand")).as("brands"))
    },

    // UNIFORM (icebergCompatV2) COPY-ON-WRITE MUTATIONS through the
    // driver gate: a column-mapped table gains the compat feature via
    // ALTER TBLPROPERTIES (delta-spark's enablement path), then a
    // DELETE rewrites the touched files WITHOUT the matched rows and a
    // MERGE rewrites key-touched files wholesale — UniForm forbids
    // deletion vectors, and the rig asserts the table NEVER carries
    // one (snapshot DV map empty after every mutation). The oracle
    // restates the delete predicate and merge transform in closed
    // form, so a mutation that resurrected a deleted row, dropped a
    // survivor, or missed a merge update hash-fails.
    QueryDef("q164_uniform_cow_mutation",
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    CAST(o_custkey AS BIGINT) AS o_custkey
        |  FROM orders WHERE o_orderkey <= 3000
        |), after_del AS (
        |  SELECT * FROM base WHERE NOT (o_custkey % 5 = 0)
        |)
        |SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 500000
        |       ELSE o_custkey END AS o_custkey
        |FROM after_del""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q164_uniform").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.delete(p, true)
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") <= 3000)
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"))
      DeltaLite.write(s, o, tbl)
      DeltaLite.enableColumnMapping(s, tbl)
      DeltaLite.setTableProperties(s, tbl, Map(
        "delta.enableIcebergCompatV2" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg"))
      def assertNoDv(stage: String): Unit = {
        val snap = DeltaLite.snapshot(s, tbl)
        require(snap.protocol.exists(_.writerFeatures
            .exists(_.contains("icebergCompatV2"))),
          s"q164 rig must ride the icebergCompatV2 feature ($stage)")
        require(snap.dvs.isEmpty,
          s"q164: UniForm table grew a deletion vector after $stage")
      }
      assertNoDv("enable")
      DeltaLite.deleteWhere(s, tbl, col("o_custkey") % 5 === 0)
      assertNoDv("delete")
      val batch = DeltaLite.read(s, tbl)
        .filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_custkey", col("o_custkey") + 500000L)
        .persist()
      DeltaLite.upsert(s, batch, tbl, Seq("o_orderkey"))
      batch.unpersist()
      assertNoDv("merge")
      DeltaLite.read(s, tbl).select("o_orderkey", "o_custkey")
    },

    // MERGE-TIME IDENTITY ALLOCATION through the driver gate: a
    // GENERATED ALWAYS id table takes two MERGEs — matched keys
    // INHERIT their exact ids (closed form 100 + rank*10 from the
    // ordered creation), new keys ALLOCATE past the advanced
    // high-water mark (the first merge's conservative advance is part
    // of the closed form: hwm grows by batch-size slots). The oracle
    // restates every id arithmetic in SQL — an inherit that
    // reallocated, a double-allocation, or a wrong mark advance
    // hash-fails on sum_id.
    QueryDef("q165_identity_merge",
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn
        |  FROM orders WHERE o_orderkey <= 1000
        |), t0 AS (
        |  SELECT o_orderkey, CAST(100 + rn * 10 AS BIGINT) AS id
        |  FROM base
        |), olds AS (
        |  SELECT o_orderkey, id,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'merged' ELSE 'base' END
        |      AS tag
        |  FROM t0
        |), consts AS (
        |  SELECT MAX(id) AS hwm0,
        |    SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS m1
        |  FROM t0
        |), newrows AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn2
        |  FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 1400
        |), news AS (
        |  SELECT n.o_orderkey,
        |    CAST(c.hwm0 + c.m1 * 10 + 10 + n.rn2 * 10 AS BIGINT) AS id,
        |    'new' AS tag
        |  FROM newrows n CROSS JOIN consts c
        |)
        |SELECT tag, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM (SELECT * FROM olds UNION ALL SELECT * FROM news)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q165_idmerge").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"))
      val idMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("delta.identity.start", 100L)
        .putLong("delta.identity.step", 10L)
        .build()
      DeltaLite.write(s, o.filter(col("o_orderkey") <= 1000)
        .orderBy("o_orderkey")
        .select(lit(null).cast("long").as("id", idMeta),
          col("o_orderkey"), lit("base").as("tag")), tbl)
      // merge 1: every batch key matches → pure INHERIT (ids keep);
      // the mark still advances conservatively by the batch's slots
      DeltaLite.upsert(s, o.filter(col("o_orderkey") <= 1000 &&
          col("o_orderkey") % 5 === 0)
        .select(lit(null).cast("long").as("id"), col("o_orderkey"),
          lit("merged").as("tag")), tbl, Seq("o_orderkey"))
      // merge 2: every key is new → pure ALLOCATION past the mark
      DeltaLite.upsert(s, o.filter(col("o_orderkey") > 1000 &&
          col("o_orderkey") <= 1400)
        .select(lit(null).cast("long").as("id"), col("o_orderkey"),
          lit("new").as("tag")), tbl, Seq("o_orderkey"))
      DeltaLite.read(s, tbl)
        .groupBy("tag")
        .agg(count(lit(1)).as("n"), sum("id").cast("long").as("sum_id"),
          sum("o_orderkey").cast("long").as("sum_key"))
    },

    // UNIFORM CONVERSION through the driver gate: a UniForm
    // (icebergCompatV2) delta table takes an append + copy-on-write
    // delete, then syncUniform registers the surviving files as an
    // iceberg snapshot under <table>/metadata — and the RESULT IS READ
    // THROUGH THE ICEBERG METADATA (IcebergLite.read), never the delta
    // log, so a missed file, a stale registration, or a field-id
    // mismatch between the iceberg schema and the parquet footers
    // hash-fails against the oracle's restatement of the mutations.
    QueryDef("q166_uniform_iceberg_sync",
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    CAST(o_custkey AS BIGINT) AS o_custkey
        |  FROM orders WHERE o_orderkey <= 2400
        |)
        |SELECT o_orderkey, o_custkey FROM base
        |WHERE NOT (o_orderkey % 4 = 0)""".stripMargin) { (s, dir) =>
      import graft.sources.{DeltaLite, IcebergLite}
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q166_unisync").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"))
      val first = o.filter(col("o_orderkey") <= 2000)
      val firstN = first.count()
      DeltaLite.write(s, first, tbl)
      DeltaLite.enableColumnMapping(s, tbl)
      DeltaLite.setTableProperties(s, tbl, Map(
        "delta.enableIcebergCompatV2" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg"))
      val s1 = DeltaLite.syncUniform(s, tbl)
      // append + copy-on-write delete, then RE-sync: the registration
      // must move to the new delta version (each sync overwrites)
      DeltaLite.write(s,
        o.filter(col("o_orderkey") > 2000 && col("o_orderkey") <= 2400),
        tbl)
      DeltaLite.deleteWhere(s, tbl, col("o_orderkey") % 4 === 0)
      DeltaLite.syncUniform(s, tbl)
      // the FIRST registration stays time-travelable at its id
      require(IcebergLite.read(s, tbl, snapshotId = Some(s1)).count() ==
        firstN, "q166: the first sync's snapshot must pin the " +
        "pre-mutation row count")
      IcebergLite.read(s, tbl).select("o_orderkey", "o_custkey")
    },

    // UNIFORM NESTED FIELD IDS through the driver gate (round 18): a
    // UniForm table with an ARRAY and a MAP column — icebergCompatV2
    // allocates the member ids past maxColumnId at enablement
    // (iceberg numbers list/map members, delta column mapping numbers
    // named fields only), the staged parquet footers are patched to
    // carry them, and the synced iceberg schema numbers members with
    // the SAME ids. The mutations after enablement ride the AUTO-sync
    // (universalFormat.enabledFormats) — a failed sync leaves the
    // iceberg view stale and hash-fails. Output derives SCALARS from
    // the containers (element lookups + size) so the oracle restates
    // them from the raw rows: a silent-null member resolution, a
    // missed sync, or a broken container read all hash-fail.
    QueryDef("q170_uniform_nested_sync",
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    CAST(o_custkey AS BIGINT) AS o_custkey
        |  FROM orders WHERE o_orderkey <= 2400
        |)
        |SELECT o_orderkey,
        |  o_custkey AS tag1,
        |  o_orderkey % 7 AS tag2,
        |  2 AS n_tags,
        |  o_custkey AS ck
        |FROM base WHERE NOT (o_orderkey % 4 = 0)""".stripMargin) { (s, dir) =>
      import graft.sources.{DeltaLite, IcebergLite}
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q170_uninest").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2400)
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"))
        .withColumn("tags",
          org.apache.spark.sql.functions.array(
            col("o_custkey"), col("o_orderkey") % 7))
        .withColumn("props",
          org.apache.spark.sql.functions.map(lit("ck"), col("o_custkey")))
      DeltaLite.write(s, o.filter(col("o_orderkey") <= 2000), tbl)
      DeltaLite.enableColumnMapping(s, tbl)
      DeltaLite.setTableProperties(s, tbl, Map(
        "delta.enableIcebergCompatV2" -> "true",
        "delta.universalFormat.enabledFormats" -> "iceberg"))
      // the pre-enablement file's footer lacks the allocated ids: the
      // sync's footer verification (round 19) refuses until the
      // footer-only rewrite repairs it — the delta-spark REORG
      // UPGRADE UNIFORM shape, exercised here on the oracled path
      DeltaLite.reorgUpgradeUniform(s, tbl)
      DeltaLite.syncUniform(s, tbl)
      // append + copy-on-write delete AFTER enablement: both stage
      // member-id-stamped files and auto-sync the iceberg view
      DeltaLite.write(s,
        o.filter(col("o_orderkey") > 2000 && col("o_orderkey") <= 2400),
        tbl)
      DeltaLite.deleteWhere(s, tbl, col("o_orderkey") % 4 === 0)
      require(DeltaLite.snapshot(s, tbl).configuration
          .get("graft.uniform.lastSyncFailure").isEmpty,
        "q170: UniForm auto-sync must not lag on a nested-column table")
      IcebergLite.read(s, tbl).select(
        col("o_orderkey"),
        org.apache.spark.sql.functions.element_at(col("tags"), 1)
          .as("tag1"),
        org.apache.spark.sql.functions.element_at(col("tags"), 2)
          .as("tag2"),
        org.apache.spark.sql.functions.size(col("tags")).as("n_tags"),
        org.apache.spark.sql.functions.element_at(col("props"), "ck")
          .as("ck"))
    },

    // ICEBERG ADD_FILES (migration) through the driver gate: a plain
    // hive-partitioned parquet dump registers IN PLACE as an iceberg
    // table (no byte rewritten — footer row counts + bounds, identity
    // spec from the dir chain), and the aggregation reads THROUGH the
    // iceberg metadata with the partition column PROJECTED from the
    // manifest tuple (the files don't carry it) and a partition-pruned
    // predicate — a missed file, wrong tuple, or broken projection
    // hash-fails against the oracle recomputing from the raw rows.
    QueryDef("q167_iceberg_add_files",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
        |FROM lineitem
        |WHERE l_orderkey <= 4000 AND l_returnflag <> 'N'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.IcebergLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q167_addfiles").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 4000)
        .select(col("l_orderkey").cast("bigint").as("l_orderkey"),
          col("l_quantity").cast("bigint").as("l_qty"),
          col("l_returnflag").cast("string").as("l_returnflag"))
        .write.partitionBy("l_returnflag").mode("overwrite").parquet(tbl)
      IcebergLite.addFiles(s, tbl, tbl)
      IcebergLite.read(s, tbl,
          where = Some(col("l_returnflag") =!= "N"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_qty").cast("long").as("sum_qty"),
          sum("l_orderkey").cast("long").as("sum_key"))
    },

    // CONVERT TO DELTA (migration) through the driver gate: a plain
    // hive-partitioned parquet dump gains a version-0 _delta_log in
    // place (footer stats, dir-chain partition values, zero data IO),
    // then lives an ORDINARY delta life — an append and a DELETE land
    // on the converted table — and the read-back recomputes against
    // the oracle's restatement of dump+append−delete. A missed file,
    // wrong partition typing, or stats-less add (the delete prunes by
    // them) hash-fails.
    QueryDef("q168_delta_convert",
      """WITH dump AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey <= 1200
        |), extra AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey > 1200 AND c_custkey <= 1500
        |)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(bal_c) AS BIGINT) AS sum_bal,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM (SELECT * FROM dump UNION ALL SELECT * FROM extra)
        |WHERE NOT (c_custkey % 7 = 0)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q168_convert").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("bigint").as("bal_c"),
          col("c_mktsegment").cast("string").as("c_mktsegment"))
      c.filter(col("c_custkey") <= 1200)
        .write.partitionBy("c_mktsegment").parquet(tbl)
      DeltaLite.convertToDelta(s, tbl)
      DeltaLite.write(s,
        c.filter(col("c_custkey") > 1200 && col("c_custkey") <= 1500),
        tbl)
      DeltaLite.deleteWhere(s, tbl, col("c_custkey") % 7 === 0)
      DeltaLite.read(s, tbl)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum("bal_c").cast("long").as("sum_bal"),
          sum("c_custkey").cast("long").as("sum_key"))
    },

    // PARTITIONED NATIVE DELTA WRITE through the driver gate: customer
    // lands in a hive-layout delta table partitioned by market segment
    // (ONE partitionBy staging pass; partitionValues recovered from the
    // dir chain into the log), and the read-back injects the partition
    // column from the log's typed values — the data files themselves
    // don't carry it. The oracle recomputes from raw parquet, so a
    // dropped partition, mis-decoded dir value, or wrong literal
    // injection hash-fails.
    QueryDef("q143_delta_partitioned",
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q143_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_mktsegment").cast("string").as("c_mktsegment"))
      DeltaLite.write(s, c, tbl, partitionBy = Seq("c_mktsegment"))
      DeltaLite.read(s, tbl)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum("c_custkey").cast("long").as("sum_key"))
    },

    // WIDE-PARTITION DELTA READ past the fan-out cap: a month of
    // orders lands under ~31 date partitions; with the union cap
    // forced below that, the read takes the scale path — ONE scan of
    // every data file plus a broadcast path→partition-values join
    // instead of a 31-way union of per-partition scans (constant plan
    // size at any partition count). The filter + aggregate on the
    // joined partition column must match the raw-parquet oracle — a
    // wrong path→value mapping or string→date cast drift hash-fails.
    QueryDef("q143b_delta_partition_fanout",
      """SELECT CAST(o_orderdate AS DATE) AS o_orderdate, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-03-01'
        |  AND o_orderdate < DATE '1995-04-01'
        |  AND o_orderdate <> DATE '1995-03-05'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLite
      val tbl = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q143b_delta").toString
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val lo = java.sql.Date.valueOf("1995-03-01")
      val hi = java.sql.Date.valueOf("1995-04-01")
      val o = t(s, dir, "orders")
        .select(col("o_custkey").cast("bigint").as("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      DeltaLite.write(s, o, tbl, partitionBy = Seq("o_orderdate"))
      val prev = s.conf.getOption("graft.delta.partitionUnionLimit")
      s.conf.set("graft.delta.partitionUnionLimit", "8")
      try DeltaLite.read(s, tbl)
        .filter(col("o_orderdate") =!=
          java.sql.Date.valueOf("1995-03-05"))
        .groupBy("o_orderdate")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").cast("long").as("sum_cust"))
      finally prev match {
        case Some(v) => s.conf.set("graft.delta.partitionUnionLimit", v)
        case None => s.conf.unset("graft.delta.partitionUnionLimit")
      }
    },

    // TTL'D STREAM REPLAY through the driver gate — the last 🧪-only
    // streaming-family operator gets a DuckDB-checkable entry. A REAL
    // Structured Streaming run: the events land as micro-batch 1, a
    // sentinel event 10 hours past the data lands as micro-batch 2
    // (file mtimes pin the order), the TTL operator attaches the
    // 1-hour watermark, and the tumbling aggregation emits in APPEND
    // mode — i.e. only windows the watermark CLOSED. The sentinel
    // pushes the final watermark past every real window, so the closed
    // set equals the full batch aggregation, which is exactly what the
    // oracle computes from the raw parquet. Late-drop or eviction bugs
    // in the watermark plumbing hash-mismatch; the sentinel's own
    // (still-open) window must NOT appear.
    QueryDef("q140_ttl_stream_replay",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.streaming.StreamOps
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q140_ttl").toString
      val p = new org.apache.hadoop.fs.Path(base)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.delete(p, true)
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"))
      ev.coalesce(1).write.parquet(s"$base/src")
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      import s.implicits._
      Seq((new java.sql.Timestamp(maxTs.getTime + 10L * 3600 * 1000),
          "__sentinel__"))
        .toDF("ts", "event_type")
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      // pin micro-batch order: events first, sentinel second
      val srcFiles = fsys.listStatus(new org.apache.hadoop.fs.Path(
          s"$base/src"))
        .filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getModificationTime)
      require(srcFiles.length == 2, s"expected 2 staged files")
      fsys.setTimes(srcFiles(0).getPath, 1000000L, -1)
      fsys.setTimes(srcFiles(1).getPath, 2000000L, -1)
      val stream = s.readStream
        .schema(s.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$base/src")
      val agged = StreamOps.tumbleAgg(
        StreamOps.ttl(stream, "ts", "1 hour"),
        "ts", "1 hour", Seq(col("event_type")),
        Seq(count(lit(1)).as("n")))
      val q = agged.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "TTL replay stream timed out")
      s.read.parquet(s"$base/out")
        .filter(col("event_type") =!= "__sentinel__")
        .select(col("window_start"), col("event_type"), col("n"))
    },

    // HOST-GRAPH PAGERANK in integer fixed point (the Common-Crawl-style
    // domain-authority signal crawl curation ranks and thresholds on):
    // ranks are micro-units of 1e12, every iteration is integer
    // divisions + shuffle-order-proof integer sums, so — unlike float
    // PageRank, whose per-node sums depend on reduce order — the WHOLE
    // computation hash-matches. Two unrolled iterations over a
    // deterministic synthetic host graph (doc_id residues); the
    // distributed form is one edge⋈rank join + one dst-sum shuffle per
    // iteration (operators/GraphRank.scala).
    QueryDef("q125_host_pagerank",
      """WITH e AS (
        |  SELECT doc_id % 50 AS src, (doc_id * 7 + 3) % 50 AS dst
        |  FROM documents
        |  WHERE doc_id % 50 <> (doc_id * 7 + 3) % 50
        |), nodes AS (
        |  SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM e UNION SELECT dst FROM e)
        |), deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |p AS (
        |  SELECT CAST(1000000000000 AS BIGINT)
        |    // (SELECT COUNT(*) FROM nodes) AS init
        |),
        |r0 AS (SELECT node, (SELECT init FROM p) AS r FROM nodes),
        |s1 AS (
        |  SELECT e.dst AS node, SUM(r0.r // deg.d) AS m
        |  FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
        |  GROUP BY e.dst
        |),
        |r1 AS (
        |  SELECT n.node,
        |    (15 * (SELECT init FROM p)) // 100
        |      + (85 * COALESCE(s1.m, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN s1 USING (node)
        |),
        |s2 AS (
        |  SELECT e.dst AS node, SUM(r1.r // deg.d) AS m
        |  FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
        |  GROUP BY e.dst
        |)
        |SELECT n.node,
        |  CAST((15 * (SELECT init FROM p)) // 100
        |    + (85 * COALESCE(s2.m, 0)) // 100 AS BIGINT) AS rank_int
        |FROM nodes n LEFT JOIN s2 USING (node)""".stripMargin) { (s, dir) =>
      import graft.operators.GraphRank
      val edges = t(s, dir, "documents").select(
          (col("doc_id") % 50).as("src"),
          ((col("doc_id") * 7 + 3) % 50).as("dst"))
        .filter(col("src") =!= col("dst"))
      GraphRank.pageRank(edges, "src", "dst", iters = 2)
        .withColumnRenamed("node", "node")
    },

    // TRIANGLE COUNTS per host (clustering-coefficient numerator — the
    // link-spam/community-density signal read NEXT TO q125's PageRank:
    // spam farms show abnormal triangle density for their authority).
    // Degree-oriented wedge closing: each undirected edge points from
    // its (degree, id)-smaller endpoint to the larger, so every node's
    // oriented out-degree is O(√m) and the wedge join stays bounded on
    // power-law host graphs (the naive all-wedges join explodes at
    // hubs). All integers -> the two self-joins replay exactly in SQL.
    QueryDef("q127_triangle_counts",
      """WITH raw AS (
        |  SELECT doc_id % 50 AS x, (doc_id * 7 + 3) % 50 AS y
        |  FROM documents
        |  WHERE doc_id % 50 <> (doc_id * 7 + 3) % 50
        |), und AS (
        |  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi FROM raw
        |), nodes AS (
        |  SELECT DISTINCT node FROM
        |    (SELECT lo AS node FROM und UNION SELECT hi FROM und)
        |), deg AS (
        |  SELECT node, COUNT(*) AS d FROM
        |    (SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)
        |  GROUP BY node
        |), o AS (
        |  SELECT
        |    CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND lo < hi)
        |         THEN lo ELSE hi END AS a,
        |    CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND lo < hi)
        |         THEN hi ELSE lo END AS b
        |  FROM und
        |  JOIN deg dl ON dl.node = und.lo
        |  JOIN deg dh ON dh.node = und.hi
        |), t AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM o e1
        |  JOIN o e2 ON e1.b = e2.a
        |  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
        |), pn AS (
        |  SELECT node, COUNT(*) AS c FROM (
        |    SELECT u AS node FROM t
        |    UNION ALL SELECT v FROM t
        |    UNION ALL SELECT w FROM t)
        |  GROUP BY node
        |)
        |SELECT n.node, CAST(COALESCE(pn.c, 0) AS BIGINT) AS n_triangles
        |FROM nodes n LEFT JOIN pn USING (node)""".stripMargin) { (s, dir) =>
      import graft.operators.GraphRank
      val edges = t(s, dir, "documents").select(
          (col("doc_id") % 50).as("src"),
          ((col("doc_id") * 7 + 3) % 50).as("dst"))
        .filter(col("src") =!= col("dst"))
      GraphRank.triangleCounts(edges, "src", "dst")
    },

    // The corpus-wide half: the 20 most-repeated 40-char windows by
    // site count with their distinct-document spread — "what IS this
    // boilerplate". Ties broken on the (unique) hash, so the LIMIT is
    // deterministic cross-engine; all integers.
    QueryDef("q123b_char_window_top",
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(string_split(substr(text, p, 40), ''),
        |          c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 2305843009213693951)
        |      AS BIGINT) AS h
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2, 10)) AS u(p)
        |  WHERE text IS NOT NULL AND length(text) >= 40
        |)
        |SELECT h, CAST(COUNT(*) AS BIGINT) AS sites,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM w GROUP BY h HAVING COUNT(*) > 1
        |ORDER BY sites DESC, h ASC LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.charWindowDupTop(t(s, dir, "documents"), "doc_id", "text",
        k = 40, stride = 10, topN = 20)
    }
  )
}
