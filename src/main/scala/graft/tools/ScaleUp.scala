package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for the sf1.0 SCALE SMOKE: replicates an
  * existing testdata directory `factor`× with KEY-SHIFTED copies, so
  * join fan-outs, group cardinalities, and dedup cluster shapes grow
  * linearly the way a larger TPC-H SF does — rather than replaying
  * identical keys (which would explode join multiplicity quadratically
  * and measure the wrong thing).
  *
  * Key columns shift by `replica * 10^ceil(log10(max+1))` — disjoint
  * ranges per replica, foreign keys shifted by the SAME offset as
  * their referenced primary key so referential integrity holds within
  * each replica. Fixed-size dimensions (region, nation) stay as-is,
  * like TPC-H. Text/payload columns repeat — fine for scan/shuffle
  * scaling (compression ratios stay constant), documented caveat for
  * content-dedup operators (each replica repeats the corpus, so near-dup
  * families grow in CLUSTER SIZE not count; the scale smoke therefore
  * reads dedup timings as shuffle-volume checks, not recall checks).
  *
  * ORGANIC mode (`organic` as the 4th arg) removes that caveat for the
  * content columns: replica i > 0 PERTURBS text and embeddings
  * deterministically so duplicate-family size stays SCALE-INVARIANT —
  * the way organic data grows — instead of every family gaining a
  * full copy per replica:
  *  - `documents.text`: a replica-salt token is interleaved every 3rd
  *    token, which breaks every ≥3-token shingle/window ACROSS
  *    replicas while two same-replica near-dups (mostly-shared token
  *    streams) perturb identically and stay near-dups;
  *  - `embeddings.embedding`: one seeded noise VECTOR per replica is
  *    added (ε=0.4 of the vector norm), dropping cross-replica cosine
  *    to ≈0.93 (below the 0.98 dedup threshold) while same-replica
  *    geometry shifts rigidly (cos(a+n, b+n) ≥ cos(a, b) for a shared
  *    n), so within-replica families survive.
  * Everything else (keys, TPC-H tables) scales exactly as the default
  * mode. `SPARK_GRAFT_SCALEUP_TABLES=documents,embeddings` limits the
  * run to named tables for content-only re-measures.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor=10]
  *        [organic]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val organic = args.length > 3 && args(3) == "organic"
    val only: Option[Set[String]] = sys.env
      .get("SPARK_GRAFT_SCALEUP_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.configure(spark)

    /** One power-of-ten offset covering every value of `key` in df. */
    def offsetFor(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      var off = 1L
      while (off <= mx) off *= 10
      off
    }

    def load(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")

    // organic-mode perturbations: deterministic per replica (replica 0
    // is always verbatim, so 1× content is a strict subset)
    val saltText = udf { (text: String, rep: Int) =>
      if (rep == 0 || text == null) text
      else {
        val toks = text.split("\\s+")
        val sb = new StringBuilder(text.length + text.length / 2)
        var j = 0
        while (j < toks.length) {
          if (j > 0) {
            sb.append(' ')
            if (j % 3 == 0) sb.append('r').append(rep).append(' ')
          }
          sb.append(toks(j))
          j += 1
        }
        sb.toString
      }
    }
    val noiseOf: Int => Array[Float] = { rep =>
      // one rigid noise vector per replica, |n| ≈ 0.4 for unit vectors
      val dim = 64
      val n = Array.tabulate(dim) { d =>
        val h = scala.util.hashing.MurmurHash3.productHash((rep, d))
        h.toFloat / Int.MaxValue
      }
      val norm = math.sqrt(n.map(x => x.toDouble * x).sum).toFloat
      n.map(x => x / norm * 0.4f)
    }
    val noises = spark.sparkContext.broadcast(
      (0 until factor).map(noiseOf).toArray)
    val jitterVec = udf { (v: Seq[Float], rep: Int) =>
      if (rep == 0 || v == null) v
      else {
        val n = noises.value(rep)
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        v.zipWithIndex.map { case (x, d) =>
          x + n(d % n.length) * norm.toFloat
        }
      }
    }

    /** Replicate with the named key columns shifted per replica;
      * `perturb` rewrites content columns per replica in organic mode.
      */
    def scaled(df: DataFrame, keys: Map[String, Long],
        perturb: Map[String, (org.apache.spark.sql.Column, Int) =>
          org.apache.spark.sql.Column] = Map.empty): DataFrame =
      (0 until factor).map { i =>
        val shifted = keys.foldLeft(df) { case (d, (k, off)) =>
          d.withColumn(k, col(k) + lit(i * off))
        }
        if (!organic) shifted
        else perturb.foldLeft(shifted) { case (d, (c, f)) =>
          d.withColumn(c, f(col(c), i))
        }
      }.reduce(_ unionByName _)

    def save(df: DataFrame, t: String): Unit =
      if (only.forall(_.contains(t))) {
        df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
        System.err.println(s"[scaleup] $t done")
      } else System.err.println(s"[scaleup] $t skipped (table filter)")

    val customer = load("customer"); val cOff = offsetFor(customer, "c_custkey")
    val supplier = load("supplier"); val sOff = offsetFor(supplier, "s_suppkey")
    val part = load("part"); val pOff = offsetFor(part, "p_partkey")
    val orders = load("orders"); val oOff = offsetFor(orders, "o_orderkey")
    val lineitem = load("lineitem")
    val events = load("events")
    val documents = load("documents")
    val embeddings = load("embeddings")
    val eOff = offsetFor(events, "event_id")
    val uOff = offsetFor(events, "user_id")
    val dOff = offsetFor(documents, "doc_id")
    val vOff = offsetFor(embeddings, "vec_id")

    // fixed-size dimensions copy verbatim (TPC-H shape)
    save(load("region"), "region")
    save(load("nation"), "nation")
    save(scaled(customer, Map("c_custkey" -> cOff)), "customer")
    save(scaled(supplier, Map("s_suppkey" -> sOff)), "supplier")
    save(scaled(part, Map("p_partkey" -> pOff)), "part")
    save(scaled(orders,
      Map("o_orderkey" -> oOff, "o_custkey" -> cOff)), "orders")
    save(scaled(lineitem, Map("l_orderkey" -> oOff, "l_partkey" -> pOff,
      "l_suppkey" -> sOff)), "lineitem")
    save(scaled(events,
      Map("event_id" -> eOff, "user_id" -> uOff)), "events")
    save(scaled(documents, Map("doc_id" -> dOff),
      perturb = Map("text" -> ((c, i) => saltText(c, lit(i))))),
      "documents")
    save(scaled(embeddings, Map("vec_id" -> vOff),
      perturb = Map("embedding" -> ((c, i) => jitterVec(c, lit(i))))),
      "embeddings")
    spark.stop()
  }
}
