package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming equivalents of dozer's stateful dataflow
  * operators (SURVEY §2.3): TTL → watermark, TUMBLE/HOP → windowed
  * aggregation, stream-stream equi-joins with state bounded by
  * watermark + time-range — the same role dozer's per-record
  * `Lifetime` eviction plays (join/operator/table.rs:117-136).
  *
  * Everything returns plain DataFrames so the batch and streaming
  * paths share operator code; Spark's incremental state store supplies
  * what dozer hand-builds with HashMap/BTreeMap state.
  */
object StreamOps {

  /** TTL(source, ts, duration) — reference table_operator/lifetime.rs:
    * stamps per-record lifetime; downstream stateful ops evict. Spark:
    * event-time watermark (state eviction, not row filtering).
    */
  def ttl(df: DataFrame, tsCol: String, duration: String): DataFrame =
    if (df.isStreaming)
      graft.Tables.normalizeEventTime(df, tsCol).withWatermark(tsCol, duration)
    else df

  /** TTL on an arbitrary timestamp EXPRESSION (the reference accepts
    * any expression — table_operator/factory.rs:142-205): the
    * expression is projected into a synthetic event-time column, the
    * watermark attaches to it, and the column stays in the frame
    * (Spark's watermark lives on a real column; downstream stateful
    * ops key their eviction off it).
    */
  def ttlExpr(df: DataFrame, tsExpr: Column, duration: String,
      tsColName: String = "__ttl_ts"): DataFrame =
    if (df.isStreaming)
      graft.Tables.normalizeEventTime(
        df.withColumn(tsColName, tsExpr), tsColName)
        .withWatermark(tsColName, duration)
    else df

  /** Tumbling-window aggregation (dozer TUMBLE, operator.rs:106-130). */
  def tumbleAgg(df: DataFrame, tsCol: String, size: String,
      keys: Seq[Column], aggs: Seq[Column], watermark: Option[String] = None)
      : DataFrame = {
    val src = watermark.fold(df)(w => ttl(df, tsCol, w))
    src.groupBy(window(col(tsCol), size) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** Hopping-window aggregation (dozer HOP, operator.rs:59-104). */
  def hopAgg(df: DataFrame, tsCol: String, slide: String, size: String,
      keys: Seq[Column], aggs: Seq[Column], watermark: Option[String] = None)
      : DataFrame = {
    val src = watermark.fold(df)(w => ttl(df, tsCol, w))
    src.groupBy(window(col(tsCol), size, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** Stream-stream (or stream-batch) equi-join with TTL-bounded state:
    * both sides watermarked, plus a time-range condition so Spark can
    * evict join state — the exact role of dozer's `lifetime_map`
    * eviction in its hash-join tables (operator/table.rs:28-136).
    */
  def intervalJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keys: Column, ttlDuration: String, joinType: String = "inner"): DataFrame = {
    val l = ttl(left, leftTs, ttlDuration)
    val r = ttl(right, rightTs, ttlDuration)
    val range = col(rightTs) >= col(leftTs) - expr(s"INTERVAL $ttlDuration") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $ttlDuration")
    l.join(r, keys && range, joinType)
  }

  /** Streaming latest-state-by-key (CDC apply in update mode): keeps the
    * highest-_seq surviving image per key, dropping deleted keys from
    * the emitted snapshot each microbatch. Batch path delegates to
    * [[graft.cdc.ChangeModel.applyChanges]]; streaming path is
    * dropDuplicates-within-watermark + per-batch reduction via
    * foreachBatch in [[graft.sinks.Sinks.upsert]].
    */
  def latestByKey(changes: DataFrame, keyCols: Seq[String]): DataFrame =
    graft.cdc.ChangeModel.applyChanges(changes, keyCols)
}
