package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.ChangeModel
import graft.sources.{GrpcIngest, WebhookServer}

/** The push-channel envelope decoders parse each envelope ONCE with a
  * single `from_json` over the whole envelope. They must return exactly
  * what the earlier path-extraction form returned (`get_json_object`
  * per field, then `from_json` of the re-serialized image) on the edge
  * envelopes a producer can send: key-only deletes, unknown or missing
  * verbs/ops, missing or null images, extra and reordered fields, a key
  * stored as a string, malformed JSON and a null value.
  */
class EnvelopeDecodeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("n", IntegerType)))

  private def feed(values: Seq[String]): DataFrame = {
    import spark.implicits._
    values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq", "value")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getAs[Long](ChangeModel.SeqCol),
      r.getAs[String](ChangeModel.OpCol)))

  /** The webhook decode as it was: three parses per envelope. */
  private def webhookByPath(feed: DataFrame): DataFrame = {
    val Op = ChangeModel
    feed.select(
        col("seq").as(Op.SeqCol),
        get_json_object(col("value"), "$.verb").as("__verb"),
        from_json(get_json_object(col("value"), "$.data"), rowSchema).as("__r"))
      .select(
        col("__r.*"),
        when(col("__verb") === "PUT", Op.UpdatePost)
          .when(col("__verb") === "DELETE", Op.Delete)
          .otherwise(Op.Insert).as(Op.OpCol),
        col(Op.SeqCol))
  }

  /** The gRPC typed decode as it was: six parses per envelope. */
  private def grpcByPath(feed: DataFrame, schemaName: String): DataFrame = {
    val Op = ChangeModel
    val env = feed.select(
        col("seq").as(Op.SeqCol),
        get_json_object(col("value"), "$.schema").as("__schema"),
        get_json_object(col("value"), "$.op").as("__op"),
        from_json(get_json_object(col("value"), "$.old"), rowSchema).as("__old"),
        from_json(get_json_object(col("value"), "$.new"), rowSchema).as("__new"))
      .filter(col("__schema") === schemaName)
    env.select(col(Op.SeqCol), col("__op"), explode(array(
        struct(lit(Op.UpdatePre).as("img"), col("__old").as("r")),
        struct(lit(Op.UpdatePost).as("img"), col("__new").as("r")))).as("e"))
      .select(col(Op.SeqCol), col("__op"), col("e.img").as("__img"),
        col("e.r").as("__r"))
      .filter(
        (col("__op") === "insert" && col("__img") === Op.UpdatePost) ||
        (col("__op") === "delete" && col("__img") === Op.UpdatePre) ||
        (col("__op") === "update"))
      .select(
        col("__r.*"),
        when(col("__op") === "insert", Op.Insert)
          .when(col("__op") === "delete", Op.Delete)
          .otherwise(col("__img")).as(Op.OpCol),
        col(Op.SeqCol))
  }

  test("webhook one-parse decode equals the path-extraction form on " +
      "edge envelopes") {
    val values = Seq(
      """{"verb":"POST","data":{"id":1,"v":"a","n":10}}""",
      """{"verb":"PUT","data":{"id":1,"v":"a2","n":11}}""",
      """{"verb":"DELETE","data":{"id":1}}""",            // key-only delete
      """{"verb":"PATCH","data":{"id":2,"v":"b"}}""",     // unknown verb
      """{"data":{"id":3,"v":"c","n":3}}""",              // missing verb
      """{"verb":"PUT"}""",                               // missing data
      """{"verb":"PUT","data":null}""",                   // null data
      """{"extra":[1,{"x":2}],"data":{"n":5,"zz":"q","v":"d","id":4},""" +
        """"verb":"PUT","more":"x"}""",                   // extra, reordered
      """{"verb":"POST","data":{"id":"7","v":"e","n":7}}""", // key as string
      """{"verb":"DELETE","data":{"id":8,"v":null}}""",
      """not json at all""",
      null)
    val want = rows(webhookByPath(feed(values)))
    val got = rows(WebhookServer.changes(feed(values), rowSchema))
    assert(got.map(_.schema) == want.map(_.schema))
    assert(got == want)
    // spot-check the contract itself, not only the parity
    val bySeq = got.map(r => r.getAs[Long](ChangeModel.SeqCol) -> r).toMap
    assert(bySeq(2L).getAs[String](ChangeModel.OpCol) == ChangeModel.Delete)
    assert(bySeq(2L).getAs[Long]("id") == 1L && bySeq(2L).isNullAt(1))
    assert(bySeq(3L).getAs[String](ChangeModel.OpCol) == ChangeModel.Insert)
    assert(bySeq(4L).getAs[String](ChangeModel.OpCol) == ChangeModel.Insert)
    assert(bySeq(5L).isNullAt(0) &&
      bySeq(5L).getAs[String](ChangeModel.OpCol) == ChangeModel.UpdatePost)
    assert(bySeq(7L).getAs[Long]("id") == 4L &&
      bySeq(7L).getAs[String]("v") == "d" && bySeq(7L).getAs[Int]("n") == 5)
  }

  test("gRPC one-parse decode equals the path-extraction form on edge " +
      "envelopes") {
    val values = Seq(
      """{"schema":"t","op":"insert","new":{"id":1,"v":"a","n":1},"seq_no":1}""",
      """{"schema":"t","op":"update","old":{"id":1,"v":"a","n":1},""" +
        """"new":{"id":1,"v":"a2","n":2},"seq_no":2}""",
      """{"schema":"t","op":"delete","old":{"id":1},"seq_no":3}""", // key-only
      """{"schema":"t","op":"update","new":{"id":2,"v":"b"},"seq_no":4}""",
      """{"schema":"t","op":"upsert","new":{"id":3},"seq_no":5}""", // unknown op
      """{"schema":"t","new":{"id":4,"v":"c"}}""",                  // missing op
      """{"schema":"t","op":"insert","seq_no":6}""",                // missing new
      """{"schema":"t","op":"insert","new":null}""",                // null new
      """{"seq_no":7,"new":{"n":9,"x":[1],"v":"d","id":5},"extra":{"a":1},""" +
        """"op":"insert","schema":"t"}""",                          // reordered
      """{"schema":"t","op":"insert","new":{"id":"6","v":"e","n":6}}""",
      """{"schema":"other","op":"insert","new":{"id":99}}""",       // filtered
      """{"op":"insert","new":{"id":98}}""",                        // no schema
      """not json at all""",
      null)
    val want = rows(grpcByPath(feed(values), "t"))
    val got = rows(GrpcIngest.changes(feed(values), "t", rowSchema))
    assert(got.map(_.schema) == want.map(_.schema))
    assert(got == want)
    val ids = got.filterNot(_.isNullAt(0)).map(_.getAs[Long]("id")).toSet
    assert(!ids.contains(99L) && !ids.contains(98L))
    assert(got.count(_.getAs[Long](ChangeModel.SeqCol) == 1L) == 2) // pre+post
  }
}
