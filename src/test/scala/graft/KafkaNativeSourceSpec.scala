package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cdc.KafkaBatch

/** Native Kafka DataSource V2 against the loopback mock broker:
  * metadata-discovered partitions, distributed fetch slices,
  * per-partition Kafka-offset checkpoints, true stop-append-restart
  * resume.
  */
class KafkaNativeSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def batch(base: Long, recs: Seq[(String, String)]) =
    KafkaBatch.Encode.batch(base, 1700000000000L + base,
      recs.map { case (k, v) => (1700000000000L + base, k, v) })

  test("batch read: the full topic snapshot, sliced across readers, " +
      "tombstones preserved") {
    val broker = new TestKafkaBroker("t1")
    broker.append(batch(0L, Seq(("a", "v0"), ("b", "v1"))))
    broker.append(batch(2L, Seq(("c", "v2"))))
    broker.append(batch(3L, Seq(("d", null))))
    try {
      val df = spark.read.format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "t1")
        .option("numSlices", "2")
        .load()
      val rows = df.orderBy("offset").collect()
      assert(rows.map(_.getAs[Long]("offset")).toSeq == (0L to 3L))
      assert(rows.map(_.getAs[String]("key")).toSeq == Seq("a", "b", "c", "d"))
      assert(rows.forall(_.getAs[Int]("partition") == 0))
      assert(rows(3).isNullAt(rows(3).fieldIndex("value"))) // tombstone
      assert(df.rdd.getNumPartitions == 2)
    } finally broker.close()
  }

  test("multi-partition topic: partitions discovered from metadata, " +
      "each fetched independently, per-partition offset checkpoints") {
    val broker = new TestKafkaBroker("tm", nPartitions = 3)
    broker.append(0, batch(0L, Seq(("p0a", "x"), ("p0b", "y"))))
    broker.append(1, batch(0L, Seq(("p1a", "z"))))
    // partition 2 stays empty
    val tmp = java.nio.file.Files.createTempDirectory("kafka_native_m").toString
    def startQuery() =
      spark.readStream.format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "tm")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    try {
      // batch snapshot across partitions
      val snap = spark.read.format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "tm")
        .load().collect()
      assert(snap.map(r => (r.getAs[Int]("partition"),
        r.getAs[Long]("offset"), r.getAs[String]("key"))).sortBy(t => (t._1, t._2))
        .toSeq == Seq((0, 0L, "p0a"), (0, 1L, "p0b"), (1, 0L, "p1a")))

      val q1 = startQuery()
      q1.awaitTermination()
      assert(spark.read.parquet(s"$tmp/out").count() == 3)

      // new data on BOTH partitions while no query runs; restart resumes
      // each partition from its own checkpointed offset
      broker.append(0, batch(2L, Seq(("p0c", "w"))))
      broker.append(1, batch(1L, Seq(("p1b", "v"))))
      val q2 = startQuery()
      q2.awaitTermination()
      val rows = spark.read.parquet(s"$tmp/out")
        .select("partition", "offset", "key").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq(
        (0, 0L, "p0a"), (0, 1L, "p0b"), (0, 2L, "p0c"),
        (1, 0L, "p1a"), (1, 1L, "p1b")))
    } finally broker.close()
  }

  test("streaming: kafka offsets are the checkpoint — stop, append, " +
      "restart resumes exactly, no duplicates") {
    val broker = new TestKafkaBroker("t2")
    broker.append(batch(0L, Seq(("a", "v0"), ("b", "v1"))))
    val tmp = java.nio.file.Files.createTempDirectory("kafka_native").toString
    def startQuery() =
      spark.readStream.format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "t2")
        .option("maxOffsetsPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    try {
      val q1 = startQuery()
      q1.awaitTermination()
      assert(spark.read.parquet(s"$tmp/out").count() == 2)

      // new data lands while no query is running
      broker.append(batch(2L, Seq(("c", "v2"), ("d", "v3"), ("e", "v4"))))
      val q2 = startQuery()
      q2.awaitTermination()
      val rows = spark.read.parquet(s"$tmp/out").orderBy("offset").collect()
      // exactly once: offsets 0..4, each exactly one row
      assert(rows.map(_.getAs[Long]("offset")).toSeq == (0L to 4L))
      assert(rows.map(_.getAs[String]("key")).toSeq ==
        Seq("a", "b", "c", "d", "e"))
    } finally broker.close()
  }

  test("admission control caps each micro-batch at maxOffsetsPerTrigger") {
    val broker = new TestKafkaBroker("t3")
    broker.append(batch(0L, (0 until 10).map(i => (s"k$i", s"v$i"))))
    val tmp = java.nio.file.Files.createTempDirectory("kafka_native3").toString
    try {
      val q = spark.readStream.format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "t3")
        .option("maxOffsetsPerTrigger", "3")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(spark.read.parquet(s"$tmp/out").count() == 10)
      // 10 offsets at ≤3 per trigger = at least 4 committed batches
      val commits = new java.io.File(s"$tmp/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 4, s"expected ≥4 micro-batches, got $commits")
    } finally broker.close()
  }

  test("leader routing: a two-broker cluster with split partition " +
      "leadership serves a full snapshot — every fetch goes to the " +
      "partition's leader, never the bootstrap fallback") {
    // partitions 0,2 lead on broker 0; partition 1 leads on broker 1.
    // The mock answers error 6 to any non-leader request, so this test
    // fails loudly if planning ignores the Metadata address book.
    val cluster = new TestKafkaCluster("tlr", nPartitions = 3, nBrokers = 2)
    cluster.append(0, batch(0L, Seq(("p0a", "x"), ("p0b", "y"))))
    cluster.append(1, batch(0L, Seq(("p1a", "z"))))
    cluster.append(2, batch(0L, Seq(("p2a", "w"))))
    try {
      assert(cluster.leaderOf(0) == 0 && cluster.leaderOf(1) == 1 &&
        cluster.leaderOf(2) == 0)
      val rows = spark.read.format("graft.sources.KafkaNativeSource")
        .option("broker", cluster.bootstrap).option("topic", "tlr")
        .load().collect()
        .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
          r.getAs[String]("key"))).sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq((0, 0L, "p0a"), (0, 1L, "p0b"),
        (1, 0L, "p1a"), (2, 0L, "p2a")))
    } finally cluster.close()
  }

  test("leader routing: leadership moving AFTER planning (error 6 on " +
      "the first fetch) reroutes through a metadata refresh and the " +
      "read completes against the new leader") {
    val cluster = new TestKafkaCluster("tmv", nPartitions = 1, nBrokers = 2)
    cluster.append(0, batch(0L, Seq(("a", "v0"), ("b", "v1"))))
    try {
      // the old leader answers the next fetch with error 6 and flips
      // leadership to broker 1 — exactly a move between plan and read
      cluster.moveLeaderOnNextFetch(0, 1)
      val rows = spark.read.format("graft.sources.KafkaNativeSource")
        .option("broker", cluster.bootstrap).option("topic", "tmv")
        .option("numSlices", "1")
        .load().orderBy("offset").collect()
      assert(rows.map(_.getAs[String]("key")).toSeq == Seq("a", "b"))
      assert(!cluster.movePending, "the move was never triggered — the " +
        "reader did not fetch from the planned leader")
      assert(cluster.leaderOf(0) == 1)
    } finally cluster.close()
  }

  test("a partition appearing mid-stream starts at its EARLIEST " +
      "retained offset (not 0 — which is retention-truncated and " +
      "would fail with OFFSET_OUT_OF_RANGE)") {
    val cluster = new TestKafkaCluster("tgrow", nPartitions = 2)
    cluster.setVisiblePartitions(1)
    cluster.append(0, batch(0L, Seq(("p0a", "x"), ("p0b", "y"))))
    val tmp = java.nio.file.Files.createTempDirectory("kafka_grow").toString
    def startQuery() =
      spark.readStream.format("graft.sources.KafkaNativeSource")
        .option("broker", cluster.bootstrap).option("topic", "tgrow")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    try {
      val q1 = startQuery()
      q1.awaitTermination()
      assert(spark.read.parquet(s"$tmp/out").count() == 2)

      // partition 1 appears, already retention-truncated below offset 2
      cluster.truncateBefore(1, 2L)
      cluster.append(1, batch(2L, Seq(("p1a", "z"), ("p1b", "w"))))
      cluster.setVisiblePartitions(2)
      val q2 = startQuery()
      q2.awaitTermination()
      val rows = spark.read.parquet(s"$tmp/out")
        .select("partition", "offset", "key").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq((0, 0L, "p0a"), (0, 1L, "p0b"),
        (1, 2L, "p1a"), (1, 3L, "p1b")))
    } finally cluster.close()
  }

  test("startingOffsets: latest skips history on first start (stream " +
      "reads only post-start appends); per-partition JSON pins exact " +
      "offsets; timestamp lookup finds the first message at/after t") {
    // history: offsets 0..2 at ts 1000/2000/3000 on partition 0;
    // partition 1 has offsets 0..1 at ts 1500/2500
    val broker = new TestKafkaBroker("tso", nPartitions = 2)
    def tsBatch(p: Int, base: Long, recs: Seq[(Long, String)]): Unit =
      broker.append(p, graft.cdc.KafkaBatch.Encode.batch(base, recs.head._1,
        recs.map { case (ts, k) => (ts, k, s"v$k") }))
    tsBatch(0, 0L, Seq((1000L, "a"), (2000L, "b"), (3000L, "c")))
    tsBatch(1, 0L, Seq((1500L, "x"), (2500L, "y")))
    try {
      def read(extra: (String, String)*) = {
        val r = spark.read.format("graft.sources.KafkaNativeSource")
          .option("broker", broker.broker).option("topic", "tso")
        extra.foreach { case (k, v) => r.option(k, v) }
        r.load().collect()
          .map(x => (x.getAs[Int]("partition"), x.getAs[String]("key")))
          .sortBy(t => (t._1, t._2)).toSeq
      }
      // batch latest → empty snapshot
      assert(read("startingOffsets" -> "latest").isEmpty)
      // per-partition JSON: p0 from 2, p1 from -2 (earliest)
      assert(read("startingOffsets" -> """{"0": 2, "1": -2}""") ==
        Seq((0, "c"), (1, "x"), (1, "y")))
      // timestamp 2100: p0 from ts 3000 ("c"), p1 from ts 2500 ("y")
      assert(read("startingTimestamp" -> "2100") ==
        Seq((0, "c"), (1, "y")))
      // timestamp past everything → hw fallback → empty
      assert(read("startingTimestamp" -> "99999").isEmpty)
      // spark-kafka's strict mode: error instead of the hw fallback
      val e = intercept[Exception] {
        read("startingTimestamp" -> "99999",
          "startingTimestampStrategy" -> "error")
      }
      assert(e.getMessage != null)

      // STREAM with latest: history skipped, the restart picks up only
      // what arrived after the first start
      val tmp = java.nio.file.Files.createTempDirectory("kafka_so").toString
      def startQuery() =
        spark.readStream.format("graft.sources.KafkaNativeSource")
          .option("broker", broker.broker).option("topic", "tso")
          .option("startingOffsets", "latest")
          .load()
          .writeStream.format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      startQuery().awaitTermination()
      // an all-skipped first run may write no parquet files at all
      val n0 = try spark.read.parquet(s"$tmp/out").count()
        catch { case _: Exception => 0L }
      assert(n0 == 0)
      tsBatch(0, 3L, Seq((4000L, "d")))
      startQuery().awaitTermination()
      val got = spark.read.parquet(s"$tmp/out").select("key").collect()
        .map(_.getString(0)).toSeq
      assert(got == Seq("d"))
    } finally broker.close()
  }

  test("SASL/SCRAM on the source: a broker that refuses unauthenticated " +
      "requests serves the snapshot once sasl=scram-sha-256 credentials " +
      "are configured; wrong credentials fail loudly") {
    val cluster = new TestKafkaCluster("tsasl",
      scramUser = Some(("svc", "pw1")), requireSasl = true)
    cluster.append(batch(0L, Seq(("a", "v0"), ("b", "v1"))))
    try {
      def read(user: String, pass: String) =
        spark.read.format("graft.sources.KafkaNativeSource")
          .option("broker", cluster.bootstrap).option("topic", "tsasl")
          .option("sasl", "scram-sha-256")
          .option("saslUsername", user).option("saslPassword", pass)
          .load().orderBy("offset").collect()
      assert(read("svc", "pw1").map(_.getAs[String]("key")).toSeq ==
        Seq("a", "b"))
      intercept[Exception] { read("svc", "WRONG") }
      // env: indirection — a missing variable fails loudly with its name
      val e = intercept[Exception] { read("svc", "env:GRAFT_NO_SUCH_VAR") }
      assert(e.getMessage.contains("GRAFT_NO_SUCH_VAR"))
      // and a present one resolves (password = the HOME value, so the
      // secret never appears in the option map)
      sys.env.get("HOME").foreach { home =>
        val c2 = new TestKafkaCluster("tsasl2",
          scramUser = Some(("svc", home)), requireSasl = true)
        c2.append(batch(0L, Seq(("z", "v"))))
        try {
          val rows = spark.read.format("graft.sources.KafkaNativeSource")
            .option("broker", c2.bootstrap).option("topic", "tsasl2")
            .option("sasl", "scram-sha-256")
            .option("saslUsername", "svc")
            .option("saslPassword", "env:HOME")
            .load().collect()
          assert(rows.map(_.getAs[String]("key")).toSeq == Seq("z"))
        } finally c2.close()
      }
      // and an unauthenticated client cannot read at all — the broker
      // drops its data requests
      intercept[Exception] {
        spark.read.format("graft.sources.KafkaNativeSource")
          .option("broker", cluster.bootstrap).option("topic", "tsasl")
          .load().collect()
      }
    } finally cluster.close()
  }

  test("TLS transport: tls=true + pinned truststore reads the topic " +
      "over real JSSE handshakes on both the planner and reader " +
      "sessions") {
    val cluster = new TestKafkaCluster("ttlsrc", tls = true)
    cluster.append(batch(0L, Seq(("a", "v0"), ("b", "v1"))))
    try {
      val rows = spark.read.format("graft.sources.KafkaNativeSource")
        .option("broker", cluster.bootstrap).option("topic", "ttlsrc")
        .option("tls", "true")
        .option("truststore", TestTls.truststorePath)
        .option("truststorePassword", TestTls.password)
        .load().orderBy("offset").collect()
      assert(rows.map(_.getAs[String]("key")).toSeq == Seq("a", "b"))
    } finally cluster.close()
  }

  test("Connect-JSON STREAM decode: contract derived ONCE from a batch " +
      "snapshot, decodeWith on the native Kafka stream, bucketed " +
      "upsert — checkpoint restart resumes with no duplicates") {
    // the schema-registry consumption path as a LIVE pipeline: the
    // topic carries in-band Connect schemas (decimal logical included);
    // nothing is caller-declared
    val broker = new TestKafkaBroker("tcjs")
    val schemaJson =
      """{"type":"struct","fields":[
        |{"type":"struct","field":"before","optional":true},
        |{"type":"struct","field":"after","optional":true,"fields":[
        |{"type":"int64","field":"id","optional":false},
        |{"type":"string","field":"name","optional":true},
        |{"type":"bytes","field":"price","optional":true,
        |"name":"org.apache.kafka.connect.data.Decimal",
        |"parameters":{"scale":"2","connect.decimal.precision":"12"}}]}]}"""
        .stripMargin.replace("\n", "")
    val keySchemaJson =
      """{"type":"struct","fields":[{"type":"int64","field":"id"}]}"""
    def priceB64(cents: Long) = java.util.Base64.getEncoder.encodeToString(
      java.math.BigInteger.valueOf(cents).toByteArray)
    def row(id: Long, name: String, cents: Long) =
      s"""{"id":$id,"name":"$name","price":"${priceB64(cents)}"}"""
    def key(id: Long) =
      s"""{"schema":$keySchemaJson,"payload":{"id":$id}}"""
    def env(payload: String) =
      s"""{"schema":$schemaJson,"payload":$payload}"""
    broker.append(batch(0L, Seq(
      (key(1), env(s"""{"op":"r","after":${row(1, "one", 150)}}""")),
      (key(2), env(s"""{"op":"r","after":${row(2, "two", 225)}}""")))))

    // derive the contract from a BATCH snapshot of the same topic —
    // the documented stream recipe (ConnectJson.changes refuses
    // streams: a stream cannot be sampled)
    def snap() = spark.read.format("graft.sources.KafkaNativeSource")
      .option("broker", broker.broker).option("topic", "tcjs").load()
    val derived = graft.cdc.ConnectJson.deriveFromFeed(
      snap(), "value", Some("key"))
    assert(derived.primaryKey == Seq("id"))

    val tmp = java.nio.file.Files.createTempDirectory("cjs").toString
    def run(): Unit = {
      val stream = spark.readStream
        .format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "tcjs").load()
      val ch = graft.cdc.ConnectJson.decodeWith(
        derived, stream, "value", seq = Some(col("offset")))
      graft.sinks.Sinks.upsert(ch, derived.primaryKey,
        graft.sinks.Sinks.BucketedParquet(s"$tmp/state", numBuckets = 4),
        s"$tmp/ckpt").awaitTermination()
    }
    try {
      run()
      def state() = spark.read.parquet(s"$tmp/state")
        .select(col("id"), col("name"),
          col("price").cast("double").as("p")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(state() == Set((1L, "one", 1.50), (2L, "two", 2.25)))

      // changes land while no query runs; the restart decodes them
      // with the SAME derived contract and merges exactly-once
      broker.append(batch(2L, Seq(
        (key(1), env(s"""{"op":"u","before":${row(1, "one", 150)},""" +
          s""""after":${row(1, "uno", 999)}}""")),
        (key(2), env(s"""{"op":"d","before":${row(2, "two", 225)}}""")))))
      run()
      assert(state() == Set((1L, "uno", 9.99)))
    } finally broker.close()
  }

  test("Avro-registry STREAM decode: valueFormat=binary carries " +
      "Confluent frames losslessly; AvroConfluent.changes runs " +
      "map-only on the stream into the upsert sink") {
    import graft.cdc.AvroConfluent
    val envSchema =
      """{"type":"record","name":"Env","fields":[
        |{"name":"before","type":["null",{"type":"record","name":"V","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":["null","string"]}]}]},
        |{"name":"after","type":["null","V"]},
        |{"name":"op","type":"string"}]}""".stripMargin.replace("\n", "")
    def frame(op: String, before: Seq[Any], after: Seq[Any]) =
      AvroConfluent.Encode.record(envSchema, 7, Seq(before, after, op))
    val broker = new TestKafkaBroker("tavs")
    def batchB(base: Long, frames: Seq[Array[Byte]]) =
      graft.cdc.KafkaBatch.Encode.batchBytes(base, 1700000000000L + base,
        frames.map(f => (1700000000000L + base, null: Array[Byte], f)))
    broker.append(batchB(0L, Seq(
      frame("r", null, Seq(1L, "one")), frame("r", null, Seq(2L, "two")))))
    val tmp = java.nio.file.Files.createTempDirectory("avs").toString
    def run(): Unit = {
      val stream = spark.readStream
        .format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "tavs")
        .option("valueFormat", "binary").load()
      val ch = AvroConfluent.changes(
        stream.withColumnRenamed("offset", "seq"), "value", envSchema)
      graft.sinks.Sinks.upsert(
        ch.withColumnRenamed("seq", graft.cdc.ChangeModel.SeqCol),
        Seq("id"), graft.sinks.Sinks.BucketedParquet(s"$tmp/state",
          numBuckets = 2), s"$tmp/ckpt")
        .awaitTermination()
    }
    try {
      run()
      def state() = spark.read.parquet(s"$tmp/state")
        .select("id", "name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(state() == Set((1L, "one"), (2L, "two")))
      broker.append(batchB(2L, Seq(
        frame("u", Seq(1L, "one"), Seq(1L, "uno")),
        frame("d", Seq(2L, "two"), null))))
      run()
      assert(state() == Set((1L, "uno")))
    } finally broker.close()
  }

  test("composes with the CDC decoders: debezium values off the native " +
      "source materialize state") {
    val broker = new TestKafkaBroker("t4")
    def env(id: Int, v: String, op: String) =
      if (op == "d") s"""{"before":{"id":$id,"v":"$v"},"op":"d"}"""
      else s"""{"after":{"id":$id,"v":"$v"},"op":"$op"}"""
    broker.append(batch(0L, Seq(
      ("1", env(1, "x", "r")), ("2", env(2, "y", "r")),
      ("1", env(1, "x", "d")))))
    try {
      val recs = spark.read.format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "t4")
        .load()
        .withColumnRenamed("offset", "_seq")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
      val ch = graft.cdc.Debezium.decode(recs, "value", schema,
        seq = Some(col("_seq")))
      val state = graft.cdc.ChangeModel.applyChanges(ch, Seq("id"))
      assert(state.select("id", "v").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "y")))
    } finally broker.close()
  }

  test("read_committed: aborted transactions' records are invisible, " +
      "committed and non-transactional records read; default " +
      "read_uncommitted sees everything") {
    import graft.cdc.KafkaBatch.Encode
    val broker = new TestKafkaBroker("txn")
    def txnBatch(base: Long, pid: Long, recs: Seq[(String, String)]) =
      Encode.batchBytes(base, 1700000000000L + base,
        recs.map { case (k, v) =>
          (1700000000000L + base, k.getBytes("UTF-8"),
            if (v == null) null else v.getBytes("UTF-8"))
        }, producerId = pid, transactional = true)
    // pid 7: an ABORTED txn (offsets 0-1, marker at 2)
    broker.append(txnBatch(0L, 7L, Seq(("a", "dirty0"), ("b", "dirty1"))))
    broker.append(Encode.controlBatch(2L, 1700000000002L, 7L, commit = false))
    // pid 8: a COMMITTED txn (offset 3, marker at 4)
    broker.append(txnBatch(3L, 8L, Seq(("c", "good"))))
    broker.append(Encode.controlBatch(4L, 1700000000004L, 8L, commit = true))
    // plain non-transactional data (offset 5)
    broker.append(batch(5L, Seq(("d", "plain"))))
    // pid 7 again: a SECOND, committed txn (offset 6, marker at 7) —
    // the abort of its first txn must not bleed into this one
    broker.append(txnBatch(6L, 7L, Seq(("e", "second"))))
    broker.append(Encode.controlBatch(7L, 1700000000007L, 7L, commit = true))
    try {
      def values(isolation: String) = spark.read
        .format("graft.sources.KafkaNativeSource")
        .option("broker", broker.broker).option("topic", "txn")
        .option("isolationLevel", isolation)
        .load().orderBy("offset").collect()
        .map(_.getAs[String]("value")).toSeq
      assert(values("read_committed") == Seq("good", "plain", "second"))
      // read_uncommitted surfaces the aborted records too (control
      // markers never yield records in either mode)
      assert(values("read_uncommitted") ==
        Seq("dirty0", "dirty1", "good", "plain", "second"))
      val err = intercept[Exception](values("read_dirty"))
      assert(err.getMessage.contains("isolationLevel"))
    } finally broker.close()
  }
}
