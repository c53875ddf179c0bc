package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** PUSH ingestion — the dozer gRPC ingest service analogue
  * (/root/reference/dozer-ingestion/grpc/src/adapter/: clients push
  * Arrow/JSON batches into an in-process `Ingestor` channel; the
  * pipeline consumes them with resume tokens).
  *
  * Spark-native seam: a named in-JVM channel ([[PushBuffer]]) exposed
  * as a REAL DataSource V2 table that supports
  *
  *  - batch reads (the connector's snapshot phase), and
  *  - micro-batch streaming reads with monotonic long offsets (the
  *    change-stream phase; the streaming checkpoint persists the
  *    offset — dozer's `OpIdentifier` resume token).
  *
  * Rows are `(seq BIGINT, ts TIMESTAMP, value STRING)` — the JSON
  * ingest-adapter shape; callers parse `value` with `from_json`
  * downstream, which keeps this source schema-free like the
  * reference's JSON adapter.
  *
  * Planned partitions EMBED their rows (exactly how Spark's own
  * MemoryStream ships driver-held data to executors), so the source
  * works unchanged on a multi-executor cluster as long as pushes
  * happen on the driver; a production deployment would back the same
  * two scan paths with a durable log instead of a heap buffer.
  *
  * Usage:
  * {{{
  *   PushBuffer.push("chan", """{"k":1}""")
  *   spark.readStream.format("graft.sources.PushSource")
  *     .option("channel", "chan").load()
  * }}}
  */
class PushSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PushSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val channel = properties.get("channel")
    require(channel != null && channel.nonEmpty,
      "push source needs .option(\"channel\", <name>)")
    new PushTable(channel)
  }
}

object PushSource {
  val Schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", StringType, nullable = true)))
}

/** Driver-side push channels. Thread-safe; each push is assigned a
  * monotonically increasing `seq` (the offset AND the resume token).
  *
  * BOUNDED, like every reference channel (dozer caps each inter-operator
  * channel at 20,000 ops — dozer-core/src/executor/mod.rs:24-31): a
  * channel retains at most `capacity` unconsumed events. Producers block
  * for bounded time waiting for space, then fail loudly
  * ([[PushBuffer.Full]]); the webhook edge maps that to HTTP 429 +
  * Retry-After. Space frees when the streaming query COMMITS a
  * micro-batch ([[release]] evicts the committed prefix — the offsets
  * stay absolute, so checkpointed resume is unaffected). Without the
  * bound, sustained ingest against a slow micro-batch is a driver OOM.
  */
object PushBuffer {
  final case class Event(seq: Long, tsMicros: Long, value: String)

  /** Reference parity: dozer-core/src/executor/mod.rs:24-31. */
  val DefaultCapacity: Int = 20000

  /** Producer-visible overflow: the channel stayed full past the wait. */
  final class Full(channel: String, capacity: Int) extends RuntimeException(
    s"push channel '$channel' is full ($capacity events retained and not " +
      "yet committed by a consumer) — back off and retry")

  private final class Chan(var capacity: Int) {
    val events = new java.util.ArrayDeque[Event]()
    var base: Long = 0L // seq of the first retained event
    def end: Long = base + events.size
  }

  private val channels = new ConcurrentHashMap[String, Chan]()

  private def buf(channel: String): Chan =
    channels.computeIfAbsent(channel, _ => new Chan(DefaultCapacity))

  /** Set a channel's capacity (events retained, not total ever pushed). */
  def configure(channel: String, capacity: Int): Unit = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val b = buf(channel)
    b.synchronized { b.capacity = capacity; b.notifyAll() }
  }

  def capacityOf(channel: String): Int = {
    val b = buf(channel)
    b.synchronized(b.capacity)
  }

  /** Seq of the first event still retained (batch snapshots start here). */
  def baseOffset(channel: String): Long = {
    val b = buf(channel)
    b.synchronized(b.base)
  }

  /** Append values atomically (all or none); returns the exclusive end
    * offset. Blocks up to `waitMs` for space, then throws [[Full]].
    */
  def push(channel: String, values: String*): Long =
    pushAll(channel, values, waitMs = 10000L)

  def pushAll(channel: String, values: Seq[String], waitMs: Long): Long = {
    val b = buf(channel)
    b.synchronized {
      require(values.length <= b.capacity,
        s"push of ${values.length} events can never fit channel " +
          s"'$channel' capacity ${b.capacity}")
      val deadline = System.nanoTime() + waitMs * 1000000L
      while (b.events.size + values.length > b.capacity) {
        val leftMs = (deadline - System.nanoTime()) / 1000000L
        if (leftMs <= 0) throw new Full(channel, b.capacity)
        b.wait(leftMs)
      }
      val now = System.currentTimeMillis() * 1000L
      values.foreach(v => b.events.add(Event(b.end, now, v)))
      b.end
    }
  }

  /** Non-blocking push; Some(end offset) or None if it would overflow. */
  def tryPush(channel: String, values: Seq[String]): Option[Long] =
    try Some(pushAll(channel, values, waitMs = 0L))
    catch { case _: Full => None }

  /** Current exclusive end offset. */
  def endOffset(channel: String): Long = {
    val b = buf(channel)
    b.synchronized(b.end)
  }

  /** Events currently retained (buffered, not yet released). */
  def retained(channel: String): Int = {
    val b = buf(channel)
    b.synchronized(b.events.size)
  }

  /** Evict events with seq < upTo (called when a micro-batch COMMITS —
    * the consumer's checkpoint has durably recorded them) and wake any
    * blocked producers.
    */
  def release(channel: String, upTo: Long): Unit = {
    val b = buf(channel)
    b.synchronized {
      while (b.base < upTo && !b.events.isEmpty) {
        b.events.removeFirst(); b.base += 1
      }
      b.notifyAll()
    }
  }

  /** Events in [from, until), clamped to what is still retained. */
  def slice(channel: String, from: Long, until: Long): Array[Event] = {
    val b = buf(channel)
    b.synchronized {
      val hi = math.min(until, b.end)
      val lo = math.min(math.max(from, b.base), hi)
      val all = b.events.toArray(new Array[Event](b.events.size))
      java.util.Arrays.copyOfRange(all, (lo - b.base).toInt, (hi - b.base).toInt)
    }
  }

  /** Renumber a channel whose end is behind `from` — a consumer's
    * committed start — so its retained events begin at `from`, in their
    * order. That happens after a restart that kept the consumer's
    * checkpoint: the new channel counts from 0 again, and a batch planned
    * from the committed start to the smaller end would read nothing, then
    * its commit would evict the acknowledged events.
    */
  def resumeAt(channel: String, from: Long): Unit = {
    val b = buf(channel)
    b.synchronized {
      if (b.end < from) {
        val events = b.events.toArray(new Array[Event](b.events.size))
        b.events.clear()
        events.iterator.zipWithIndex.foreach { case (e, i) =>
          b.events.add(e.copy(seq = from + i))
        }
        b.base = from
      }
    }
  }

  def clear(channel: String): Unit = {
    val b = buf(channel)
    b.synchronized { b.events.clear(); b.base = 0L; b.notifyAll() }
  }
}

private[sources] class PushTable(channel: String) extends Table with SupportsRead {
  override def name(): String = s"push:$channel"
  override def schema(): StructType = PushSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new PushScan(channel)
}

private[sources] class PushScan(channel: String) extends Scan {
  override def readSchema(): StructType = PushSource.Schema

  /** Snapshot phase: everything still retained, fixed at planning time
    * (events evicted by a streaming consumer's commit are gone — the
    * snapshot is of the channel, not of history).
    */
  override def toBatch: Batch = new Batch {
    private val base = PushBuffer.baseOffset(channel)
    private val end = PushBuffer.endOffset(channel)
    override def planInputPartitions(): Array[InputPartition] =
      PushScan.partitions(channel, base, end)
    override def createReaderFactory(): PartitionReaderFactory =
      PushScan.readerFactory
  }

  /** Change-stream phase: micro-batches over [start, latest).
    *
    * ADMISSION CONTROL: Spark commits batch N's source offsets only when
    * batch N+1 runs (MicroBatchExecution.cleanUpLastExecutedMicroBatch
    * commits `offsetLog.get(batchId - 1)`), and a batch only runs when it
    * has data. If one batch could swallow a FULL channel, its events
    * would all be consumed-but-uncommitted and the channel would
    * deadlock: producers blocked on space, space blocked on a commit,
    * the commit blocked on a next batch that needs new data.
    *
    *  - Trigger.AvailableNow runs this stream (it does not implement
    *    SupportsTriggerAvailableNow) as ONE batch and asks once, with
    *    the committed start, for `ReadLimit.allAvailable`: the run
    *    drains to the end captured at its start in a single micro-batch
    *    (one decode, one sink merge). When that batch would take a full
    *    channel it stops one event short, so the next run always has
    *    data, commits this batch, and frees space. (Spark's opt-in
    *    AvailableNow wrapper, `triggerAvailableNowWrapper.enabled`,
    *    would pass the initial offset instead of the committed start;
    *    leave it off for push channels.)
    *  - Every other trigger caps each batch at half the channel
    *    capacity (the default read limit), so a full channel always has
    *    uncommitted events BEYOND the last batch and the next batch runs.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream with SupportsAdmissionControl {
      private def maxBatch: Long =
        math.max(1L, PushBuffer.capacityOf(channel) / 2L)
      override def latestOffset(): Offset =
        throw new UnsupportedOperationException(
          "latestOffset(Offset, ReadLimit) should be called instead")
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val from = start.asInstanceOf[PushOffset].seq
        PushBuffer.resumeAt(channel, from)
        val end = PushBuffer.endOffset(channel)
        limit match {
          case _: ReadAllAvailable =>
            PushOffset(if (end - from >= PushBuffer.capacityOf(channel))
              end - 1 else end)
          case _ => PushOffset(math.min(end, from + maxBatch))
        }
      }
      override def reportLatestOffset(): Offset =
        PushOffset(PushBuffer.endOffset(channel))
      override def getDefaultReadLimit: ReadLimit =
        ReadLimit.maxRows(maxBatch)
      override def initialOffset(): Offset = PushOffset(0L)
      override def deserializeOffset(json: String): Offset =
        PushOffset(json.trim.toLong)
      override def commit(end: Offset): Unit =
        // the checkpoint has durably recorded [start, end) — evict the
        // committed prefix so blocked producers get space (backpressure)
        PushBuffer.release(channel, end.asInstanceOf[PushOffset].seq)
      override def stop(): Unit = ()
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
        PushScan.partitions(channel,
          start.asInstanceOf[PushOffset].seq, end.asInstanceOf[PushOffset].seq)
      override def createReaderFactory(): PartitionReaderFactory =
        PushScan.readerFactory
    }
}

private[sources] object PushScan {
  /** Split [from, until) into row-embedding partitions (≤ `maxSlices`,
    * ≥ 1 row each) so a large push still fans out across executors.
    */
  def partitions(channel: String, from: Long, until: Long,
      maxSlices: Int = 8): Array[InputPartition] = {
    val events = PushBuffer.slice(channel, from, until)
    if (events.isEmpty) Array.empty
    else {
      val slices = math.min(maxSlices, events.length)
      val per = (events.length + slices - 1) / slices
      events.grouped(per).map(g => PushPartition(g): InputPartition).toArray
    }
  }

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val rows = partition.asInstanceOf[PushPartition].events
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = {
          val e = rows(i)
          InternalRow(e.seq, e.tsMicros,
            if (e.value == null) null else UTF8String.fromString(e.value))
        }
        override def close(): Unit = ()
      }
    }
  }
}

private[sources] case class PushPartition(events: Array[PushBuffer.Event])
  extends InputPartition

private[sources] case class PushOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}
