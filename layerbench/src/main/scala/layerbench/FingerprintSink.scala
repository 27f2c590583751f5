package layerbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** A row count and an order-insensitive 64-bit sum of row hashes. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows%d:$hash%016x"
}

/** A sink that behaves like Spark's `noop` sink — the whole plan runs
  * and every row is produced, nothing is stored — but also hashes each
  * row, so a run can check that repeated executions return the same
  * multiset of rows without writing them anywhere.
  *
  * {{{ df.write.format(classOf[FingerprintSink].getName)
  *       .option("key", k).mode("overwrite").save()
  *     FingerprintSink.take(k) }}}
  *
  * For a stream, each committed epoch is stored under `<key>#<epoch>`.
  */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new FingerprintSink.FpTable
}

object FingerprintSink {
  private val results = new ConcurrentHashMap[String, Fingerprint]()

  def take(key: String): Option[Fingerprint] = Option(results.remove(key))

  def hashRow(row: UnsafeRow): Long = {
    val a = Murmur3_x86_32.hashUnsafeBytes(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes, 42)
    val b = Murmur3_x86_32.hashUnsafeBytes(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes, 0x5bd1e995)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  private final case class Message(fp: Fingerprint) extends WriterCommitMessage

  private def total(messages: Array[WriterCommitMessage]): Fingerprint =
    messages.collect { case Message(fp) => fp }.foldLeft(Fingerprint(0, 0))(_ + _)

  private final class FpTable extends Table with SupportsWrite {
    override def name(): String = "fingerprint"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val key = info.options().get("key")
      val schema = info.schema()
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
              new Factory(schema)
            override def commit(messages: Array[WriterCommitMessage]): Unit =
              results.put(key, total(messages))
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }
          override def toStreaming: StreamingWrite = new StreamingWrite {
            override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory =
              new Factory(schema)
            override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
              results.put(s"$key#$epochId", total(messages))
            override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
    }
  }

  private final class Factory(schema: StructType)
      extends DataWriterFactory with StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new Writer(schema)
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      new Writer(schema)
  }

  private final class Writer(schema: StructType) extends DataWriter[InternalRow] {
    private lazy val toUnsafe = UnsafeProjection.create(schema)
    private var rows = 0L
    private var hash = 0L
    override def write(row: InternalRow): Unit = {
      val u = row match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }
      rows += 1
      hash += hashRow(u)
    }
    override def commit(): WriterCommitMessage = Message(Fingerprint(rows, hash))
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
