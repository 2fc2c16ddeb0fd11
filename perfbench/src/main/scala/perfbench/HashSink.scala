package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-independent digest of a query result: row count and the wrapping
  * sum of each row's xxhash64 over its UnsafeRow bytes. */
final case class Digest(rows: Long, hash: Long) extends WriterCommitMessage {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  val zero: Digest = Digest(0L, 0L)

  private[perfbench] def hash(u: UnsafeRow): Long =
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
}

/** A write sink that behaves like Spark's `noop` format — every row of every
  * partition is produced and dropped — but digests the rows on the way, so
  * each op's result is checked without a second execution. Use with
  * `.format(classOf[HashSink].getName).option("token", t)` and read the
  * digest back with [[HashSink.take]]. */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new HashSink.SinkTable(schema)
}

object HashSink {
  private val results = new ConcurrentHashMap[String, Digest]()

  /** Removes and returns the digest committed under `token`. */
  def take(token: String): Option[Digest] = Option(results.remove(token))

  private final class SinkTable(schema0: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench-hash"
    override def schema(): StructType = schema0
    override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new DigestWrite(info.schema(), info.options().get("token"))
        }
      }
  }

  private final class DigestWrite(schema: StructType, token: String) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      WriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      results.put(token, messages.collect { case d: Digest => d }.foldLeft(Digest.zero)(_ + _))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final case class WriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val proj = UnsafeProjection.create(schema)
        private var rows, hash = 0L
        override def write(r: InternalRow): Unit = { rows += 1; hash += Digest.hash(proj(r)) }
        override def commit(): WriterCommitMessage = Digest(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
