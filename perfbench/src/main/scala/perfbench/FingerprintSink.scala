package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that materialises every column of every row, like Spark's
  * `noop` sink, and also returns an order-independent fingerprint of the
  * rows: (row count, wrapping sum of XXH64 over each row's UnsafeRow bytes).
  *
  * Timing an action through it costs what `noop` costs plus one hash per
  * row, keeps the query's plan intact (unlike `count()`, which lets
  * Catalyst prune output-only projections, or an aggregate on top, which
  * lets it drop a final sort), and lets the benchmark check each timed
  * execution against the reference fingerprint taken outside the timing.
  *
  *   df.write.format(classOf[FingerprintSink].getName).option("op", id)
  *     .mode("overwrite").save()
  *   FingerprintSink.take(id)   // Some((rows, hashSum))
  */
class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FingerprintTable(properties.get("op"))
}

final class FingerprintTable(val op: String) extends Table with SupportsWrite {
  override def name(): String = s"perfbench_fingerprint[$op]"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintBatch(op, info.schema())
      }
    }
}

final case class Fingerprint(rows: Long, hashSum: Long) extends WriterCommitMessage

private final class FingerprintBatch(op: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def useCommitCoordinator(): Boolean = false
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case f: Fingerprint => f }
    FingerprintSink.results.put(op, Fingerprint(parts.map(_.rows).sum, parts.map(_.hashSum).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toUnsafe = UnsafeProjection.create(schema)
      private var rows = 0L
      private var hashSum = 0L
      override def write(record: InternalRow): Unit = {
        val u = toUnsafe(record)
        rows += 1
        hashSum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      override def commit(): WriterCommitMessage = Fingerprint(rows, hashSum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

object FingerprintSink {
  private[perfbench] val results = new ConcurrentHashMap[String, Fingerprint]()

  /** The fingerprint the action for `op` committed, removed from the table. */
  def take(op: String): Option[Fingerprint] = Option(results.remove(op))
}
