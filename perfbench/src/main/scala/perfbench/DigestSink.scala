package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-independent content digest of a result: row count plus the
  * wrapping sum and the xor of a mixed per-row XxHash64. The sum makes
  * it multiset-sensitive (a duplicated row changes it), the xor of a
  * second mix guards against sum collisions.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  override def toString: String = f"$rows:$sum%016x:$xor%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L, 0L)

  /** Row hasher for `schema`: XxHash64 over every column, codegen'd. */
  def hasher(schema: StructType): InternalRow => Long = {
    val refs = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }
    val proj = UnsafeProjection.create(Seq(XxHash64(refs, 42L)))
    row => proj(row).getLong(0)
  }

  def mix(h: Long): Long = {
    var z = h * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  def ofRow(h: Long): Digest = Digest(1L, h, mix(h))

  /** Digest of driver-side rows, hashed exactly as the sink hashes. */
  def of(schema: StructType, rows: Iterable[InternalRow]): Digest = {
    val h = hasher(schema)
    rows.foldLeft(Empty)((d, r) => d + ofRow(h(r)))
  }
}

/** A write-only table that consumes every row like the noop sink and
  * folds the rows into a [[Digest]]. Write it with
  * `df.write.format(classOf[DigestSink].getName).mode("overwrite")
  *   .option("id", id).save()` and read the digest with [[DigestSink.take]].
  * Task digests travel back in commit messages, so nothing is shared
  * between tasks.
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = DigestTable
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, Digest]()
  def take(id: String): Option[Digest] = Option(results.remove(id))
  private[perfbench] def put(id: String, d: Digest): Unit = results.put(id, d)
}

private object DigestTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val id = info.options().get("id")
    val schema = info.schema()
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(id, schema)
      }
    }
  }
}

private final case class DigestMessage(d: Digest) extends WriterCommitMessage

private class DigestBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    DigestSink.put(id, messages.collect { case DigestMessage(d) => d }
      .foldLeft(Digest.Empty)(_ + _))
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val hash = Digest.hasher(schema)
      private var acc = Digest.Empty
      override def write(row: InternalRow): Unit = acc = acc + Digest.ofRow(hash(row))
      override def commit(): WriterCommitMessage = DigestMessage(acc)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
