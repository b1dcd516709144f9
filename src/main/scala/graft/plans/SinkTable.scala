package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The in-memory table `<deployment>_<stream>` a [[PipelineManager]]
  * sink appends to: Spark's memory sink (same write path, batches
  * deduplicated by id) exposed as a readable data-source table.
  *
  * Spark's `format("memory")` refuses to resume an append-mode query
  * from an existing checkpoint, so a deployment written through it
  * can never restart from its checkpoint root. As an ordinary
  * data-source sink it resumes, and a restarted run appends to the
  * rows its earlier run committed. */
final class SinkTable(tableName: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  private val sink = new MemorySink

  override def name: String = tableName
  override def schema: StructType = tableSchema
  override def capabilities: java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    sink.newWriteBuilder(info)

  /** One partition holding the rows committed when the query reading
    * the table is planned. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema: StructType = tableSchema
      override def toBatch: Batch = this
      override def planInputPartitions: Array[InputPartition] = {
        val toRow = CatalystTypeConverters.createToCatalystConverter(tableSchema)
        Array(SinkTable.Rows(
          sink.allData.map(toRow(_).asInstanceOf[InternalRow]).toArray))
      }
      override def createReaderFactory: PartitionReaderFactory = SinkTable.Reader
    }
}

object SinkTable {
  private final case class Rows(rows: Array[InternalRow]) extends InputPartition

  private object Reader extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val it = p.asInstanceOf[Rows].rows.iterator
        private var row: InternalRow = _
        override def next(): Boolean = it.hasNext && { row = it.next(); true }
        override def get: InternalRow = row
        override def close(): Unit = ()
      }
  }

  private val lent = new ConcurrentHashMap[String, SinkTable]

  /** Spark builds a data-source table from options, so `t` is
    * reachable through [[SinkTableProvider]] under an id only while
    * `body` resolves it (a started query and a loaded DataFrame keep
    * the table itself). */
  private[plans] def lend[A](t: SinkTable)(body: Map[String, String] => A): A = {
    val id = java.util.UUID.randomUUID.toString
    lent.put(id, t)
    try body(Map("id" -> id)) finally lent.remove(id)
  }

  private[plans] def lookup(options: java.util.Map[String, String]): SinkTable =
    Option(lent.get(options.get("id"))).getOrElse(
      sys.error(s"no sink table lent under $options"))
}

/** `format(classOf[SinkTableProvider].getName)`: the lent [[SinkTable]]. */
final class SinkTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SinkTable.lookup(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    SinkTable.lookup(properties)
}
