package perfbench

import java.util
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** The sink every registry query is timed through: Spark's noop sink,
  * except that each task keeps a copy of the rows it consumed and returns
  * them with its commit message. Like noop it makes Spark
  * compute every output column of every row (`count()` lets the optimizer
  * prune columns and the windows and joins behind them), and it keeps the
  * output so the checks can compare it without running the query a second
  * time, which would cost about two thirds of the timed pass again.
  *
  * Write with `df.write.format(Capture.Format).option("key", k)` in
  * overwrite mode; the rows are then in [[Capture.take]]`(k)`. */
final class Capture extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CaptureTable
}

object Capture {
  val Format: String = classOf[Capture].getName

  private val results =
    new java.util.concurrent.ConcurrentHashMap[String, Array[InternalRow]]

  private[perfbench] def put(key: String, rows: Array[InternalRow]): Unit =
    results.put(key, rows)

  /** Removes and returns the rows captured under `key`, as a frame of
    * `schema` (the schema of the frame that was written). */
  def take(spark: SparkSession, key: String, schema: StructType): DataFrame = {
    val rows = Option(results.remove(key)).getOrElse(
      throw new IllegalStateException(s"nothing captured under $key"))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(
      rows.toSeq.map(r => toRow(r).asInstanceOf[Row]).asJava, schema)
  }
}

private object CaptureTable extends Table with SupportsWrite {
  override def name(): String = "capture"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val key = info.options.get("key")
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new CaptureBatch(key)
      }
    }
  }
}

private final class Rows(val rows: Array[InternalRow])
  extends WriterCommitMessage

private final class CaptureBatch(key: String) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = CaptureWriters
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Capture.put(key, messages.flatMap(_.asInstanceOf[Rows].rows))
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private object CaptureWriters extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val buf = Array.newBuilder[InternalRow]
    override def write(record: InternalRow): Unit = buf += record.copy()
    override def commit(): WriterCommitMessage = new Rows(buf.result())
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
