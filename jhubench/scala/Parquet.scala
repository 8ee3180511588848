package jhubench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import scala.jdk.CollectionConverters._

/** Writes a table as one parquet file with parquet-mr alone, without Spark,
  * so that landing the inputs runs none of the code the measured batches run.
  * A table is a directory `<name>.parquet` holding `part-00000.parquet`,
  * rows in the order given (the lookup's file order is its meaning).
  */
object Parquet {

  sealed trait Col { def name: String }
  final case class Str(name: String) extends Col
  final case class I32(name: String) extends Col
  final case class I64(name: String) extends Col
  final case class F64(name: String) extends Col

  private def field(c: Col): Type = c match {
    case Str(n) => Types.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named(n)
    case I32(n) => Types.optional(PrimitiveTypeName.INT32).named(n)
    case I64(n) => Types.optional(PrimitiveTypeName.INT64).named(n)
    case F64(n) => Types.optional(PrimitiveTypeName.DOUBLE).named(n)
  }

  /** Rows straight to the record consumer: values in column order, null
    * leaves a cell null. (The generic `Group` writer is about six times
    * slower on the 1,104-column tables.)
    */
  private final class Rows(schema: MessageType, cols: IndexedSeq[Col]) extends WriteSupport[Seq[Any]] {
    private var out: RecordConsumer = _
    def init(conf: Configuration) = new WriteSupport.WriteContext(schema, new java.util.HashMap[String, String]())
    def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    def write(row: Seq[Any]): Unit = {
      out.startMessage()
      row.iterator.zipWithIndex.foreach {
        case (null, _) =>
        case (v, i) =>
          val c = cols(i)
          out.startField(c.name, i)
          (c, v) match {
            case (_: Str, s: String) => out.addBinary(Binary.fromString(s))
            case (_: I32, x: Int)    => out.addInteger(x)
            case (_: I64, x: Long)   => out.addLong(x)
            case (_: F64, x: Double) => out.addDouble(x)
            case _                   => throw new IllegalArgumentException(s"$v does not fit column $c")
          }
          out.endField(c.name, i)
      }
      out.endMessage()
    }
  }

  private final class Builder(path: Path, support: Rows) extends ParquetWriter.Builder[Seq[Any], Builder](path) {
    def self(): Builder = this
    def getWriteSupport(conf: Configuration): WriteSupport[Seq[Any]] = support
  }

  /** Write `rows` (values in `cols` order) as the table `dir`. */
  def write(dir: String, cols: Seq[Col], rows: Iterable[Seq[Any]]): Unit = {
    val schema = new MessageType("table", cols.map(field).asJava)
    val writer = new Builder(new Path(s"$dir/part-00000.parquet"), new Rows(schema, cols.toIndexedSeq))
      .withConf(new Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach(writer.write)
    finally writer.close()
  }
}
