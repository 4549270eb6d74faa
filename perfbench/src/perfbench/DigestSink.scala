package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `noop`-shaped sink that also digests what it is given.
  *
  * Like Spark's `noop` format, writing to it runs the full physical plan of
  * a query, terminal sort included, and keeps nothing. Each task folds its
  * rows into a row count and a wrapping sum of per-row hashes; the sum does
  * not depend on row order or partitioning, so the digest is the same for
  * any plan that yields the same multiset of rows. Floating-point values
  * drop their low mantissa bits first, so a last-ulp difference in an
  * aggregate's summation order does not change the digest.
  *
  * Use: `df.write.format(classOf[DigestSink].getName).option("id", id)
  * .mode("overwrite").save()`, then `DigestSink.take(id)`.
  */
final class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = DigestTable
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, (Long, Long)]()

  /** (rows, hash sum) written under `id`, removed from the registry. */
  def take(id: String): Option[(Long, Long)] = Option(results.remove(id))

  private[perfbench] def put(id: String, d: (Long, Long)): Unit = results.put(id, d)

  private val FloatMask = ~0xffL       // keep 15 of 23 mantissa bits
  private val DoubleMask = ~0xfffffL   // keep 32 of 52 mantissa bits

  private def dbl(d: Double): Int =
    if (d.isNaN) 0x7ff80000 else (java.lang.Double.doubleToLongBits(d + 0.0) & DoubleMask).##
  private def flt(f: Float): Int =
    if (f.isNaN) 0x7fc00000 else (java.lang.Float.floatToIntBits(f + 0.0f) & FloatMask).toInt

  /** Hash of one value of type `t` read from a row or array slot. */
  private def value(t: DataType, get: DataType => Any): Int = t match {
    case FloatType => flt(get(t).asInstanceOf[Float])
    case DoubleType => dbl(get(t).asInstanceOf[Double])
    case st: StructType => row(get(t).asInstanceOf[InternalRow], st)
    case at: ArrayType => array(get(t).asInstanceOf[ArrayData], at.elementType)
    case mt: MapType =>
      val m = get(t).asInstanceOf[MapData]
      MurmurHash3.mix(array(m.keyArray(), mt.keyType), array(m.valueArray(), mt.valueType))
    case BinaryType => util.Arrays.hashCode(get(t).asInstanceOf[Array[Byte]])
    case _: DecimalType =>
      get(t).asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.hashCode
    case _ => get(t).##
  }

  private[perfbench] def row(r: InternalRow, st: StructType): Int = {
    var h = MurmurHash3.productSeed
    var i = 0
    while (i < st.length) {
      val j = i
      val v = if (r.isNullAt(j)) 0x5bd1e995 else value(st(j).dataType, r.get(j, _))
      h = MurmurHash3.mix(h, v)
      i += 1
    }
    MurmurHash3.finalizeHash(h, st.length)
  }

  private def array(a: ArrayData, et: DataType): Int = {
    var h = MurmurHash3.seqSeed
    var i = 0
    while (i < a.numElements()) {
      val j = i
      val v = if (a.isNullAt(j)) 0x5bd1e995 else value(et, a.get(j, _))
      h = MurmurHash3.mix(h, v)
      i += 1
    }
    MurmurHash3.finalizeHash(h, a.numElements())
  }
}

private object DigestTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DigestBatchWrite(info.options.get("id"), info.schema)
      }
    }
}

private final case class Digest(rows: Long, sum: Long) extends WriterCommitMessage

private final class DigestBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def useCommitCoordinator(): Boolean = false
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ds = messages.collect { case d: Digest => d }
    DigestSink.put(id, (ds.map(_.rows).sum, ds.map(_.sum).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = {
        rows += 1
        sum += DigestSink.row(r, schema).toLong & 0xffffffffL
      }
      override def commit(): WriterCommitMessage = Digest(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
