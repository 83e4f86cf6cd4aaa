package graft.perfbench

import java.math.{MathContext, RoundingMode}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** Row count plus an order-independent hash of a result. */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

/** Order-independent fingerprint of a result: each row hashes its
  * columns in order, and the row hashes are summed (mod 2^64), so the
  * partitioning and row order of a result do not change it. Floating
  * point values are rounded to fixed significant digits first, so sums
  * that Spark adds up in a different order still agree.
  */
object Fingerprint {
  private val Seed = 42L
  private val NullHash = 0x5bd1e995L
  private val DoubleDigits = new MathContext(9, RoundingMode.HALF_EVEN)
  private val FloatDigits = new MathContext(6, RoundingMode.HALF_EVEN)

  /** Values this close to zero are cancellation residue, which rounding
    * to significant digits would keep; they read as 0.
    */
  private val Zero = 1e-9

  def round(d: Double, mc: MathContext = DoubleDigits): Double =
    if (d.isNaN || d.isInfinite) d
    else if (math.abs(d) < Zero) 0.0
    else new java.math.BigDecimal(d).round(mc).doubleValue

  private def long(v: Long): Long = XXH64.hashLong(v, Seed)

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, Seed)

  def value(v: Any, dt: DataType): Long = (v, dt) match {
    case (null, _) => NullHash
    case (d: Double, _) => long(java.lang.Double.doubleToLongBits(round(d)))
    case (f: Float, _) =>
      long(java.lang.Double.doubleToLongBits(round(f.toDouble, FloatDigits)))
    case (s: UTF8String, _) => bytes(s.getBytes)
    case (d: Decimal, _) =>
      bytes(d.toJavaBigDecimal.stripTrailingZeros.toPlainString.getBytes("UTF-8"))
    case (b: Boolean, _) => long(if (b) 1L else 0L)
    case (n: Byte, _) => long(n.toLong)
    case (n: Short, _) => long(n.toLong)
    case (n: Int, _) => long(n.toLong)
    case (n: Long, _) => long(n)
    case (b: Array[Byte], _) => bytes(b)
    case (i: CalendarInterval, _) => bytes(i.toString.getBytes("UTF-8"))
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).foldLeft(long(a.numElements().toLong)) {
        (h, i) => XXH64.hashLong(value(a.get(i, et), et), h)
      }
    case (m: MapData, MapType(kt, vt, _)) =>
      // entries in any order: sum of entry hashes
      val ks = m.keyArray()
      val vs = m.valueArray()
      (0 until m.numElements()).map { i =>
        XXH64.hashLong(value(vs.get(i, vt), vt), value(ks.get(i, kt), kt))
      }.sum
    case (r: InternalRow, st: StructType) => row(r, st)
    case (other, t) =>
      throw new IllegalArgumentException(
        s"no fingerprint for ${other.getClass.getName} of type $t")
  }

  def row(r: InternalRow, schema: StructType): Long = {
    var h = Seed
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = XXH64.hashLong(value(if (r.isNullAt(i)) null else r.get(i, dt), dt), h)
      i += 1
    }
    h
  }

  private val results = new ConcurrentHashMap[String, Fingerprint]()

  /** Run `df` to its full result through [[FingerprintSink]] and return
    * the fingerprint of the rows written. Every row of every column
    * reaches the writer, as with Spark's `noop` sink; nothing is
    * pruned.
    */
  def write(df: DataFrame, key: String): Fingerprint = {
    results.remove(key)
    df.write.format(classOf[FingerprintSink].getName)
      .option("key", key).mode("append").save()
    Option(results.remove(key)).getOrElse(
      throw new IllegalStateException(s"sink committed no result for $key"))
  }

  private[perfbench] def committed(key: String, fp: Fingerprint): Unit =
    results.put(key, fp)
}

/** The benchmark's full-result sink: the write path of Spark's `noop`
  * source (a V2 batch write that accepts any schema), whose writers fold
  * each row into a [[Fingerprint]] instead of discarding it. One
  * execution gives both the timing and the result to check.
  */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = FingerprintTable
}

private object FingerprintTable extends Table with SupportsWrite {
  override def name(): String = "perfbench_fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val key = info.options().get("key")
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintBatch(key, schema)
      }
    }
  }
}

private final class FingerprintBatch(key: String, schema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def useCommitCoordinator(): Boolean = false
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartialFingerprint => p }
    Fingerprint.committed(key,
      Fingerprint(parts.map(_.rows).sum, parts.map(_.hash).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final case class PartialFingerprint(rows: Long, hash: Long)
  extends WriterCommitMessage

private final class FingerprintWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var hash = 0L
      override def write(r: InternalRow): Unit = {
        rows += 1
        hash += Fingerprint.row(r, schema)
      }
      override def commit(): WriterCommitMessage = PartialFingerprint(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** The expected fingerprints file: groups (`queries`, `tables`) of
  * name -> {rows, hash}.
  */
object Expected {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def load(path: java.nio.file.Path): Map[String, Map[String, Fingerprint]] = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(path.toFile)
    root.fieldNames().asScala.map { group =>
      group -> root.get(group).fields().asScala.map { e =>
        e.getKey -> Fingerprint(e.getValue.get("rows").asLong(),
          java.lang.Long.parseUnsignedLong(e.getValue.get("hash").asText(), 16))
      }.toMap
    }.toMap
  }

  def render(groups: Map[String, Map[String, Fingerprint]]): String =
    groups.toSeq.sortBy(_._1).map { case (g, fps) =>
      fps.toSeq.sortBy(_._1).map { case (k, fp) =>
        s"""    "$k": {"rows": ${fp.rows}, "hash": "${fp.hex}"}"""
      }.mkString(s"""  "$g": {\n""", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")
}
