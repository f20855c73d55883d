package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{InputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Driver-side reads and writes of TINY parquet tables (index metadata,
  * takedown sets, k-row center tables, a small append's stream buckets)
  * via parquet-hadoop directly — NO Spark job. A Spark read of a one-row table costs a full plan + schedule +
  * task round trip (~100 ms of fixed latency per read on the serving
  * path); the direct read is small-file IO at any corpus size. Callers
  * must only point this at tables that are small BY CONSTRUCTION
  * (one-row-per-mutation deltas that compaction collapses, k-row center
  * tables) or guard with [[dataBytes]] and fall back to a Spark read —
  * on an object store this is O(files) GETs with no task parallelism.
  *
  * File order is the lexicographic file-name sort (deterministic across
  * filesystems, unlike raw listing order).
  */
private[graft] object TinyParquet {

  /** Data bytes under which a guarded table is read driver-side: the
    * takedown sets of `ops.Tombstones`, and the stream buckets (point
    * queries; the buckets a local batch's append reads and rewrites on
    * the driver), declared landmark intervals and stream catalog of
    * [[graft.core.SummaryDB]].
    */
  val TinyBytes: Long = 8L << 20

  /** The table's data files, lexicographically sorted. */
  def dataFiles(conf: Configuration, dirStr: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dirPath = new Path(dirStr)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  /** Total data bytes of the table (0 when absent) — the caller-side
    * tininess guard.
    */
  def dataBytes(conf: Configuration, dirStr: String): Long =
    dataFiles(conf, dirStr).map(_.getLen).sum

  /** Every row of every data file, in lexicographic file order. */
  def rows(conf: Configuration, dirStr: String): Seq[Group] =
    fileRows(conf, dataFiles(conf, dirStr).map(_.getPath))

  /** The rows of `files`, in the given order, that pass `filter`: row
    * groups and pages whose statistics rule the predicate out are not
    * read, and failing records are never assembled. A non-empty
    * `columns` reads only those top-level columns (the filter's among
    * them), so wide sketch columns are never decoded.
    */
  def fileRows(conf: Configuration, files: Seq[Path],
      filter: FilterCompat.Filter = FilterCompat.NOOP,
      columns: Seq[String] = Nil): Seq[Group] =
    files.flatMap { f =>
      val reader = new GroupReader(HadoopInputFile.fromPath(f, conf),
          if (columns.isEmpty) new GroupReadSupport() else new Projected(columns.toSet))
        .withFilter(filter)
        .useRecordFilter()
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    }

  /** A reader over `file` with its own conf: `ParquetReader.builder`
    * builds a fresh Hadoop `Configuration` per file, which re-parses the
    * default resources (about as long as reading a small bucket file).
    */
  private final class GroupReader(file: InputFile, support: ReadSupport[Group])
      extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = support
  }

  /** Group reads of the file schema's `columns` only, in file order. */
  private final class Projected(columns: Set[String]) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      new ReadSupport.ReadContext(
        new MessageType(file.getName, file.getFields.asScala.filter(f => columns(f.getName)).asJava))
    }
  }

  /** Write ONE flat row as a parquet data file under `dirStr` —
    * driver-side, no Spark job. The metadata tables this serves (index
    * meta rows, per-mutation stats deltas, buildinfo) are one row each,
    * yet a Spark `Seq(...).toDF.repartition(1).write` costs a full
    * plan + schedule + task round trip per write — a fixed job on every
    * build/append/merge/compact. A one-row [[writeRows]], so existing
    * readers (driver-side [[rows]] AND `spark.read.parquet`) see the
    * table Spark would have written; `overwrite = false` appends a
    * uniquely-named file (the delta-table discipline).
    */
  def writeFlatRow(
      spark: SparkSession,
      dirStr: String,
      overwrite: Boolean,
      ints: Seq[(String, Int)] = Nil,
      longs: Seq[(String, Long)] = Nil,
      doubles: Seq[(String, Double)] = Nil): Unit = {
    val dir = new Path(dirStr)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (overwrite) fs.delete(dir, true)
    fs.mkdirs(dir)
    val cells = ints.map { case (n, v) => (StructField(n, IntegerType, nullable = false), v) } ++
      longs.map { case (n, v) => (StructField(n, LongType, nullable = false), v) } ++
      doubles.map { case (n, v) => (StructField(n, DoubleType, nullable = false), v) }
    // name ends in a letter: the streamed-batch detectors regex for
    // `b<digits>.parquet` UNANCHORED, and a raw hex uuid can end in
    // exactly that shape
    writeRows(spark, new Path(dir,
      s"part-${java.util.UUID.randomUUID().toString.replace("-", "")}-tiny.parquet"),
      StructType(cells.map(_._1)), Iterator(Row.fromSeq(cells.map(_._2))))
  }

  /** Write `rows` of `schema` as the one parquet file `file` —
    * driver-side, no Spark job — as Spark's writer lays it out: one
    * primitive field per column, required unless the column is
    * nullable, the session's `spark.sql.parquet.compression.codec`, and
    * Spark's row-metadata footer key, so readers that infer the schema
    * see the one Spark would have written. Columns are int, long,
    * double or string. Returns the file's length in bytes.
    */
  def writeRows(spark: SparkSession, file: Path, schema: StructType, rows: Iterator[Row]): Long = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      f.dataType match {
        case IntegerType => b.primitive(INT32, rep).named(f.name)
        case LongType => b.primitive(INT64, rep).named(f.name)
        case DoubleType => b.primitive(DOUBLE, rep).named(f.name)
        case StringType => b.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case t => throw new IllegalArgumentException(s"no driver-side parquet write of ${f.name}: $t")
      }
    }
    val codec = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    val writer = new RowWriter(HadoopOutputFile.fromPath(file, conf),
        new RowWriteSupport(schema, b.named("spark_schema")))
      .withConf(conf)
      .withCompressionCodec(if (codec.equalsIgnoreCase("none")) CompressionCodecName.UNCOMPRESSED
        else CompressionCodecName.fromConf(codec))
      .withExtraMetaData(Map(SparkRowMetadata -> schema.json,
        "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT).asJava)
      .build()
    try rows.foreach(writer.write) finally writer.close()
    file.getFileSystem(conf).getFileStatus(file).getLen
  }

  private final class RowWriter(file: OutputFile, support: WriteSupport[Row])
      extends ParquetWriter.Builder[Row, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Row] = support
  }

  /** Rows of `schema` as records of `message`, cell by cell, as Spark's
    * own write support hands them to parquet.
    */
  private final class RowWriteSupport(schema: StructType, message: MessageType) extends WriteSupport[Row] {
    private var out: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(message, new java.util.HashMap[String, String]())
    override def prepareForWrite(consumer: RecordConsumer): Unit = out = consumer
    override def write(r: Row): Unit = {
      out.startMessage()
      var i = 0
      while (i < schema.length) {
        if (!r.isNullAt(i)) {
          val f = schema.fields(i)
          out.startField(f.name, i)
          f.dataType match {
            case IntegerType => out.addInteger(r.getInt(i))
            case LongType => out.addLong(r.getLong(i))
            case DoubleType => out.addDouble(r.getDouble(i))
            case _ => out.addBinary(Binary.fromString(r.getString(i)))
          }
          out.endField(f.name, i)
        }
        i += 1
      }
      out.endMessage()
    }
  }

  /** The footer key under which Spark's writer stores a file's schema. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** An array cell (Spark's standard 3-level list layout, or a legacy
    * 2-level repeated primitive), each element read by `get` from the
    * group and field that hold it — field names are resolved from the
    * schema, not assumed.
    */
  def array[T: ClassTag](g: Group, field: String)(get: (Group, String, Int) => T): Array[T] = {
    val outer = g.getGroup(field, 0)
    val repField = outer.getType.getFields.get(0)
    val repName = repField.getName
    val n = outer.getFieldRepetitionCount(repName)
    if (repField.isPrimitive)
      Array.tabulate(n)(i => get(outer, repName, i))
    else
      Array.tabulate(n) { i =>
        val el = outer.getGroup(repName, i)
        get(el, el.getType.getFields.get(0).getName, 0)
      }
  }

  /** An `array<double>` cell. */
  def doubleArray(g: Group, field: String): Array[Double] = array(g, field)(_.getDouble(_, _))

  /** An `array<string>` cell. */
  def stringArray(g: Group, field: String): Array[String] = array(g, field)(_.getString(_, _))
}
