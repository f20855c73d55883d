package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{InputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuilder
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.DynamicVariable

/** Driver-side reads and writes of TINY parquet tables (index metadata,
  * takedown sets, k-row center tables, the stream buckets of a point
  * query or a small append, the stream tables of a tiny fleet query)
  * via parquet-hadoop directly — NO Spark job. A Spark read of a
  * one-row table costs a full plan + schedule + task round trip (~100 ms
  * of fixed latency per read on the serving path); the direct read is
  * small-file IO at any corpus size. Callers must only point this at
  * tables that are small BY CONSTRUCTION (one-row-per-mutation deltas
  * that compaction collapses, k-row center tables) or ask [[onDriver]]
  * first and fall back to a Spark read of the same files — on an object
  * store this is O(files) GETs with no task parallelism.
  *
  * File order is the lexicographic file-name sort (deterministic across
  * filesystems, unlike raw listing order).
  */
private[graft] object TinyParquet {

  /** Data bytes under which a guarded read runs on the driver: the
    * takedown sets of `ops.Tombstones`, the stream catalog and declared
    * landmark intervals of [[graft.core.SummaryDB]], the stream buckets
    * of its point queries and of the appends it runs on the driver, and
    * the three stream tables of a fleet query
    * ([[graft.core.QueryEngine]]).
    */
  val TinyBytes: Long = 8L << 20

  /** The one guard of every driver-or-Spark read: whether data of
    * `bytes` is read on the driver — at most [[TinyBytes]], and not
    * inside [[forcingSpark]].
    */
  def onDriver(bytes: Long): Boolean = !sparkOnly.value && bytes <= TinyBytes

  private val sparkOnly = new DynamicVariable(false)

  /** `body` with every guarded read on this thread taking its Spark side,
    * whatever its size: how a spec checks that both sides of a guard
    * give the same rows.
    */
  private[graft] def forcingSpark[T](body: => T): T = sparkOnly.withValue(true)(body)

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

  /** Every row of every data file, in lexicographic file order. */
  def rows(conf: Configuration, dirStr: String): Seq[Group] =
    fileRows(conf, dataFiles(conf, dirStr).map(_.getPath))

  /** The rows of `files`, in the given order. */
  def fileRows(conf: Configuration, files: Seq[Path]): Seq[Group] =
    files.flatMap { f =>
      val reader = new GroupReader(HadoopInputFile.fromPath(f, conf)).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    }

  /** A reader over `file` with its own conf: `ParquetReader.builder`
    * builds a fresh Hadoop `Configuration` per file, which re-parses the
    * default resources (about as long as reading a small bucket file).
    */
  private final class GroupReader(file: InputFile) extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
  }

  /** The columns of a flat table decoded into primitive arrays, each
    * `size` long: `long` for a `LongType` field of the schema read,
    * `double` for a `DoubleType` one.
    */
  final class Columns private[TinyParquet] (val size: Int, cols: Map[String, AnyRef]) {
    def long(name: String): Array[Long] = cols(name).asInstanceOf[Array[Long]]
    def double(name: String): Array[Double] = cols(name).asInstanceOf[Array[Double]]
  }

  /** The `schema` columns (long or double) of the flat parquet `files`,
    * in file order, decoded column by column: no record is assembled
    * and only those columns are read. Left when a file lacks a column or
    * stores it as another physical type than INT64 or DOUBLE (a Spark
    * read of `schema` may still convert it); a null throws, naming the
    * file and the column, since every such column is non-null.
    */
  def columns(conf: Configuration, files: Seq[Path], schema: StructType): Either[String, Columns] = {
    // one options object: opening a file without it builds a Configuration
    val options = HadoopReadOptions.builder(conf).build()
    val out = schema.fields.map(f => f.name -> (if (f.dataType == LongType) new ArrayBuilder.ofLong
      else new ArrayBuilder.ofDouble))
    var size = 0
    files.foldLeft[Either[String, Unit]](Right(())) { (done, f) =>
      done.flatMap { _ =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf), options)
        try {
          val file = reader.getFileMetaData.getSchema
          val typeOf = file.getFields.asScala.map(t => t.getName -> t).toMap
          schema.fields.find { c =>
            val physical = if (c.dataType == LongType) PrimitiveTypeName.INT64 else PrimitiveTypeName.DOUBLE
            !typeOf.get(c.name).exists(t => t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
              t.asPrimitiveType.getPrimitiveTypeName == physical)
          }.map(c => s"$f: column ${c.name} is not a flat ${c.dataType.simpleString}").toLeft {
            val projection = new MessageType(file.getName, schema.fields.map(c => typeOf(c.name)).toList.asJava)
            reader.setRequestedSchema(projection)
            Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).foreach { pages =>
              size += pages.getRowCount.toInt
              // the store asks for converters; values are read off its column readers instead
              val store = new ColumnReadStoreImpl(pages, new GroupRecordConverter(projection).getRootConverter,
                projection, reader.getFileMetaData.getCreatedBy)
              out.foreach { case (name, values) =>
                val column = store.getColumnReader(projection.getColumnDescription(Array(name)))
                val defined = column.getDescriptor.getMaxDefinitionLevel
                def decode(add: => Unit): Unit = {
                  var row = 0L
                  while (row < pages.getRowCount) {
                    if (column.getCurrentDefinitionLevel < defined)
                      throw new IllegalStateException(s"$f: null in non-null column $name")
                    add
                    column.consume()
                    row += 1
                  }
                }
                (values: @unchecked) match {
                  case l: ArrayBuilder.ofLong => decode(l += column.getLong)
                  case d: ArrayBuilder.ofDouble => decode(d += column.getDouble)
                }
              }
            }
          }
        } finally reader.close()
      }
    }.map(_ => new Columns(size, out.map { case (name, values) => name -> values.result().asInstanceOf[AnyRef] }.toMap))
  }

  /** A Dataset the driver can read without Spark, holding `bytes`: its
    * [[columns]] by `read`.
    */
  final class Input private[TinyParquet] (val bytes: Long, val read: StructType => Either[String, Columns])

  /** `ds` as an [[Input]] when its plan is a bare scan of unpartitioned
    * parquet files (the files and bytes its listing already holds: no
    * IO) or a local relation (sized by its statistics); None for any
    * other plan — a filter, a join — and for a cached Dataset, whose plan
    * is its cache. A column the plan lacks or types otherwise reads as
    * Left.
    */
  def input(ds: Dataset[_]): Option[Input] = ds.queryExecution.withCachedData match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.partitionSchema.isEmpty && h.bucketSpec.isEmpty =>
        val files = h.location.inputFiles.toSeq.map(new Path(_))
        Some(new Input(h.location.sizeInBytes, schema => lacking(l.output, schema, nonNull = false).toLeft(())
          .flatMap(_ => columns(ds.sparkSession.sparkContext.hadoopConfiguration, files, schema))))
      case _ => None
    }
    case l: LocalRelation =>
      Some(new Input(l.computeStats().sizeInBytes.toLong, schema => lacking(l.output, schema, nonNull = true).toLeft {
        new Columns(l.data.size, schema.fields.map { c =>
          val i = l.output.indexWhere(_.name == c.name)
          c.name -> (if (c.dataType == LongType) l.data.map(_.getLong(i)).toArray
            else l.data.map(_.getDouble(i)).toArray)
        }.toMap)
      }))
    case _ => None
  }

  /** The first column of `schema` that `output` lacks or holds with
    * another type — or nullable, when `nonNull` — as Left's message.
    */
  private def lacking(output: Seq[Attribute], schema: StructType, nonNull: Boolean): Option[String] =
    schema.fields.find(c => !output.exists(a => a.name == c.name && a.dataType == c.dataType && !(nonNull && a.nullable)))
      .map(c => s"the plan has no such ${c.dataType.simpleString} column: ${c.name}")

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
