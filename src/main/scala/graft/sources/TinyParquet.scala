package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.MessageType
import scala.jdk.CollectionConverters._

/** Driver-side reads of TINY parquet tables (index metadata, takedown
  * sets, k-row center tables) via parquet-hadoop directly — NO Spark
  * job. A Spark read of a one-row table costs a full plan + schedule +
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
    * queries, an append's frontier and counts) and declared landmark
    * intervals of [[graft.core.SummaryDB]].
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
      columns: Seq[String] = Nil): Seq[Group] = {
    val c = new Configuration(conf)
    c.setBoolean(ParquetInputFormat.RECORD_FILTERING_ENABLED, true)
    files.flatMap { f =>
      val reader = ParquetReader
        .builder(if (columns.isEmpty) new GroupReadSupport() else new Projected(columns.toSet), f)
        .withConf(c)
        .withFilter(filter)
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    }
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
    * build/append/merge/compact. Field types mirror what the Spark
    * writer produced (required INT32/INT64/DOUBLE), so existing readers
    * (driver-side [[rows]] AND `spark.read.parquet`) see an identical
    * table; `overwrite = false` appends a uniquely-named file (the
    * delta-table discipline).
    */
  def writeFlatRow(
      conf: Configuration,
      dirStr: String,
      overwrite: Boolean,
      ints: Seq[(String, Int)] = Nil,
      longs: Seq[(String, Long)] = Nil,
      doubles: Seq[(String, Double)] = Nil): Unit = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = new Path(dirStr)
    val fs = dir.getFileSystem(conf)
    if (overwrite) fs.delete(dir, true)
    fs.mkdirs(dir)
    val b = org.apache.parquet.schema.Types.buildMessage()
    ints.foreach { case (n, _) => b.required(PrimitiveTypeName.INT32).named(n) }
    longs.foreach { case (n, _) => b.required(PrimitiveTypeName.INT64).named(n) }
    doubles.foreach { case (n, _) => b.required(PrimitiveTypeName.DOUBLE).named(n) }
    val schema = b.named("spark_schema")
    // name ends in a letter: the streamed-batch detectors regex for
    // `b<digits>.parquet` UNANCHORED, and a raw hex uuid can end in
    // exactly that shape
    val file = new Path(dir,
      s"part-${java.util.UUID.randomUUID().toString.replace("-", "")}-tiny.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
    ints.foreach { case (n, v) => g.add(n, v) }
    longs.foreach { case (n, v) => g.add(n, v) }
    doubles.foreach { case (n, v) => g.add(n, v) }
    try writer.write(g)
    finally writer.close()
  }

  /** An `array<double>` cell (Spark's standard 3-level list layout, or
    * a legacy 2-level repeated primitive) — field names are resolved
    * from the schema, not assumed.
    */
  def doubleArray(g: Group, field: String): Array[Double] = {
    val outer = g.getGroup(field, 0)
    val repField = outer.getType.getFields.get(0)
    val repName = repField.getName
    val n = outer.getFieldRepetitionCount(repName)
    if (repField.isPrimitive)
      Array.tabulate(n)(i => outer.getDouble(repName, i))
    else
      Array.tabulate(n) { i =>
        val el = outer.getGroup(repName, i)
        el.getDouble(el.getType.getFields.get(0).getName, 0)
      }
  }
}
