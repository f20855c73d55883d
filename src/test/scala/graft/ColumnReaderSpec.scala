package graft

import graft.core._
import graft.sources.TinyParquet
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The driver's column-wise reader of the flat stream tables
  * (`TinyParquet.columns`, typed by `StreamTable`): the rows it decodes
  * are the rows `spark.read.schema(...).parquet(...)` returns, whatever
  * wrote the file and however its columns are laid out; a null fails
  * loudly, and a column of another physical type sends the fleet query
  * to Spark.
  */
class ColumnReaderSpec extends SparkSpec {
  import spark.implicits._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val schema = StreamTable.Windows.schema

  /** Windows with repeating stream ids (dictionary-friendly) and
    * distinct times and values, including the empty-window extremes.
    */
  private val windows: Seq[SummaryWindow] = (0 until 3000).map { i =>
    SummaryWindow(i % 7L, i * 10L, i * 10L + 9L, 2L * i, 2L * i + 1L, (i % 5).toDouble, i * 0.25,
      if (i % 11 == 0) SummaryWindow.EmptyMax else i * 1.5, if (i % 13 == 0) SummaryWindow.EmptyMin else -i.toDouble)
  }

  /** The windows as a frame of nullable columns, which Spark writes as
    * OPTIONAL (a Dataset of the case class writes REQUIRED ones).
    */
  private def nullable: DataFrame =
    spark.createDataFrame(windows.map(Row.fromTuple).asJava, StructType(schema.map(_.copy(nullable = true))))

  private def tmp(): String = Files.createTempDirectory("graft_columns").toString

  private def files(dir: String): Seq[Path] = TinyParquet.dataFiles(conf, dir).map(_.getPath)

  private def sized(fs: Seq[Path]): Seq[(Path, Long)] = fs.map(f => f -> f.getFileSystem(conf).getFileStatus(f).getLen)

  private def decoded(fs: Seq[Path]): Seq[SummaryWindow] =
    StreamTable.Windows.rows(TinyParquet.columns(conf, sized(fs), schema).fold(e => fail(e), identity))

  private def sparkRead(fs: Seq[Path]): Seq[SummaryWindow] =
    spark.read.schema(schema).parquet(fs.map(_.toString): _*).as[SummaryWindow].collect().toSeq

  private def assertSameRows(fs: Seq[Path]): Unit = {
    val key = (w: SummaryWindow) => (w.streamId, w.ts)
    val got = decoded(fs)
    assert(got.size == windows.size)
    assert(got.sortBy(key) == sparkRead(fs).sortBy(key))
  }

  private def footer[T](f: Path)(read: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try read(r) finally r.close()
  }

  private def repetitions(f: Path): Set[Repetition] =
    footer(f)(_.getFileMetaData.getSchema.getFields.asScala.map(_.getRepetition).toSet)

  test("Spark-written files: OPTIONAL columns") {
    val dir = tmp()
    nullable.repartition(3).write.mode("overwrite").parquet(dir)
    assert(files(dir).size == 3)
    assert(files(dir).map(repetitions).toSet == Set(Set(Repetition.OPTIONAL)))
    assertSameRows(files(dir))
  }

  test("TinyParquet.writeRows files: REQUIRED columns") {
    val dir = tmp()
    TinyParquet.writeRows(spark, new Path(dir, "part-00000.parquet"), schema,
      windows.iterator.map(Row.fromTuple))
    assert(repetitions(files(dir).head) == Set(Repetition.REQUIRED))
    assertSameRows(files(dir))
  }

  test("several row groups and pages, dictionary-encoded and plain columns") {
    for (dictionary <- Seq(true, false)) {
      val dir = tmp()
      nullable.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 16384L)
        .option("parquet.page.size", 1024L)
        .option("parquet.enable.dictionary", dictionary)
        .parquet(dir)
      val Seq(file) = files(dir)
      val (groups, pages, dictionaryEncoded) = footer(file) { r =>
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val chunks = blocks.flatMap(_.getColumns.asScala)
        (blocks.size, chunks.map(c => r.readOffsetIndex(c).getPageCount).max,
          chunks.filter(_.getEncodings.asScala.exists(Set(Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY)))
            .map(_.getPath.toDotString).toSet)
      }
      assert(groups > 1, s"$file has $groups row groups")
      assert(pages > 1, s"$file has at most $pages page per column chunk")
      if (dictionary) assert(dictionaryEncoded("streamId"), s"dictionary columns: $dictionaryEncoded")
      else assert(dictionaryEncoded.isEmpty, s"dictionary columns: $dictionaryEncoded")
      assertSameRows(Seq(file))
    }
  }

  test("a null in a non-null column fails, naming the file and the column") {
    val dir = tmp()
    nullable
      .withColumn("sum", when($"ts" === 500L, lit(null).cast("double")).otherwise($"sum"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val Seq(file) = files(dir)
    val e = intercept[IllegalStateException](TinyParquet.columns(conf, sized(Seq(file)), schema))
    assert(e.getMessage.contains(file.getName) && e.getMessage.contains("column sum"), e.getMessage)
  }

  test("an INT32 column sends the fleet query to Spark, with identical rows") {
    val (narrow, wide) = (tmp(), tmp())
    windows.toDS().toDF().withColumn("streamId", $"streamId".cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(narrow)
    windows.toDS().coalesce(1).write.mode("overwrite").parquet(wide)
    assert(TinyParquet.columns(conf, sized(files(narrow)), schema).isLeft)
    def fleet(dir: String) = SparkCounts.of(spark) {
      val sw: Dataset[SummaryWindow] = spark.read.schema(schema).parquet(dir).as[SummaryWindow]
      QueryEngine.rangeQueryAll(sw, spark.emptyDataset[LandmarkSpan], spark.emptyDataset[LandmarkElem],
        "sum", 1000L, 20000L, QueryParams()).collect().toSeq.sortBy(_.getLong(0))
    }
    val (viaSpark, converted) = fleet(narrow)
    val (onDriver, read) = fleet(wide)
    assert(viaSpark.nonEmpty && viaSpark == onDriver)
    assert(converted.jobs > 0L, "the INT32 column was decoded on the driver")
    assert(read.jobs == 0L, s"the INT64 table ran ${read.jobs} jobs")
  }
}
