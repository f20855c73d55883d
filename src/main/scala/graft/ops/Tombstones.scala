package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.TinyParquet

/** The takedown set of one serving index ([[DedupIndex]],
  * [[NearDupIndex]], [[Bm25Index]], [[AnnIndex]]): ids retired from
  * probe visibility but not yet physically removed. One row per id,
  * keyed by `keys` (`doc_id`, `vec_id`, or `(text_hash, keep_id)`),
  * stored under `path` (`<index>/tombstones`) — index state, not
  * session state, so a fresh session that re-registers the index still
  * sees the takedowns. Indexes with catalog tables also register the
  * set EXTERNAL as `table`; when that entry exists its own location is
  * the one read and appended to (a re-registered index follows its
  * catalog, not a cached root).
  *
  * The set is read at most once per value (the first [[live]] use), so
  * an operation builds one value and every subtract inside it sees the
  * same snapshot.
  */
private[graft] final class Tombstones(
    spark: SparkSession,
    path: String,
    keys: StructType,
    table: Option[String] = None,
    perRowBytes: Long = 56L) {

  private lazy val location: String =
    table.filter(spark.catalog.tableExists).fold(path)(t =>
      new Path(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t)).location).toString)

  /** The distinct key rows, if any. Takedown-sized: while the set is
    * tiny ([[TinyParquet.onDriver]]) it reads DRIVER-SIDE into a
    * LocalRelation — no read, distinct or broadcast-guard-count job on
    * the probe path; past it, the Spark read of the same files.
    */
  def read(): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = TinyParquet.dataFiles(conf, location)
    val bytes = files.map(_.getLen).sum
    val names = keys.fieldNames.toSeq
    if (bytes == 0L) None
    else if (TinyParquet.onDriver(bytes)) {
      val rows = TinyParquet.fileRows(conf, files.map(_.getPath)).iterator
        .filter(g => names.forall(n => g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0))
        .map(g => Row.fromSeq(keys.fields.toSeq.map(f => f.dataType match {
          case LongType => g.getLong(f.name, 0)
          case StringType => g.getString(f.name, 0)
        })))
        .toSeq.distinct
      Some(spark.createDataFrame(rows.asJava, keys))
    } else Some(spark.read.parquet(location).select(names.map(col): _*).distinct())
  }

  lazy val live: Option[DataFrame] = read()

  def count(): Long = live.fold(0L)(_.count())

  /** `df` without its tombstoned rows, matched on `on` (the key names
    * when empty). A guarded broadcast anti-join: the index side keeps
    * its partitioning, and a takedown past the guard falls back to a
    * shuffle with identical rows.
    */
  def minus(df: DataFrame, on: String*): DataFrame = live.fold(df) { t =>
    val side = if (on.isEmpty) t else t.toDF(on: _*)
    df.join(Similarity.guardedRowBroadcast(side, perRowBytes), side.columns.toSeq, "left_anti")
  }

  /** Tombstone the `present` key rows (the requested ids the index
    * actually holds), counting only the newly doomed ones — a
    * redelivered takedown is a counted-once no-op, not set growth.
    */
  def add(present: DataFrame): Long = {
    val doomed = minus(present).localCheckpoint()
    val n = doomed.count()
    if (n > 0) {
      val w = doomed.write.mode(SaveMode.Append).format("parquet")
      table.fold(w.save(path))(t => w.option("path", location).saveAsTable(t))
    }
    n
  }

  /** Drop the catalog entry AND the files at `path` (the table is
    * external, so DROP TABLE alone would leave the files to resurrect
    * in the next session).
    */
  def clear(): Unit = {
    table.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

private[graft] object Tombstones {

  /** Caller-supplied takedown ids as one distinct long column `as`,
    * pinned (one evaluation feeds the guard's count and the join) and
    * broadcast-hinted under the guard.
    */
  def requested(ids: DataFrame, idCol: String, as: String): DataFrame =
    Similarity.guardedRowBroadcast(
      ids.select(col(idCol).cast("long").as(as)).distinct().localCheckpoint())

  def longKey(name: String): StructType = new StructType().add(name, LongType, nullable = false)
}
