package graft

import graft.core.BucketManifest
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Test-side views of a store directory's stream tables: their version
  * directories and their manifests.
  */
object StoreLayout {
  val StreamTables = Seq("summary_windows", "landmark_spans", "landmark_elems")

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `table__v<stamp>` directory of the store, as (table, stamp, dir). */
  def versionDirs(spark: SparkSession, dir: String): Seq[(String, Long, Path)] =
    fs(spark, dir).listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("__v"))
      .map { s =>
        val Array(table, stamp) = s.getPath.getName.split("__v")
        (table, stamp.toLong, s.getPath)
      }

  /** The published manifests of `table`, newest first. */
  def manifests(spark: SparkSession, dir: String, table: String): Seq[(Path, BucketManifest)] =
    versionDirs(spark, dir).filter(_._1 == table).sortBy(-_._2).map(_._3)
      .filter(v => fs(spark, dir).exists(new Path(v, BucketManifest.Name)))
      .map(v => v -> BucketManifest.read(fs(spark, dir), v))

  def current(spark: SparkSession, dir: String, table: String): BucketManifest =
    manifests(spark, dir, table).head._2

  /** Absolute paths of `m`'s files. */
  def paths(dir: String, m: BucketManifest): Seq[String] = m.files.map(f => s"$dir/${f.path}")
}
