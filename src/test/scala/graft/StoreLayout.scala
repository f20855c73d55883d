package graft

import graft.core.{BucketManifest, SummaryDB}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Test-side views of a store directory's stream tables: their version
  * directories, their manifests, and a rewrite into the layouts written
  * before manifests existed.
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

  /** Rewrite every stream table with a manifest as it was written before
    * manifests: one Spark-committed (`_SUCCESS`) version directory,
    * bucketed by stream with a `_buckets` marker when `bucketed`, else
    * plain; its manifest versions are deleted.
    */
  def toLegacy(spark: SparkSession, dir: String, bucketed: Boolean): Unit = {
    val tables = versionDirs(spark, dir).map(_._1).distinct
      .filter(t => manifests(spark, dir, t).nonEmpty)
    tables.foreach { table =>
      val ms = manifests(spark, dir, table)
      val rows = spark.read.parquet(paths(dir, ms.head._2): _*)
      val version = s"$dir/${table}__v${versionDirs(spark, dir).map(_._2).max + 1}"
      if (bucketed) {
        rows.repartition(SummaryDB.Buckets, col("streamId")).sortWithinPartitions("streamId", "ts")
          .write.mode(SaveMode.Overwrite).parquet(version)
        val out = fs(spark, dir).create(new Path(version, SummaryDB.BucketsMarker), true)
        try out.write(SummaryDB.Buckets.toString.getBytes("UTF-8")) finally out.close()
      } else rows.write.mode(SaveMode.Overwrite).parquet(version)
      versionDirs(spark, dir).filter(v => v._1 == table && v._3.getName != new Path(version).getName)
        .foreach(v => fs(spark, dir).delete(v._3, true))
    }
  }
}
