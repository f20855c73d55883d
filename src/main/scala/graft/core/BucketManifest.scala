package graft.core

import graft.sources.TinyParquet
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}

/** One version of a stream table: for each hash bucket of `streamId`,
  * the data files that hold it and its merge cadence. A version
  * directory holds only the files of the buckets its write touched; the
  * manifest points the other buckets at files in older versions, so an
  * append that touches k buckets writes k files, not the table.
  *
  * `hashed` is false only for a table written before stream tables were
  * bucketed: all its files sit in one pseudo-bucket and no stream can be
  * read by bucket.
  */
private[graft] final case class BucketManifest(hashed: Boolean, buckets: Vector[BucketManifest.Bucket]) {
  import BucketManifest._

  def files: Seq[File] = buckets.flatMap(_.files)

  /** The bucket index of `streamId` (meaningful when `hashed`). */
  def bucketOf(streamId: Long): Int = SummaryDB.bucketOf(streamId, buckets.size)

  /** Write the manifest into `version` atomically: a temp file, then a
    * rename, so a reader sees the whole manifest or none.
    */
  def publish(fs: FileSystem, version: Path): Unit = {
    val tmp = new Path(version, s"$Name.tmp")
    val out = fs.create(tmp, true)
    try out.write(render.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, new Path(version, Name)))
      throw new java.io.IOException(s"could not publish the manifest of $version")
  }

  /** `buckets <n>`, then one tab-separated line per bucket: index,
    * appends since its last merge, the streams those appends left
    * unmerged (comma-separated), and its files as `path:bytes`
    * (comma-separated).
    */
  private def render: String =
    (s"buckets\t${buckets.size}" +: buckets.zipWithIndex.map { case (b, i) =>
      Seq(i.toString, b.sinceMerge.toString, b.pending.toSeq.sorted.mkString(","),
        b.files.map(f => s"${f.path}:${f.bytes}").mkString(",")).mkString("\t")
    }).mkString("", "\n", "\n")
}

private[graft] object BucketManifest {
  /** The manifest's file name in its version directory. */
  val Name = "_manifest"

  /** A data file, its path relative to the store directory. */
  final case class File(path: String, bytes: Long)

  /** A bucket's files, the appends it has taken since its last merge,
    * and the streams whose rows those appends left unmerged.
    */
  final case class Bucket(files: Seq[File], sinceMerge: Int = 0, pending: Set[Long] = Set.empty)

  /** The manifest of the complete `version` of a stream table. A version
    * written before manifests existed is listed instead: bucketed by the
    * count in its `_buckets` marker, else one unhashed pseudo-bucket.
    */
  def read(fs: FileSystem, version: Path): BucketManifest = {
    val manifest = new Path(version, Name)
    if (fs.exists(manifest)) parse(text(fs, manifest))
    else {
      val files = TinyParquet.dataFiles(fs.getConf, version.toString)
        .map(f => File(s"${version.getName}/${f.getPath.getName}", f.getLen))
      val marker = new Path(version, SummaryDB.BucketsMarker)
      if (!fs.exists(marker)) BucketManifest(hashed = false, Vector(Bucket(files)))
      else {
        val byBucket = files.groupBy(f => f.path.split('/').last.stripPrefix("part-").take(5).toInt)
        BucketManifest(hashed = true,
          Vector.tabulate(text(fs, marker).trim.toInt)(b => Bucket(byBucket.getOrElse(b, Nil))))
      }
    }
  }

  private def text(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def parse(text: String): BucketManifest = {
    val lines = text.split('\n').filter(_.nonEmpty)
    val n = lines.head.stripPrefix("buckets\t").toInt
    def list(s: String) = s.split(',').toSeq.filter(_.nonEmpty)
    val buckets = lines.tail.map(_.split("\t", -1)).map { case Array(_, since, pending, files) =>
      Bucket(list(files).map { f =>
        val at = f.lastIndexOf(':')
        File(f.take(at), f.drop(at + 1).toLong)
      }, since.toInt, list(pending).map(_.toLong).toSet)
    }.toVector
    require(buckets.size == n, s"manifest lists ${buckets.size} of $n buckets")
    BucketManifest(hashed = true, buckets)
  }
}
