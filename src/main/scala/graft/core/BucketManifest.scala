package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}

/** One version of a stream table: for each hash bucket of `streamId`,
  * the data files that hold it and its merge cadence. A version
  * directory holds only the files of the buckets its write touched; the
  * manifest points the other buckets at files in older versions, so an
  * append that touches k buckets writes k files, not the table. The
  * manifest is what completes a version: readers resolve no other
  * layout. The files it names for a read are decoded on the driver
  * while they are tiny ([[graft.sources.TinyParquet.onDriver]], which
  * specs switch to Spark with `TinyParquet.forcingSpark`), else read by
  * Spark.
  */
private[graft] final case class BucketManifest(buckets: Vector[BucketManifest.Bucket]) {
  import BucketManifest._

  def files: Seq[File] = buckets.flatMap(_.files)

  /** The bucket index of `streamId`. */
  def bucketOf(streamId: Long): Int = SummaryDB.bucketOf(streamId, buckets.size)

  /** The files of the buckets that hold `sids`, in bucket order. */
  def filesOf(sids: Set[Long]): Seq[File] = sids.map(bucketOf).toSeq.sorted.flatMap(buckets(_).files)

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
    * with no manifest was written before manifests existed (its Spark
    * write left `_SUCCESS`): it throws, naming the version, rather than
    * read as empty.
    */
  def read(fs: FileSystem, version: Path): BucketManifest = {
    val manifest = new Path(version, Name)
    val in = try fs.open(manifest) catch {
      case _: java.io.FileNotFoundException => throw new IllegalStateException(
        s"$version has no $Name: a stream-table version written before manifests, a layout no longer read")
    }
    parse(manifest, try new String(in.readAllBytes(), UTF_8) finally in.close())
  }

  /** The manifest `text` of [[render]]'s form, read from `manifest`: a
    * line out of bucket order, with a field too few or too many, or with
    * a count or size that is not a number throws, naming the file and
    * the line.
    */
  private def parse(manifest: Path, text: String): BucketManifest = {
    val lines = text.split('\n')
    def fail(i: Int, why: String): Nothing = throw new IllegalStateException(
      s"malformed manifest $manifest, line ${i + 1} '${lines.lift(i).getOrElse("")}': $why")
    def number[T](i: Int, s: String)(of: String => T): T =
      try of(s) catch { case _: NumberFormatException => fail(i, s"'$s' is not a number") }
    def list(s: String) = s.split(',').toSeq.filter(_.nonEmpty)
    val n = lines.head.split('\t') match {
      case Array("buckets", count) => number(0, count)(_.toInt)
      case _ => fail(0, "not a bucket count")
    }
    if (lines.length != n + 1) fail(lines.length - 1, s"lists ${lines.length - 1} of $n buckets")
    BucketManifest(Vector.tabulate(n) { b =>
      val i = b + 1
      lines(i).split("\t", -1) match {
        case Array(index, since, pending, files) =>
          if (number(i, index)(_.toInt) != b) fail(i, s"bucket $b expected")
          Bucket(list(files).map { f =>
            val at = f.lastIndexOf(':')
            if (at < 1) fail(i, s"file '$f' has no size")
            File(f.take(at), number(i, f.drop(at + 1))(_.toLong))
          }, number(i, since)(_.toInt), list(pending).map(number(i, _)(_.toLong)).toSet)
        case fields => fail(i, s"${fields.length} fields, not 4")
      }
    })
  }
}
