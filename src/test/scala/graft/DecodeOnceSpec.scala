package graft

import graft.core._
import graft.sources.TinyParquet
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.{LongType, StructType}

/** Decode once: stream-table files are decoded once per process
  * (`TinyParquet.columns`), filled by the driver-side append that wrote
  * them, and dropped when a publish replaces them or a prune deletes
  * them; a `SummaryDB` resolves each stream table once per version. No
  * answer may change for it: not after another instance writes, not at
  * the cache's bound.
  */
class DecodeOnceSpec extends SparkSpec {
  import spark.implicits._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val params = QueryParams()

  private def events(sids: Seq[Long], from: Int, until: Int, value: (Long, Int) => Double): Seq[Event] =
    for (sid <- sids; i <- from until until) yield Event(sid, i.toLong, i * 10L, value(sid, i))

  private def integer(sid: Long, i: Int): Double = ((i * 7 + sid) % 23).toDouble

  /** The same rows as a batch that is not a local relation: Spark's append path. */
  private def viaSpark(rows: Seq[Event]): Dataset[Event] = spark.createDataFrame(rows).as[Event].repartition(2)

  /** The current manifest of `dir`'s `summary_windows` and its directory. */
  private def current(dir: String): (Path, BucketManifest) = {
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val v = fs.listStatus(base).map(_.getPath).filter(_.getName.startsWith("summary_windows__v"))
      .sortBy(_.getName.stripPrefix("summary_windows__v").toLong).reverse
      .find(v => fs.exists(new Path(v, BucketManifest.Name))).get
    (v, BucketManifest.read(fs, v))
  }

  private def qualified(f: Path): String = f.getFileSystem(conf).makeQualified(f).toString

  private def bits(c: TinyParquet.Columns, schema: StructType): Seq[Seq[Long]] = schema.fields.toSeq.map { f =>
    if (f.dataType == LongType) c.long(f.name).toSeq else c.double(f.name).toSeq.map(java.lang.Double.doubleToRawLongBits)
  }

  private val probes = Seq((1L, "count", 0L, 5000L), (3L, "sum", 1200L, 3300L), (6L, "count", 1200L, 3300L),
    (9L, "max", 0L, 5000L))

  /** Every point answer of [[probes]] and fleet answer over a few ranges,
    * as raw bits: point answers through `query`, fleet answers through
    * `rangeQueryAll` over the store's own table reads.
    */
  private def answers(db: SummaryDB): Seq[Seq[Long]] = {
    val point = probes.map { case (sid, op, t0, t1) =>
      val r = db.query(sid, op, t0, t1, params)
      Seq(r.value, r.error).map(java.lang.Double.doubleToRawLongBits)
    }
    val fleet = for ((op, t0, t1) <- Seq(("count", 0L, 5000L), ("sum", 1490L, 3120L))) yield
      QueryEngine.rangeQueryAll(db.summaryWindows, db.landmarkSpans, db.landmarkElems, op, t0, t1, params)
        .as[(Long, Double, Double)].collect().toSeq.sorted
        .flatMap { case (sid, v, e) => Seq(sid, java.lang.Double.doubleToRawLongBits(v), java.lang.Double.doubleToRawLongBits(e)) }
    point ++ fleet
  }

  test("an instance that has read sees another instance's writes: answers equal a fresh open's on Spark") {
    val dir = Files.createTempDirectory("graft_decode_stale").toString
    val writer = SummaryDB.open(spark, dir)
    writer.append(events(1L to 10L, 0, 300, integer).toDS())
    val reader = SummaryDB.open(spark, dir)
    def fresh = TinyParquet.forcingSpark(answers(SummaryDB.open(spark, dir)))
    val before = answers(reader)
    assert(before == fresh)

    writer.append(events(Seq(1L, 3L, 9L), 300, 420, integer).toDS()) // a driver-side append
    val appended = answers(reader)
    assert(appended != before, "the append changed no answer")
    assert(appended == fresh, "after a local append")

    writer.newLandmark(6L, 1500L, 2500L) // Spark rewrites all three tables
    val landmarked = answers(reader)
    assert(landmarked != appended, "the landmark changed no answer")
    assert(landmarked == fresh, "after a landmark")
  }

  test("a driver append fills the cache with its files' columns, bit-identical to a cold decode") {
    val dir = Files.createTempDirectory("graft_decode_fill").toString
    val db = SummaryDB.open(spark, dir)
    db.append(events(1L to 12L, 0, 200, integer).toDS())
    // the empty-window extremes as stored maxima and minima, and a negative zero
    val extreme = (sid: Long, i: Int) => sid match {
      case 2L => SummaryWindow.EmptyMax
      case 4L => SummaryWindow.EmptyMin
      case _ => if (i % 5 == 0) -0.0 else integer(sid, i)
    }
    db.append(events(Seq(2L, 4L, 5L), 200, 260, extreme).toDS())

    // the stream's bucket was written by the append: neither the point
    // query nor the next append to that bucket decodes a file
    val decodes = TinyParquet.decodes.get()
    db.query(5L, "count", 0L, 5000L, params)
    db.append(events(Seq(5L), 260, 270, integer).toDS())
    assert(TinyParquet.decodes.get() == decodes, "a file was decoded after the append that wrote it")

    // every file of the version was written on the driver, so is cached
    val files = current(dir)._2.files.map(f => new Path(s"$dir/${f.path}") -> f.bytes)
    val schema = StreamTable.Windows.schema
    def read(f: (Path, Long)) = TinyParquet.columns(conf, Seq(f), schema).fold(e => fail(e), identity)
    val cached = files.map(read)
    assert(TinyParquet.decodes.get() == decodes, "a written file was not in the cache")
    TinyParquet.forgetAll()
    val cold = files.map(read)
    assert(TinyParquet.decodes.get() == decodes + files.size)
    assert(cached.map(bits(_, schema)) == cold.map(bits(_, schema)))

    assert(cached.exists(_.double("max").contains(SummaryWindow.EmptyMax)))
    assert(cached.exists(_.double("min").contains(SummaryWindow.EmptyMin)))
    assert(cached.exists(_.double("min").exists(v => java.lang.Double.doubleToRawLongBits(v) == Long.MinValue)),
      "no negative zero stored")
  }

  test("the cache holds only current files after many appends, and stays under its bound") {
    val dir = Files.createTempDirectory("graft_decode_bound").toString
    val db = SummaryDB.open(spark, dir)
    db.append(viaSpark(events(1L to 24L, 0, 100, integer)))
    (1 to 20).foreach { k =>
      db.append(events(Seq(k.toLong, (k + 7) % 24 + 1L, (k * 5) % 24 + 1L), 100 + 10 * k, 110 + 10 * k, integer).toDS())
      if (k % 5 == 0) QueryEngine.rangeQueryAll(db.summaryWindows, db.landmarkSpans, db.landmarkElems,
        "count", 0L, 5000L, params).collect()
    }
    val (_, manifest) = current(dir)
    val named = manifest.files.map(f => qualified(new Path(s"$dir/${f.path}"))).toSet
    val store = qualified(new Path(dir))
    val held = TinyParquet.kept.keySet.filter(_.startsWith(s"$store/"))
    assert(held.nonEmpty && held.subsetOf(named), s"held but not current: ${held -- named}")

    // three files that decode to more than the bound together
    val big = Files.createTempDirectory("graft_decode_big").toString
    val rows = 3 * (TinyParquet.CacheBytes / 8 / 3 + 1)
    spark.range(0L, rows, 1L, 3).write.mode("overwrite").parquet(big)
    val files = TinyParquet.dataFiles(conf, big).map(f => f.getPath -> f.getLen)
    val schema = new StructType().add("id", LongType, nullable = false)
    def ids = TinyParquet.columns(conf, files, schema).fold(e => fail(e), identity).long("id")
    val first = ids
    assert(TinyParquet.kept.values.sum <= TinyParquet.CacheBytes)
    val second = ids
    assert(TinyParquet.kept.values.sum <= TinyParquet.CacheBytes)
    assert(first.length == rows && (0L until rows).forall(i => first(i.toInt) == i))
    assert(java.util.Arrays.equals(first, second))
  }
}
