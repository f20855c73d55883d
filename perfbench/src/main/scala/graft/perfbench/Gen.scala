package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload input is a pure function of
  * the seed, so the same seed gives the same events, documents, vectors
  * and operation sequence.
  */
object Gen {
  /** The sf0.1 events shape: 100k events over 1,500 streams, uniform
    * stream choice, timestamps uniform over 30 days (epoch micros),
    * values exponential with mean 50 rounded to cents.
    */
  val BaseEvents = 100000
  val BaseStreams = 1500
  val T0: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val Span: Long = 30L * 86400L * 1000000L
  /** Stream-id stride between fleet copies, as in `graft.Bench`. */
  val CopyStride = 10000000L

  /** Raw events in arrival order (= timestamp order), one array per
    * column. `seq` of an event is its index here.
    */
  final case class Events(stream: Array[Long], ts: Array[Long], value: Array[Double]) {
    def size: Int = ts.length
  }

  def events(seed: Long): Events = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val ts = Array.fill(BaseEvents)(T0 + r.nextLong(Span))
    java.util.Arrays.sort(ts)
    val stream = Array.fill(BaseEvents)(r.nextInt(BaseStreams).toLong)
    val value = Array.fill(BaseEvents)(math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0)
    Events(stream, ts, value)
  }

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final case class PointQuery(streamId: Long, op: String, t0: Long, t1: Long)

  /** Point-query stream over a `copies`-fold fleet: streams drawn
    * Zipf(1.1) over a seeded permutation of the fleet (so the hot
    * streams are not all one copy), ops from {count, sum, max}, range
    * width history/2^k for k in 0..5, placed at a random offset that
    * favours recent history (offset = u^2 of the free span).
    */
  final class PointQueries(seed: Long, copies: Int, tMin: Long, tMax: Long) {
    private val r = new SplittableRandom(seed * 31L + 7L)
    private val nStreams = copies * BaseStreams
    private val perm = {
      val p = Array.tabulate(nStreams)(i => i)
      for (i <- nStreams - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    private val zipf = new Zipf(nStreams, 1.1)
    private val ops = Array("count", "sum", "max")

    def streamAt(i: Int): Long = {
      val k = perm(i)
      (k % BaseStreams).toLong + (k / BaseStreams).toLong * CopyStride
    }
    def nextStream(): Long = streamAt(zipf.sample(r))
    def next(): PointQuery = nextOn(nextStream())
    def nextOn(streamId: Long): PointQuery = {
      val history = tMax - tMin
      val width = history >> r.nextInt(6)
      val u = r.nextDouble()
      val t1 = tMax - (u * u * (history - width)).toLong
      PointQuery(streamId, ops(r.nextInt(ops.length)), t1 - width, t1)
    }
  }

  val BatchRows = 100
  val BatchStreams = 10

  /** One append batch: [[BatchRows]] rows spread over [[BatchStreams]]
    * distinct streams drawn from `pick`, each stream's rows after its frontier
    * except ~10% placed before it (out of order; the ingest clamp bumps
    * them). `seq` is the arrival order within the batch.
    */
  final case class Batch(stream: Array[Long], seq: Array[Long], ts: Array[Long], value: Array[Double]) {
    def perStream: Map[Long, Int] = stream.groupBy(identity).map { case (k, v) => k -> v.length }
  }

  def batch(r: SplittableRandom, pick: () => Long, frontier: Long => Long): Batch = {
    val ids = Iterator.continually(pick()).distinct.take(BatchStreams).toArray
    val stream = Array.tabulate(BatchRows)(i => ids(i % ids.length))
    val last = collection.mutable.Map.empty[Long, Long]
    val ts = stream.map { s =>
      val f = last.getOrElse(s, frontier(s))
      if (r.nextInt(10) == 0) f - 1L - r.nextLong(3600L * 1000000L)
      else { val t = f + 1L + r.nextLong(60L * 1000000L); last(s) = t; t }
    }
    val value = Array.fill(BatchRows)(math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0)
    Batch(stream, Array.tabulate(BatchRows)(_.toLong), ts, value)
  }

  /** Documents and vectors of the serving indexes: a fifth of the sf0.1
    * corpus and half of its embeddings, so that both indexes build in a
    * few seconds.
    */
  val Docs = 1000
  val Vectors = 1000
  val Dim = 64
  val Labels = 10
  val Bm25QueriesPerBatch = 20
  val AnnQueriesPerBatch = 50

  /** Documents in the sf0.1 shape: 15 to 80 words from a small
    * technical vocabulary, Zipf-weighted.
    */
  val Vocab: Array[String] = ("a the data spark stream table query join sort hash group key value " +
    "row column part line order filter scan batch window merge fast slow big small agg " +
    "vector customer index term score rank shard block cache probe build merge load " +
    "commit version bucket segment").split(" ").distinct

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  def documents(seed: Long): Array[Doc] = {
    val r = new SplittableRandom(seed * 131L + 3L)
    val z = new Zipf(Vocab.length, 0.8)
    val langs = Array("en", "en", "en", "de", "zh")
    Array.tabulate(Docs) { i =>
      val len = 15 + r.nextInt(66)
      val text = Array.fill(len)(Vocab(z.sample(r))).mkString(" ")
      Doc(i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(5)}")
    }
  }

  /** First four words of [[Bm25QueriesPerBatch]] distinct random documents. */
  def bm25Queries(r: SplittableRandom, docs: Array[Doc]): Array[(Long, String)] =
    Iterator.continually(r.nextInt(docs.length)).distinct.take(Bm25QueriesPerBatch).toArray.sorted.map { i =>
      (i.toLong, docs(i).text.split(" ").take(4).mkString(" "))
    }

  /** Embeddings in the sf0.1 shape: [[Dim]]-dim float vectors around
    * [[Labels]] labelled Gaussian centres.
    */
  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  def vectors(seed: Long): Array[Vec] = {
    val r = new SplittableRandom(seed * 197L + 5L)
    def gauss(): Double = {
      val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    val centres = Array.fill(Labels, Dim)(gauss() * 0.2)
    Array.tabulate(Vectors) { i =>
      val l = r.nextInt(Labels)
      Vec(i.toLong, Array.tabulate(Dim)(d => (centres(l)(d) + gauss() * 0.1).toFloat), l)
    }
  }

  /** [[AnnQueriesPerBatch]] distinct vector ids. */
  def annQueryIds(r: SplittableRandom): Array[Long] =
    Iterator.continually(r.nextInt(Vectors).toLong).distinct.take(AnnQueriesPerBatch).toArray.sorted
}
