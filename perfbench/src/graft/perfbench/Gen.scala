package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Seeded input generators. The seed varies the content (key ids, values,
  * words) but never the shape of the work: sizes, per-rank key counts, the
  * shuffle partition each hot rank lands on, family sizes and positions are
  * the same for every seed. */
object Gen {
  /** Spark's shuffle partition for a LONG grouping key: HashPartitioning is
    * pmod(murmur3(key, seed 42), n). */
  def shufflePartition(key: Long, n: Int): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(key, 42), n)

  /** Exact Zipf(s) counts for `ranks` ranks summing to `n` (largest
    * remainder rounding): the same multiset for every seed. */
  def zipfCounts(n: Int, ranks: Int, s: Double): Array[Int] = {
    val w = Array.tabulate(ranks)(r => 1.0 / math.pow(r + 1, s))
    val tot = w.sum
    val exact = w.map(_ / tot * n)
    val c = exact.map(math.floor(_).toInt)
    val short = n - c.sum
    exact.zipWithIndex.sortBy { case (x, r) => (-(x - math.floor(x)), r) }
      .take(short).foreach { case (_, r) => c(r) += 1 }
    c
  }

  /** Distinct key ids for each rank, drawn from the seed, with rank r pinned
    * to shuffle partition r mod `partitions`. */
  def rankKeys(rng: scala.util.Random, ranks: Int, partitions: Int): Array[Long] = {
    val used = scala.collection.mutable.HashSet.empty[Long]
    Array.tabulate(ranks) { r =>
      var k = 0L
      while ({ k = 1L + (rng.nextLong() & ((1L << 40) - 1)); used(k) ||
        shufflePartition(k, partitions) != r % partitions }) ()
      used += k
      k
    }
  }
}

/** The replay_backfill input: `n` events in log order over Zipf-skewed
  * users; event i goes to log partition i mod 3. Timestamps advance 2 ms per
  * event except for exactly 5% of positions, which arrive 1-60 s late. */
final class EventLog(val users: Array[Long], val cents: Array[Long], val tsMs: Array[Long]) {
  def n: Int = users.length

  /** (count, sum of cents, min ts, max ts) per user: the plain-Scala fold the
    * streaming aggregate must equal. */
  def fold: Map[Long, (Long, Long, Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[Long, (Long, Long, Long, Long)]
    var i = 0
    while (i < n) {
      val u = users(i)
      m.get(u) match {
        case None => m(u) = (1L, cents(i), tsMs(i), tsMs(i))
        case Some((c, s, lo, hi)) =>
          m(u) = (c + 1, s + cents(i), math.min(lo, tsMs(i)), math.max(hi, tsMs(i)))
      }
      i += 1
    }
    m.toMap
  }

  def bytes: Long = (0 until n).map(i =>
    users(i).toString.length + cents(i).toString.length + 8L + 8L).sum

  /** Write as a graft ReplayLog (3 partitions) into `dir`. */
  def write(dir: String): Unit = (0 until EventLog.Partitions).foreach { p =>
    val rows = Iterator.range(p, n, EventLog.Partitions).map { i =>
      Row(users(i).toString.getBytes(UTF_8), cents(i).toString.getBytes(UTF_8),
        tsMs(i) * 1000L)
    }
    graft.sources.replay.ReplayLog.writePartitionFile(dir, p, rows)
  }
}

object EventLog {
  val Partitions = 3

  def generate(seed: Long, n: Int, ranks: Int, shufflePartitions: Int): EventLog = {
    val rng = new scala.util.Random(seed)
    val keys = Gen.rankKeys(rng, ranks, shufflePartitions)
    val counts = Gen.zipfCounts(n, ranks, 1.0)
    val order = new Array[Int](n)
    var i = 0
    counts.zipWithIndex.foreach { case (c, r) => (0 until c).foreach { _ => order(i) = r; i += 1 } }
    // Fisher-Yates: the seed decides where each rank's events fall
    (n - 1 to 1 by -1).foreach { j =>
      val k = rng.nextInt(j + 1); val t = order(j); order(j) = order(k); order(k) = t
    }
    val base = 1700000000000L
    val ts = Array.tabulate(n)(i => base + 2L * i)
    rng.shuffle((0 until n).toVector).take(n / 20).foreach { i =>
      ts(i) -= 1000L + rng.nextInt(59000)
    }
    new EventLog(order.map(keys(_)), Array.fill(n)(1L + rng.nextInt(100000)), ts)
  }
}

/** The dedup_pipeline corpus: `n` documents of uniformly drawn words, with
  * planted families (a base document plus exact copies and near copies that
  * differ in two words). Family sizes and member positions do not depend on
  * the seed; the words do. `family(i)` is -1 for a document with no copy. */
final class Corpus(val texts: Array[String], val family: Array[Int]) {
  /** Family id -> member doc ids: the ground-truth clusters. */
  def clusters: Map[Int, Set[Long]] =
    family.zipWithIndex.filter(_._1 >= 0).groupBy(_._1)
      .map { case (f, xs) => f -> xs.map(_._2.toLong).toSet }

  def rows: Seq[Row] = texts.indices.map { i =>
    Row(i.toLong, texts(i), Corpus.Langs(i % 5), s"src${i % 20}", texts(i).length.toLong)
  }
}

object Corpus {
  val Langs: Seq[String] = Seq("en", "es", "de", "fr", "zh")

  /** Member kinds per family, cycling: 'b' base, 'e' exact copy, 'n' near copy. */
  private val Kinds = Seq("be", "bn", "ben", "bnne")

  def generate(seed: Long, n: Int, families: Int): Corpus = {
    val rng = new scala.util.Random(seed)
    val vocab = Array.fill(4000)(
      Iterator.continually(('a' + rng.nextInt(26)).toChar).take(3 + rng.nextInt(7)).mkString)
    // positions are shuffled by a FIXED seed: where the families sit is shape
    val slots = new scala.util.Random(0L).shuffle((0 until n).toVector)
    val family = Array.fill(n)(-1)
    val kind = Array.fill(n)('s')
    val baseOf = Array.fill(n)(-1)
    var next = 0
    (0 until families).foreach { f =>
      val ks = Kinds(f % Kinds.length)
      val base = slots(next)
      ks.foreach { k =>
        val i = slots(next); next += 1
        family(i) = f; kind(i) = k; baseOf(i) = base
      }
    }
    require(next <= n, s"$families families do not fit in $n documents")
    def words(i: Int): Array[String] =
      Array.fill(40 + (i * 37) % 41)(vocab(rng.nextInt(vocab.length)))
    val texts = new Array[String](n)
    // bases and singletons first, so copies can refer to their base's words
    val baseWords = scala.collection.mutable.HashMap.empty[Int, Array[String]]
    (0 until n).foreach { i =>
      if (kind(i) == 's' || kind(i) == 'b') {
        val w = words(i); texts(i) = w.mkString(" ")
        if (kind(i) == 'b') baseWords(i) = w
      }
    }
    (0 until n).foreach { i =>
      if (kind(i) == 'e') texts(i) = texts(baseOf(i))
      else if (kind(i) == 'n') {
        val w = baseWords(baseOf(i)).clone()
        val a = rng.nextInt(w.length / 2)
        Seq(a, a + w.length / 2).foreach { p =>
          var r = w(p)
          while (r == w(p)) r = vocab(rng.nextInt(vocab.length))
          w(p) = r
        }
        texts(i) = w.mkString(" ")
      }
    }
    new Corpus(texts, family)
  }
}
