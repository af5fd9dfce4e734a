package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated document. Text is ASCII, so characters and bytes agree. */
final case class Doc(id: Long, text: String)

/** One corpus shard with its planted duplicates and its vectors.
  * `exactDups` counts copies beyond the first of identical texts;
  * `nearPairs` are (source, edited copy) doc ids.
  */
final case class Shard(
    no: Int, long: Boolean, docs: IndexedSeq[Doc], exactDups: Int,
    nearPairs: Seq[(Long, Long)], vectors: IndexedSeq[(Long, Array[Double])]) {
  def textBytes: Long = docs.map(_.text.length.toLong).sum
}

/** Seeded synthetic corpus: short-doc shards (0.3-2 kB) alternate with
  * long-doc shards (100-130 kB). The two kinds hold about the same text
  * bytes, so a stage's time per MB differs between them only by how its
  * cost grows with document length. Each shard plants exact copies,
  * edited near-copies and shared boilerplate lines; each carries
  * clustered 64-dimensional vectors for the similarity index.
  */
object Corpus {
  val Dims = 64
  val Clusters = 128
  val ShortDocs = 270
  val LongDocs = 1
  val ShortLen = (300, 2000)
  val LongLen = (100000, 130000)
  val DupFrac = 0.05
  val NearFrac = 0.05
  val EditFrac = 0.03
  val BoilerplateFrac = 0.3
  val VectorsPerShard = 200

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
    "pra", "sto", "gle", "dri", "mon", "tas", "ber", "qui", "wen")

  /** A fixed-size vocabulary of pseudo-words, seeded. */
  def vocabulary(seed: Long, size: Int = 4000): Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < size)
      words += (0 until 1 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    words.toArray
  }

  /** Cluster centres of the vector space, seeded. */
  def centres(seed: Long): Array[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0xce17e5L)
    Array.fill(Clusters)(Array.fill(Dims)(r.nextDouble() * 2 - 1))
  }

  /** `n` vectors with ids from `firstId`, each a noisy copy of a centre. */
  def vectors(r: SplittableRandom, cs: Array[Array[Double]], firstId: Long, n: Int)
      : IndexedSeq[(Long, Array[Double])] =
    (0 until n).map { i =>
      val c = cs(r.nextInt(cs.length))
      firstId + i -> c.map(x => math.rint((x + (r.nextDouble() - 0.5) * 0.3) * 1e4) / 1e4)
    }

  /** Skewed word draw: low ranks are frequent, as in natural text. */
  private def word(r: SplittableRandom, vocab: Array[String]): String = {
    val u = r.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  private def line(r: SplittableRandom, vocab: Array[String]): String =
    (0 until 8 + r.nextInt(13)).map(_ => word(r, vocab)).mkString(" ") + "."

  private def text(r: SplittableRandom, vocab: Array[String], boiler: Array[String],
      len: Int): String = {
    val sb = new StringBuilder
    if (r.nextDouble() < BoilerplateFrac) sb.append(boiler(r.nextInt(boiler.length))).append('\n')
    while (sb.length < len) sb.append(line(r, vocab)).append('\n')
    if (r.nextDouble() < BoilerplateFrac) sb.append(boiler(r.nextInt(boiler.length)))
    sb.toString.trim
  }

  /** Replaces about `EditFrac` of the words, keeping the line layout. */
  private def edit(r: SplittableRandom, vocab: Array[String], t: String): String =
    t.split("\n", -1).map(_.split(" ", -1).map(w =>
      if (r.nextDouble() < EditFrac) word(r, vocab) else w).mkString(" ")).mkString("\n")

  def shard(seed: Long, no: Int, shortDocs: Int = ShortDocs): Shard = {
    val long = no % 2 == 1
    val r = new SplittableRandom(seed * 1000003L + no)
    val vocab = vocabulary(seed)
    val boiler = Array.tabulate(8)(i =>
      s"Copyright notice $i: all rights reserved, see the terms of use for details.")
    val (lo, hi) = if (long) LongLen else ShortLen
    val n = if (long) LongDocs else shortDocs
    // the midpoints of n equal slices of the length range: every seed gets
    // the same document lengths (the audit's cost grows with their square),
    // in seeded order
    val lens = Events.shuffle(r, (0 until n).map(i => lo + ((i + 0.5) / n * (hi - lo)).toInt))
    val base = lens.map(len => text(r, vocab, boiler, len))
    val nDup = math.max(1, math.round(n * DupFrac).toInt)
    val nNear = math.max(1, math.round(n * NearFrac).toInt)
    val firstId = no.toLong * 100000L
    val dupSrc = (0 until nDup).map(_ => r.nextInt(n))
    val nearSrc = (0 until nNear).map(_ => r.nextInt(n))
    val texts = base ++ dupSrc.map(base) ++ nearSrc.map(i => edit(r, vocab, base(i)))
    val docs = texts.zipWithIndex.map { case (t, i) => Doc(firstId + i, t) }
    val nearPairs = nearSrc.zipWithIndex.map { case (src, j) =>
      (firstId + src, firstId + n + nDup + j) }
    Shard(no, long, docs, exactDups = docs.size - texts.distinct.size, nearPairs,
      vectors(r, centres(seed), firstId, VectorsPerShard))
  }

  /** Hex SHA-256 over the shards' ids, texts and vectors. */
  def hash(shards: Seq[Shard]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    for (s <- shards; d <- s.docs) {
      md.update(d.id.toString.getBytes(StandardCharsets.UTF_8))
      md.update(d.text.getBytes(StandardCharsets.UTF_8))
    }
    for (s <- shards; (id, v) <- s.vectors) md.update(s"$id:${v.mkString(",")}".getBytes(StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Exact top-k by cosine (ties by id), for recall. */
  def topK(q: Array[Double], corpus: Seq[(Long, Array[Double])], k: Int): Seq[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qn = norm(q)
    corpus.map { case (id, v) =>
      val dot = q.indices.map(i => q(i) * v(i)).sum
      (id, dot / (qn * norm(v)))
    }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }
}
