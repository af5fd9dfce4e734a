package graftbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def corpus(seed: Long) = (0 until CorpusPipeline.ShardsPerCycle).map(Corpus.shard(seed, _))

  test("the same seed gives the same corpus and planted duplicates") {
    val a = corpus(7)
    val b = corpus(7)
    assert(Corpus.hash(a) == Corpus.hash(b))
    assert(a.map(_.nearPairs) == b.map(_.nearPairs))
    assert(a.map(_.exactDups) == b.map(_.exactDups))
  }

  test("a different seed gives a different corpus") {
    val a = corpus(7)
    val c = corpus(8)
    assert(Corpus.hash(a) != Corpus.hash(c))
    assert(a.flatMap(_.docs.map(_.text)) != c.flatMap(_.docs.map(_.text)))
  }

  test("shards alternate short and long documents and plant duplicates") {
    val Seq(short, long) = corpus(3)
    assert(!short.long && long.long)
    // a document overshoots its drawn length by at most a line and a
    // boilerplate line
    assert(short.docs.forall(_.text.length <= Corpus.ShortLen._2 + 400))
    assert(long.docs.forall(_.text.length >= Corpus.LongLen._1))
    for (s <- Seq(short, long)) {
      assert(s.exactDups >= 1)
      assert(s.nearPairs.nonEmpty)
      val ids = s.docs.map(_.id).toSet
      assert(s.nearPairs.forall { case (x, y) => ids(x) && ids(y) })
      assert(s.docs.forall(_.text.forall(_ < 128)), "texts are ASCII")
    }
  }

  test("short and long shards hold about the same text bytes") {
    for (seed <- 1L to 5L) {
      val Seq(short, long) = corpus(seed)
      val ratio = short.textBytes.toDouble / long.textBytes
      assert(ratio > 0.8 && ratio < 1.25, s"seed $seed: short/long bytes $ratio")
    }
  }

  test("event batches are seeded and the model follows them") {
    def batch(seed: Long) = Events.batch(new SplittableRandom(seed), 100, 50, firstDay = 2)
    val a = batch(1)
    assert(a.cents.toSeq == batch(1).cents.toSeq && a.tsMs.toSeq == batch(1).tsMs.toSeq)
    assert(a.cents.toSeq != batch(2).cents.toSeq)
    assert(a.ids.toSeq == (100L until 150L))
    val day = 86400000L
    assert(a.tsMs.forall(t => t >= Events.BaseMs + 2 * day && t < Events.BaseMs + 4 * day))
    val m = new EventsModel(1000)
    m.append(a)
    assert(m.live == 50 && m.centsSum == a.cents.map(_.toLong).sum)
    m.delete(a.types(0), 1, 0)
    assert(m.live == 50 - a.types.count(_ == a.types(0)))
  }

  test("stratified log-uniform sizes: same blocks for every seed, seeded order") {
    val a = Events.logUniformSizes(new SplittableRandom(5), 1000, 100, 10000, block = 4)
    assert(a.forall(x => x >= 100 && x <= 10000))
    assert(math.abs(a.count(_ < 1000) - 500) <= 1)
    val b = Events.logUniformSizes(new SplittableRandom(6), 1000, 100, 10000, block = 4)
    assert(a != b)
    assert(a.grouped(4).map(_.sum).toSeq == b.grouped(4).map(_.sum).toSeq)
    // each block takes one size from each quarter of the log range
    val edges = Seq(100, 316, 1000, 3163, 10000)
    assert(a.grouped(4).forall(_.sorted.zipWithIndex.forall { case (x, q) =>
      x >= edges(q) && x <= edges(q + 1) }))
  }
}
