package graftbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded corpus shards, alternating short and long documents, each run
  * through the pipeline: quality filters and line dedup, exact dedup,
  * capped MinHash-LSH pairs with connected components, bounded CDC
  * chunking with its invariant audit, and an append of the shard's
  * vectors to a persisted IVF-PQ index. Small top-k query batches then
  * search the index. Every cycle starts from a copy of the same trained
  * index and replays the same shards.
  */
final class CorpusPipeline(cfg: Config, spark: SparkSession) extends Workload {
  import CorpusPipeline._

  private var shards: IndexedSeq[Shard] = IndexedSeq.empty
  private var docFrames: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var vecFrames: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var baseVectors: IndexedSeq[(Long, Array[Double])] = IndexedSeq.empty
  private var queryBatches: IndexedSeq[(DataFrame, IndexedSeq[(Long, Array[Double])])] =
    IndexedSeq.empty
  private var indexBase: File = _
  private var lastIndex: File = _
  private var cycleNo = 0
  private val dupRecall = mutable.ArrayBuffer.empty[Double]
  private val topRecall = mutable.ArrayBuffer.empty[Double]
  /** Candidate pairs, verified pairs and cap-skipped candidate pairs. */
  private val pairs = new Array[Long](3)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  private def vecFrame(vs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(vs.map { case (id, v) => Row(id, v.toSeq) }.asJava, vecSchema)

  def setup(rep: Int): Unit = {
    shards = (0 until ShardsPerCycle).map(Corpus.shard(cfg.seed, _))
    docFrames = shards.map(s =>
      spark.createDataFrame(s.docs.map(d => Row(d.id, d.text)).asJava, docSchema))
    vecFrames = shards.map(s => vecFrame(s.vectors))
    val r = new java.util.SplittableRandom(cfg.seed ^ 0xba5eL)
    val cs = Corpus.centres(cfg.seed)
    baseVectors = Corpus.vectors(r, cs, BaseVectorId, BaseVectors)
    queryBatches = (0 until QueryBatches).map { b =>
      val qs = Corpus.vectors(r, cs, QueryId + b * QueriesPerBatch, QueriesPerBatch)
      (vecFrame(qs), qs)
    }
  }

  /** Trains the base IVF-PQ index, which every cycle starts from a copy of. */
  override def fixture(): Unit = {
    indexBase = new File(cfg.workDir, "cp-index")
    Similarity.ivfPqIndexPersist(vecFrame(baseVectors), indexBase.getPath,
      nCells = Cells, m = SubSpaces, codes = Codes, iters = Iters, dims = Corpus.Dims)
  }

  def inputs: ListMap[String, Any] = ListMap(
    "corpus_sha256" -> Corpus.hash(shards),
    "docs" -> shards.map(_.docs.size), "text_bytes" -> shards.map(_.textBytes),
    "exact_dups" -> shards.map(_.exactDups), "near_pairs" -> shards.map(_.nearPairs.size),
    "vectors" -> (BaseVectors + shards.map(_.vectors.size).sum))

  /** A small short-doc shard through every stage into a scratch copy of
    * the index, then one query batch; what it measures is dropped.
    */
  def warmUp(): Unit = {
    val shard = Corpus.shard(~cfg.seed, 0, shortDocs = WarmDocs)
    val docs = spark.createDataFrame(shard.docs.map(d => Row(d.id, d.text)).asJava, docSchema)
    val index = new File(cfg.workDir, "cp-index-warm")
    Files.copyTree(indexBase, index)
    val rec = new Recorder(new Tracer(spark))
    val indexed = mutable.ArrayBuffer.empty[(Long, Array[Double])] ++= baseVectors
    runShard(rec, shard, docs, vecFrame(shard.vectors), index, indexed)
    search(rec, index, indexed)
    Files.deleteTree(index)
    dupRecall.clear()
    topRecall.clear()
    java.util.Arrays.fill(pairs, 0L)
  }

  def cycle(rec: Recorder): Unit = {
    cycleNo += 1
    Option(lastIndex).foreach(Files.deleteTree)
    val index = new File(cfg.workDir, s"cp-index-cycle-$cycleNo")
    Files.copyTree(indexBase, index)
    lastIndex = index
    val indexed = mutable.ArrayBuffer.empty[(Long, Array[Double])] ++= baseVectors
    // a per-cycle column gives each cycle its own plan, so derived
    // indexes cached by plan are rebuilt every cycle, as on new data
    for ((shard, i) <- shards.zipWithIndex)
      runShard(rec, shard, docFrames(i).withColumn("cycle", lit(cycleNo)), vecFrames(i),
        index, indexed)
    search(rec, index, indexed)
  }

  /** The shard's pipeline stages, in order; its vectors join `indexed`. */
  private def runShard(
      rec: Recorder, shard: Shard, docs: DataFrame, vecs: DataFrame, index: File,
      indexed: mutable.ArrayBuffer[(Long, Array[Double])]): Unit = {
    val size = if (shard.long) "long" else "short"
    rec.op("text", "text.filter") {
      for (out <- Seq(TextAnalysis.qualityScore(docs, "text"),
          TextAnalysis.gopherRules(docs, "text"), TextAnalysis.lineDedup(docs, "text")))
        out.write.mode("overwrite").format("noop").save()
    }
    rec.op("dedup", "dedup.exact") {
      Dedup.exact(docs, "text").agg(sum(col("copies") - 1)).head().getLong(0)
    }.foreach { case (id, dups) =>
      rec.check(id, dups == shard.exactDups,
        s"shard ${shard.no}: exact dedup found $dups copies, ${shard.exactDups} planted")
    }
    val found = rec.op("dedup", "dedup.minhash") {
      val p = Dedup.minhashLshPairsCapped(docs, "text", maxBucket = MaxBucket).localCheckpoint()
      val stats = Dedup.minhashLshCapStats(docs, "text", maxBucket = MaxBucket)
        .agg(sum(col("pairs_total")), sum(col("pairs_skipped"))).head()
      (p, p.count(), stats.getLong(0), stats.getLong(1))
    }
    found.foreach { case (_, (_, verified, total, skipped)) =>
      pairs(0) += total - skipped; pairs(1) += verified; pairs(2) += skipped
    }
    found.flatMap { case (_, (p, _, _, _)) =>
      rec.op("dedup", "dedup.cluster")(Dedup.connectedComponents(p).collect())
    }.foreach { case (_, labels) =>
      val label = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
      dupRecall ++= shard.nearPairs.map { case (a, b) =>
        if (label.contains(a) && label.get(a) == label.get(b)) 1.0 else 0.0 }
    }
    val chunks = rec.op("text", "text.cdc.chunk") {
      val c = TextAnalysis.cdcChunksBounded(docs, "text").localCheckpoint()
      c.count()
      c
    }
    chunks.foreach { case (_, c) =>
      rec.op("text", s"text.cdc.audit.$size") {
        TextAnalysis.cdcInvariantsBounded(c, docs, "text", k = 8, divisor = 64,
          minLen = 32, maxLen = 128, keyCol = "chunk_md5",
          gramHash = TextAnalysis.hash60).collect()
      }.foreach { case (id, rows) =>
        val want = shard.docs.map(d => d.id -> d.text).toMap
        val bad = rows.filterNot { r =>
          val t = want(r.getAs[Long]("doc_id"))
          r.getAs[String]("reassembled_md5") == Corpus.md5Hex(t) &&
            r.getAs[Int]("covered_len") == t.length &&
            r.getAs[Boolean]("boundaries_valid") && r.getAs[Boolean]("sizes_valid")
        }
        rec.check(id, rows.length == want.size && bad.isEmpty,
          s"shard ${shard.no}: CDC audit of ${rows.length} docs, ${bad.length} invalid " +
            bad.headOption.map(_.toString).getOrElse(""))
      }
    }
    rec.op("index", "similarity.index_append") {
      Similarity.ivfPqIndexAppend(vecs, index.getPath, m = SubSpaces, dims = Corpus.Dims)
    }.foreach(_ => indexed ++= shard.vectors)
  }

  /** The query batches against `index`, scored against brute force over `indexed`. */
  private def search(
      rec: Recorder, index: File, indexed: mutable.ArrayBuffer[(Long, Array[Double])]): Unit =
    for ((q, qs) <- queryBatches)
      rec.op("search", "similarity.query") {
        Similarity.ivfPqTopKPersisted(q, index.getPath, k = K, nprobe = Nprobe,
          m = SubSpaces, dims = Corpus.Dims).select("query_id", "vec_id").collect()
      }.foreach { case (id, rows) =>
        val got = rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
        topRecall ++= qs.map { case (qid, v) =>
          val truth = Corpus.topK(v, indexed.toSeq, K)
          truth.count(got.getOrElse(qid, Set.empty[Long])).toDouble / K
        }
        rec.check(id, got.keySet == qs.map(_._1).toSet && got.values.forall(_.size == K),
          s"search returned ${got.view.mapValues(_.size).toMap} results per query")
      }

  def report(rec: Recorder): ListMap[String, Metric] = {
    val stages = rec.latencies("text", "dedup")
    val bytes = shards.map(_.textBytes).sum.toDouble * rec.cycles
    val search = rec.latencies("search")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    ListMap(
      "text_mb_per_s" -> Metric(bytes / 1e6 / (stages.sum / 1e3), "MB/s", stages.size),
      "search_ms.p50" -> Metric(Stats.median(search), "ms", search.size),
      "dup_recall" -> Metric(mean(dupRecall.toSeq), "ratio", dupRecall.size),
      "topk_recall" -> Metric(mean(topRecall.toSeq), "ratio", topRecall.size))
  }

  def layers(rec: Recorder, idx: SpanIndex): ListMap[String, Double] = {
    // pair counts per cycle; audit time per MB of the shards it audited
    val p = pairs.map(_ / math.max(1, rec.cycles))
    def perMb(size: String, long: Boolean) = {
      val spans = idx.named(s"text.cdc.audit.$size")
      val mb = shards.filter(_.long == long).map(_.textBytes).sum * spans.size / 1e6
      if (mb > 0) spans.map(_.durNs).sum / 1e6 / mb else 0.0
    }
    ListMap(
      "text.filter_ms" -> idx.totalMs("text.filter"),
      "text.cdc_ms" -> idx.totalMs("text.cdc.chunk"),
      "text.cdc_audit_ms_per_mb.short" -> perMb("short", long = false),
      "text.cdc_audit_ms_per_mb.long" -> perMb("long", long = true),
      "dedup.exact_ms" -> idx.totalMs("dedup.exact"),
      "dedup.minhash_ms" -> idx.totalMs("dedup.minhash"),
      "dedup.cluster_ms" -> idx.totalMs("dedup.cluster"),
      "dedup.candidate_pairs" -> p(0).toDouble,
      "dedup.verified_pairs" -> p(1).toDouble,
      "dedup.pair_yield" -> p(1).toDouble / math.max(1L, p(0)),
      "dedup.cap_skip_frac" -> p(2).toDouble / math.max(1L, p(0) + p(2)),
      "similarity.index_append_ms" -> idx.totalMs("similarity.index_append"),
      "similarity.query_ms" -> idx.totalMs("similarity.query"),
      "similarity.index_bytes" -> Files.treeBytes(lastIndex).toDouble)
  }
}

object CorpusPipeline {
  val ShardsPerCycle = 2
  val WarmDocs = 20
  val BaseVectors = 500
  val BaseVectorId = 900000000L
  val QueryId = 990000000L
  val QueryBatches = 1
  val QueriesPerBatch = 12
  val K = 10
  val Nprobe = 2
  val Cells = 8
  val SubSpaces = 4
  val Codes = 8
  val Iters = 1
  val MaxBucket = 50
}
