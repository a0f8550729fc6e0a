package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dedup.Dedup
import graft.similarity.Similarity

/** `corpus_curate`: the LLM-data side. Set-up writes a seeded corpus and
  * embedding collection and builds an IVF index once; the loop
  * alternates a dedup pass (`batch`: MinHash candidates → star
  * connected components → keep the best document per cluster) with a
  * search batch (`query`: IVF search and brute-force top-k on the same
  * queries). */
final class CorpusCurate(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  import CorpusCurate._

  val corpus = new Corpus(seed, Docs, Families, Vectors, Dims, Topics, PlantedNeighbors)
  def inputBytes: Long = corpus.texts.map(_.length.toLong).sum + Vectors.toLong * Dims * 8

  private def docsDir(d: Path) = d.resolve("docs").toString
  private def vecDir(d: Path) = d.resolve("embeddings").toString
  private def ivfDir(d: Path) = d.resolve("ivf").toString

  def prepare(): Unit = ()

  def setup(d: Path): Unit = {
    val docRows = (0 until Docs).map(i =>
      org.apache.spark.sql.Row(i.toLong, corpus.texts(i), corpus.quality(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, Partitions), DocSchema)
      .write.parquet(docsDir(d))
    val vecRows = (0 until Vectors).map(i =>
      org.apache.spark.sql.Row(i.toLong, corpus.embeddings(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, Partitions), VecSchema)
      .write.parquet(vecDir(d))
    Similarity.writeIvfIndex(spark.read.parquet(vecDir(d)), ivfDir(d),
      centroidStride = CentroidStride)
  }

  def warmUp(out: Outcome): Unit = step(-1, WarmUpBatch, None, out)

  /** Step `k` runs a dedup pass, then search batch `v`. */
  def step(k: Int, v: Int, tracer: Option[Tracer], out: Outcome): Unit = {
    dedup(k, tracer, out)
    search(k, v, tracer, out)
  }

  private def dedup(k: Int, tracer: Option[Tracer], out: Outcome): Unit = {
    val docs = spark.read.parquet(docsDir(dir))
    timed("batch", k, tracer, out) {
      val pairs = layer(tracer, "dedup.minhashCandidatePairs", k) { _ =>
        val p = Dedup.minhashCandidatePairs(docs).persist()
        p.count(); p
      }
      val labels = layer(tracer, "dedup.clusterLabelsStar", k) { _ =>
        Dedup.clusterLabelsStar(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val kept = layer(tracer, "dedup.keepBestPerCluster", k) { _ =>
        Dedup.keepBestPerCluster(docs, pairs, "quality").select("doc_id").collect()
          .map(_.getLong(0)).toSet
      }
      (pairs, labels, kept)
    } { case (pairs, labels, kept) =>
      val cand = try pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        finally pairs.unpersist()
      val label = (i: Long) => labels.getOrElse(i, i)
      // reformatted copies share every shingle: their family must merge
      val split = corpus.planted.filter { case (b, v, same) => same && label(b) != label(v) }
      require(split.isEmpty, s"${split.size} reformatted copies not clustered with their base, e.g. ${split.take(3)}")
      val recall = corpus.planted.count { case (b, v, _) => label(b) == label(v) }.toDouble /
        corpus.planted.size
      require(recall >= RecallFloor, f"planted near-duplicate recall $recall%.3f below $RecallFloor")
      val verified = cand.count { case (a, b) => corpus.jaccard(a, b) >= 0.5 }
      // exactly one survivor per cluster, the highest-quality member
      val clusters = (0L until Docs).groupBy(label)
      val bad = clusters.values.filter { m =>
        val best = m.maxBy(i => (corpus.quality(i.toInt), -i))
        m.count(kept) != 1 || !kept(best)
      }
      require(bad.isEmpty, s"${bad.size} clusters without exactly their best member kept")
      out.counts("pair_precision") = verified.toDouble / math.max(1, cand.length)
      out.counts("planted_recall") = recall
      tracer.foreach { t =>
        t.set(k, "dedup.", "pair_precision", out.counts("pair_precision"))
        t.set(k, "dedup.", "planted_recall", recall)
      }
    }
  }

  /** Search batch `v`: Q consecutive vector ids of the collection
    * (wrapping), from an offset drawn from `v`. bruteTopK takes its queries as the ids below
    * a bound, so its input is the collection with ids rotated by b·Q. */
  private def search(k: Int, v: Int, tracer: Option[Tracer], out: Outcome): Unit = {
    val base = (v.toLong * Queries * 7919L) % Vectors
    val vecs = spark.read.parquet(vecDir(dir))
    val queries = vecs.filter(((col("vec_id") - base + Vectors) % Vectors) < Queries)
    timed("query", k, tracer, out) {
      val ivf = layer(tracer, "similarity.searchIvfIndex", k) { _ =>
        Similarity.searchIvfIndex(spark, ivfDir(dir), queries, k = TopK, nprobe = Nprobe)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      val brute = layer(tracer, "similarity.bruteTopK", k) { _ =>
        val rotated = vecs.withColumn("vec_id", (col("vec_id") - base + Vectors) % Vectors)
        Similarity.bruteTopK(rotated, k = TopK, maxQueryId = Queries).collect()
          .map(r => (((r.getLong(0) + base) % Vectors), (r.getLong(1) + base) % Vectors, r.getDouble(2)))
      }
      (ivf, brute)
    } { case (ivf, brute) =>
      val exact = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      require(exact.size == Queries, s"bruteTopK answered ${exact.size} of $Queries queries")
      val approx = ivf.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val recall = exact.map { case (q, e) => (e intersect approx.getOrElse(q, Set.empty)).size }
        .sum.toDouble / exact.values.map(_.size).sum
      require(recall >= IvfRecallFloor, f"IVF recall $recall%.3f below $IvfRecallFloor")
      // brute force against an exact top-k computed here, on sampled queries
      val sample = exact.keys.toSeq.sorted.take(SampledQueries)
      sample.foreach { q =>
        val got = brute.filter(_._1 == q).sortBy(-_._3)
        val scores = exactScores(q)
        val kth = scores(TopK - 1)._2
        require(got.length == TopK, s"bruteTopK gave ${got.length} neighbours for $q")
        got.foreach { case (_, n, c) =>
          val truth = scores.find(_._1 == n).map(_._2).getOrElse(Double.NaN)
          require(math.abs(truth - c) < 1e-5 && truth >= kth - 1e-5,
            s"bruteTopK neighbour $n of $q: cosine $c, exact $truth, k-th best $kth")
        }
      }
      corpus.plantedPairs.foreach { case (a, b) =>
        Seq(a -> b, b -> a).foreach { case (q, n) =>
          if (exact.contains(q))
            require(exact(q)(n), s"planted neighbour $n missing from the top-$TopK of $q")
        }
      }
      out.counts("ivf_recall") = recall
      tracer.foreach(_.set(k, "similarity.", "ivf_recall", recall))
    }
  }

  /** (id, cosine) of every other vector to `q`, best first. */
  private def exactScores(q: Long): Seq[(Long, Double)] = {
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val u = unit(corpus.embeddings(q.toInt))
    (0 until Vectors).filter(_ != q).map { i =>
      val w = unit(corpus.embeddings(i))
      (i.toLong, u.indices.map(d => u(d) * w(d)).sum)
    }.sortBy(-_._2)
  }

  def report(out: Outcome): Seq[(String, Double, String)] = {
    val d = out.of("batch"); val s = out.of("query")
    Seq(("curate_p50_s", Stats.median(d), "s"), ("curate_samples", d.size, "count"),
      ("search_p50_s", Stats.median(s), "s"), ("search_tail_s", Stats.tail(s)._1, "s"),
      ("search_tail_pct", Stats.tail(s)._2, "%"), ("search_samples", s.size, "count"),
      ("pair_precision", out.counts("pair_precision"), "ratio"),
      ("planted_recall", out.counts("planted_recall"), "ratio"),
      ("ivf_recall", out.counts("ivf_recall"), "ratio"))
  }
}

object CorpusCurate {
  val Docs = 6000
  val Families = 300
  val Vectors = 6000
  val Dims = 64
  val Topics = 32
  val PlantedNeighbors = 100
  val Partitions = 4
  val CentroidStride = 100
  val Queries = 32
  val TopK = 5
  val Nprobe = 4
  val SampledQueries = 4
  /** The warm-up's search batch, apart from the measured ones. */
  val WarmUpBatch = 1000
  /** Stated floors: share of planted variants sharing their base's
    * cluster, and IVF recall@k against brute force. */
  val RecallFloor = 0.9
  val IvfRecallFloor = 0.6
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("quality", DoubleType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))
}
