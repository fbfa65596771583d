package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A generated corpus: documents with planted near-duplicate clusters,
  * and clustered embeddings. `designed` holds, for every pair of
  * documents in one planted cluster, the Jaccard and containment of
  * their word 3-gram sets as the construction fixes them. */
final case class Corpus(docs: IndexedSeq[(Long, String)], designed: Map[(Long, Long), (Double, Double)],
    vectors: IndexedSeq[Array[Float]])

object CorpusGen {
  val baseWords = 50
  /** cluster member shapes: the base with its last r words replaced, or a prefix of p words */
  sealed trait Shape
  final case class Tail(r: Int) extends Shape
  final case class Prefix(p: Int) extends Shape
  val shapes: IndexedSeq[Shape] =
    IndexedSeq(Tail(2), Tail(6), Tail(12), Tail(20), Prefix(30), Prefix(20))

  /** Highest base shingle index a shape keeps, and its shingle count. */
  private def hi(s: Shape): Int = s match {
    case Tail(r)   => baseWords - 3 - r
    case Prefix(p) => p - 3
  }
  private def size(s: Shape): Int = s match {
    case Tail(_)   => baseWords - 2
    case Prefix(p) => p - 2
  }

  /** Designed (Jaccard, containment) of two members of one cluster. */
  def design(a: Shape, b: Shape): (Double, Double) = {
    val inter = math.min(hi(a), hi(b)) + 1
    val (na, nb) = (size(a), size(b))
    (inter.toDouble / (na + nb - inter), inter.toDouble / math.min(na, nb))
  }

  private def word(r: scala.util.Random): String =
    Seq.fill(6)(('a' + r.nextInt(26)).toChar).mkString

  /** `nDocs` documents: ~20 % in planted clusters of 3–5 members, ~2 %
    * carrying one shared 30-word boilerplate block, the rest random
    * 40–80 word texts; and `nVecs` 64-d vectors around 64 centres. */
  def generate(seed: Long, nDocs: Int, nVecs: Int): Corpus = {
    val r = new scala.util.Random(seed)
    val texts = mutable.ArrayBuffer.empty[String]
    val clusters = mutable.ArrayBuffer.empty[Seq[(Int, Shape)]] // (text index, shape)
    while (texts.size < nDocs / 5) {
      val base = IndexedSeq.fill(baseWords)(word(r))
      val members = Tail(0) +: r.shuffle(shapes).take(2 + r.nextInt(3))
      clusters += members.map { s =>
        val words = s match {
          case Tail(k)   => base.dropRight(k) ++ Seq.fill(k)(word(r))
          case Prefix(p) => base.take(p)
        }
        texts += words.mkString(" ")
        (texts.size - 1, s)
      }
    }
    val boiler = Seq.fill(30)(word(r)).mkString(" ")
    val nBoiler = math.max(2, nDocs / 50)
    while (texts.size < nDocs) {
      val own = Seq.fill(40 + r.nextInt(41))(word(r)).mkString(" ")
      texts += (if (texts.size >= nDocs - nBoiler) own + " " + boiler else own)
    }
    // doc ids are a seeded permutation, so clusters are not contiguous
    val ids = r.shuffle((0L until texts.size.toLong).toIndexedSeq)
    val docs = texts.indices.map(i => ids(i) -> texts(i)).sortBy(_._1)
    val designed = clusters.flatMap { members =>
      for {
        (i, a) <- members; (j, b) <- members if ids(i) < ids(j)
      } yield (ids(i), ids(j)) -> design(a, b)
    }.toMap
    val dim = 64
    val centres = IndexedSeq.fill(64)(Array.fill(dim)(r.nextGaussian().toFloat))
    val vectors = IndexedSeq.fill(nVecs) {
      val c = centres(r.nextInt(centres.size))
      Array.tabulate(dim)(d => c(d) + 0.6f * r.nextGaussian().toFloat)
    }
    Corpus(docs, designed, vectors)
  }

  def shingleSet(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Exact (Jaccard, containment) of every document pair sharing a 3-gram. */
  def exactPairs(docs: IndexedSeq[(Long, String)]): Map[(Long, Long), (Double, Double)] = {
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }
    val size = sets.toMap.view.mapValues(_.size).toMap
    val inter = mutable.HashMap.empty[(Long, Long), Int]
    sets.flatMap { case (id, s) => s.toSeq.map(_ -> id) }.groupBy(_._1).valuesIterator.foreach { g =>
      val ids = g.map(_._2).sorted
      for (a <- ids.indices; b <- a + 1 until ids.size) {
        val k = (ids(a), ids(b)); inter(k) = inter.getOrElse(k, 0) + 1
      }
    }
    inter.map { case (k @ (a, b), n) =>
      k -> (n.toDouble / (size(a) + size(b) - n), n.toDouble / math.min(size(a), size(b)))
    }.toMap
  }

  /** Connected-component representative (the smallest id) of every document. */
  def clusterReps(ids: Seq[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.from(ids.map(i => i -> i))
    def find(x: Long): Long = {
      val p = parent(x); if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    ids.map(i => i -> find(i)).toMap
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
}

/** corpus_dedup: a cold training-data batch job. It writes the seeded
  * corpus to a fresh directory (not timed), then times
  *  - the dedup job: dedup_ngram_jaccard, dedup_containment and
  *    dedup_clusters through SparkEntry.queries, and
  *  - the ANN job: Ann.buildIvfHierarchical + assignment,
  *    Ann.knnJoinIvfHier over the query set, and dedup_semantic_hier. */
object Corpus {
  val nDocs = 4000
  val nVecs = 6000
  val nQueries = 1000
  val annK = 256
  val recallSample = 50

  def run(conf: Conf, report: Report, spans: Spans): Unit = {
    val corpus = CorpusGen.generate(conf.seed, nDocs, nVecs)
    val exact = CorpusGen.exactPairs(corpus.docs)
    val jacc = exact.filter(_._2._1 >= 0.5).keySet
    val cont = exact.filter(_._2._2 >= 0.7).keySet
    report.attempt(2)
    if (jacc != corpus.designed.filter(_._2._1 >= 0.5).keySet)
      report.fail("corpus: exact Jaccard pairs differ from the planted design")
    if (cont != corpus.designed.filter(_._2._2 >= 0.7).keySet)
      report.fail("corpus: exact containment pairs differ from the planted design")
    val reps = CorpusGen.clusterReps(corpus.docs.map(_._1), jacc)
    val qr = new scala.util.Random(conf.seed + 17)
    val queries = IndexedSeq.tabulate(nQueries) { q =>
      val v = corpus.vectors(qr.nextInt(nVecs))
      q.toLong -> v.map(x => x + 0.3f * qr.nextGaussian().toFloat)
    }
    val truth = queries.take(recallSample).map { case (q, v) =>
      q -> corpus.vectors.indices.sortBy(i => -CorpusGen.cosine(v, corpus.vectors(i))).take(10)
        .map(_.toLong).toSet
    }.toMap

    val spark = Session.setUp(report, "median of session starts")(Session.stop)(
      _ => spans("setup.session")(Session.create(conf)))
    import spark.implicits._

    // one cold run of both jobs: a batch job is not cut at a time limit,
    // and its cold cost (planning, code generation, JIT) is what a user
    // submitting it pays
    val dir = conf.dir("corpus").toString
    corpus.docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    corpus.vectors.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val qdf = queries.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "qemb")
    val q = graft.SparkEntry.queries
    val counters = new SparkCounters
    if (conf.trace) spark.sparkContext.addSparkListener(counters)

    val d0 = Clock.now
    val (jRows, jMs) = Clock.timed(spans("dedup_ngram_jaccard")(q("dedup_ngram_jaccard")(spark, dir).collect()))
    val (cRows, cMs) = Clock.timed(spans("dedup_containment")(q("dedup_containment")(spark, dir).collect()))
    val (ccRows, ccMs) = Clock.timed(spans("dedup_clusters")(q("dedup_clusters")(spark, dir).collect()))
    val dedupS = Clock.s(d0)
    val afterDedup = counters.snapshot

    val a0 = Clock.now
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (h, fMs) = Clock.timed(spans("ann.fit") {
      val h = graft.ops.Ann.buildIvfHierarchical(emb, "embedding", k = annK)
      h.index.assigned.count(); h
    })
    val (nn, kMs) = Clock.timed(spans("ann.join")(graft.ops.Ann.knnJoinIvfHier(h, "embedding", "vec_id",
      qdf, "qid", "qemb", topK = 10, nprobeCoarse = 4, nprobe = 16).collect()))
    val (sem, sMs) = Clock.timed(spans("dedup_semantic_hier")(q("dedup_semantic_hier")(spark, dir).collect()))
    val annS = Clock.s(a0)

    // output checks
    report.attempt(5)
    val gotJ = jRows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    if (gotJ.keySet != jacc || gotJ.exists { case (k, v) => math.abs(v - exact(k)._1) > 1e-9 })
      report.fail(s"dedup_ngram_jaccard: ${gotJ.size} pairs vs ${jacc.size} exact")
    val gotC = cRows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    if (gotC.keySet != cont || gotC.exists { case (k, v) => math.abs(v - exact(k)._2) > 1e-9 })
      report.fail(s"dedup_containment: ${gotC.size} pairs vs ${cont.size} exact")
    val gotCc = ccRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (gotCc != reps) report.fail("dedup_clusters differs from union-find over the exact pairs")
    val byQ = nn.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val recall = truth.map { case (qid, want) =>
      (byQ.getOrElse(qid, Set.empty[Long]) intersect want).size / 10.0 }.sum / truth.size
    if (recall < 0.9) report.fail(f"ann recall@10 $recall%.3f < 0.9")
    val kept = sem.map(_.getLong(0)).toSet
    val copies = (0 until nVecs).filter(_ % 50 == 1).map(_ + 1000000L)
    if (copies.exists(kept.contains))
      report.fail("dedup_semantic_hier kept an exact copy of an embedding")

    report.put("dedup_job_ms", dedupS * 1e3, "ms", 1, "dedup_job_s in ms")
    report.put("ann_job_ms", annS * 1e3, "ms", 1, "ann_job_s in ms")
    report.put("corpus_rows_per_s", (nDocs + nVecs + nQueries) / (dedupS + annS), "1/s", 1,
      "documents + vectors + queries per second of both jobs")
    report.put("jaccard_pairs", jacc.size.toDouble, "pairs", 1)
    report.note(f"corpus: $nDocs docs, $nVecs vectors, $nQueries queries, " +
      s"${jacc.size} Jaccard / ${cont.size} containment pairs; dedup " +
      f"(jaccard ${jMs / 1e3}%.2f, containment ${cMs / 1e3}%.2f, clusters ${ccMs / 1e3}%.2f s), " +
      f"ann (fit ${fMs / 1e3}%.2f, join ${kMs / 1e3}%.2f, semantic ${sMs / 1e3}%.2f s)")

    if (conf.trace) {
      val total = counters.snapshot
      def phase(name: String, c: Map[String, Long]) =
        f"$name jobs ${c("jobs")}, tasks ${c("tasks")}, busy ${c("busyMs") / 1e3}%.1f s, " +
          f"gc ${c("gcMs") / 1e3}%.2f s, shuffle write ${c("shuffleWriteBytes") / 1e6}%.1f MB, " +
          f"spill ${c("spillBytes") / 1e6}%.1f MB"
      report.note("spark per phase: " + phase("dedup", afterDedup) + "; " +
        phase("ann", total.map { case (k, v) => k -> (v - afterDedup(k)) }))
      SparkCounters.put(report, total)
      report.put("queries.cc_s", ccMs / 1e3, "s", 1,
        "dedup_clusters after containment warmed the pair-count memo")
      report.put("ann.fit_s", fMs / 1e3, "s", 1)
      report.put("ann.join_s", kMs / 1e3, "s", 1)
      report.put("ann.semantic_s", sMs / 1e3, "s", 1)
      report.put("ann.recall_at_10", recall, "ratio", recallSample)
      val (cand, mineMs) = Clock.timed(spans("queries.mine")(
        graft.queries.Batch3.minePairCounts(spark, dir).count()))
      report.put("queries.mine_s", mineMs / 1e3, "s", 1, "direct Batch3.minePairCounts")
      report.put("queries.candidate_pairs", cand.toDouble, "pairs", 1)
      report.put("queries.pair_yield", jacc.size.toDouble / math.max(1L, cand), "ratio", 1,
        "Jaccard >= 0.5 pairs / candidate pairs")
    }
    Session.stop(spark)
  }
}
