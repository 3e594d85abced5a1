package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

/** Synthetic user-supplied video codec for the pluggable-boundary
  * test — top-level (no outer pointer) so it serializes to executor
  * closures exactly as a production FFmpeg-backed codec would. */
final case class FakeMp4Codec(frames: Int)
    extends Multimodal.MediaCodec {
  def decode(a: MediaAsset, maxFrames: Int): Seq[Array[Float]] =
    Seq.tabulate(math.min(maxFrames, frames))(i =>
      Array(i.toFloat, a.content.length.toFloat))
}

/** Behavior tests for the training-data pipeline operators (the
  * oracle-verified numeric outputs are covered by the driver gate;
  * these pin the semantics the oracle can't see). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and once"),
    (3L, "completely unrelated text about spark query engines and joins"),
    (4L, "  The  quick brown fox jumps over the lazy dog again and again "))
    .toDF("doc_id", "text")

  test("exact dedup: identical texts share a hash; keeper is min key") {
    val r = Dedup.exactRank(docs, "text", "doc_id")
      .select($"doc_id", $"dup_rank").as[(Long, Int)].collect().toMap
    assert(r(0L) === 1)
    assert(r(1L) === 2) // duplicate of 0
    assert(r(2L) === 1)
    assert(r(4L) === 1) // whitespace differs → different exact hash
  }

  test("fingerprint dedup catches formatting-only duplicates") {
    val g = Dedup.fingerprintGroups(docs, "text", "doc_id")
      .filter($"group_size" >= 2)
      .select($"group_size", $"keeper").as[(Long, Long)].collect()
    // 0, 1 and 4 normalize to the same fingerprint
    assert(g.toSeq === Seq((3L, 0L)))
  }

  test("minhash LSH: near-identical docs collide; unrelated do not") {
    val pairs = Dedup.minHashCandidates(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → all bands equal
    assert(pairs.contains((0L, 4L))) // same token stream
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
  }

  test("simhash: identical docs get identical signatures; hamming small for near") {
    val sigs = Dedup.simHashParts(docs, "text", "doc_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) === sigs(4L))
    def bits(sig: Seq[Long]): Seq[Int] =
      sig.flatMap(p => (0 until 16).map(b => ((p >> b) & 1L).toInt))
    val hammingNear = bits(sigs(0L)).zip(bits(sigs(2L))).count(p => p._1 != p._2)
    val hammingFar = bits(sigs(0L)).zip(bits(sigs(3L))).count(p => p._1 != p._2)
    assert(hammingNear < hammingFar)
  }

  test("sketch-verified jaccard: subset of exact pairs, same values") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .filter($"doc_id" < 300)
    val exact = Dedup.jaccardPairs(d, "text", "doc_id", 0.1)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val verified = Dedup.sketchVerifiedJaccard(d, "text", "doc_id", 0.1)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // precision is exact: every surviving pair is a true pair with
    // the true similarity; recall is the LSH banding curve
    assert(verified.keySet.subsetOf(exact.keySet))
    for ((k, j) <- verified) assert(j === exact(k))
    assert(verified.nonEmpty)
    // every banding candidate was verified (survivors ∪ sub-threshold)
    val cands = Dedup.minHashCandidates(d, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(verified.keySet.subsetOf(cands))
  }

  test("simhash candidates: identical docs pair via part collision") {
    val pairs = Dedup.simHashCandidates(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    // 0, 1, 4 share the exact token stream → identical signatures →
    // all three pairs; the near doc (2) may or may not collide, but
    // the unrelated doc (3) must not pair with the 0/1/4 cluster
    assert(Set((0L, 1L), (0L, 4L), (1L, 4L)).subsetOf(pairs))
    assert(!pairs.exists(p =>
      (p._1 == 3L && Set(0L, 1L, 4L)(p._2)) ||
        (p._2 == 3L && Set(0L, 1L, 4L)(p._1))))
  }

  test("jaccard pairs: inverted-index join matches definition") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs((0L, 4L)) === 1.0)
    // doc 2 swaps one "again" for "once": |A∩B|=10, |A∪B|=11
    assert(math.abs(pairs((0L, 2L)) - math.rint(10.0 / 11 * 1000) / 1000)
      < 1e-9)
    assert(!pairs.contains((0L, 3L)))
  }

  test("brute-force ANN top-k is exact: matches plain-Scala computation") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .filter($"vec_id" < 150)
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (0L until 3L).map { q =>
      q -> vecs.filter(_._1 >= 10).toSeq
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    }.toMap
    val got = Similarity.bruteForceTopK(
      e.filter($"vec_id" < 3), e.filter($"vec_id" >= 10),
      "embedding", "vec_id", k = 5)
      .orderBy($"q_id", $"rank")
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(got === expected)
  }

  test("LSH ANN: neighbors share the query bucket; recall is sane") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val brute = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    // 1 hyperplane → each bucket holds ~half the corpus
    val lsh = Similarity.lshTopK(q, c, "embedding", "vec_id", 5,
      planes = 1, dim = 64)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"LSH recall $recall")
    // every returned neighbor must share its query's bucket
    val hp = Similarity.hyperplanes(1, 64)
    val buckets = e.select($"vec_id",
      Similarity.srpBucket($"embedding", hp).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(lsh.forall { case (qid, cid) => buckets(qid) == buckets(cid) })
  }

  test("bucketed cosine pairs: subset of exact pairs, identical cosines") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .filter($"vec_id" < 120)
    val exact = Similarity.cosinePairs(e, "embedding", "vec_id", 0.3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val bucketed = Similarity
      .cosinePairsBucketed(e, "embedding", "vec_id", 0.3,
        planes = 1, dim = 64)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // every bucketed pair is an exact pair with the same cosine...
    assert(bucketed.keySet.subsetOf(exact.keySet))
    for ((k, c) <- bucketed) assert(c === exact(k))
    // ...and a 1-plane split retains a non-trivial share of them
    assert(bucketed.nonEmpty)
    assert(bucketed.size.toDouble / exact.size >= 0.3,
      s"bucketed kept ${bucketed.size} of ${exact.size}")
  }

  test("contamination scan flags exact n-gram overlap only") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", true), // test doc
      // case/punctuation variant still hits (normalized tokenization)
      (1L, "prefix Alpha, beta GAMMA delta epsilon! suffix", false),
      (2L, "alpha beta gamma delta other words here", false), // 4-gram only
      (3L, "completely different text with no overlap at all", false))
      .toDF("doc_id", "text", "is_test")
    val hits = Dedup.contaminationHits(corpus, "text", "doc_id",
      isTest = $"is_test", n = 5)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares exactly one 5-gram ("alpha beta gamma delta
    // epsilon"); doc 2's longest shared run is 4 tokens -> no flag
    assert(hits.keySet === Set(1L))
    assert(hits(1L) === 1L)
  }

  test("component clustering: pairs merge transitively, singletons self-label") {
    val ids = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.componentClusters(ids, "id", pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // pairs referencing ids outside the declared universe are ignored,
    // not materialized as phantom vertices (id 0 would otherwise win
    // 1's component as its min-label keeper)
    val stray = pairs.unionByName(Seq((0L, 1L), (9L, 9L)).toDF("a", "b"))
    val got2 = Dedup.componentClusters(ids, "id", stray, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got2 === got)
  }

  test("keepBest: highest score survives per cluster, ties to smallest id") {
    val ids = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    // cluster {1,2,3}: 2 has the top score; cluster {5,6}: tie → 5;
    // singletons 4 and 7 keep themselves
    val scores = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 1L),
      (5L, 7L), (6L, 7L), (7L, 0L)).toDF("id", "score")
    val got = Dedup.keepBest(ids, "id", pairs, "a", "b", scores,
        "score")
      .select($"id", $"is_keeper")
      .as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false,
      4L -> true, 5L -> true, 6L -> false, 7L -> true))
    // an id MISSING from the score relation stays in the report,
    // ranked last (null score) — never silently dropped, and never
    // crowned over a scored member
    val partial = scores.filter($"id" =!= 2L && $"id" =!= 4L)
    val got2 = Dedup.keepBest(ids, "id", pairs, "a", "b", partial,
        "score")
      .select($"id", $"is_keeper")
      .as[(Long, Boolean)].collect().toMap
    assert(got2.keySet === (1L to 7L).toSet)
    // with 2 unscored, cluster {1,2,3}'s best SCORED member (3) wins;
    // singleton 4 keeps itself even unscored
    assert(got2(3L) && !got2(2L) && !got2(1L) && got2(4L))
  }

  test("keepBest invariants hold on seeded random graphs and scores") {
    // random graphs + scores: the report covers every declared id,
    // each component has EXACTLY one keeper, and the keeper's score
    // is maximal among its component's scored members (ties → the
    // smallest id wins). One Spark round-trip per case, so the case
    // count stays small; the invariants are the full contract.
    val rng = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val n = 4 + rng.nextInt(12)
      val idSeq = (1L to n.toLong)
      val pairs = (1 to rng.nextInt(n))
        .map(_ => (1L + rng.nextInt(n), 1L + rng.nextInt(n)))
        .filter(p => p._1 != p._2)
      val scores = idSeq.map(i => (i, rng.nextInt(5).toLong))
      val got = Dedup.keepBest(idSeq.toDF("id"), "id",
          (if (pairs.isEmpty) Seq((1L, 1L)).filter(_ => false)
           else pairs).toDF("a", "b"),
          "a", "b", scores.toDF("id", "score"), "score")
        .as[(Long, Long, Long, Boolean)].collect()
      assert(got.map(_._1).toSet === idSeq.toSet) // full coverage
      val byComp = got.groupBy(_._2)
      byComp.foreach { case (comp, members) =>
        val keepers = members.filter(_._4)
        assert(keepers.length === 1, s"component $comp keepers")
        val k = keepers.head
        val best = members.map(_._3).max
        assert(k._3 === best, s"component $comp keeper not max-score")
        // tie-break: smallest id among the max-score members
        assert(k._1 === members.filter(_._3 == best).map(_._1).min)
      }
    }
  }

  test("component clustering releases its GraphX blocks (no session leak)") {
    // Regression pin for the round-10 finding: GraphX leaves the input
    // and result graphs cached, and across many calls in one session
    // the accumulated blocks inflated UNRELATED queries up to 14x in
    // the sf10 bench. componentClusters must unpersist both graphs
    // after materializing its result.
    val ids = (1L to 100L).toDF("id")
    val pairs = (1L to 99L).map(i => (i, i + 1)).toDF("a", "b")
    Dedup.componentClusters(ids, "id", pairs, "a", "b").count()
    def graphBlocks() = spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.isInstanceOf[org.apache.spark.graphx.VertexRDD[_]] ||
        r.isInstanceOf[org.apache.spark.graphx.EdgeRDD[_]])
    // unpersist(blocking = false) completes asynchronously
    val deadline = System.nanoTime() + 15_000_000_000L
    while (graphBlocks().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(graphBlocks().isEmpty,
      s"GraphX blocks still cached: ${graphBlocks().map(_.name)}")
  }

  test("IVF ANN: results come only from probed clusters; recall is sane") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val brute = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, c, "embedding", "vec_id", k = 5,
      centroidPred = $"vec_id" % 50 === 0, nprobe = 2)
    val got = ivf.select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall $recall")
    // invariant: each neighbor's assigned centroid is one of the
    // query's nprobe probed centroids — recompute assignments in Scala
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = vecs.keys.filter(id => id >= 10 && id % 50 == 0).toSeq.sorted
    def nearest(id: Long, n: Int): Seq[Long] =
      cents.map(cid => (cid, cos(vecs(id), vecs(cid))))
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1)
    got.foreach { case (qid, cid) =>
      assert(nearest(qid, 2).contains(nearest(cid, 1).head),
        s"neighbor $cid of query $qid is outside the probed clusters")
    }
  }

  test("IVF over k-means centroids: deterministic seed, sane recall") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val cents = Similarity.kmeansCentroids(c, "embedding", "vec_id",
      k = 8, iters = 3)
    val ids = cents.select($"cent_id").as[Long].collect()
    assert(ids.nonEmpty && ids.length <= 8 &&
      ids.distinct.length === ids.length)
    // codebook vectors are real float vectors of the corpus dim
    val dims = cents.select($"cent_vec").as[Array[Float]].collect()
      .map(_.length).toSet
    assert(dims === Set(64))
    val brute = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val got = Similarity
      .ivfTopK(q, c, "embedding", "vec_id", 5, cents, nprobe = 4)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF k-means recall $recall")
    // seeding is RNG-free: two builds pick identical seed vectors
    def seeds() = Similarity
      .kmeansCentroids(c, "embedding", "vec_id", k = 8, iters = 0)
      .orderBy($"cent_id")
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, v) => (id, v.toSeq) }
    assert(seeds() === seeds())
  }

  test("k-means IVF recall@5: mean per-query recall over 30 queries") {
    // the quality bound for the codebook path: across 30 queries
    // against the remaining 470 corpus vectors, probing half the
    // clusters must recover most of each query's true top-5 — a
    // recall floor, not exact-match (IVF is approximate by design)
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 30)
    val c = e.filter($"vec_id" >= 30)
    val brute = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cents = Similarity.kmeansCentroids(c, "embedding", "vec_id",
      k = 8, iters = 3)
    val ivf = Similarity
      .ivfTopK(q, c, "embedding", "vec_id", 5, cents, nprobe = 4)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (qid, truth) =>
      (truth & ivf.getOrElse(qid, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(ivf.size === 30, s"IVF returned results for ${ivf.size}/30")
    assert(mean >= 0.5, s"mean recall@5 $mean")
  }

  test("IVF ANN fails fast on an empty centroid set") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(e.filter($"vec_id" < 10),
        e.filter($"vec_id" >= 10), "embedding", "vec_id", k = 5,
        centroidPred = $"vec_id" < 0)
    }
    assert(err.getMessage.contains("centroidPred selects no corpus"))
  }

  test("multi-probe LSH: candidates superset single-bucket, recall no worse") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val brute = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val single = Similarity.lshTopK(q, c, "embedding", "vec_id", 5,
      planes = 2, dim = 64)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.lshTopKMultiProbe(q, c, "embedding", "vec_id",
      5, planes = 2, dim = 64)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long)]) = (brute & s).size.toDouble / brute.size
    assert(recall(multi) >= recall(single),
      s"multi-probe recall ${recall(multi)} < single ${recall(single)}")
    // probing strictly more buckets can only improve each query's
    // candidate pool: every returned neighbor's bucket is within
    // Hamming distance 1 of its query's bucket
    val hp = Similarity.hyperplanes(2, 64)
    val buckets = e.select($"vec_id",
      Similarity.srpBucket($"embedding", hp).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(multi.forall { case (qid, cid) =>
      java.lang.Long.bitCount(buckets(qid) ^ buckets(cid)) <= 1
    })
  }

  test("repetition stats: duplicate n-gram fraction follows definition") {
    val r = Seq(
      (1L, "spam spam spam spam spam spam"),   // 4 grams, 1 distinct
      (2L, "one two three four five six"),     // 4 grams, all distinct
      (3L, "too short"),                        // < 3 tokens → 0 grams
      (4L, "a b a b a b"))                      // grams: aba,bab,aba,bab
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(r, "text", n = 3)
      .select($"doc_id", $"n_grams", $"n_distinct", $"dup_fraction")
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    assert(got(1L) === ((4L, 1L, 0.75)))
    assert(got(2L) === ((4L, 4L, 0.0)))
    assert(got(3L) === ((0L, 0L, 0.0)))
    assert(got(4L) === ((4L, 2L, 0.5)))
  }

  test("mixture sample: quotas per group, deterministic, monotonic") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def take(qs: Map[String, Int], dq: Int) =
      Sampling.mixtureSample(d, "doc_id", "source", qs, dq)
        .select($"source", $"doc_id").as[(String, Long)].collect()
    val got = take(Map("src0" -> 7, "src1" -> 2), 4)
    val bySrc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc("src0").size === 7)
    assert(bySrc("src1").size === 2)
    assert(bySrc.filterNot(kv => Set("src0", "src1")(kv._1))
      .forall(_._2.size === 4))
    // deterministic: same call, same sample
    assert(take(Map("src0" -> 7, "src1" -> 2), 4).toSet === got.toSet)
    // monotonic: raising a quota keeps the previously chosen docs
    val grown = take(Map("src0" -> 9, "src1" -> 2), 4)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc("src0").subsetOf(grown("src0")))
  }

  test("top-bigram stats: max-mass gram, smallest-gram tie-break, short docs") {
    val d = Seq(
      (1L, "buy now buy now buy now totally organic prose"),
      (2L, "one"),                      // < 2 tokens → no bigrams
      (3L, "a b a b c d c d"))          // 'a b' and 'c d' tie at 2
      .toDF("doc_id", "text")
    val got = TextAnalysis.topGramStats(d, "text", "doc_id", n = 2)
      .select($"doc_id", $"n_grams", $"top_gram", $"top_count",
        $"top_fraction")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2)), r.getLong(3),
          r.getDouble(4)))).toMap
    // doc 1: 8 bigrams, 'buy now' ×3 → 0.375
    assert(got(1L) === ((8L, Some("buy now"), 3L, 0.375)))
    assert(got(2L) === ((0L, None, 0L, 0.0)))
    // tie between 'a b'(2) and 'c d'(2): smallest gram wins
    assert(got(3L) === ((7L, Some("a b"), 2L,
      math.rint(2.0 / 7 * 1000) / 1000)))
  }

  test("concat-chunk packing: offsets are contiguous per group, spans exact") {
    val d = Seq(
      (1L, "g1", Seq.fill(3000)("tok").mkString(" ")),   // [0, 3000)
      (2L, "g1", Seq.fill(2000)("tok").mkString(" ")),   // [3000, 5000)
      (3L, "g1", ""),                                    // empty at 5000
      (4L, "g1", Seq.fill(100)("tok").mkString(" ")),    // [5000, 5100)
      (5L, "g2", Seq.fill(5000)("tok").mkString(" ")))   // own stream
      .toDF("doc_id", "source", "text")
    val got = Sampling
      .concatChunkSpans(d, "text", "doc_id", "source", chunkTokens = 4096)
      .select($"doc_id", $"n_tokens", $"start_token", $"first_chunk",
        $"last_chunk")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((3000L, 0L, 0L, 0L)))
    assert(got(2L) === ((2000L, 3000L, 0L, 1L))) // straddles the cut
    assert(got(3L) === ((0L, 5000L, 1L, 1L)))    // empty doc, no span
    assert(got(4L) === ((100L, 5000L, 1L, 1L)))
    assert(got(5L) === ((5000L, 0L, 0L, 1L)))    // g2 packs separately
  }

  test("chunk-with-overlap: windows cover every token, overlap exact") {
    val words = (0 until 37).map(i => s"w$i")
    val d = Seq(
      (1L, words.mkString(" ")),   // 37 tokens, chunk 16 / stride 8
      (2L, "a b c"),               // shorter than one window
      (3L, ""))                    // empty doc still yields one chunk
      .toDF("doc_id", "text")
    val got = Sampling.chunkWithOverlap(d, "text", "doc_id",
        chunkTokens = 16, stride = 8)
      .select($"doc_id", $"n_tokens", $"chunk_idx", $"start_token",
        $"chunk_tokens", $"chunk_text")
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .groupBy(_._1)
    // 37 tokens: chunks start at 0,8,16,24 → floor((37-16+7)/8)+1 = 4
    val c1 = got(1L).sortBy(_._3)
    assert(c1.map(r => (r._3, r._4, r._5)).toSeq ===
      Seq((0L, 0L, 16L), (1L, 8L, 16L), (2L, 16L, 16L), (3L, 24L, 13L)))
    // every token appears in some chunk; adjacent chunks share 8
    assert(c1(0)._6 === words.slice(0, 16).mkString(" "))
    assert(c1(1)._6 === words.slice(8, 24).mkString(" "))
    assert(c1(3)._6 === words.slice(24, 37).mkString(" "))
    assert(got(2L).map(r => (r._3, r._5, r._6)).toSeq ===
      Seq((0L, 3L, "a b c")))
    assert(got(3L).map(r => (r._3, r._5, r._6)).toSeq ===
      Seq((0L, 0L, "")))
    // exact multiple: 24 tokens → chunks at 0,8 (last fills exactly)
    val e = Seq((9L, (0 until 24).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ce = Sampling.chunkWithOverlap(e, "text", "doc_id", 16, 8)
      .select($"start_token", $"chunk_tokens")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(ce.toSeq === Seq((0L, 16L), (8L, 16L)))
  }

  test("leakage-safe split: clusters are atomic and deterministic") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (7L, 1L),   // one cluster of three
      (3L, 3L), (4L, 4L), (5L, 5L), (6L, 6L), (8L, 8L))
      .toDF("doc_id", "component")
    val got = Sampling.leakageSafeSplit(clusters, "component")
      .select($"doc_id", $"component", $"split")
      .as[(Long, Long, String)].collect()
    // atomicity: every member of a component gets the same side
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.length === 1)
    }
    // determinism: md5(component) < "2" — replay the rule directly
    got.foreach { case (_, comp, split) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(comp.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(split === (if (h < "2") "eval" else "train"))
    }
    // both sides occur over a spread of labels (1/8 eval in
    // expectation; these 6 labels were chosen to hit both)
    assert(got.map(_._3).distinct.sorted.toSeq === Seq("eval", "train"))
  }

  test("concat-chunk packing: exact-4096 boundaries, single shard") {
    // one shard; every boundary case of the chunk arithmetic:
    // a doc filling chunk 0 exactly, an empty doc sitting exactly ON
    // the cut, a second exact-chunk doc, and a 1-token doc opening
    // chunk 2. last_chunk of an exact-filling doc must stay in its
    // own chunk (start+n-1 = 4095 → 0), never spill to the next.
    val d = Seq(
      (1L, "s", Seq.fill(4096)("t").mkString(" ")), // [0, 4096) exact
      (2L, "s", ""),                                // empty AT the cut
      (3L, "s", Seq.fill(4096)("t").mkString(" ")), // [4096, 8192) exact
      (4L, "s", "t"))                               // opens chunk 2
      .toDF("doc_id", "source", "text")
    val got = Sampling
      .concatChunkSpans(d, "text", "doc_id", "source", chunkTokens = 4096)
      .select($"doc_id", $"n_tokens", $"start_token", $"first_chunk",
        $"last_chunk")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((4096L, 0L, 0L, 0L)))    // fills chunk 0 exactly
    assert(got(2L) === ((0L, 4096L, 1L, 1L)))    // empty doc on boundary
    assert(got(3L) === ((4096L, 4096L, 1L, 1L))) // fills chunk 1 exactly
    assert(got(4L) === ((1L, 8192L, 2L, 2L)))
  }

  test("language id picks the marker-heavy language") {
    val r = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der Hund und die Katze und der Vogel"),
      (3L, "xyz qrs tuv"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.langId($"text").as("lang"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) === "en")
    assert(r(2L) === "de")
    assert(r(3L) === "und")
  }

  test("token counts: three counters agree on simple text") {
    val r = Seq((1L, "hello world, it's 42 degrees!"))
      .toDF("id", "text")
      .select(
        TextAnalysis.whitespaceTokenCount($"text").as("ws"),
        size(TextAnalysis.tokens($"text")).cast("long").as("word"),
        TextAnalysis.approxBpeTokenCount($"text").as("bpe"))
      .as[(Long, Long, Long)].collect().head
    assert(r._1 === 5) // whitespace chunks
    assert(r._2 === 6) // hello world it s 42 degrees
    assert(r._3 === 9) // hello world , it ' s 42 degrees !
  }

  test("multimodal: stub decode is deterministic, frame counts follow metadata") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .limit(60)
    val feats = Multimodal.featureTable(spark, docs).cache()
    // one row per frame, 8-dim features in [0,1]
    val bad = feats.filter(size($"feature") =!= 8).count()
    assert(bad === 0)
    // images decode to exactly one frame
    val imgFrames = feats.filter($"modality" === "image")
      .groupBy($"asset_id").count().filter($"count" =!= 1).count()
    assert(imgFrames === 0)
    // determinism: rerun produces identical feature vectors
    val again = Multimodal.featureTable(spark, docs)
    assert(feats.exceptAll(again).count() === 0)
    // audio/video frame counts bounded by maxFrames=4
    assert(feats.groupBy($"asset_id").count()
      .filter($"count" > 4).count() === 0)
  }

  test("multimodal: resize restamps image metadata, passes others through") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .limit(30)
    val assets = Multimodal.syntheticAssets(spark, docs)
    val resized = Multimodal.resizeImages(assets, 224, 224).collect()
    resized.foreach { a =>
      if (a.modality == "image") {
        assert(a.width.contains(224) && a.height.contains(224))
        assert(new String(a.content.take(16), "UTF-8")
          .startsWith("resized:224x224:"))
      } else {
        assert(!new String(a.content.take(8), "UTF-8").startsWith("resized"))
      }
    }
    // decode over resized assets still yields deterministic features
    val feats = Multimodal.decodeAndFeaturize(
      Multimodal.resizeImages(assets, 224, 224)).toDF()
    val again = Multimodal.decodeAndFeaturize(
      Multimodal.resizeImages(assets, 224, 224)).toDF()
    assert(feats.exceptAll(again).count() === 0)
  }

  test("multimodal: a user-registered mp4 codec rides the same partition-iterator decode path") {
    // the contractual mp4/webm boundary (round-14 verdict #6): a
    // production codec REGISTERS by mime type and decodeAndFeaturize
    // dispatches per asset — zero pipeline changes, so the 100 TB
    // decode story never depends on JDK-shipped formats
    val (w0, h0, png0) = Multimodal.fixturePng(0)
    val assets = Seq(
      MediaAsset(1L, "video", "fake mp4 container bytes".getBytes("UTF-8"),
        "video/mp4", None, None, None, Some(4000L)),
      MediaAsset(2L, "image", png0, "image/png",
        Some(w0), Some(h0), None, None)).toDS()
    val reg = Multimodal.CodecRegistry(
      Map("video/mp4" -> FakeMp4Codec(frames = 2)),
      fallback = Multimodal.GifCodec)
    val out = Multimodal.decodeAndFeaturize(assets, reg, maxFrames = 4)
      .collect()
    // the registered codec decoded the mp4 asset: two frames, the
    // synthetic (frame_index, byte_len) features, hash/metadata from
    // the SHARED pipeline stage
    val mp4 = out.filter(_.asset_id == 1L).sortBy(_.frame_index)
    assert(mp4.length === 2)
    assert(mp4.map(_.frame_index).toSeq === Seq(0, 1))
    assert(mp4.forall(_.feature(1) === 24f))
    assert(mp4.forall(_.content_hash ===
      Multimodal.hashHex("fake mp4 container bytes".getBytes("UTF-8"))))
    // unregistered mime types fall back to the JDK chain UNCHANGED
    val img = out.filter(_.asset_id == 2L)
    val direct = Multimodal.decodeAndFeaturize(
      assets.filter(_.asset_id == 2L), Multimodal.GifCodec,
      maxFrames = 4).collect()
    assert(img.map(_.feature.toSeq).toSeq ===
      direct.map(_.feature.toSeq).toSeq)
  }

  test("multimodal: real javax.imageio decode recovers known dims and means") {
    // asset 7: solid rgb(259%256=3, 413%256=157, 581%256=69),
    // w=16+(7%8)*4=44, h=12+(7%5)*4=20
    val (w7, h7, png7) = Multimodal.fixturePng(7)
    assert((w7, h7) === (44, 20))
    val a7 = MediaAsset(7, "image", png7, "image/png",
      Some(w7), Some(h7), None, None)
    val f7 = Multimodal.ImageIoCodec.decode(a7, 4)
    assert(f7.size === 1)
    assert(f7.head.toSeq === Seq(44f, 20f, 3f, 3f, 157f, 69f))
    // asset 0: gradient, w=16, h=12 → every channel mean = 15/2 = 7.5
    val (w0, h0, png0) = Multimodal.fixturePng(0)
    val f0 = Multimodal.ImageIoCodec.decode(
      MediaAsset(0, "image", png0, "image/png",
        Some(w0), Some(h0), None, None), 4)
    assert(f0.head.toSeq === Seq(16f, 12f, 3f, 7.5f, 7.5f, 7.5f))
    // undecodable bytes emit no frame (drop, don't poison)
    val junk = MediaAsset(99, "image", "not a png".getBytes("UTF-8"),
      "image/png", None, None, None, None)
    assert(Multimodal.ImageIoCodec.decode(junk, 4).isEmpty)
    // TRUNCATED bytes are the nastier case: a reader recognizes the
    // header, so ImageIO.read throws instead of returning null — must
    // also drop, and the resizer must pass the asset through
    val truncated = MediaAsset(97, "image", png0.take(png0.length / 2),
      "image/png", None, None, None, None)
    assert(Multimodal.ImageIoCodec.decode(truncated, 4).isEmpty)
    assert(Multimodal.ImageIoResizer.resize(truncated, 10, 7) === truncated)
    // non-image modality delegates to the stub
    val audio = MediaAsset(98, "audio", Array[Byte](1, 2, 3),
      "application/octet-stream", None, None, Some(16000), Some(2000))
    assert(Multimodal.ImageIoCodec.decode(audio, 4).map(_.toSeq)
      === Multimodal.StubCodec.decode(audio, 4).map(_.toSeq))
  }

  test("multimodal: real resize preserves solid colors at the new dims") {
    val (w, h, png) = Multimodal.fixturePng(5) // solid rgb(185, 39, 159)
    val a = MediaAsset(5, "image", png, "image/png",
      Some(w), Some(h), None, None)
    val r = Multimodal.ImageIoResizer.resize(a, 10, 7)
    assert(r.width.contains(10) && r.height.contains(7))
    val f = Multimodal.ImageIoCodec.decode(r, 4)
    assert(f.head.toSeq === Seq(10f, 7f, 3f, 185f, 39f, 159f))
    // undecodable bytes pass through the resizer untouched
    val junk = MediaAsset(99, "image", "junk".getBytes("UTF-8"),
      "image/png", None, None, None, None)
    assert(Multimodal.ImageIoResizer.resize(junk, 10, 7) === junk)
  }

  test("dHash: decoded fixture hashes equal the analytic formula; brightness-invariant") {
    // recompute the expected parts from the generator formula
    def expected(i: Long): Array[Long] = {
      val parts = new Array[Long](4)
      for (y <- 0 until 8; x <- 0 until 8) {
        val pos = y * 8 + x
        var bit = ((3 * x + 5 * y + 7 * (i % 6)) % 8) < 4
        if (i >= 18 && pos == i % 64) bit = !bit
        if (bit) parts(pos / 16) |= 1L << (pos % 16)
      }
      parts
    }
    for (i <- Seq(0L, 5L, 7L, 18L, 23L)) {
      val got = Multimodal.dHashParts(Multimodal.fixtureDHashPng(i))
      assert(got.isDefined && got.get.toSeq === expected(i).toSeq,
        s"asset $i")
    }
    // same group, different base brightness → identical hash
    assert(Multimodal.dHashParts(Multimodal.fixtureDHashPng(1L)).get
      .toSeq ===
      Multimodal.dHashParts(Multimodal.fixtureDHashPng(7L)).get.toSeq)
    // undecodable bytes drop, never throw
    assert(Multimodal.dHashParts("junk".getBytes("UTF-8")).isEmpty)
  }

  test("dHash pairs: banding finds every pair the exact scan finds at Hamming <= 3") {
    val sigs = Multimodal.dHashTable(spark, 24)
    val banded = Multimodal.dHashPairs(sigs, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // exact all-pairs reference computed driver-side on 24 assets
    val hashes = (0L until 24L).map(i =>
      i -> Multimodal.dHashParts(Multimodal.fixtureDHashPng(i)).get)
    val exact = (for {
      (a, pa) <- hashes; (b, pb) <- hashes if a < b
      ham = pa.zip(pb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) }.sum
      if ham <= 3
    } yield (a, b, ham)).toSet
    assert(banded === exact)
    assert(exact.nonEmpty && exact.exists(_._3 == 1)) // flipped members found
    // the guard: banding is only complete to Hamming 3
    intercept[IllegalArgumentException] {
      Multimodal.dHashPairs(sigs, maxHamming = 4)
    }
  }

  test("exact-substring scrub: duplicated 5-token spans removed, by hand") {
    val df = Seq(
      (0L, "one two three four five six"),
      (1L, "zero one two three four five end"),
      (2L, "alpha beta gamma"),
      (3L, "a b a b a b a b"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.exactSubstringScrub(df, "text", "doc_id", n = 5)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r === Seq(
      // "one two three four five" appears in docs 0 and 1 → dup span
      (0L, 6L, 5L, "six"),
      (1L, 7L, 5L, "zero end"),
      // too short for any 5-gram → untouched
      (2L, 3L, 0L, "alpha beta gamma"),
      // within-doc repeats: every 5-gram occurs twice → fully scrubbed
      (3L, 8L, 8L, "")))
    // partition invariance
    val wide = TextAnalysis.exactSubstringScrub(df.repartition(7), "text",
      "doc_id", n = 5).orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(wide === r)
  }

  test("bigram LM score: corpus-trained transition means, by hand") {
    val df = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "z"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(df, "text", "doc_id")
      .orderBy($"doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // corpus: c(a b)=3, c(b a)=1, c(b c)=1; c(a .)=3, c(b .)=2
    // doc 0: grams a b ×2 (p=1.0), b a ×1 (p=0.5) → (2+0.5)/3 = 0.833
    // doc 1: a b (1.0), b c (0.5) → 0.75
    // doc 2: single token → no bigram → absent
    assert(r === Seq((0L, 3L, 0.833), (1L, 2L, 0.75)))
    // partition-order invariance: exact decimal sums, not double sums
    val wide = TextAnalysis.bigramLmScore(df.repartition(7), "text",
      "doc_id").orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(wide === r)
  }

  test("bigram LM model split: self-scoring matches, unseen grams score 0") {
    val corpus = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramModel(corpus, "text")
    // trained probs: c(a b)=2, c(b a)=1; c(a .)=2, c(b .)=1 → both 1.0
    val m = model.as[(String, java.math.BigDecimal)].collect().toMap
    assert(m.keySet === Set("a b", "b a"))
    assert(m.values.forall(_.doubleValue === 1.0))
    // scoring the corpus against its own model == the one-shot form
    val self = TextAnalysis.scoreWithBigramModel(corpus, model,
      "text", "doc_id").as[(Long, Long, Double)].collect().toSeq
    val oneShot = TextAnalysis.bigramLmScore(corpus, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(self === oneShot)
    // new docs: unseen transitions drag the mean down, fully-unseen = 0
    val fresh = Seq((1L, "a b x"), (2L, "x y")).toDF("doc_id", "text")
    val scored = TextAnalysis.scoreWithBigramModel(fresh, model,
      "text", "doc_id").orderBy($"doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(scored === Seq((1L, 2L, 0.5), (2L, 1L, 0.0)))
  }

  test("multimodal: real javax.sound WAV decode recovers known windows") {
    // asset 7: channels = 1+(7%2) = 2, seconds = 1+(7%3) = 2
    // window amps: k=0 → (217%200-100)*100 = -8300; k=1 → (234%200-100)*100 = -6600
    val (ch7, sec7, wav7) = Multimodal.fixtureWav(7)
    assert((ch7, sec7) === (2, 2))
    val a7 = MediaAsset(7, "audio", wav7, "audio/wav",
      None, None, Some(8000), Some(2000L))
    val f7 = Multimodal.WavCodec.decode(a7, 4)
    assert(f7.map(_.toSeq) === Seq(
      Seq(8000f, 2f, 16000f, -8300f), Seq(8000f, 2f, 16000f, -6600f)))
    // asset 0: mono, 1 s, amp = (0%200-100)*100 = -10000
    val (_, _, wav0) = Multimodal.fixtureWav(0)
    val f0 = Multimodal.WavCodec.decode(
      MediaAsset(0, "audio", wav0, "audio/wav",
        None, None, Some(8000), Some(1000L)), 4)
    assert(f0.map(_.toSeq) === Seq(Seq(8000f, 1f, 8000f, -10000f)))
    // maxFrames caps the window count (asset 2: 3 s → 2 frames)
    val (_, sec2, wav2) = Multimodal.fixtureWav(2)
    assert(sec2 === 3)
    assert(Multimodal.WavCodec.decode(
      MediaAsset(2, "audio", wav2, "audio/wav",
        None, None, Some(8000), Some(3000L)), 2).size === 2)
    // undecodable bytes emit no frame (drop, don't poison)
    val junk = MediaAsset(99, "audio", "not a wav".getBytes("UTF-8"),
      "audio/wav", None, None, None, None)
    assert(Multimodal.WavCodec.decode(junk, 4).isEmpty)
    // image modality delegates to the real image codec
    val (w5, h5, png5) = Multimodal.fixturePng(5)
    val img = MediaAsset(5, "image", png5, "image/png",
      Some(w5), Some(h5), None, None)
    assert(Multimodal.WavCodec.decode(img, 4).map(_.toSeq)
      === Multimodal.ImageIoCodec.decode(img, 4).map(_.toSeq))
  }

  test("multimodal: real animated-GIF frame decode recovers known frames") {
    // asset 7: w=16+(7%4)*4=28, h=12+(7%3)*4=16, frames=1+(7%4)=4
    val (w7, h7, n7, gif7) = Multimodal.fixtureGif(7)
    assert((w7, h7, n7) === (28, 16, 4))
    val a7 = MediaAsset(7, "video", gif7, "image/gif",
      Some(w7), Some(h7), None, Some(400L))
    val f7 = Multimodal.GifCodec.decode(a7, 4)
    assert(f7.size === 4)
    // frame k solid rgb((203+11k)%256, (371+7k)%256, (497+13k)%256)
    (0 until 4).foreach { k =>
      assert(f7(k).toSeq === Seq(28f, 16f, 4f,
        ((203 + 11 * k) % 256).toFloat, ((371 + 7 * k) % 256).toFloat,
        ((497 + 13 * k) % 256).toFloat))
    }
    // even frame sampling under a tighter budget: 4 frames, budget 2
    // → indices 0 and 2
    val f2 = Multimodal.GifCodec.decode(a7, 2)
    assert(f2.map(_.toSeq) === Seq(f7(0).toSeq, f7(2).toSeq))
    // undecodable bytes emit no frame (drop, don't poison)
    val junk = MediaAsset(99, "video", "not a gif".getBytes("UTF-8"),
      "image/gif", None, None, None, None)
    assert(Multimodal.GifCodec.decode(junk, 4).isEmpty)
    // audio modality delegates through to the real WAV codec
    val (_, _, wav0) = Multimodal.fixtureWav(0)
    val audio = MediaAsset(0, "audio", wav0, "audio/wav",
      None, None, Some(8000), Some(1000L))
    assert(Multimodal.GifCodec.decode(audio, 4).map(_.toSeq)
      === Multimodal.WavCodec.decode(audio, 4).map(_.toSeq))
  }

  test("cross-doc dup n-grams: duplicated docs score 1.0, unique 0.0") {
    val r = TextAnalysis.crossDocDupStats(docs, "text", "doc_id", n = 3)
      .select($"doc_id", $"dup_frac").as[(Long, Double)].collect().toMap
    // docs 0, 1 and 4 share an identical token stream → every 3-gram
    // appears in >=2 distinct docs
    assert(r(0L) === 1.0 && r(1L) === 1.0 && r(4L) === 1.0)
    // doc 3 shares no 3-gram with anything
    assert(r(3L) === 0.0)
    // doc 2 differs only in its final token: 9 of its 10 3-grams are
    // shared with docs 0/1/4
    assert(r(2L) === 0.9)
  }

  test("semantic dedup: within-cluster near-dups marked, keepers null") {
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.99f, 0.01f)),
      (12L, Array(0.6f, 0.8f)), (20L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1.0f, 0.0f)), (200L, Array(0.0f, 1.0f)))
      .toDF("cent_id", "cent_vec")
    val r = Similarity.semanticDedup(vecs, "embedding", "vec_id",
      cents, tau = 0.95)
      .as[(Long, Long, Option[Long])].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(10L) === (100L, None)) // cluster keeper
    assert(r(11L) === (100L, Some(10L))) // near-dup of 10 in-cluster
    assert(r(12L) === (200L, None)) // same cluster as 20 but cos 0.8 < τ
    assert(r(20L) === (200L, None))
  }

  test("semantic dedup at rest: dedup from the written IVF layout equals in-memory") {
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.99f, 0.01f)),
      (12L, Array(0.6f, 0.8f)), (20L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1.0f, 0.0f)), (200L, Array(0.0f, 1.0f)))
      .toDF("cent_id", "cent_vec")
    val inMem = Similarity.semanticDedup(vecs, "embedding", "vec_id",
      cents, tau = 0.95)
      .as[(Long, Long, Option[Long])].collect().toSet
    val dir = tempDir("semdedup_at_rest").toString + "/ivf"
    PartitionedAnn.writeIvfPartitioned(vecs, "embedding", "vec_id",
      cents, dir)
    val atRest = Similarity.semanticDedupAssigned(
      spark.read.parquet(dir), "vec_id", tau = 0.95)
      .select($"vec_id", $"cent_id".cast("long"), $"dup_of")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(atRest === inMem)
  }

  test("pii: counts find each class, versions and bare digits do not match") {
    val rows = Seq(
      (0L, "mail a@b.co and c.d+x@e.org now"),
      (1L, "srv 192.168.0.1 up, release v1.2.3 done"),
      (2L, "call +1-555-123-4567 or 1-555-1234"))
      .toDF("id", "text")
    val r = rows.select($"id",
      TextAnalysis.piiCount($"text", TextAnalysis.piiEmailPattern),
      TextAnalysis.piiCount($"text", TextAnalysis.piiIpv4Pattern),
      TextAnalysis.piiCount($"text", TextAnalysis.piiPhonePattern))
      .as[(Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    assert(r(0L) === (2L, 0L, 0L))
    assert(r(1L) === (0L, 1L, 0L)) // v1.2.3 is not an IPv4
    assert(r(2L) === (0L, 0L, 1L)) // un-prefixed number not matched
  }

  test("int8 ANN: quantized ranking tracks float ranking closely") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val exact = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"rank", $"c_id", $"cos")
      .as[(Long, Int, Long, Double)].collect()
    val i8 = Similarity.int8TopK(q, c, "embedding", "vec_id", 5)
      .select($"q_id", $"rank", $"c_id", $"icos")
      .as[(Long, Int, Long, Double)].collect()
    // top-1 recall: int8 must preserve at least 8/10 exact top-1s
    val ex1 = exact.filter(_._2 == 1).map(x => x._1 -> x._3).toMap
    val i81 = i8.filter(_._2 == 1).map(x => x._1 -> x._3).toMap
    assert(ex1.keys.count(k => i81(k) == ex1(k)) >= 8)
    // per-pair cosine error bounded by dim-64 quantization noise
    val exCos = exact.map(x => (x._1, x._3) -> x._4).toMap
    val errs = i8.flatMap(x =>
      exCos.get((x._1, x._3)).map(cos => math.abs(cos - x._4)))
    assert(errs.nonEmpty && errs.max < 0.02)
  }

  test("PQ ADC: codes valid; reported cosine is exact vs reconstruction") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val c = e.filter($"vec_id" >= 10 && $"vec_id" < 210)
    val cb = c.filter($"vec_id" % 20 === 0)
    val cw = Similarity.pqCodewords(cb, "embedding", "vec_id",
      numSub = 8, subDim = 8)
    val codes = Similarity
      .pqEncode(c, "embedding", "vec_id", cw, numSub = 8, subDim = 8)
      .select($"c_id", $"m", $"code_id")
      .as[(Long, Int, Long)].collect()
    // every corpus vector carries exactly one code per subspace, and
    // every code names a codebook member
    val cbIds = cb.select($"vec_id").as[Long].collect().toSet
    val byVec = codes.groupBy(_._1)
    assert(byVec.size === c.count())
    byVec.values.foreach { cs =>
      assert(cs.map(_._2).sorted.toSeq === (0 until 8))
      assert(cs.forall(x => cbIds(x._3)))
    }
    // ADC's cosine must be EXACTLY cos(query, reconstructed-vector):
    // the asymmetric trick changes which vector is scored, never how
    val vecs = e.filter($"vec_id" < 210)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val reconOf = byVec.map { case (cid, cs) =>
      cid -> cs.sortBy(_._2).flatMap { case (_, m, code) =>
        vecs(code).slice(m * 8, m * 8 + 8).map(_.toDouble)
      }
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val topk = Similarity.pqTopKAdc(q,
      Similarity.pqEncode(c, "embedding", "vec_id", cw, 8, 8), cw,
      "embedding", "vec_id", k = 3, subDim = 8)
      .select($"q_id", $"rank", $"c_id", $"cos")
      .as[(Long, Int, Long, Double)].collect()
    assert(topk.length === 5 * 3)
    topk.foreach { case (qid, _, cid, reported) =>
      val expect = cos(vecs(qid).map(_.toDouble), reconOf(cid))
      // reported is rounded to 3 decimals; allow only that rounding
      assert(math.abs(reported - expect) <= 5e-4 + 1e-9,
        s"q=$qid c=$cid reported=$reported exact=$expect")
    }
    // ranks are dense and cosine-descending per query
    topk.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to 3))
      assert(sorted.map(_._4).toSeq ===
        sorted.map(_._4).sortBy(-(_: Double)).toSeq)
    }
  }

  test("sharding: manifest round-trips; fingerprint pins content drift") {
    val docs = (0L until 20L).map(i => (i, s"doc number $i text"))
      .toDF("doc_id", "text")
    val out = tempDir("shards").toString
    Sharding.writeSharded(docs, "doc_id", out, nShards = 4)
    val m = Sharding.manifest(spark, out, "doc_id", "text").collect()
    assert(m.length === 4)
    assert(m.map(_.getLong(1)).sum === 20L)  // every doc in some shard
    // one character of one document changed → exactly that doc's
    // shard reports a different manifest row
    val docs2 = docs.withColumn("text",
      when($"doc_id" === 7L, lit("drifted")).otherwise($"text"))
    val out2 = tempDir("shards2").toString
    Sharding.writeSharded(docs2, "doc_id", out2, nShards = 4)
    val m2 = Sharding.manifest(spark, out2, "doc_id", "text").collect()
    val diff = m.zip(m2).filter { case (a, b) => a.toString != b.toString }
    assert(diff.length === 1 && diff.head._1.getInt(0) === 3) // 7 mod 4
  }

  test("span corruption: matches an independent imperative replica") {
    val docs = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (7L, "one two three"),
      (11L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.spanCorruption(docs, "text", "doc_id")
      .as[(Long, String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // imperative reference implementation of the same contract
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def replica(id: Long, text: String) = {
      val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      val masked = words.indices.map(i =>
        "012".contains(md5hex(s"$id:$i").charAt(0)))
      val inp = new StringBuilder; val tgt = new StringBuilder
      var k = -1; var spans = 0
      for (i <- words.indices) {
        val start = masked(i) && (i == 0 || !masked(i - 1))
        if (start) { k += 1; spans += 1 }
        def app(sb: StringBuilder, t: String): Unit = {
          if (sb.nonEmpty) sb.append(' '); sb.append(t)
        }
        if (!masked(i)) app(inp, words(i))
        else if (start) app(inp, s"<X$k>")
        if (start) app(tgt, s"<X$k>")
        if (masked(i)) app(tgt, words(i))
      }
      (inp.toString, tgt.toString, spans.toLong,
        masked.count(identity).toLong)
    }
    for ((id, text) <- Seq((3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (7L, "one two three"), (11L, "solo"))) {
      assert(got(id) === replica(id, text), s"doc $id")
    }
    // the corruption is genuinely exercised: some doc has a masked span
    assert(got.values.exists(_._3 > 0))
  }

  test("CSV round trip: quotes, commas and backslashes survive exactly") {
    val docs = Seq(
      (0L, "plain text"),
      (1L, "comma, inside"),
      (2L, "a \"quoted\" phrase"),
      (3L, "trailing backslash \\"),
      (4L, "mixed, \"quote\", and \\ slash")).toDF("doc_id", "text")
    val out = tempDir("csvrt").toString
    Csv.write(docs, out)
    val back = Csv.read(spark, out, docs.schema, failFast = true)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // nested schemas are refused, not silently mangled
    val nested = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    val e = intercept[IllegalArgumentException](
      Csv.write(nested, out))
    assert(e.getMessage.contains("flat schema"))
  }

  test("incremental shards: base∪delta manifest == rebuild; replay-idempotent") {
    val docs = (0L until 30L).map(i => (i, s"shard doc $i body"))
      .toDF("doc_id", "text")
    val root = tempDir("shinc").toString
    Sharding.writeSharded(docs.filter($"doc_id" < 10), "doc_id",
      s"$root/base", nShards = 4)
    Sharding.appendBatch(docs.filter($"doc_id" >= 10 && $"doc_id" < 20),
      1L, root, "doc_id", nShards = 4)
    Sharding.appendBatch(docs.filter($"doc_id" >= 20), 2L, root,
      "doc_id", nShards = 4)
    val inc = Sharding.manifestIncremental(spark, root, "doc_id", "text")
      .collect().map(_.toString).toSeq
    val full = tempDir("shfull").toString
    Sharding.writeSharded(docs, "doc_id", full, nShards = 4)
    val rebuilt = Sharding.manifest(spark, full, "doc_id", "text")
      .collect().map(_.toString).toSeq
    assert(inc === rebuilt)
    // crash-replay batch 2: the overwrite lands on its own batch dir
    // only — the live manifest must not change
    Sharding.appendBatch(docs.filter($"doc_id" >= 20), 2L, root,
      "doc_id", nShards = 4)
    val replayed = Sharding.manifestIncremental(spark, root, "doc_id",
      "text").collect().map(_.toString).toSeq
    assert(replayed === rebuilt)
  }

  test("layout guards: CMS parameter drift and shard-count drift fail pointedly") {
    val docs = Seq((0L, "alpha beta gamma")).toDF("doc_id", "text")
    val cmsRoot = tempDir("cmsg").toString
    graft.streaming.CmsStream.appendBatch(docs, 0L, cmsRoot, "text",
      n = 2, depth = 3, width = 1024)
    val e1 = intercept[IllegalArgumentException](
      graft.streaming.CmsStream.appendBatch(docs, 1L, cmsRoot, "text",
        n = 2, depth = 3, width = 512))
    assert(e1.getMessage.contains("sketch-parameter drift"))
    val e2 = intercept[IllegalArgumentException](
      graft.streaming.CmsStream.cells(spark, cmsRoot, n = 3))
    assert(e2.getMessage.contains("sketch-parameter drift"))
    // out-of-range cells are rejected even without the params file
    val bad = Seq((5, 0, 1L)).toDF("i", "b", "cnt")
    val e3 = intercept[IllegalArgumentException](
      TextAnalysis.heavyHittersFromCells(docs, "text", bad,
        n = 2, phiDenom = 10L, depth = 3, width = 1024).collect())
    assert(e3.getMessage.contains("not mergeable"))
    val shRoot = tempDir("shg").toString
    Sharding.writeShardedBase(docs, "doc_id", shRoot, nShards = 4)
    // base-only layout: the incremental manifest degrades to base
    val baseOnly = Sharding.manifestIncremental(spark, shRoot,
      "doc_id", "text").collect()
    assert(baseOnly.length === 1)
    // the base write stamped params, so even the FIRST append at a
    // different shard count fails pointedly — previously the first
    // append stamped its own nShards and two shardings mixed silently
    val e5 = intercept[IllegalArgumentException](
      Sharding.appendBatch(docs, 1L, shRoot, "doc_id", nShards = 8))
    assert(e5.getMessage.contains("shard-count drift"))
    Sharding.appendBatch(docs, 1L, shRoot, "doc_id", nShards = 4)
    val e4 = intercept[IllegalArgumentException](
      Sharding.appendBatch(docs, 2L, shRoot, "doc_id", nShards = 8))
    assert(e4.getMessage.contains("shard-count drift"))
  }

  test("BPE: hand-computed merges; greedy run merge; training-order apply") {
    // the classic Sennrich fixture: low×3, lower×1, lowest×1
    val docs = Seq((0L, "low low low"), (1L, "lower"), (2L, "lowest"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, "text", rounds = 4)
      .orderBy($"round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    // r1: (l,o) and (o,w) tie at 5 → lexicographic smallest (l,o)
    // r4: three pairs tie at 1 → (lowe,r) is the smallest (a,b)
    assert(m === Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "e", "lowe", 2L),
      (4, "lowe", "r", "lower", 1L)))
    val seg = TextAnalysis.bpeSegment(docs, "text",
      m.map(x => (x._2, x._3)))
      .as[(String, String, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(seg("low") === (("low", 1L)))
    assert(seg("lower") === (("lower", 1L)))
    assert(seg("lowest") === (("lowe s t", 3L)))
    // adjacent repeats of the merged pair must BOTH merge — the
    // doubled-delimiter encoding's whole point ([a,b,a,b] → [ab,ab])
    val ab = Seq((0L, "abab")).toDF("doc_id", "text")
    val m1 = TextAnalysis.bpeMerges(ab, "text", rounds = 1)
      .as[(Int, String, String, String, Long)].collect()
    assert(m1.toSeq === Seq((1, "a", "b", "ab", 2L)))
    val segAb = TextAnalysis.bpeSegment(ab, "text", Seq(("a", "b")))
      .as[(String, String, Long)].collect()
    assert(segAb.toSeq === Seq(("abab", "ab ab", 2L)))
    // the production forms replay the same fixture bit-for-bit
    val mF = TextAnalysis.bpeMergesFast(docs, "text", rounds = 4)
      .orderBy($"round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(mF === m)
    val segF = TextAnalysis.bpeSegmentFast(docs, "text",
      m.map(x => (x._2, x._3)))
      .as[(String, String, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(segF("lowest") === (("lowe s t", 3L)))
    val segAbF = TextAnalysis.bpeSegmentFast(ab, "text", Seq(("a", "b")))
      .as[(String, String, Long)].collect()
    assert(segAbF.toSeq === Seq(("abab", "ab ab", 2L)))
  }

  test("BPE at scale: delta trainer and greedy segmenter equal the chain forms") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    // trainer equivalence at the gate's round count: identical rows
    val slow = TextAnalysis.bpeMerges(docs, "text", rounds = 8)
      .orderBy($"round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val fast8 = TextAnalysis.bpeMergesFast(docs, "text", rounds = 8)
      .orderBy($"round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(fast8 === slow)
    // a PRODUCTION-SIZED merge list — far past where the replace
    // chain could train. The driver corpus is templated (31 distinct
    // words, exhausting at 89 merges), so build a deterministic
    // 1500-word vocabulary with a seeded generator; the property is
    // about the ALGORITHMS, not the data: the greedy segmenter must
    // equal the chain replay on every word, because min-rank-present
    // order IS training order for any trained list (a merged symbol
    // is only ever created by its own earlier merge)
    val rng = new scala.util.Random(42)
    val synth = (0 until 1500).map { i =>
      val len = 4 + rng.nextInt(9)
      val w = (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar)
        .mkString
      (i.toLong, (w + " ") * (1 + rng.nextInt(5)))
    }.toDF("doc_id", "text")
    val big = TextAnalysis.bpeMergesFast(synth, "text", rounds = 400)
      .orderBy($"round")
      .select($"lhs", $"rhs")
      .as[(String, String)].collect().toSeq
    assert(big.length === 400)
    // the Spark replace chain only survives ~100 nested calls (the
    // Column→Expression conversion StackOverflows past that — the
    // very ceiling the greedy form removes), so compare against it
    // at a feasible depth…
    val chain = TextAnalysis.bpeSegment(synth, "text", big.take(100))
      .as[(String, String, Long)].collect().toSeq
    val greedy100 = TextAnalysis.bpeSegmentFast(synth, "text",
      big.take(100))
      .as[(String, String, Long)].collect().toSeq
    assert(greedy100 === chain)
    // …and at the full 400 against a driver-local literal replay of
    // the merges in training order (exact chain semantics, no
    // expression tree): both must segment every word identically
    def replayRef(word: String, ms: Seq[(String, String)]): Seq[String] = {
      var syms = TextAnalysis.toSymbols(word).toVector
      ms.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val greedy400 = TextAnalysis.bpeSegmentFast(synth, "text", big)
      .as[(String, String, Long)].collect().toSeq
    greedy400.foreach { case (w, pieces, n) =>
      val ref = replayRef(w, big)
      assert(pieces === ref.mkString(" ") && n === ref.length.toLong,
        s"greedy segmentation diverged from training-order replay on '$w'")
    }
    // minCount prunes the singleton word tail before the driver
    // collect (the standard trainer knob): training still proceeds
    // and every winner's count clears the floor
    val pruned = TextAnalysis.bpeMergesFast(docs, "text", rounds = 3,
      minCount = 2L)
      .orderBy($"round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(pruned.length === 3 && pruned.forall(_._5 >= 2L))
  }

  test("property: greedy BPE segmentation equals training-order replay on random trained lists") {
    // The equivalence claim behind bpeSegmentFast, checked over many
    // RANDOM corpora on a 3-letter alphabet (maximal merge collisions
    // and adjacent-repeat runs — the adversarial regime for the
    // non-overlapping left-to-right scan). The trainer here is an
    // independent driver-local reimplementation: pair counts over the
    // word list, winner by (count desc, lexicographic), merge
    // everywhere — any TRAINED list has the each-symbol-created-by-
    // its-own-earlier-merge property the equivalence proof needs.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import scala.collection.mutable
    def trainRef(words: Seq[String], rounds: Int): Seq[(String, String)] = {
      var ws = words.map(w => TextAnalysis.toSymbols(w).toVector)
      val out = mutable.ArrayBuffer.empty[(String, String)]
      var go = true
      while (go && out.length < rounds) {
        val counts = mutable.Map.empty[(String, String), Int]
        ws.foreach(s => (0 until s.length - 1).foreach { i =>
          val p = (s(i), s(i + 1))
          counts(p) = counts.getOrElse(p, 0) + 1
        })
        if (counts.isEmpty) go = false
        else {
          val (a, b) = counts.toSeq.maxBy {
            case ((x, y), c) => (c, x, y)
          }(Ordering.Tuple3(Ordering.Int,
            Ordering.String.reverse, Ordering.String.reverse))._1
          out += ((a, b))
          ws = ws.map { s =>
            val nb = Vector.newBuilder[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
                nb += a + b; j += 2
              } else { nb += s(j); j += 1 }
            }
            nb.result()
          }
        }
      }
      out.toSeq
    }
    def replayRef(word: String, ms: Seq[(String, String)]): Seq[String] = {
      var syms = TextAnalysis.toSymbols(word).toVector
      ms.foreach { case (a, b) =>
        val nb = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            nb += a + b; j += 2
          } else { nb += syms(j); j += 1 }
        }
        syms = nb.result()
      }
      syms
    }
    val genWord = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val genCorpus = Gen.choose(5, 40)
      .flatMap(n => Gen.listOfN(n, genWord))
    val prop = Prop.forAll(genCorpus) { words =>
      val merges = trainRef(words, 30)
      val ranks: Map[(String, String), Int] =
        merges.zipWithIndex.toMap
      words.distinct.forall { w =>
        TextAnalysis.greedySegment(TextAnalysis.toSymbols(w), ranks)
          .toSeq == replayRef(w, merges)
      }
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("CMS heavy hitters: lossless under forced sketch collisions") {
    // 40 copies of one bigram + 10 singletons; N=50 occurrences
    val docs = (Seq.fill(40)("alpha beta") ++
      (0 until 10).map(i => s"tok$i uniq$i"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // width=2/depth=2 forces heavy collisions: the sketch OVERcounts
    // wildly, but can never UNDERcount — the exact verify must still
    // produce exactly the true over-threshold set
    val got = TextAnalysis.heavyHitters(docs, "text", n = 2,
      phiDenom = 10L, depth = 2, width = 2)
      .as[(String, Long)].collect()
    assert(got.toSeq === Seq(("alpha beta", 40L))) // ceil(50/10)=5
    // permissive threshold: every bigram qualifies — the sketch path
    // must reproduce the full exact-count relation
    val all = TextAnalysis.heavyHitters(docs, "text", n = 2,
      phiDenom = 50L, depth = 2, width = 2)
      .as[(String, Long)].collect()
    assert(all.length === 11 && all.head === (("alpha beta", 40L)))
    assert(all.forall { case (g, c) => c == (if (g == "alpha beta") 40 else 1) })
  }

  test("PSI drift: identical slices score ~0, a shifted slice flags") {
    // identical distributions in both slices → every term ~0
    val same = (0 until 200).map(i =>
      (i.toLong, (((i / 2) % 10) * 100 + 50).toLong, i % 2 == 0))
      .toDF("doc_id", "n_chars", "is_base")
    val flat = TextAnalysis.distributionDrift(same, "n_chars",
      $"is_base", bucketWidth = 100L, nBuckets = 10)
      .as[(Int, Long, Long, Double)].collect()
    assert(flat.length === 10)
    assert(flat.map(x => math.abs(x._4)).sum < 1e-6)
    // baseline in buckets 0-4, new slice in 5-9 → strong drift, and
    // the Laplace smoothing keeps one-sided buckets finite
    val shifted = (0 until 200).map { i =>
      val base = i % 2 == 0
      val v = if (base) (i % 5) * 100 + 50 else (i % 5) * 100 + 550
      (i.toLong, v.toLong, base)
    }.toDF("doc_id", "n_chars", "is_base")
    val drift = TextAnalysis.distributionDrift(shifted, "n_chars",
      $"is_base", bucketWidth = 100L, nBuckets = 10)
      .as[(Int, Long, Long, Double)].collect()
    assert(drift.forall(x => !x._4.isNaN && !x._4.isInfinite))
    assert(drift.map(_._4).sum > 1.0) // classic PSI alarm territory
    // the report's shape is the monitor's contract: a bucket empty in
    // BOTH slices still emits its (nonzero, Laplace-smoothed) term,
    // and negative values clamp into bucket 0 rather than minting a
    // phantom negative bucket
    val sparse = Seq((0L, -50L, true), (1L, 10L, true), (2L, 950L, false))
      .toDF("doc_id", "n_chars", "is_base")
    val rep = TextAnalysis.distributionDrift(sparse, "n_chars",
      $"is_base", bucketWidth = 100L, nBuckets = 10)
      .as[(Int, Long, Long, Double)].collect()
    assert(rep.map(_._1).toSeq === (0 until 10))
    assert(rep.head._2 === 2L && rep.head._3 === 0L) // -50 → bucket 0
    assert(rep.last._3 === 1L)
    // middle buckets: empty in both slices, but with unequal slice
    // totals the smoothed fractions differ — the term must be emitted
    // (dropping it under-reports the summed PSI)
    assert(rep(5)._2 === 0L && rep(5)._3 === 0L && rep(5)._4 != 0.0)
  }

  test("embedding drift: identical slices cos 1, opposed slices cos -1") {
    // two copies of one vector split across slices → centroids equal
    val v = Array.fill(8)(0.5f)
    val same = Seq((0L, v), (1L, v), (2L, v), (3L, v))
      .toDF("vec_id", "embedding")
    val r1 = TextAnalysis.embeddingDrift(same, "embedding",
        $"vec_id" % 2 === 0)
      .as[(Long, Long, Double)].collect().head
    assert(r1 === ((2L, 2L, 1.0)))
    // opposed centroids → cosine exactly -1
    val neg = v.map(-_)
    val flip = Seq((0L, v), (1L, neg)).toDF("vec_id", "embedding")
    val r2 = TextAnalysis.embeddingDrift(flip, "embedding",
        $"vec_id" % 2 === 0)
      .as[(Long, Long, Double)].collect().head
    assert(r2 === ((1L, 1L, -1.0)))
  }

  test("binary ANN: hamming equals the sign-disagreement count") {
    // q: dims 0..63 positive; c0 flips dims 0..9; c1 flips 0..31
    val qv = Array.fill(64)(1.0f)
    val c0 = qv.clone(); (0 until 10).foreach(i => c0(i) = -1.0f)
    val c1 = qv.clone(); (0 until 32).foreach(i => c1(i) = -1.0f)
    val q = Seq((0L, qv)).toDF("vec_id", "embedding")
    val c = Seq((10L, c0), (11L, c1)).toDF("vec_id", "embedding")
    val got = Similarity.binaryTopK(q, c, "embedding", "vec_id",
      k = 2, dim = 64)
      .select($"rank", $"c_id", $"hamming")
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === Seq((1, 10L, 10L), (2, 11L, 32L)))
    val e = intercept[IllegalArgumentException](
      Similarity.binaryTopK(q, c, "embedding", "vec_id", 2, dim = 48))
    assert(e.getMessage.contains("multiple of 32"))
    // the at-rest WRITER validates dim too — a dim=48 writer would
    // silently pack one word and drop 16 dimensions from the codes,
    // surfacing only as a confusing probe-time mismatch
    val e2 = intercept[IllegalArgumentException](
      PartitionedAnn.writeBinaryPartitioned(c, "embedding", "vec_id",
        "/tmp/graft-bin-dim-guard", dim = 48))
    assert(e2.getMessage.contains("multiple of 32"))
  }

  test("MRL eval: full-width truncation recalls everything") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val r = Similarity.truncationRecall(q, c, "embedding", "vec_id",
      k = 5, dims = Seq(16, 64))
      .as[(Int, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // dim=64 IS the full search — identical ranking, recall exactly 1
    assert(r(64) === ((50L, 50L, 1.0)))
    // a real truncation loses something on this corpus but stays sane
    val (h16, t16, rec16) = r(16)
    assert(t16 === 50L && h16 < 50L && rec16 < 1.0 && rec16 >= 0.0)
  }

  test("PQ refine: full-depth refine reproduces brute force exactly") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10 && $"vec_id" < 210)
    val cb = c.filter($"vec_id" % 20 === 0)
    val n = c.count().toInt
    val brute = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5)
    // refine depth = |corpus| ⇒ the coarse stage keeps everything and
    // the exact re-rank IS brute force, bit for bit
    val full = Similarity.pqTopKRefined(q, c, "embedding", "vec_id",
      k = 5, refine = n, codebook = cb, numSub = 8, subDim = 8)
    assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty)
    // shallow refine: every reported cos is the EXACT cosine for that
    // (q, c) pair — the ADC estimate never leaks into the output
    val shallow = Similarity.pqTopKRefined(q, c, "embedding", "vec_id",
      k = 5, refine = 20, codebook = cb, numSub = 8, subDim = 8)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
    val bruteAll = Similarity.bruteForceTopK(q, c, "embedding", "vec_id", n)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    assert(shallow.length === 50)
    shallow.foreach { case (qid, cid, cos) =>
      assert(cos === bruteAll((qid, cid)), s"q=$qid c=$cid")
    }
  }

  test("hard negatives: the positive never appears, BM25 order holds") {
    val corpus = Seq(
      (0L, "spark join join window"),
      (1L, "spark"),
      (2L, "spark scan fast"),
      (3L, "the quick fox")).toDF("doc_id", "text")
    val qs = Seq((0L, "spark join", 0L)).toDF("q_id", "q_text", "pos_id")
    val got = Retrieval.hardNegatives(corpus, "text", "doc_id",
      qs, "q_id", "q_text", "pos_id", k = 10, nNeg = 3)
      .select($"q_id", $"pos_id", $"neg_id", $"neg_rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    // doc0 is the positive (and the top hit) — excluded; docs 1 and 2
    // both match "spark" and follow in BM25 order
    assert(got.map(_._3).toSet.intersect(Set(0L)).isEmpty)
    assert(got.map(x => (x._3, x._4)).sortBy(_._2) ===
      got.map(x => (x._3, x._4)).sortBy(_._2).sortBy(_._2))
    assert(got.length === 2 && got.forall(_._2 == 0L))
    assert(got.map(_._4).sorted === Seq(1, 2))
  }

  test("BM25: hand-computed fixture scores; duplicate query terms count once") {
    val corpus = Seq(
      (0L, "spark join join window"),
      (1L, "spark"),
      (2L, "table scan fast fast fast"),
      (3L, "the quick fox")).toDF("doc_id", "text")
    // "join" twice in the query: distinct-term semantics → counts once
    val qs = Seq((0L, "spark join join")).toDF("q_id", "q_text")
    val got = Retrieval.bm25TopK(corpus, "text", "doc_id",
      qs, "q_id", "q_text", k = 10)
      .select($"doc_id", $"rank", $"score")
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    // replicate the scoring by hand: N=4, dl=[4,1,5,3], avgdl=13/4
    val n = 4.0; val avgdl = 13.0 / 4.0
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(df: Double, tf: Double, dl: Double) =
      idf(df) * tf * (1.2 + 1.0) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    val exp0 = w(2, 1, 4) + w(1, 2, 4) // doc0: spark tf=1, join tf=2
    val exp1 = w(2, 1, 1)              // doc1: spark tf=1
    // only the two matching docs appear, ranked doc0 first
    assert(got.map(x => (x._1, x._2)).toSeq === Seq((0L, 1), (1L, 2)))
    assert(math.abs(got(0)._3 - exp0) <= 5e-4 + 1e-9, s"${got(0)._3} vs $exp0")
    assert(math.abs(got(1)._3 - exp1) <= 5e-4 + 1e-9, s"${got(1)._3} vs $exp1")
  }

  test("RRF fusion: overlapping docs sum both lists, singles keep one term") {
    val a = Seq((0L, 1, 10L), (0L, 2, 11L)).toDF("q_id", "rank", "doc_id")
    val b = Seq((0L, 1, 11L), (0L, 2, 12L)).toDF("q_id", "rank", "doc_id")
    val r = Retrieval.rrfFuse(a, b, kk = 60, k = 10)
      .select($"rank", $"doc_id", $"rrf")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    // doc 11 is in both lists (ranks 2 and 1) → 1/62 + 1/61 wins;
    // then doc 10 (1/61 alone), then doc 12 (1/62 alone)
    assert(r.map(x => (x._1, x._2)).toSeq === Seq((1, 11L), (2, 10L), (3, 12L)))
    assert(math.abs(r(0)._3 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    assert(math.abs(r(1)._3 - 1.0 / 61) < 1e-6)
    assert(math.abs(r(2)._3 - 1.0 / 62) < 1e-6)
  }

  test("DSIR store: apply == inline retrain; crashed retrain fails loudly") {
    val d = Seq(
      (0L, "a b a b", "en"),
      (1L, "c d c d", "zh"),
      (2L, "a b c d", "en")).toDF("doc_id", "text", "lang")
    val dir = tempDir("dsirstore").toString
    Sampling.writeDsirModel(d, "text", $"lang" === "en", n = 2, dir)
    // root sentinel present (round-18: ensureLayout-guarded callers
    // check it; a store without it silently retrains per call)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val fromStore = Sampling.dsirWeightsFromStore(d, "text", "doc_id", dir)
      .select($"doc_id", $"n_grams", $"dsir_weight")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val inline = Sampling.dsirWeights(d, "text", "doc_id",
      $"lang" === "en", n = 2)
      .select($"doc_id", $"n_grams", $"dsir_weight")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(fromStore === inline)
    // the crash window: a retrain that died between the model write
    // and the params write must leave a LOUD missing-params store
    // (params deleted first / written last), never a fresh model
    // beside stale params scoring a silent join miss
    graft.streaming.IvfStream.rmRec(new java.io.File(dir, "params"))
    intercept[Exception] {
      Sampling.dsirWeightsFromStore(d, "text", "doc_id", dir).collect()
    }
  }

  test("DSIR weights: target-only grams score ~ratio, foreign grams zero") {
    val d = Seq(
      (0L, "a b a b", "en"),
      (1L, "c d c d", "zh")).toDF("doc_id", "text", "lang")
    val r = Sampling.dsirWeights(d, "text", "doc_id",
      $"lang" === "en", n = 2)
      .select($"doc_id", $"n_grams", $"dsir_weight")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // doc0's grams: "a b"×2 (p_t=2/3, p_r=2/6 → ratio 2), "b a"×1
    // (p_t=1/3, p_r=1/6 → ratio 2) → weight 2.0; doc1's grams never
    // appear in the target model → ratio 0 everywhere → weight 0
    assert(r.map(x => (x._1, x._2)).toSeq === Seq((0L, 3L), (1L, 3L)))
    assert(math.abs(r(0)._3 - 2.0) <= 1e-3, r(0).toString)
    assert(r(1)._3 === 0.0, r(1).toString)
    // regression pin for the zero-ROUNDED p_r guard: past ~2×10^9
    // total occurrences a rare gram's p9_r rounds to exactly 0, and
    // without the `when` guard the ratio goes Infinity (p9_t > 0) or
    // NaN (p9_t null), poisoning the weight. Drive the extracted
    // ratio expression on literal model rows, 0-p9_r included.
    import org.apache.spark.sql.types.DecimalType
    val modelRows = Seq(
      (Some(BigDecimal("0.5")), BigDecimal("0.25")), // ordinary: 2.0
      (Some(BigDecimal("0.5")), BigDecimal("0")),    // rounded-out p_r
      (None, BigDecimal("0")))                       // unseen + rounded-out
      .toDF("p9_t", "p9_r")
      .select($"p9_t".cast(DecimalType(18, 9)).as("p9_t"),
        $"p9_r".cast(DecimalType(18, 9)).as("p9_r"))
    val ratios = modelRows
      .select(Sampling.importanceRatio9.cast("double").as("r"))
      .as[Double].collect().toSeq
    assert(ratios === Seq(2.0, 0.0, 0.0),
      s"importanceRatio9 guard regressed: $ratios")
    assert(ratios.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("corpus profile: percentiles interpolate linearly") {
    val d = Seq((0L, "a", "s"), (1L, "a b", "s"), (2L, "a b c", "s"),
      (3L, "a b c d", "s")).toDF("doc_id", "text", "source")
    val r = TextAnalysis.corpusProfile(d, "text", "source")
      .select($"n_docs", $"n_tokens", $"p50_tokens", $"max_tokens")
      .as[(Long, Long, Double, Long)].collect()
    // lengths 1,2,3,4 → p50 = (2+3)/2 = 2.5 (linear interpolation)
    assert(r.toSeq === Seq((4L, 10L, 2.5, 4L)))
  }

  test("corpus profile: integer-exact percentiles across group sizes (tie sweep)") {
    // Sweep every group size 1..60 — covering every (n−1)·p mod 100
    // residue class the gate percentiles produce, the exact spots
    // where a double-lerp oracle could disagree by one ulp (the
    // round-10 driver flake). The reference below is computed in pure
    // BigInt arithmetic: agreement proves the engine value ·100 is an
    // integer and equals a·100 + ((n−1)·pnum mod 100)·(b−a).
    val rows = for {
      n <- 1 to 60
      i <- 0 until n
    } yield {
      val toks = (i * 37) % (n + 13) + 1 // varied, collision-rich
      (n.toLong * 1000 + i, Seq.fill(toks)("w").mkString(" "), f"g$n%02d")
    }
    val d = rows.toDF("doc_id", "text", "source")
    val got = TextAnalysis.corpusProfile(d, "text", "source")
      .select($"source", $"p50_tokens", $"p90_tokens", $"p99_tokens")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def ref(counts: Seq[Long], pnum: Int): Double = {
      val s = counts.sorted
      val h = BigInt(s.length - 1) * pnum
      val lo = (h / 100).toInt
      val fr = (h % 100).toLong
      val a = s(lo)
      val b = s(math.min(lo + 1, s.length - 1))
      val v100 = a * 100 + fr * (b - a)
      assert(v100 % 1 == 0) // integral by construction
      v100.toDouble / 100.0
    }
    for (n <- 1 to 60) {
      val counts = (0 until n).map(i => ((i * 37) % (n + 13) + 1).toLong)
      val (p50, p90, p99) = got(f"g$n%02d")
      assert(p50 === ref(counts, 50), s"p50 n=$n")
      assert(p90 === ref(counts, 90), s"p90 n=$n")
      assert(p99 === ref(counts, 99), s"p99 n=$n")
    }
  }

  test("PageRank: hub outranks leaves, mass conserved on dangling-free graphs") {
    // star: 0-1, 0-2 — symmetrized, no dangling nodes, so total mass
    // stays exactly 1 every iteration
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("key_a", "key_b")
    val r = GraphRank.pageRank(pairs, "key_a", "key_b", iters = 5)
      .select($"id", $"pr").as[(Long, Double)].collect().toMap
    assert(r.keySet === Set(0L, 1L, 2L))
    assert(r(1L) === r(2L))
    assert(r(0L) > r(1L))
    assert(math.abs(r.values.sum - 1.0) < 1e-4, r.toString)
    // two disconnected pairs: perfect symmetry → uniform 1/4
    val sq = Seq((0L, 1L), (2L, 3L)).toDF("key_a", "key_b")
    val u = GraphRank.pageRank(sq, "key_a", "key_b", iters = 3)
      .select($"pr").as[Double].collect()
    assert(u.forall(x => math.abs(x - 0.25) < 1e-9), u.toSeq.toString)
  }

  test("kNN confusion: majority wins; ties fall to best rank then label") {
    val topk = Seq(
      // q0: labels B,B,A,A,A → A by count
      (0L, 1, 10L), (0L, 2, 11L), (0L, 3, 12L), (0L, 4, 13L), (0L, 5, 14L),
      // q1: 2×A vs 2×B, B holds rank 1 → B by best rank
      (1L, 1, 15L), (1L, 2, 12L), (1L, 3, 13L), (1L, 4, 16L))
      .toDF("q_id", "rank", "c_id")
    val clabels = Seq((10L, "B"), (11L, "B"), (12L, "A"), (13L, "A"),
      (14L, "A"), (15L, "B"), (16L, "B")).toDF("vec_id", "label")
    val qlabels = Seq((0L, "A"), (1L, "A")).toDF("vec_id", "label")
    val r = Similarity.knnConfusion(topk, qlabels, clabels,
      "label", "vec_id")
      .select($"true_label", $"pred_label", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(r === Set(("A", "A", 1L), ("A", "B", 1L)))
  }

  test("weak labels: LF thresholds, conflict flag, majority sign") {
    val a = (1 to 70).map(i => if (i % 5 == 0) "the" else s"w$i")
      .mkString(" ") // 70 tokens, 14 stops (ratio 0.2), no repetition
    val b = "x y z w v" // short, zero stopwords, but gram-clean
    val c = ("the " * 2) + (1 to 28).map(i => s"u$i").mkString(" ")
    val d = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val r = TextAnalysis.weakLabels(d, "text", "doc_id")
      .select($"doc_id", $"lf_len", $"lf_stop", $"lf_rep", $"n_voting",
        $"conflict", $"weak_label")
      .as[(Long, Int, Int, Int, Int, Boolean, String)]
      .collect().sortBy(_._1)
    assert(r(0) === ((0L, 1, 1, 1, 3, false, "keep")))
    // b: −1 len, −1 stop, +1 rep → drop, and the mix IS a conflict
    assert(r(1) === ((1L, -1, -1, 1, 3, true, "drop")))
    // c: 30 tokens (abstain), 2 stops of 30 (abstain), clean grams
    assert(r(2) === ((2L, 0, 0, 1, 1, false, "keep")))
  }

  test("curriculum stages: quartile thresholds, ties land low, monotone") {
    // lengths 1..8 → quartile thresholds 2.75 / 4.5 / 6.25
    val d = (1 to 8).map(i => (i.toLong, ("w " * i).trim))
      .toDF("doc_id", "text")
    val r = Sampling.curriculumStages(d, "text", "doc_id", nStages = 4)
      .select($"doc_id", $"n_tokens", $"stage")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(r.map(_._3).toSeq === Seq(1, 1, 2, 2, 3, 3, 4, 4))
    // stage is monotone in length
    assert(r.sortBy(_._2).map(_._3).toSeq === r.map(_._3).toSeq.sorted)
  }

  test("PageRank GraphX twin converges to the relational fixed point") {
    // run both long enough that initialization residue dies
    // (0.85^50 ≈ 3e-4); GraphX's float combine order costs a few ulps,
    // the convention rescale the rest — 1e-3 agreement proves it's
    // the same computation
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 0L))
      .toDF("key_a", "key_b")
    val rel = GraphRank.pageRank(pairs, "key_a", "key_b", iters = 50)
      .select($"id", $"pr").as[(Long, Double)].collect().toMap
    val gx = GraphRank.pageRankGraphX(pairs, "key_a", "key_b", iters = 50)
      .select($"id", $"pr_graphx").as[(Long, Double)].collect().toMap
    assert(rel.keySet === gx.keySet)
    rel.foreach { case (id, pr) =>
      assert(math.abs(pr - gx(id)) < 1e-3, s"id=$id rel=$pr gx=${gx(id)}")
    }
  }

  test("contrastive triplets: margin holds, picks come from the anchor's cluster") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val cents = e.filter($"vec_id" % 50 === 0 && $"vec_id" < 1000)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    val t = Similarity.contrastiveTriplets(
      e.filter($"vec_id" < 100), e, "embedding", "vec_id", cents,
      posT = 0.2, negT = 0.1)
      .select($"anchor", $"positive", $"pos_cos", $"negative", $"neg_cos")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(t.nonEmpty)
    val assign = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
      .select($"c_id", $"cent_id").as[(Long, Long)].collect().toMap
    t.foreach { case (a, p, pc, n, nc) =>
      // the contrastive margin (raw filters; display is r3-rounded)
      assert(pc >= 0.2 - 5e-4 && nc < 0.1 + 5e-4, (a, pc, nc))
      assert(p != n && p != a && n != a)
      // both picks share the anchor's cluster
      assert(assign(p) === assign(a) && assign(n) === assign(a))
    }
  }

  test("length buckets bound lengths within 2x; batches respect size") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val r = Sampling.lengthBucketBatches(d, "text", "doc_id", 8)
      .select($"n_tokens", $"bucket", $"batch_idx")
      .as[(Long, Long, Long)].collect()
    r.foreach { case (nt, b, _) =>
      val n = math.max(nt, 1L)
      // bucket = bit length: 2^(b-1) <= n < 2^b
      assert(n >= (1L << (b - 1).toInt) && n < (1L << b.toInt), (nt, b))
    }
    // no (bucket, batch) holds more than batchSize docs
    val over = r.groupBy(x => (x._2, x._3)).values.count(_.length > 8)
    assert(over === 0)
  }

  test("budget select: within budget, hash-deterministic, monotonic") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val small = Sampling.budgetSelect(d, "text", "doc_id", "source", 300L)
    val big = Sampling.budgetSelect(d, "text", "doc_id", "source", 900L)
    // every kept row's running total respects the budget
    assert(small.filter($"cum_tokens" > 300).count() === 0)
    // monotonic: the bigger budget keeps a superset of the smaller
    val smallIds = small.select($"doc_id").as[Long].collect().toSet
    val bigIds = big.select($"doc_id").as[Long].collect().toSet
    assert(smallIds.subsetOf(bigIds))
    assert(bigIds.size > smallIds.size)
  }

  test("jsonl round-trip is row-for-row lossless on the documents table") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val out = tempDir("jsonl").toString
    Jsonl.write(d, s"$out/docs")
    val back = Jsonl.read(spark, s"$out/docs", d.schema, failFast = true)
    assert(back.exceptAll(d).count() === 0)
    assert(d.exceptAll(back).count() === 0)
  }

  test("jsonl: malformed lines null under PERMISSIVE, throw under FAILFAST") {
    val out = tempDir("jsonlbad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/part-0.json"),
      """{"doc_id": 1, "text": "ok"}
        |not json at all
        |{"doc_id": 2, "text": "also ok"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // PERMISSIVE default: the bad line becomes an all-null row, good
    // rows survive — the salvage behavior a large crawl load needs
    val permissive = Jsonl.read(spark, out, schema).collect()
    assert(permissive.length === 3)
    assert(permissive.count(r => !r.isNullAt(0)) === 2)
    // FAILFAST: strict loads refuse the file
    intercept[org.apache.spark.SparkException] {
      Jsonl.read(spark, out, schema, failFast = true).collect()
    }
  }

  test("bloom-prefiltered decontamination equals the exact path") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val exact = Dedup.contaminationHits(d, "text", "doc_id",
      isTest = col("source") === "src0", n = 5)
    val bloom = Dedup.contaminationBloomHits(d, "text", "doc_id",
      isTest = col("source") === "src0", n = 5)
    assert(exact.exceptAll(bloom).count() === 0)
    assert(bloom.exceptAll(exact).count() === 0)
    // a deliberately tiny sketch (high fpp) must still be lossless —
    // false positives die in the exact verify
    val tiny = Dedup.contaminationBloomHits(d, "text", "doc_id",
      isTest = col("source") === "src0", n = 5,
      expectedItems = 10L, numBits = 80L)
    assert(exact.exceptAll(tiny).count() === 0)
    assert(tiny.exceptAll(exact).count() === 0)
  }

  test("temperature weights: flatten shares, sum to one, keep order") {
    val corpus = (0 until 90).map(i => (i.toLong, "w " * 50, "big")) ++
      (0 until 10).map(i => (100L + i, "w " * 50, "small"))
    val r = Sampling.temperatureWeights(
      corpus.toDF("doc_id", "text", "lang"), "text", "lang")
      .select($"lang", $"share", $"weight")
      .as[(String, Double, Double)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    assert(r("big")._1 === 0.9 && r("small")._1 === 0.1)
    // temperature flattens: small group's weight exceeds its share,
    // big group's shrinks, order is preserved
    assert(r("small")._2 > 0.1 && r("big")._2 < 0.9)
    assert(r("big")._2 > r("small")._2)
    assert(math.abs(r("big")._2 + r("small")._2 - 1.0) < 0.002)
  }

  test("filter e2e: per-group funnel attribution is exhaustive") {
    val f = graft.queries.PipelineQueries.ppFilterE2e(
      spark, sf("sf0.001"))
    val bad = f.filter($"drop_quality" + $"drop_repetition" +
      $"drop_neardup" + $"n_kept" =!= $"n_in").count()
    assert(bad === 0)
    // the pipeline must actually keep something and drop something
    val tot = f.agg(sum($"n_in"), sum($"n_kept"))
      .as[(Long, Long)].head()
    assert(tot._2 > 0 && tot._2 < tot._1)
  }

  test("pii: redaction replaces every class with its placeholder") {
    val red = Seq("write a@b.co from 10.0.0.7 or call +1-555-0042 twice: a@b.co")
      .toDF("text")
      .select(TextAnalysis.redactPii($"text")).as[String].head()
    assert(red ===
      "write <EMAIL> from <IP> or call <PHONE> twice: <EMAIL>")
  }

  // random corpora for the sampler properties: (doc_id, text of n
  // whitespace tokens, group) — n spans empty through a few hundred so
  // bucket boundaries (powers of two) and budget edges both get hit
  private def genCorpus = {
    import org.scalacheck.Gen
    Gen.listOfN(40, Gen.zip(Gen.choose(0, 300), Gen.choose(0, 2)))
      .map(_.zipWithIndex.map { case ((n, g), i) =>
        (i.toLong, Seq.fill(n)("tok").mkString(" "), s"g$g")
      })
  }

  // random word corpora over a small vocabulary — small enough that
  // bigram collisions (the interesting LM/scrub cases) actually occur
  private def genWordCorpus = {
    import org.scalacheck.Gen
    Gen.listOfN(12, Gen.listOf(Gen.oneOf("a", "b", "c", "d")))
      .map(_.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "))
      })
  }

  test("property: bigram model is a probability distribution per first word") {
    import org.scalacheck.{Prop, Test => SCTest}
    val prop = Prop.forAll(genWordCorpus) { rows =>
      val df = rows.toDF("doc_id", "text")
      val m = TextAnalysis.bigramModel(df, "text")
        .as[(String, java.math.BigDecimal)].collect()
      // per first word, transition probs sum to 1 within the 9-decimal
      // per-gram rounding (≤ vocab · 5e-10 drift), and each p ∈ (0, 1]
      val byW1 = m.groupBy(_._1.split(" ")(0))
      byW1.forall { case (_, grams) =>
        val s = grams.map(_._2.doubleValue).sum
        math.abs(s - 1.0) <= grams.length * 5e-10 &&
          grams.forall(g => g._2.doubleValue > 0 && g._2.doubleValue <= 1.0)
      }
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, prop).passed)
  }

  test("property: LM scores are means in [0,1]; scrub counts conserve") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(genWordCorpus, Gen.choose(2, 4)) { (rows, n) =>
      val df = rows.toDF("doc_id", "text")
      val scored = TextAnalysis.bigramLmScore(df, "text", "doc_id")
        .as[(Long, Long, Double)].collect()
      val toks = rows.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).length }.toMap
      // self-scoring: every doc with >=2 tokens appears, scores in
      // [0,1], and n_bigrams == token count - 1
      val lmOk = scored.forall { case (id, nb, s) =>
        nb == toks(id) - 1 && s >= 0.0 && s <= 1.0
      } && scored.map(_._1).toSet === toks.filter(_._2 >= 2).keySet
      val scrub = TextAnalysis.exactSubstringScrub(df, "text",
        "doc_id", n = n).as[(Long, Long, Long, String)].collect()
      // every tokenized doc appears; removal is bounded; the rebuilt
      // text holds exactly the surviving token count
      val scrubOk = scrub.forall { case (id, nt, nr, clean) =>
        val kept = clean.split("\\s+").filter(_.nonEmpty).length
        nt == toks(id) && nr >= 0 && nr <= nt && kept == nt - nr
      } && scrub.map(_._1).toSet === toks.filter(_._2 >= 1).keySet
      lmOk && scrubOk
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, prop).passed)
  }

  test("property: length buckets bound same-bucket length ratio by 2x") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(genCorpus, Gen.choose(1, 7)) { (rows, bs) =>
      val out = Sampling.lengthBucketBatches(
        rows.toDF("doc_id", "text", "g"), "text", "doc_id", bs)
        .select($"bucket", $"n_tokens", $"batch_idx")
        .as[(Long, Long, Long)].collect()
      // bucket = bit length of max(n_tokens, 1): members sit in
      // [2^(b-1), 2^b), so max < 2 * min — the padding-waste bound
      val twoX = out.groupBy(_._1).forall { case (_, xs) =>
        val lens = xs.map(x => math.max(x._2, 1L))
        lens.max < 2 * lens.min
      }
      // no batch overfills, and batch indices are dense from 0
      val batches = out.groupBy(x => (x._1, x._3)).forall(_._2.size <= bs)
      val dense = out.groupBy(_._1).forall { case (_, xs) =>
        val idx = xs.map(_._3).distinct.sorted
        idx === (0L until idx.size).toSeq
      }
      twoX && batches && dense
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, prop).passed)
  }

  test("property: budget selection is monotone in the budget") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(genCorpus, Gen.choose(0L, 400L),
        Gen.choose(0L, 400L)) { (rows, b1, extra) =>
      val df = rows.toDF("doc_id", "text", "g")
      def kept(b: Long) = Sampling.budgetSelect(df, "text", "doc_id",
        "g", b).select($"doc_id").as[Long].collect().toSet
      val small = kept(b1)
      val large = kept(b1 + extra)
      // a bigger budget keeps a superset (hash order is fixed), and
      // every group stays within its budget
      val within = Sampling.budgetSelect(df, "text", "doc_id", "g",
          b1 + extra)
        .groupBy($"g").agg(max($"cum_tokens").as("m"))
        .as[(String, Long)].collect().forall(_._2 <= b1 + extra)
      small.subsetOf(large) && within
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, prop).passed)
  }

  test("property: packing spans are partition-invariant") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(genCorpus, Gen.choose(1, 64),
        Gen.oneOf(1, 3, 7)) { (rows, chunk, parts) =>
      val df = rows.toDF("doc_id", "text", "g")
      def spans(d: org.apache.spark.sql.DataFrame) =
        Sampling.concatChunkSpans(d, "text", "doc_id", "g", chunk)
          .select($"doc_id", $"n_tokens", $"start_token",
            $"first_chunk", $"last_chunk")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      spans(df) === spans(df.repartition(parts))
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, prop).passed)
  }

  // random unit-ish float corpora for the layout-writer properties:
  // (vec_id, dim-8 vector), sizes spanning fewer-buckets-than-rows
  // through more-buckets-than-rows so both occupancy regimes get hit
  private val layoutDim = 8
  private def genVecCorpus = {
    import org.scalacheck.Gen
    Gen.choose(15, 45).flatMap(n =>
      Gen.listOfN(n * layoutDim, Gen.choose(-1.0, 1.0)).map(_
        .grouped(layoutDim).toList.zipWithIndex.map { case (v, i) =>
          (i.toLong, v.map(_.toFloat).toArray)
        }))
  }

  /** Census of a partitioned layout dir: (partition dirs, data files). */
  private def layoutCensus(dir: String, prefix: String): (Int, Int) = {
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix + "="))
    (dirs.length,
      dirs.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum)
  }

  /** Re-write a layout with the PRE-FIX (unkeyed) writer shape — a
    * wide repartition before partitionBy, so every task contributes a
    * file to every bucket dir it touches (the many-small-files layout
    * the keyed writer replaced). Same rows, different file layout. */
  private def sprayLayout(src: String, dst: String): Unit =
    spark.read.parquet(src).repartition(5)
      .write.mode("overwrite")
      .partitionBy(new java.io.File(src).listFiles()
        .filter(_.isDirectory).head.getName.split("=")(0))
      .parquet(dst)

  test("property: keyed SRP layout writes one file per bucket dir; probes are file-layout-independent") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(genVecCorpus, Gen.choose(1, 4)) { (rows, planes) =>
      val dir = tempDir("graft-srp-prop")
      val keyed = s"$dir/keyed"
      val sprayed = s"$dir/sprayed"
      val df = rows.toDF("vec_id", "embedding")
      val corpus = df.filter($"vec_id" >= 3)
      PartitionedAnn.writeSrpBucketed(corpus, "embedding", "vec_id",
        keyed, planes, layoutDim)
      val (dirs, files) = layoutCensus(keyed, "bucket")
      sprayLayout(keyed, sprayed)
      val q = df.filter($"vec_id" < 3)
      def probe(d: String) =
        PartitionedAnn.lshTopKPartitioned(spark, d, q, "embedding",
          "vec_id", 3, planes, layoutDim)
          .as[(Long, Int, Long, Double)].collect().toSet
      files == dirs &&
        spark.read.parquet(keyed).count() == corpus.count() &&
        probe(keyed) === probe(sprayed)
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    assert(SCTest.check(params, prop).passed)
  }

  test("property: keyed IVF layout writes one file per centroid dir; probes are file-layout-independent") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(genVecCorpus, Gen.choose(2, 5)) { (rows, nCent) =>
      val dir = tempDir("graft-ivf-prop")
      val keyed = s"$dir/keyed"
      val sprayed = s"$dir/sprayed"
      val df = rows.toDF("vec_id", "embedding")
      val corpus = df.filter($"vec_id" >= 3)
      val centroids = corpus.filter($"vec_id" < 3 + nCent)
        .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
      PartitionedAnn.writeIvfPartitioned(corpus, "embedding", "vec_id",
        centroids, keyed)
      val (dirs, files) = layoutCensus(keyed, "cent_id")
      sprayLayout(keyed, sprayed)
      val q = df.filter($"vec_id" < 3)
      def probe(d: String) =
        PartitionedAnn.ivfTopKPartitioned(spark, d, q, "embedding",
          "vec_id", 3, centroids, nprobe = 2)
          .as[(Long, Int, Long, Double)].collect().toSet
      files == dirs &&
        spark.read.parquet(keyed).count() == corpus.count() &&
        probe(keyed) === probe(sprayed)
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    assert(SCTest.check(params, prop).passed)
  }

  test("CDC chunking: chunks tile the document; boundaries resynchronize after an insertion") {
    val base = (0 until 120).map(i => s"tok${i % 37}alpha$i").mkString(" ")
    val edited = "three new words " + base
    val two = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
    val chunks = Sampling.chunkContentDefined(two, "text", "doc_id")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).map { case (k, v) => (k, v.sortBy(_._2)) }
    for ((doc, cs) <- chunks) {
      // exact tiling: chunk c+1 starts where chunk c ends; first at 0
      assert(cs.head._3 === 0L, s"doc $doc first chunk start")
      for (Array(a, b) <- cs.sliding(2).map(_.toArray))
        assert(b._3 === a._3 + a._4, s"doc $doc gap at chunk ${b._2}")
      assert(cs.map(_._2).toSeq === cs.indices.map(_.toLong),
        s"doc $doc chunk ids not dense")
    }
    val fps0 = chunks(0L).map(_._5).toSet
    val fps1 = chunks(1L).map(_._5).toSet
    // the CDC property: the unchanged tail re-produces identical
    // fingerprints once the hash window clears the 3-token insertion
    assert((fps0 & fps1).nonEmpty,
      "no shared chunk fingerprints after a front insertion — CDC " +
        "boundaries failed to resynchronize")
    // and the synchronized chunks are the HEAVY majority of the doc
    val sharedTokens = chunks(1L).filter(c => fps0.contains(c._5))
      .map(_._4).sum
    val allTokens = chunks(1L).map(_._4).sum
    assert(sharedTokens * 2 > allTokens,
      s"only $sharedTokens/$allTokens tokens in resynchronized chunks")
  }

  test("chunk store: diff batches, generation precedence, replay idempotence, id-reuse guard") {
    def txt(seed: Int) =
      (0 until 80).map(i => s"w${(i * 7 + seed) % 31}x$i").mkString(" ")
    val root = tempDir("graft-chunkstore").toString
    val snap0 = Seq((1L, txt(0)), (2L, txt(1)), (3L, txt(2)))
      .toDF("doc_id", "text")
    ChunkStore.writeBase(snap0, "text", "doc_id", root)
    // batch 0: doc 2 changed, doc 3 removed, doc 4 added
    val snap1 = Seq((1L, txt(0)), (2L, txt(9)), (4L, txt(3)))
      .toDF("doc_id", "text")
    val diff1 = Dedup.snapshotDiff(snap0, snap1, "doc_id", "text")
    ChunkStore.appendDiffBatch(diff1, snap1, 0L, root, "text", "doc_id")
    def live() = ChunkStore.liveChunks(spark, root)
      .select($"doc_id", $"chunk_id", $"start_pos", $"n_tokens",
        $"fingerprint")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val afterBatch = live()
    // incremental state equals a rebuild over the new snapshot
    val rebuilt = Sampling.chunkContentDefined(snap1, "text", "doc_id")
      .select($"doc_id", $"chunk_id", $"start_pos", $"n_tokens",
        $"fingerprint")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(afterBatch === rebuilt)
    assert(!afterBatch.exists(_._1 == 3L), "removed doc still live")
    // crash replay: overwriting the SAME batch id is idempotent
    ChunkStore.appendDiffBatch(diff1, snap1, 0L, root, "text", "doc_id")
    assert(live() === afterBatch)
    // re-add after remove: later generation wins
    val snap2 = Seq((1L, txt(0)), (2L, txt(9)), (4L, txt(3)),
      (3L, txt(12))).toDF("doc_id", "text")
    ChunkStore.appendDiffBatch(
      Dedup.snapshotDiff(snap1, snap2, "doc_id", "text"),
      snap2, 1L, root, "text", "doc_id")
    val afterReadd = live()
    assert(afterReadd.exists(_._1 == 3L), "re-added doc not live")
    assert(afterReadd === Sampling
      .chunkContentDefined(snap2, "text", "doc_id")
      .select($"doc_id", $"chunk_id", $"start_pos", $"n_tokens",
        $"fingerprint")
      .as[(Long, Long, Long, Long, String)].collect().toSet)
    // fresh-checkpoint id reuse (below max) fails pointedly
    val ex = intercept[IllegalArgumentException] {
      ChunkStore.appendDiffBatch(diff1, snap1, 0L, root, "text",
        "doc_id")
    }
    assert(ex.getMessage.contains("below the newest committed"))
    // append without a base/params is refused
    val ex2 = intercept[IllegalArgumentException] {
      ChunkStore.appendDiffBatch(diff1, snap1, 5L,
        s"$root-nobase", "text", "doc_id")
    }
    assert(ex2.getMessage.contains("params.json"))
  }

  test("chunk store compaction: fold lossless, watermark rejects folded ids, mid-swap crash recovers") {
    import java.nio.file.{Files, Path}
    def txt(seed: Int) =
      (0 until 60).map(i => s"c${(i * 5 + seed) % 23}y$i").mkString(" ")
    def snap(pairs: (Long, Int)*) =
      pairs.map { case (k, s) => (k, txt(s)) }.toDF("doc_id", "text")
    def copyRec(src: Path, dst: Path): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else { Files.createDirectories(t.getParent); Files.copy(p, t) }
      }
    }
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles()).toSeq.flatten.foreach(rm); p.delete(): Unit
    }
    def live(root: String) = ChunkStore.liveChunks(spark, root)
      .select($"doc_id", $"chunk_id", $"start_pos", $"n_tokens",
        $"fingerprint")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    def rebuild(s: org.apache.spark.sql.DataFrame) =
      Sampling.chunkContentDefined(s, "text", "doc_id")
        .select($"doc_id", $"chunk_id", $"start_pos", $"n_tokens",
          $"fingerprint")
        .as[(Long, Long, Long, Long, String)].collect().toSet
    val s0 = snap(1L -> 0, 2L -> 1)
    val s1 = snap(1L -> 0, 2L -> 2, 3L -> 3) // 2 changed, 3 added
    val s2 = snap(1L -> 4, 3L -> 3) // 1 changed, 2 removed
    def build(root: String): Unit = {
      ChunkStore.writeBase(s0, "text", "doc_id", root)
      ChunkStore.appendDiffBatch(
        Dedup.snapshotDiff(s0, s1, "doc_id", "text"), s1, 0L, root,
        "text", "doc_id")
      ChunkStore.appendDiffBatch(
        Dedup.snapshotDiff(s1, s2, "doc_id", "text"), s2, 1L, root,
        "text", "doc_id")
    }
    // (a) fold is lossless and clears the delta trees
    val rootA = tempDir("graft-cdc-cpt").toString
    build(rootA)
    val preFold = live(rootA)
    ChunkStore.compact(spark, rootA)
    assert(live(rootA) === preFold)
    assert(preFold === rebuild(s2))
    assert(!new java.io.File(s"$rootA/delta/chunks").exists())
    // (b) folded ids are rejected via the watermark...
    val ex = intercept[IllegalArgumentException] {
      ChunkStore.appendDiffBatch(
        Dedup.snapshotDiff(s1, s2, "doc_id", "text"), s2, 1L, rootA,
        "text", "doc_id")
    }
    assert(ex.getMessage.contains("fold watermark"))
    // ...and a fresh id above the watermark still appends
    val s3 = snap(1L -> 4, 3L -> 9, 4L -> 6)
    ChunkStore.appendDiffBatch(
      Dedup.snapshotDiff(s2, s3, "doc_id", "text"), s3, 2L, rootA,
      "text", "doc_id")
    assert(live(rootA) === rebuild(s3))
    // (c) mid-swap crash: base absent, staging marked with the
    // manifest, manifested deltas still on disk. Reconstruct it from
    // a twin root (deterministic writes ⇒ identical content), then
    // let the next append's recovery preamble complete the swap.
    val crash = tempDir("graft-cdc-crash").toString
    build(crash)
    val twin = tempDir("graft-cdc-twin").toString
    build(twin)
    ChunkStore.compact(spark, twin)
    copyRec(new java.io.File(s"$twin/base").toPath,
      new java.io.File(s"$crash/base_compact").toPath)
    rm(new java.io.File(s"$crash/base"))
    Files.write(
      new java.io.File(s"$crash/base_compact/_SWAP_READY").toPath,
      Seq("delta/chunks/batch=0", "delta/chunks/batch=1",
        "delta/tombstones/batch=0", "delta/tombstones/batch=1")
        .mkString("\n").getBytes("UTF-8"))
    ChunkStore.appendDiffBatch(
      Dedup.snapshotDiff(s2, s3, "doc_id", "text"), s3, 2L, crash,
      "text", "doc_id")
    assert(!new java.io.File(s"$crash/base_compact").exists(),
      "pending swap not completed by the append's recovery preamble")
    assert(!new java.io.File(s"$crash/delta/chunks/batch=0").exists(),
      "manifested delta survived recovery")
    assert(live(crash) === rebuild(s3),
      "post-crash state diverged from the rebuild")
  }

  test("property: z-order interleave/deinterleave round-trip; bucket enumeration is exact for any box") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val bits = 3; val cellBits = 5
    val cellGen = Gen.choose(0L, 31L)
    val rt = Prop.forAll(cellGen, cellGen) { (a, b) =>
      // round-trip through a one-row frame so the COLUMN interleave
      // (the shipped expression) is the thing under test
      val z = Seq((a, b)).toDF("a", "b")
        .select(ZOrder.interleave2($"a", $"b", cellBits).as("z"))
        .as[Long].head()
      ZOrder.deinterleave2(z, cellBits) == ((a, b))
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), rt).passed)
    val boxGen = for {
      l1 <- cellGen; h1 <- Gen.choose(l1, 31L)
      l2 <- cellGen; h2 <- Gen.choose(l2, 31L)
    } yield (l1, h1, l2, h2)
    val sub = 1L << (cellBits - bits)
    val bx = Prop.forAll(boxGen) { case (al, ah, bl, bh) =>
      val zbs = ZOrder.bucketsForBox(bits, cellBits, al, ah, bl, bh)
        .toSet
      // complete: every cell of the box lands in a returned bucket;
      // tight: every returned bucket overlaps the box
      def bucketOf(a: Long, b: Long): Int =
        (0 until bits).foldLeft(0L) { (acc, i) =>
          acc |
            ((((a / sub) >> i) & 1L) << (2 * i)) |
            ((((b / sub) >> i) & 1L) << (2 * i + 1))
        }.toInt
      val complete = (al to ah).forall(a =>
        (bl to bh).forall(b => zbs.contains(bucketOf(a, b))))
      val tight = zbs.forall { zb =>
        val (aTop, bTop) = ZOrder.deinterleave2(zb.toLong, bits)
        aTop * sub <= ah && aTop * sub + sub - 1 >= al &&
          bTop * sub <= bh && bTop * sub + sub - 1 >= bl
      }
      complete && tight
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), bx).passed)
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c2"), (4L, "d"))
      .toDF("doc_id", "text")
    val r = Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(r === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("dictionary tags: breadth vs mass counts; dict side broadcasts; no-match docs emit nothing") {
    val td = Seq(
      (0L, "join join merge and other words"),
      (1L, "scan scan scan"),
      (2L, "nothing matching here"))
      .toDF("doc_id", "text")
    val dict = Seq("joins" -> Seq("join", "merge", "hash"),
      "scans" -> Seq("scan", "filter"))
    val df = TextAnalysis.dictionaryTags(td, "text", "doc_id", dict)
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "dictionary side should broadcast")
    val rows = df.as[(Long, String, Long, Long)].collect().toSet
    // doc 0: joins → 2 distinct keywords, 3 occurrences
    assert(rows === Set((0L, "joins", 2L, 3L), (1L, "scans", 1L, 3L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.dictionaryTags(td, "text", "doc_id",
        Seq("empty" -> Seq()))
    }
  }

  test("tfidf keywords: rare repeated term outranks ubiquitous terms; runs on the bounded-heap operator") {
    val kd = Seq(
      (0L, "common words everywhere plus zebra zebra zebra"),
      (1L, "common words everywhere plus filler filler"),
      (2L, "common words everywhere plus other padding"))
      .toDF("doc_id", "text")
    val df = TextAnalysis.tfidfKeywords(kd, "text", "doc_id", k = 3)
    assert(df.queryExecution.executedPlan.toString
      .contains("TopKPerKey"),
      "tfidfKeywords should plan through TopKPerKeyExec")
    val rows = df.as[(Long, Int, String, Double)].collect()
    val byDoc = rows.groupBy(_._1)
    for ((_, rs) <- byDoc)
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.length).toSeq)
    assert(byDoc(0L).minBy(_._2)._3 === "zebra")
    assert(byDoc(1L).minBy(_._2)._3 === "filler")
    // ubiquitous terms carry the minimum (but positive) Lucene idf
    val zebraScore = byDoc(0L).find(_._3 == "zebra").get._4
    assert(zebraScore > 0.0)
  }

  test("triangles: known graph counts; orientation handles skew hub; dupes/self-loops ignored") {
    // K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 5
    // and a hub 6 connected to 1..5 (star adds triangles only where
    // its endpoints are themselves adjacent)
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 4L), (3L, 3L)) ++
      (1L to 5L).map(v => (6L, v)))
      .toDF("a", "b")
    val r = GraphRank.triangleStats(edges, "a", "b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val byNode = r.map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // triangles: 4 in K4; hub 6 closes one per adjacent pair among
    // 1..5 = the 6 K4 edges + (4,5) = 7; total 11
    assert(byNode(5L) === ((2L, 1L, 1.0))) // only (4,5,6)
    assert(byNode(6L) === ((5L, 7L, round6(2.0 * 7 / (5 * 4)))))
    // 1's neighborhood {2,3,4,6} is a clique → lcc 1.0
    assert(byNode(1L) === ((4L, 6L, 1.0)))
    assert(byNode(4L)._2 === 3L + 1L + 3L) // K4 + (4,5,6) + hub pairs
    assert(r.map(_._3).sum / 3 === 11L) // total triangles
  }

  test("DOULION approximate triangles: deterministic, genuinely sparsified, within tolerance of exact") {
    // round-19: the scale path for the one super-linear exact gate.
    // The estimate is hash-exact by oracle (gr_triangles_approx); the
    // STATISTICAL contract — unbiased estimator lands near the true
    // count — is pinned here against the exact count on the gated
    // co-purchase graph (measured 1.3% off at sf0.001, 1.1% at
    // sf0.01; the 10% bar is variance headroom, not slack in the
    // estimator).
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val pp = li.select($"l_orderkey", $"l_partkey").distinct()
    val pairs = pp.alias("a").join(pp.alias("b"),
      $"a.l_orderkey" === $"b.l_orderkey" &&
        $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("pa"), $"b.l_partkey".as("pb"))
    val exact = GraphRank.triangleStats(pairs, "pa", "pb")
      .agg(org.apache.spark.sql.functions.sum($"n_triangles"))
      .as[Long].collect()(0) / 3
    def run() = GraphRank.triangleCountApprox(pairs, "pa", "pb",
      keep = 128).as[(Long, Long, Long, Double)].collect()(0)
    val (nEdges, nSampled, triSampled, est) = run()
    // the sample is real: roughly half the edges kept, neither empty
    // nor the full graph
    assert(nSampled > 0 && nSampled < nEdges)
    assert(math.abs(nSampled.toDouble / nEdges - 0.5) < 0.05,
      s"p=0.5 sample kept $nSampled of $nEdges")
    // sampled-graph count scales to the estimate exactly (p³ = 1/8)
    assert(est === round6(triSampled * 8.0))
    assert(exact > 0)
    assert(math.abs(est / exact - 1.0) < 0.10,
      s"estimate $est vs exact $exact")
    // deterministic: same rows kept on every run
    assert(run() === ((nEdges, nSampled, triSampled, est)))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("naive bayes: separable classes classify correctly; OOV and priors behave") {
    val train = Seq(
      (0L, "spark shuffle executor partition stage", "infra"),
      (1L, "executor partition shuffle stage memory", "infra"),
      (2L, "pasta tomato basil olive garlic", "food"),
      (3L, "basil olive pasta garlic bread", "food"),
      (4L, "bread tomato olive pasta basil", "food"))
      .toDF("doc_id", "text", "topic")
    val model = Classify.nbModel(train, "text", "topic")
    val priors = Classify.nbPriors(train, "topic")
    // dense grid: every (class, vocab token) pair present
    assert(model.count() === 2 *
      model.select("token").distinct().count())
    val test = Seq(
      (10L, "shuffle stage partition"), // infra vocabulary
      (11L, "tomato garlic pasta"), // food vocabulary
      (12L, "quantum zebra xylophone"), // all OOV → priors decide
      (13L, "pasta shuffle")) // mixed
      .toDF("doc_id", "text")
    val r = Classify.nbApply(test, model, priors, "text", "doc_id")
      .as[(Long, String, Double)].collect()
      .map(x => x._1 -> x._2).toMap
    assert(r(10L) === "infra")
    assert(r(11L) === "food")
    // all-OOV doc still scores; food has the larger prior (3/5)
    assert(r(12L) === "food")
    assert(r.size === 4)
  }

  test("validation: rule set compiles to one scan; metrics exact") {
    import Validation._
    val rows = Seq(
      (1L, 1, Option("A"), 5.0),
      (1L, 2, Option("B"), 10.0),
      (2L, 1, None, 200.0),
      (2L, 1, Option("c"), 25.0)) // duplicate key, lowercase status
      .toDF("k", "ln", "status", "qty")
    val rep = Validation.check(rows, Seq(
      Completeness("complete_status", "status", 1.0),
      UniqueKey("key_unique", Seq("k", "ln"), 1.0),
      Conformance("range_qty", $"qty" >= 1.0 && $"qty" <= 50.0, 1.0),
      MeanBound("mean_qty_ceiling", "qty", 40.0, "<=")))
    val byRule = rep.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(4))))
      .toMap
    assert(byRule("complete_status") === ((0.75, false)))
    assert(byRule("key_unique") === ((0.75, false)))
    assert(byRule("range_qty") === ((0.75, false)))
    assert(byRule("mean_qty_ceiling") === ((60.0, false)))
    // one scan: exactly one leaf in the executed plan
    val leaves = rep.queryExecution.executedPlan.collectLeaves()
    assert(leaves.size === 1,
      s"rule set must compile to one scan, got ${leaves.size}")
  }

  test("validation: null predicate counts as non-conforming; ops guard") {
    import Validation._
    val rows = Seq(Option(5.0), None, Option(7.0)).toDF("v")
    val rep = Validation.check(rows, Seq(
      Conformance("range_v", $"v" >= 1.0, 1.0)))
    val r = rep.collect()(0)
    assert(math.abs(r.getDouble(1) - 0.666667) < 1e-9)
    intercept[IllegalArgumentException] {
      Validation.check(rows, Seq(MeanBound("bad", "v", 1.0, "==")))
    }
    intercept[IllegalArgumentException] {
      Validation.check(rows, Nil)
    }
    intercept[IllegalArgumentException] {
      Validation.check(rows, Seq(
        Completeness("dup", "v", 1.0), Completeness("dup", "v", 0.5)))
    }
    // names land verbatim in generated stack() SQL and in parquet
    // column names — lexically unsafe ones are rejected, not parsed
    for (bad <- Seq("a'b", "a`b", "a,b", "a b", ""))
      intercept[IllegalArgumentException] {
        Validation.check(rows, Seq(Completeness(bad, "v", 1.0)))
      }
  }

  test("unigram LM viterbi: lexicographic (cost, pieces, last-piece) minimum; OOV fails pointedly") {
    def model(kv: (String, Double)*) = {
      val m = new java.util.HashMap[String, java.math.BigDecimal]()
      kv.foreach { case (p, c) =>
        m.put(p, new java.math.BigDecimal(c).setScale(6,
          java.math.RoundingMode.HALF_UP)): Unit
      }
      m
    }
    def seg(w: String, m: java.util.HashMap[String, java.math.BigDecimal]) =
      TextAnalysis.viterbiSegment(w, m, maxPieceLen = 4).toSeq
    // cheaper multi-piece path beats the single piece
    val m1 = model("ab" -> 1.0, "a" -> 0.6, "b" -> 0.6, "abc" -> 2.5,
      "c" -> 1.0)
    assert(seg("ab", m1) === Seq("ab")) // 1.0 < 0.6+0.6
    assert(seg("abc", m1) === Seq("ab", "c")) // 2.0 < 2.2 < 2.5
    // equal cost → fewer pieces wins
    val m2 = model("x" -> 1.0, "y" -> 1.0, "xy" -> 2.0)
    assert(seg("xy", m2) === Seq("xy"))
    // equal (cost, pieces) → shortest LAST piece wins at the DP cell
    val m3 = model("a" -> 1.0, "b" -> 1.0, "ab" -> 1.0, "ba" -> 1.0)
    assert(seg("aba", m3) === Seq("ab", "a"))
    // a character outside the model is a loud error, not a passthrough
    val e = intercept[IllegalArgumentException](seg("az", m1))
    assert(e.getMessage.contains("outside the model"))
  }

  test("maxmatch: greedy longest-first regardless of cost; disagrees with viterbi where greedy is suboptimal; OOV loud") {
    def vocab(ps: String*) = {
      val v = new java.util.HashSet[String]()
      ps.foreach(p => v.add(p): Unit)
      v
    }
    def mm(w: String, v: java.util.HashSet[String]) =
      TextAnalysis.maxMatchSegment(w, v, maxPieceLen = 4).toSeq
    val v1 = vocab("a", "b", "aa", "ab")
    // greedy takes the longest match at each cursor...
    assert(mm("aab", v1) === Seq("aa", "b"))
    // ...even where a cheaper two-piece split exists: viterbi with
    // 'aa'/'b' expensive and 'a'/'ab' cheap picks the other split
    def model(kv: (String, Double)*) = {
      val m = new java.util.HashMap[String, java.math.BigDecimal]()
      kv.foreach { case (p, c) =>
        m.put(p, new java.math.BigDecimal(c).setScale(6,
          java.math.RoundingMode.HALF_UP)): Unit
      }
      m
    }
    assert(TextAnalysis.viterbiSegment("aab",
      model("a" -> 0.5, "b" -> 5.0, "aa" -> 5.0, "ab" -> 0.5),
      maxPieceLen = 4).toSeq === Seq("a", "ab"))
    // lossless concat + progress on char-only tails
    assert(mm("abab", v1) === Seq("ab", "ab"))
    assert(mm("ba", v1) === Seq("b", "a"))
    val e = intercept[IllegalArgumentException](mm("az", v1))
    assert(e.getMessage.contains("outside the vocabulary"))
  }

  test("unigram LM train: seeding counts, hard-EM pruning, char floor, lossless segmentation") {
    val corpus = Seq(
      (0L, "lowered lowered lowering"),
      (1L, "lowering slower slower slower"),
      (2L, "lowered glower"))
      .toDF("doc_id", "text")
    val trained = TextAnalysis.unigramTrain(corpus, "text",
      rounds = 2, maxPieceLen = 4, minCount = 2)
    val rows = trained.select($"piece", $"cnt", $"cost")
      .as[(String, Long, Double)].collect()
    val byPiece = rows.map(r => r._1 -> r._2).toMap
    // every corpus character survives (floor), every piece is a real
    // substring of some corpus word, and costs replay the quantized
    // -ln(cnt/total) from the final counts
    val words = Seq("lowered", "lowering", "slower", "glower")
    val chars = words.flatMap(_.toSeq).map(_.toString).toSet
    assert(chars.subsetOf(byPiece.keySet))
    assert(rows.forall { case (p, _, _) =>
      words.exists(_.contains(p)) })
    val total = rows.map(_._2).sum
    rows.foreach { case (_, cnt, cost) =>
      val expect = BigDecimal(math.log(total.toDouble / cnt.toDouble))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cost === expect)
    }
    // segmentation under the trained model is lossless: pieces
    // concatenate back to the word, and n_pieces matches
    val segd = TextAnalysis.unigramSegment(corpus, "text",
        TextAnalysis.unigramModel(trained), maxPieceLen = 4)
      .as[(String, String, Long)].collect()
    assert(segd.map(_._1).toSet === words.toSet)
    segd.foreach { case (w, pieces, n) =>
      assert(pieces.split(" ").mkString === w)
      assert(pieces.split(" ").length.toLong === n)
      assert(pieces.split(" ").forall(byPiece.contains))
    }
    // hard EM prunes: the candidate inventory (every substring ≤ 4
    // chars) is far larger than what survives two Viterbi rounds
    val wc = corpus.select(explode(TextAnalysis.tokens($"text"))
      .as("word")).groupBy($"word").agg(count(lit(1)).as("cnt"))
    val cand = TextAnalysis.unigramCandidates(wc, 4, 2L).count()
    assert(rows.length.toLong < cand,
      s"no pruning: ${rows.length} pieces from $cand candidates")
  }

  test("kneser-ney semantics: discount, continuation backoff, w1-unseen tier, OOV drop") {
    def d6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // train: (a b)×2, (a c), (d b) → c_first(a)=3, N1+(a•)=2,
    // c_first(d)=1, N1+(d•)=1; types=3; N1+(•b)=2, N1+(•c)=1
    val train = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"),
      (3L, "d b")).toDF("doc_id", "text")
    val (g2, lamT, contT) = TextAnalysis.ngramLmKnModel(
      TextAnalysis.ngramLmCounts(train, "text"))
    val grid = g2.select($"gram", $"ll".cast("double"))
      .as[(String, Double)].collect().toMap
    // seen: max(c−0.75,0)/c_first + λ(w1)·p_cont(w2), the exact
    // double expression the engine evaluates
    assert(grid("a b") === d6(math.log(
      (2.0 - 0.75) / 3.0 + (0.75 * (2.0 / 3.0)) * (2.0 / 3.0))))
    assert(grid("a c") === d6(math.log(
      (1.0 - 0.75) / 3.0 + (0.75 * (2.0 / 3.0)) * (1.0 / 3.0))))
    assert(grid("d b") === d6(math.log(
      (1.0 - 0.75) / 1.0 + (0.75 * (1.0 / 1.0)) * (2.0 / 3.0))))
    // scoring tiers on one doc: (d c) = unseen bigram, both words
    // known → λ(d)·p_cont(c); (c x) and (a z) OOV-drop (x, z unknown
    // as continuations); (x b) = w1 unseen → p_cont(b); (b a) drops
    // (a never appears as a continuation)
    val doc = Seq((9L, "d c x b a z")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramLmScoreKn(doc, g2, lamT, contT,
        "text", "doc_id")
      .as[(Long, Long, Double)].collect().head
    assert(out._2 === 2L, s"scored-bigram count: $out")
    val llDc = d6(math.log((0.75 * (1.0 / 1.0)) * (1.0 / 3.0)))
    val llXb = d6(math.log(2.0 / 3.0))
    val expect = d6((BigDecimal(llDc) + BigDecimal(llXb)).toDouble / 2.0)
    assert(out._3 === expect)
  }

  test("trigram kneser-ney: adjusted-count chain, all four scoring tiers, OOV drop") {
    def d6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // tri types: (a b c)×2, (a b d), (e b c), (a c d)
    // ctx "a b": c=3, N1+=2, λ3=0.75·(2/3); "e b": c=1, λ3=0.75;
    //     "a c": c=1, λ3=0.75
    // adjusted bigrams (distinct-w1 counts): (b c)=2, (b d)=1, (c d)=1
    // mid "b": n_mid=3, λ2=0.75·(2/3); "c": n_mid=1, λ2=0.75
    // types2=3; p_cont(c)=1/3 (only b c), p_cont(d)=2/3 (b d, c d)
    val train = Seq((0L, "a b c"), (1L, "a b c"), (2L, "a b d"),
      (3L, "e b c"), (4L, "a c d")).toDF("doc_id", "text")
    val chain = TextAnalysis.ngramLmKnChainModel(
      TextAnalysis.ngramLmCounts(train, "text", maxN = 3), 3)
    val grid = chain.gridTop.select($"gram", $"ll".cast("double"))
      .as[(String, Double)].collect().toMap
    val lam2b = 0.75 * (2.0 / 3.0)
    val p2bc = (2.0 - 0.75) / 3.0 + lam2b * (1.0 / 3.0)
    val p2bd = (1.0 - 0.75) / 3.0 + lam2b * (2.0 / 3.0)
    val p2cd = (1.0 - 0.75) / 1.0 + 0.75 * (2.0 / 3.0)
    assert(grid("a b c") === d6(math.log(
      (2.0 - 0.75) / 3.0 + (0.75 * (2.0 / 3.0)) * p2bc)))
    assert(grid("e b c") === d6(math.log(
      (1.0 - 0.75) / 1.0 + 0.75 * p2bc)))
    assert(grid("a c d") === d6(math.log(
      (1.0 - 0.75) / 1.0 + 0.75 * p2cd)))
    // tiers on one doc: "a c c" = seen ctx + unseen suffix →
    // λ3·(λ2(c)·p_cont(c)); "e b d" = seen ctx + seen adjusted
    // bigram → λ3·p2(b d); "d x c" = everything unseen but the
    // continuation → p_cont(c); "x c d" = unseen ctx, seen adjusted
    // bigram → p2(c d); the rest OOV-drop
    val doc = Seq((9L, "a c c e b d x c d")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramLmScoreKnChain(doc, chain,
        "text", "doc_id")
      .as[(Long, Long, Double)].collect().head
    assert(out._2 === 4L, s"scored-trigram count: $out")
    val lls = Seq(
      d6(math.log(0.75 * (0.75 * (1.0 / 3.0)))), // a c c
      d6(math.log(0.75 * p2bd)), // e b d
      d6(math.log(1.0 / 3.0)), // d x c
      d6(math.log(p2cd))) // x c d
    val expect = d6(lls.map(BigDecimal(_)).sum.toDouble / 4.0)
    assert(out._3 === expect)
  }

  test("modified kneser-ney: count-of-count discounts, guarded fallback, zero-discounted head") {
    def d6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // same corpus as the kn3 fixture: trigram counts {2:1, 1:3} →
    // n1=3, n2=1, n3=0, n4=0; Y=3/5; D1=1−2Y·(1/3)=0.6;
    // D2=2−3Y·(0/1)=2.0 (the formula path with a zero numerator);
    // D3+ falls back to 0.75 (n3=0 — the guard path)
    val train = Seq((0L, "a b c"), (1L, "a b c"), (2L, "a b d"),
      (3L, "e b c"), (4L, "a c d")).toDF("doc_id", "text")
    val grid = TextAnalysis.ngramLmMknChainModel(
        TextAnalysis.ngramLmCounts(train, "text", maxN = 3), 3)
      .gridTop.select($"gram", $"ll".cast("double"))
      .as[(String, Double)].collect().toMap
    val yv = 3.0 / (3.0 + 2.0 * 1.0)
    val d1 = 1.0 - 2.0 * yv * (1.0 / 3.0)
    val d2 = 2.0 - 3.0 * yv * (0.0 / 1.0)
    val lam2b = 0.75 * (2.0 / 3.0)
    val p2bc = (2.0 - 0.75) / 3.0 + lam2b * (1.0 / 3.0)
    val p2bd = (1.0 - 0.75) / 3.0 + lam2b * (2.0 / 3.0)
    // ctx "a b": nc1=1 (a b d), nc2=1 (a b c) →
    // λ3 = (D1·1 + D2·1 + D3·0)/3
    val lam3ab = (d1 * 1.0 + d2 * 1.0 + 0.75 * 0.0) / 3.0
    // the count-2 head trigram is discounted to ZERO seen mass
    // (D2=2.0), leaving pure interpolation — a real MKN phenomenon
    assert(grid("a b c") === d6(math.log(
      math.max(2.0 - d2, 0.0) / 3.0 + lam3ab * p2bc)))
    assert(grid("a b d") === d6(math.log(
      (1.0 - d1) / 3.0 + lam3ab * p2bd)))
    // singleton-only ctx "e b": λ3 = (D1·1)/1
    assert(grid("e b c") === d6(math.log(
      (1.0 - d1) / 1.0 + ((d1 * 1.0 + d2 * 0.0 + 0.75 * 0.0) / 1.0) *
        p2bc)))
    // NON-POSITIVE estimate clamp: n1=2, n2=1, n3=5 → Y=0.5,
    // D2 = 2−3·0.5·(5/1) = −5.5, which would ADD mass to count-2
    // grams (probabilities > 1); the second guard layer clamps it to
    // 0.75 (d1=0.5 and d3=3.0 stay on the formula path)
    val skew = ((1 to 5).flatMap(i =>
      Seq.fill(3)(s"s$i t$i u$i")) ++ Seq("p q r", "p q r",
      "j k l", "m n o")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sgrid = TextAnalysis.ngramLmMknChainModel(
        TextAnalysis.ngramLmCounts(skew, "text", maxN = 3), 3)
      .gridTop.select($"gram", $"ll".cast("double"))
      .as[(String, Double)].collect().toMap
    val sy = 2.0 / (2.0 + 2.0 * 1.0)
    val sd1 = 1.0 - 2.0 * sy * (1.0 / 2.0)
    // ctx "p q": nc2=1 → λ3 = (d1·0 + 0.75·1 + d3·0)/2 with the
    // CLAMPED d2 = 0.75; p2(q r) = (1−0.75)/1 + 0.75·(1/8)
    val sp2 = (1.0 - 0.75) / 1.0 + 0.75 * (1.0 / 8.0)
    assert(sgrid("p q r") === d6(math.log(
      math.max(2.0 - 0.75, 0.0) / 2.0 +
        ((sd1 * 0.0 + 0.75 * 1.0 +
          (3.0 - 4.0 * sy * (0.0 / 5.0)) * 0.0) / 2.0) * sp2)))
  }

  test("gopher rules: each rule fires on a crafted violation and a clean doc keeps") {
    val good = (("the data to be stored and that we have filed " +
      "with care ") * 6).trim // 60 words, clean lines, stopwords
    val docs = Seq(
      (0L, good), // keeps
      (1L, "short text only"), // f_wc (< 50 words)
      (2L, good + " " + Seq.fill(30)("a").mkString(" ")), // f_mwl low
      (3L, good + " " + Seq.fill(10)("###").mkString(" ")), // f_sym
      (4L, good + " " + Seq.fill(20)("123").mkString(" ")), // f_alpha
      (5L, (Seq.fill(60)("word").mkString(" "))), // f_stop (none)
      (6L, (1 to 10).map(i => s"- bullet $i " + good.take(40))
        .mkString("\n")), // f_bullet (every line bulleted)
      (7L, (1 to 10).map(i => s"line $i trails off...")
        .mkString("\n") + "\n" + good), // f_ellip (10/11 lines)
      (8L, (Seq.fill(9)("the same line of text here") :+ good)
        .mkString("\n"))) // f_dupline (9 dups / 10 lines)
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "text", "doc_id")
      .orderBy($"doc_id").collect()
    def flag(i: Int, name: String): Boolean =
      out(i).getAs[Boolean](name)
    assert(flag(0, "keep"), out(0).toString)
    assert(!flag(1, "f_wc") && !flag(1, "keep"))
    assert(!flag(2, "f_mwl") && !flag(2, "keep"))
    assert(!flag(3, "f_sym") && !flag(3, "keep"))
    assert(!flag(4, "f_alpha") && !flag(4, "keep"))
    assert(!flag(5, "f_stop") && !flag(5, "keep"))
    assert(!flag(6, "f_bullet") && !flag(6, "keep"))
    assert(!flag(7, "f_ellip") && !flag(7, "keep"))
    assert(!flag(8, "f_dupline") && !flag(8, "keep"))
  }

  test("c4 cleaning: line rules rewrite, page rules drop, a clean page keeps") {
    val sent = "this is a proper sentence with several words."
    val docs = Seq(
      (0L, Seq(sent, sent, sent, sent, sent).mkString("\n")), // keeps
      (1L, Seq(sent, "no terminal punctuation here", sent, sent,
        sent, sent).mkString("\n")), // line dropped, page keeps
      (2L, Seq(sent, "too few.", sent, sent, sent, sent)
        .mkString("\n")), // <3-word line dropped
      (3L, Seq(sent, "enable javascript to continue reading.", sent,
        sent, sent, sent).mkString("\n")), // javascript line dropped
      (4L, Seq(sent, sent).mkString("\n")), // <5 sentences → drop
      (5L, Seq(sent, sent, sent, sent, "lorem ipsum dolor sit amet.")
        .mkString("\n")), // lorem ipsum → drop
      (6L, Seq(sent, sent, sent, sent, "code { display: none; } ok.")
        .mkString("\n")), // brace → drop
      (7L, Seq(sent, sent, sent, sent,
        "this line has badwordplaceholder inside.").mkString("\n")))
      .toDF("doc_id", "text") // bad word → drop
    val out = TextAnalysis.c4Clean(docs, "text", "doc_id")
      .orderBy($"doc_id").collect()
    assert(out(0).getAs[Boolean]("keep"))
    assert(out(0).getAs[Long]("n_lines_kept") === 5L)
    // the three line rules each removed exactly their line
    (1 to 3).foreach { i =>
      assert(out(i).getAs[Long]("n_lines_kept") === 5L, out(i))
      assert(out(i).getAs[Boolean]("keep"), out(i))
      assert(!out(i).getAs[String]("cleaned").contains("javascript"))
    }
    (4 to 7).foreach { i =>
      assert(!out(i).getAs[Boolean]("keep"), out(i))
    }
  }

  test("trained NB language-ID beats-or-matches the fixed-marker heuristic on a labeled corpus") {
    // the driver corpus's lang label is synthetic metadata
    // (uncorrelated with its text), so the router is compared here on
    // a corpus whose text ACTUALLY encodes language — the production
    // claim is the char-trigram NB learns per-language statistics
    // from labels where the heuristic only knows 4 hand-picked
    // function-word markers
    val pools = Seq(
      "en" -> ("the quick brown fox and the dog of war went to the " +
        "market and found nothing of value"),
      "de" -> ("der hund und die katze gehen nicht in der schule " +
        "weil die sonne scheint und der wind weht"),
      "fr" -> ("le chat et la souris vont dans le jardin et la " +
        "maison est belle mais le temps passe"),
      "es" -> ("el perro y el gato de la casa van a la plaza y el " +
        "sol brilla en el cielo de la tarde"))
    val rows = for {
      (lang, sent) <- pools
      i <- 0 until 40
    } yield {
      val ws = sent.split(" ")
      val rot = ws.drop(i % ws.length) ++ ws.take(i % ws.length)
      (lang, rot.mkString(" "))
    }
    val labeled = rows.zipWithIndex
      .map { case ((lang, text), id) => (id.toLong, lang, text) }
      .toDF("doc_id", "lang", "text")
    val train = labeled.filter($"doc_id" % 4 =!= 0)
    val hold = labeled.filter($"doc_id" % 4 === 0)
    val model = Classify.nbModelFromCounts(
      Classify.charGramCounts(train, "text", "lang", n = 3))
    val priors = Classify.nbPriors(train, "lang")
    val nb = Classify.nbApplyFeatures(hold, model, priors,
        c => Classify.charGrams(c, 3), "text", "doc_id")
      .join(hold.select($"doc_id".as("key"), $"lang"), Seq("key"))
    val nbAcc = nb.filter($"label_pred" === $"lang").count().toDouble /
      nb.count()
    val h = hold.select($"lang", TextAnalysis.langId($"text").as("pred"))
    val hAcc = h.filter($"pred" === $"lang").count().toDouble / h.count()
    assert(nbAcc >= hAcc, s"nb=$nbAcc heuristic=$hAcc")
    assert(nbAcc >= 0.95, s"nb=$nbAcc")
  }

  test("capped tokenizer trainers: a cap at or above the vocabulary is the identity") {
    // the 100 TB contract: maxVocab bounds the driver-resident word /
    // candidate table deterministically ((cnt DESC, md5) cut); on a
    // corpus whose vocabulary fits under the cap the capped trainer
    // IS the uncapped trainer, bit for bit
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def merges(mv: Int) = TextAnalysis.bpeMergesFast(docs, "text",
        rounds = 8, minCount = 1L, maxVocab = mv)
      .orderBy($"round").collect().map(_.toSeq).toSeq
    assert(merges(1000000) === merges(Int.MaxValue))
    def ug(mv: Int) = TextAnalysis.unigramTrain(docs, "text",
        rounds = 2, maxPieceLen = 4, minCount = 3L, maxVocab = mv)
      .select($"piece", $"cnt", $"cost")
      .as[(String, Long, Double)].collect().toSet
    assert(ug(1000000) === ug(Int.MaxValue))
    // a TIGHT cap still trains: merges stay well-formed pairs drawn
    // from the frequency head, and every corpus word still segments
    // (single characters are never cut from the unigram inventory)
    val tight = TextAnalysis.bpeMergesFast(docs, "text", rounds = 4,
      minCount = 1L, maxVocab = 50)
    assert(tight.count() === 4L)
    val ugTight = TextAnalysis.unigramTrain(docs, "text", rounds = 1,
      maxPieceLen = 4, minCount = 3L, maxVocab = 20)
    val segTight = TextAnalysis.unigramSegment(docs, "text",
      TextAnalysis.unigramModel(ugTight), maxPieceLen = 4)
    assert(segTight.filter($"pieces".isNull).count() === 0L)
  }

  test("unigram gate guard: a corpus word beyond the oracle DP unroll fails pointedly") {
    import graft.queries.PipelineQueries
    // the DuckDB oracle's Viterbi/MaxMatch DP is unrolled to
    // ugMaxWord positions; a longer word would surface as an opaque
    // hash red — the gate-side guard names the contract instead
    val ok = Seq((0L, "twelvecharsz fits")).toDF("doc_id", "text")
    assert(PipelineQueries.ugChecked(ok).count() === 1L)
    val bad = Seq((7L, "thirteenchars is too long")).toDF("doc_id", "text")
    val e = intercept[Exception](PipelineQueries.ugChecked(bad).collect())
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("ugMaxWord"), msg)
  }

  test("gate cache crash replay: cold sentinel rebuilds multi-batch layouts from scratch") {
    import graft.queries.PipelineQueries
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // dq_incremental: three guarded batch appends under ONE sentinel.
    // A cold sentinel over a fully-populated layout (crash after the
    // last append, before the stamp) must rebuild, not replay batch 0
    // against on-disk max 2 and wedge on the fresh-id guard.
    val first = rows(PipelineQueries.dqIncremental(spark, dir))
    val dqRoot = PipelineQueries.layoutDir(dir, "lineitem",
      "dq_partials_v1")
    assert(new java.io.File(dqRoot, "_SUCCESS").delete())
    assert(rows(PipelineQueries.dqIncremental(spark, dir)) === first)
    // pp_cdc_compacted: compact stamps base/watermark.json; a crash
    // before applied/_SUCCESS must not leave the replayed
    // appendDiffBatch(0) wedged below the stale fold watermark.
    val cptFirst = rows(PipelineQueries.ppCdcCompacted(spark, dir))
    val cptRoot = PipelineQueries.layoutDir(dir, "documents",
      "cdc_cpt_w4_b64")
    assert(new java.io.File(s"$cptRoot/applied/_SUCCESS").delete())
    assert(new java.io.File(s"$cptRoot/base/watermark.json").exists(),
      "precondition: the prior compact left its fold watermark")
    assert(rows(PipelineQueries.ppCdcCompacted(spark, dir)) === cptFirst)
    // span index: same shape, marker-file sentinel
    val spanFirst =
      rows(PipelineQueries.ddExactSubstringIncremental(spark, dir))
    val spanRoot = PipelineQueries.layoutDir(dir, "documents",
      "spanidx_incr_n5_b64")
    assert(new java.io.File(spanRoot, "_BUILT").delete())
    assert(rows(PipelineQueries.ddExactSubstringIncremental(spark, dir))
      === spanFirst)
  }

  test("chunk store: writeBase over a previously-compacted root clears the stale fold watermark") {
    def txt(seed: Int) =
      (0 until 60).map(i => s"r${(i * 5 + seed) % 23}z$i").mkString(" ")
    val root = tempDir("graft-chunkstore-rebuild").toString
    val s0 = Seq((1L, txt(0)), (2L, txt(1))).toDF("doc_id", "text")
    val s1 = Seq((1L, txt(0)), (2L, txt(2))).toDF("doc_id", "text")
    ChunkStore.writeBase(s0, "text", "doc_id", root)
    ChunkStore.appendDiffBatch(
      Dedup.snapshotDiff(s0, s1, "doc_id", "text"), s1, 0L, root,
      "text", "doc_id")
    ChunkStore.compact(spark, root)
    // a rebuilt base starts a FRESH store: its first delta batch may
    // reuse id 0 without tripping the prior compact's watermark
    ChunkStore.writeBase(s0, "text", "doc_id", root)
    ChunkStore.appendDiffBatch(
      Dedup.snapshotDiff(s0, s1, "doc_id", "text"), s1, 0L, root,
      "text", "doc_id")
    val live = ChunkStore.liveChunks(spark, root)
      .select($"doc_id", $"chunk_id", $"fingerprint")
      .as[(Long, Long, String)].collect().toSet
    val rebuilt = Sampling.chunkContentDefined(s1, "text", "doc_id")
      .select($"doc_id", $"chunk_id", $"fingerprint")
      .as[(Long, Long, String)].collect().toSet
    assert(live === rebuilt)
    // a rebuild over a root with a live UNCOMPACTED delta batch must
    // not mix the fresh base with stale delta rows (ADVICE r13):
    // writeBase clears delta/ (and any crashed-compact staging) too
    ChunkStore.writeBase(s0, "text", "doc_id", root)
    val liveAfter = ChunkStore.liveChunks(spark, root)
      .select($"doc_id", $"chunk_id", $"fingerprint")
      .as[(Long, Long, String)].collect().toSet
    val baseOnly = Sampling.chunkContentDefined(s0, "text", "doc_id")
      .select($"doc_id", $"chunk_id", $"fingerprint")
      .as[(Long, Long, String)].collect().toSet
    assert(liveAfter === baseOnly)
  }

  test("normalizeText: every battery step fires; clean text is identity") {
    val d = Seq(
      (0L, "\u201Cab\u201D \u2014 it\u2019s \u2018x\u2026\u00A0y" +
        "\u2013z\u0001\u007F  a \t b \n  c \nplain"),
      (1L, "already clean single spaced\nlines kept"))
      .toDF("doc_id", "text")
    val out = d.select($"doc_id",
        TextAnalysis.normalizeText($"text").as("n"))
      .as[(Long, String)].collect().toMap
    // fold quotes/dashes/NBSP, expand ellipsis, strip C0+DEL,
    // collapse runs, absorb spaces around newlines, outer trim
    assert(out(0L) === "\"ab\" - it's 'x... y-z a b\nc\nplain")
    assert(out(1L) === "already clean single spaced\nlines kept")
    // NULL propagates (callers' COALESCE contracts unchanged)
    val n = Seq((2L, null: String)).toDF("doc_id", "text")
      .select(TextAnalysis.normalizeText($"text")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("boundary n-grams: KenLM <s>/</s> convention, empty doc scores one gram") {
    val d = Seq((0L, "a b c"), (1L, "")).toDF("doc_id", "text")
    val g3 = d.select($"doc_id",
        TextAnalysis.wordNgramsBounded($"text", 3).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    // n-1 BOS on the left, one EOS; no gram ever ENDS in <s>
    assert(g3(0L) === Seq("<s> <s> a", "<s> a b", "a b c", "b c </s>"))
    assert(g3(1L) === Seq("<s> <s> </s>"))
    assert(g3.values.flatten.forall(!_.endsWith("<s>")))
    // boundary counts differ from unpadded at every order — the
    // content-change rule that forces a separate store layout
    val cnt = TextAnalysis.ngramLmCounts(d, "text", maxN = 3,
        minN = 3, boundary = true)
      .as[(Int, String, Long)].collect().toSet
    assert(cnt.contains((3, "<s> <s> a", 1L)))
    assert(cnt.contains((3, "b c </s>", 1L)))
  }

  test("kn chain carries its training params; the store stamps from the chain") {
    val train = Seq((0L, "a b c d e a b c d e f g h i j"))
      .toDF("doc_id", "text")
    val chain = TextAnalysis.ngramLmMknChainModel(
      TextAnalysis.ngramLmCounts(train, "text", maxN = 3), 3)
    assert(chain.modifiedTop && chain.minTopCount === 1L)
    assert(chain.topRows > 0 && chain.midRows.length === 1)
    val root = tempDir("graft-knstamp").toString
    // the writer has no params arguments: what lands in the store is
    // what the chain was trained with, never a caller's claim
    TextAnalysis.writeKnChainModel(chain, root)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.readKnChainModel(spark, root, 3,
        expectModifiedTop = false, expectMinTopCount = 1L))
    assert(e.getMessage.contains("modified_top"))
    val back = TextAnalysis.readKnChainModel(spark, root, 3,
      expectModifiedTop = true, expectMinTopCount = 1L)
    assert(back.topRows === chain.topRows)
    assert(back.midRows === chain.midRows)
  }

  test("bpe store stamps max_vocab; a capped store fails an uncapped reader") {
    val d = Seq((0L, "aa ab aa ab ba")).toDF("doc_id", "text")
    val root = tempDir("graft-bpemv").toString
    TextAnalysis.writeBpeModel(d, "text", rounds = 1, minCount = 1L,
      root, maxVocab = 2)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.readBpeModel(spark, root,
        expectMaxVocab = Some(Int.MaxValue)))
    assert(e.getMessage.contains("max_vocab=2"))
    // matching expectation (or not caring) reads fine
    assert(TextAnalysis.readBpeModel(spark, root,
      expectMaxVocab = Some(2)).nonEmpty)
    assert(TextAnalysis.readBpeModel(spark, root).nonEmpty)
  }

  test("boilerplate scrub: corpus-hot lines drop everywhere, blanks survive") {
    val footer = "subscribe to our newsletter"
    val d = Seq(
      (0L, s"unique alpha\n$footer\nunique beta"),
      (1L, s"$footer\n\nunique gamma"),
      (2L, s"unique delta\n  Subscribe   to our NEWSLETTER \nend"),
      (3L, "twice one\ntwice one\nunique eps"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.boilerplateScrub(d, "text", "doc_id")
      .as[(Long, String, Long)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    // the footer appears 3× (normalized: case/whitespace fold) —
    // ALL copies delete, including the reformatted one
    assert(r(0L) === ("unique alpha\nunique beta", 1L))
    assert(r(2L) === ("unique delta\nend", 1L))
    // blank lines are structure, not boilerplate — they survive
    assert(r(1L) === ("\nunique gamma", 1L))
    // exactly at maxRepeats (2) stays: repetition must EXCEED it
    assert(r(3L) === ("twice one\ntwice one\nunique eps", 0L))
  }

  test("leakage-safe split: exact precedence, near drop, val immune") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi"
    val d = Seq(
      (10L, base),                        // val (10 % 10 == 0)
      (3L, "  " + base + "  "),           // exact leak (fingerprint)
      (4L, base.replace("upsilon phi", "upsilon psi")), // near leak
      (5L, "entirely different words about distributed query planes" +
        " and shuffle exchange topology choices in modern engines"),
      (20L, base)) // a val exact-dup of a val doc stays val
      .toDF("doc_id", "text")
    val r = Dedup.leakageSafeSplit(d, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(r(10L) === "val" && r(20L) === "val")
    // doc 3 shares every LSH band with doc 10 too — exact wins
    assert(r(3L) === "dropped_exact")
    assert(r(4L) === "dropped_near")
    assert(r(5L) === "train")
    // dropping the val docs leaves a clean train set: no surviving
    // train doc shares a fingerprint or band bucket with any val doc
    val survivors = d.join(
      Dedup.leakageSafeSplit(d, "text", "doc_id")
        .filter($"split" === "train").select($"doc_id"), Seq("doc_id"))
    val cross = Dedup.minHashCandidates(
      survivors.unionByName(d.filter($"doc_id" % 10 === 0)),
      "text", "doc_id")
      .filter(($"key_a" % 10 === 0) =!= ($"key_b" % 10 === 0))
    assert(cross.isEmpty)
  }

  test("spreadByKey: spreads few-split inputs to the core count, no-ops on many-split ones") {
    // round-20: the shared spread rule behind the LM/NB scorer
    // parallelism fix. The firing branch restores scan-task
    // parallelism; the no-op branch returns the SAME frame (reference
    // equality — zero added plan nodes), which is the 100 TB contract:
    // a properly sharded corpus (files >= cores) never pays the
    // exchange.
    val few = spark.range(1000).toDF("k").coalesce(1)
    val spread = graft.pipeline.TextAnalysis.spreadByKey(few, "k")
    assert(spread.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    val many = spark.range(1000).toDF("k")
      .repartition(spark.sparkContext.defaultParallelism + 7)
    assert(graft.pipeline.TextAnalysis.spreadByKey(many, "k") eq many)
  }
}
