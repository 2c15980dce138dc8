package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, SessionConf, Similarity, TextAnalysis => TA}

/** Dedup/similarity operator semantics on hand-built fixtures. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content with other words here"),
    (4L, "the quick brown fox jumps over the lazy dog"))   // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts with min-id representative") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dupGroup = g.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("rep_id") == 1L)
    assert(g.length == 3)
  }

  test("exact n-gram jaccard finds near-dup and exact-dup pairs") {
    val sh = Dedup.shingles(docs, "doc_id", "text", n = 3)
    val pairs = Dedup.ngramJaccardPairs(sh, 0.5, maxDf = 1000000)
      .select($"id_a", $"id_b", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toList == List((1L, 2L), (1L, 4L), (2L, 4L)))
    val exact = pairs.find(p => (p._1, p._2) == (1L, 4L)).get
    assert(exact._3 == 1.0)
  }

  test("containment is asymmetric: a doc pasted into a bigger one scores 1.0 outbound") {
    // doc 6 = doc 5 plus a long tail: every shingle of 5 appears in 6
    val d = Seq(
      (5L, "alpha beta gamma delta epsilon"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (7L, "unrelated words entirely someplace else altogether now"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(
        Dedup.shingleIndex(d, "doc_id", "text"), minNum = 1, minDen = 2)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Double]("containment"))).toList
    assert(out == List((5L, 6L, 1.0)),
      s"5->6 fully contained; 6->5 (3/18) and doc 7 below threshold: $out")
  }

  test("minhash LSH candidates cover all high-jaccard pairs here") {
    val sh = Dedup.shingles(docs, "doc_id", "text", n = 3)
    val sig = Dedup.minhashSignatures(sh, k = 32)
    val cand = Dedup.lshCandidates(sig, k = 32, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 4L)), "exact dup must collide in every band")
    assert(cand.contains((1L, 2L)), "J≈0.7 pair collides with 16 bands of 2")
    val verified = Dedup.verifyJaccard(sh, Dedup.lshCandidates(sig, 32, 2))
    assert(verified.filter($"jaccard" >= 0.99).count() == 1)
  }

  test("simhash: identical texts get identical hashes; near-dups are close") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
    // pigeonhole blocking returns exactly the naive radius result
    val blocked = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), maxHamming = 8)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      a <- sig.keys; b <- sig.keys if a < b && ham(sig(a), sig(b)) <= 8
    } yield (a, b)).toSet
    assert(blocked == naive)
  }

  test("hammingPairs at 64 bits matches the naive all-pairs filter (generalized pigeonhole)") {
    // full-width 64-bit hashes exercise the block-span arithmetic at the
    // word boundary — exactly where a degenerate/overflowing span would
    // silently funnel everything into one bucket (the round-1 simhash bug
    // class); seeded mixing keeps it deterministic
    def mix(i: Long): Long = {
      var v = i * 0x9e3779b97f4a7c15L
      v ^= v >>> 32; v *= 0xbf58476d1ce4e5b9L; v ^= v >>> 29; v
    }
    val hashes = (1L to 40L).map(i =>
      // clusters of 4 share a base hash with 0-3 bits flipped
      (i, mix(i / 4) ^ ((1L << (i % 4).toInt * 13) * (i % 4).min(1)))).toMap
    val sig = hashes.toSeq.toDF("id", "h")
    for (radius <- Seq(1, 4, 8, 15)) {
      val blocked = Dedup.hammingPairs(sig, "h", bits = 64, maxHamming = radius, maxBucket = 0)
        .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      val naive = (for {
        a <- hashes.keys; b <- hashes.keys
        if a < b && ham(hashes(a), hashes(b)) <= radius
      } yield (a, b)).toSet
      assert(blocked == naive, s"radius $radius: ${blocked.size} vs ${naive.size}")
    }
  }

  test("quantized cosine is exact: identical vectors give exactly 1.0") {
    val vecs = Seq(
      (1L, Array(0.5f, 0.5f, 0.0f, 0.03125f)),
      (2L, Array(0.5f, 0.5f, 0.0f, 0.03125f)),
      (3L, Array(-0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("id", "embedding")
    val prep = Similarity.prepare(vecs, "embedding")
    val pairs = prep.as("a").join(prep.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        Similarity.cosineQ($"a.qvec", $"b.qvec").as("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(math.abs(pairs((1L, 3L))) < 1e-9)
  }

  test("int8 codes: per-vector symmetric scale, half-away-from-zero, zero-safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "embedding")
    val codes = Similarity.prepare(vecs, "embedding")
      .withColumn("c8", Similarity.int8Codes($"qvec"))
      .select($"id", $"c8").as[(Long, Seq[Long])].collect().toMap
    // q = (5000, -2500, 1250, 0): max|q| = 5000 -> 127, -63.5 -> -64
    // (away from zero), 31.75 -> 32, 0 -> 0; the max element is exactly
    // +-127 so the code range is fully used and never exceeded
    assert(codes(1L) == Seq(127L, -64L, 32L, 0L))
    assert(codes(2L) == Seq(0L, 0L, 0L, 0L), "all-zero vector codes to zeros, no 0/0")
  }

  test("int8 top-k ranks in the code domain with exact integer scores") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "embedding")
    val prep = Similarity.prepare(vecs, "embedding")
    val got = Similarity.int8TopK(prep, $"id" === 0L, k = 3)
      .select($"neighbor_id", $"code_dot", $"rank")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L),
      "nearest-first in code-cosine order")
    // codes: v0=(127,0,0,0), v1=(127,14,0,0), v3=(-127,0,0,0)
    assert(got.head._2 == 127L * 127L)
    assert(got.last._2 == -127L * 127L)
  }

  test("recall@k: a single-direction corpus collapses to one rp bucket -> recall 100") {
    // positive-scalar multiples share every rp-plane sign, hence the
    // bucket; the approximate path then sees exactly the brute-force
    // candidate set and recall must be exactly 100 for every query
    val vecs = (1L to 6L).map(i =>
      (i, Array(1.0f * i, 2.0f * i, 3.0f * i, 4.0f * i)))
      .toDF("id", "embedding")
    val prep = Similarity.prepare(vecs, "embedding")
    val rows = Similarity.recallAtK(prep, $"id" <= 3L, bits = 6, k = 3, dims = 4)
      .select($"query_id", $"n_truth", $"hits", $"recall_pct")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 3)
    assert(rows.forall { case (_, n, h, r) => n == 3 && h == 3 && r == 100 })
  }

  test("recall@k on real embeddings stays within [0, 100] and hits <= n_truth") {
    val prep = Similarity.prepare(
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .withColumnRenamed("vec_id", "id"), "embedding")
    val rows = Similarity.recallAtK(prep, $"id" < 10, bits = 8, k = 5)
      .select($"n_truth", $"hits", $"recall_pct")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (n, h, r) =>
      h >= 0 && h <= n && r >= 0 && r <= 100 })
  }

  test("kMeans: partitions the corpus, conserves members, inertia is " +
      "non-increasing in iterations, and reruns are bit-identical") {
    val prep = Similarity.prepare(
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .withColumnRenamed("vec_id", "id"), "embedding")
    val n = prep.count()
    def run(iters: Int) = Similarity.kMeans(prep, "id", k = 4, iters = iters)
      .orderBy($"cluster_id")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toList
    val r3 = run(3)
    assert(r3.map(_._1) == List(0, 1, 2, 3))
    assert(r3.map(_._2).sum == n, "every vector lands in exactly one cluster")
    assert(r3 == run(3), "k-means must be deterministic across runs")
    // Lloyd: total n²-normalized inertia never increases with more
    // iterations (compare in exact rationals via doubles of exact ints)
    def inertia(rows: List[(Int, Long, Long, Long, Long, Long)]) =
      rows.map { case (_, _, nc, in, _, _) => in.toDouble / (nc * nc) }.sum
    assert(inertia(r3) <= inertia(run(1)) + 1e-9,
      s"inertia(3 iters) > inertia(1 iter)")
  }

  test("kMeans farthest-point seeding: lower inertia than lowest-id seeds " +
      "on a skewed fixture, and deterministic across runs") {
    // three tight, far-apart modes; the 10 LOWEST ids all sit in mode A,
    // so lowest-id seeding drops all 3 seeds into one region and a short
    // Lloyd run cannot recover — farthest-point picks one seed per mode
    // by construction
    val vecs = ((1L to 10L).map(i =>
        (i, Array(1.0f + 0.001f * i, 0.0f, 0.0f, 0.0f))) ++
      (11L to 15L).map(i =>
        (i, Array(0.0f, 1.0f + 0.001f * i, 0.0f, 0.0f))) ++
      (16L to 20L).map(i =>
        (i, Array(0.0f, 0.0f, 1.0f + 0.001f * i, 0.0f))))
      .toDF("id", "embedding")
    val prep = Similarity.prepare(vecs, "embedding")
    def inertia(seeding: Similarity.Seeding): Double =
      Similarity.kMeans(prep, "id", k = 3, iters = 1, seeding)
        .select($"inertia_num", $"n_cent")
        .as[(Long, Long)].collect()
        .map { case (in, nc) => in.toDouble / (nc.toDouble * nc) }.sum
    val low = inertia(Similarity.SeedLowestIds)
    val fp = inertia(Similarity.SeedFarthestPoint)
    assert(fp < low / 10,
      s"farthest-point must beat lowest-id seeds on skew: fp=$fp low=$low")
    val r1 = Similarity.kMeans(prep, "id", k = 3, iters = 1,
      Similarity.SeedFarthestPoint).orderBy($"cluster_id").collect().toList
    val r2 = Similarity.kMeans(prep, "id", k = 3, iters = 1,
      Similarity.SeedFarthestPoint).orderBy($"cluster_id").collect().toList
    assert(r1 == r2, "farthest-point seeding is deterministic")
    // with one seed per mode, every member sits near its own centroid:
    // the three clusters hold exactly the three modes
    val sizes = Similarity.kMeans(prep, "id", k = 3, iters = 1,
        Similarity.SeedFarthestPoint)
      .select($"n_members").as[Long].collect().sorted.toList
    assert(sizes == List(5L, 5L, 10L), s"one cluster per mode: $sizes")
  }

  test("kMeans: a cluster that loses every member keeps its previous " +
      "centroid and reports n_members = 0") {
    // identical corpus + identical seeds: every tie breaks to cid 0, so
    // cid 1 never receives a member and must carry its seed forward
    val vecs = Seq(
      (1L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("id", "embedding")
    val prep = Similarity.prepare(vecs, "embedding")
    val rows = Similarity.kMeans(prep, "id", k = 2, iters = 2)
      .orderBy($"cluster_id")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toList
    assert(rows.map(_._1) == List(0, 1))
    val (full, empty) = (rows(0), rows(1))
    assert(full._2 == 3L && empty._2 == 0L,
      s"all members on cid 0, none on cid 1: $rows")
    // seed (0.5, 0.5, 0, 0) quantizes to (5000, 5000, 0, 0): ss = 5e7
    assert(empty._3 == 1L && empty._6 == 50000000L,
      s"empty cluster keeps its seed (n=1, ss = seed norm): $empty")
    assert(empty._4 == 0L, "empty cluster reports zero inertia")
    assert(full._4 == 0L, "identical members sit on the centroid")
  }

  test("portable hash48 is stable (matches DuckDB's md5-prefix arithmetic)") {
    // DuckDB: SELECT ('0x'||substr(md5('abc'),1,12))::BIGINT = 158335321521362
    val h = Seq("abc").toDF("s").select(TA.hash48($"s")).as[Long].collect()(0)
    assert(h == 158335321521362L)
  }

  test("connected components label every member with the component min id") {
    // two chains (1-2-3-4, 10-11) and a triangle with a bridge (20-21-22, 22-23):
    // min-label needs multiple supersteps to traverse the 4-chain
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    val surv = Dedup.survivors(Dedup.components(pairs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(surv == Map(1L -> 4L, 10L -> 2L, 20L -> 4L))
  }

  test("large/small-star components ≡ label propagation on seeded random graphs") {
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 30
      // sparse random graph: ~n edges → a mix of chains, small trees, and
      // a few denser blobs; ids sparse so min-id ≠ index
      val pairs = (0 until n).map { _ =>
        val a = rnd.nextInt(n) * 7L
        val b = rnd.nextInt(n) * 7L + 3L
        (math.min(a, b), math.max(a, b))
      }.distinct.toDF("id_a", "id_b")
      val viaProp = Dedup.components(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      val viaStar = Dedup.componentsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(viaStar == viaProp, s"trial $trial")
    }
  }

  test("driver-local union-find ≡ the distributed loops (gate forced off)") {
    // graft.components.localMax=0 forces the distributed fixpoints; the
    // default path labels the same broadcast-class graphs on the driver —
    // the outputs must be identical pair sets on every topology class
    // (chains, blobs, self-pairs, isolated star nodes)
    val rnd = new scala.util.Random(0xBEEF)
    val cases = Seq(
      (0 until 120).map { _ =>
        val a = rnd.nextInt(90) * 5L
        val b = rnd.nextInt(90) * 5L + 2L
        (math.min(a, b), math.max(a, b))
      }.distinct,
      // chain bounded by label propagation's documented diameter budget
      (0L until 15L).map(i => (i, i + 1)),
      Seq((5L, 5L), (9L, 3L), (11L, 11L))  // self-pairs + one edge
    )
    for ((edges, i) <- cases.zipWithIndex) {
      val pairs = edges.toDF("id_a", "id_b")
      val viaLocal = Dedup.components(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      val viaLocalStar = Dedup.componentsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      SessionConf.scoped(spark, "graft.components.localMax" -> "0") {
        val viaDist = Dedup.components(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        val viaDistStar = Dedup.componentsStar(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        assert(viaLocal == viaDist, s"components case $i")
        assert(viaLocalStar == viaDistStar, s"componentsStar case $i")
        assert(viaLocal == viaLocalStar, s"cross-form case $i")
      }
    }
  }

  test("simhashCrossPairs equals the brute-force cross radius join") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val sig = Dedup.simhashNarrow(docs, "doc_id", "text")
    val ev = sig.filter($"id" % 17 === 3)
    val tr = sig.filter($"id" % 17 =!= 3)
    val got = Dedup.simhashCrossPairs(tr, ev, maxHamming = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val brute = tr.as("t").join(ev.as("e"),
        bit_count($"t.simhash".bitwiseXOR($"e.simhash")) <= 8)
      .select($"t.id", $"e.id").as[(Long, Long)].collect().toSet
    assert(got == brute, "pigeonhole blocking must be exact across sets")
    assert(got.nonEmpty)
  }

  test("large/small-star handles empty, single-pair, and self-pair inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.componentsStar(empty).count() == 0)
    val one = Seq((7L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.componentsStar(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L, 7L -> 3L))
    // a node whose only row is a self-pair is its own cluster — the
    // components() contract, not silently dropped
    val selfy = Seq((5L, 5L), (7L, 3L)).toDF("id_a", "id_b")
    val got2 = Dedup.componentsStar(selfy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(3L -> 3L, 5L -> 5L, 7L -> 3L))
  }

  test("large/small-star converges on a long chain (diameter >> log n)") {
    // 1-2-3-…-64: label propagation needs ~diameter rounds; star needs
    // O(log n). Also the worst case for the fixpoint detector.
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("langid picks marker-dominant language, und when no markers") {
    val df = Seq(
      (1L, "the cat is on the mat and it is fine"),
      (2L, "der hund ist nicht das problem und alles"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
      .select($"doc_id", TA.langId($"text").as("lang"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("semanticDedup: one verdict per vector; groups keep exactly one survivor; deterministic") {
    val prep = graft.ops.Similarity.prepare(
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .withColumnRenamed("vec_id", "id"), "embedding")
    val n = prep.count()
    val out = graft.ops.Similarity.semanticDedup(prep, nCells = 8,
      threshold = 0.2).cache()
    try {
      assert(out.count() == n, "exactly one KEEP/DROP verdict per vector")
      // every near-dup group (size >= 2) keeps exactly one member
      val grouped = out.groupBy($"cluster")
        .agg(count(lit(1)).as("sz"), sum($"keep").as("kept"))
      assert(grouped.filter($"sz" >= 2 && $"kept" =!= 1L).count() == 0,
        "each multi-member group keeps exactly one survivor")
      assert(grouped.filter($"sz" === 1 && $"kept" =!= 1L).count() == 0,
        "singletons always keep")
      assert(out.filter($"keep" === 0).count() > 0,
        "threshold 0.2 on this corpus drops at least one near-duplicate")
      // deterministic: same seeds, same components, same verdicts
      val again = graft.ops.Similarity.semanticDedup(prep, nCells = 8,
        threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(again == out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    } finally { out.unpersist(); () }
  }

  test("survivorChangelog: novel add, absorb, displace, and BRIDGE each " +
      "emit exactly their events; untouched clusters emit nothing") {
    // maintained corpus: clusters {11,13} (survivor 11), {15,17}
    // (survivor 15), {21,23} (survivor 21 — untouched), singleton 19
    val clusterOf = Seq(11L -> 11L, 13L -> 11L, 15L -> 15L, 17L -> 15L,
      21L -> 21L, 23L -> 21L, 19L -> 19L).toDF("id", "cluster")
    // batch: 30 bridges the 11- and 15-clusters (absorbed, id > both);
    // 10 displaces singleton 19 (10 < 19); 40 attaches to nothing new
    // except cluster 21? no — 40 is novel (no edges); 50 absorbed by 21
    val batch = Seq(30L, 10L, 40L, 50L).toDF("id")
    val edges = Seq(
      (30L, 13L), (30L, 17L), // bridge: touches both clusters
      (10L, 19L),             // displace the singleton's survivor
      (50L, 23L))             // absorbed into {21,23}
      .toDF("id_a", "id_b")
    val got = Dedup.survivorChangelog(clusterOf, edges, batch)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(
      ("retract", 15L),       // bridge: merged cluster keeps 11, drops 15
      ("retract", 19L), ("add", 10L), // displacement
      ("add", 40L)),          // novel singleton
      s"changelog events: $got")
    // absorbed members (30, 50) and the untouched cluster 21 emit nothing
  }

  test("repeatedSpans finds a cross-doc verbatim span MinHash misses") {
    val span = (1 to 50).map(i => s"s$i").mkString(" ")
    val a = ((1 to 20).map(i => s"a$i") :+ span) ++ (21 to 40).map(i => s"a$i")
    val b = ((1 to 30).map(i => s"b$i") :+ span) ++ (31 to 45).map(i => s"b$i")
    val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" "))).toDF("doc_id", "text")
    // document-level n-gram Jaccard at the registered LSH threshold (0.8)
    // misses this pair: shared shingles are only the span-internal ones
    val sh = Dedup.shingles(df, "doc_id", "text", n = 3)
    assert(Dedup.ngramJaccardPairs(sh, 0.8, maxDf = 1000000).count() == 0L)
    // repeatedSpans reports exactly the one maximal 50-token span
    val got = Dedup.repeatedSpans(df, "doc_id", "text", minLen = 20)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == Seq((1L, 2L, 20L, 30L, 50L)))
    // plan discipline: fingerprint equi-join, never a cross product
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("repeatedSpans: one span at two positions = two maximal rows; " +
      "short docs contribute nothing") {
    val span = (1 to 50).map(i => s"s$i").mkString(" ")
    val a = ((1 to 20).map(i => s"a$i") :+ span) ++ (21 to 40).map(i => s"a$i")
    val c = ((1 to 10).map(i => s"c$i") :+ span) ++
      ((11 to 20).map(i => s"c$i") :+ span) ++ (21 to 30).map(i => s"c$i")
    val df = Seq((1L, a.mkString(" ")), (3L, c.mkString(" ")),
      (4L, "tiny doc under min len")).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(df, "doc_id", "text", minLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2, x._4))
    assert(got.toSeq == Seq((1L, 3L, 20L, 10L, 50L), (1L, 3L, 20L, 70L, 50L)))
  }

  test("repeatedSpans withinDoc: internal repeats surface once per " +
      "self-offset; cross-doc rows and the default path are unchanged") {
    val span = (1 to 25).map(i => s"s$i").mkString(" ")
    // doc 1 repeats a 25-token span internally at offset 35
    val selfRep = ((1 to 10).map(i => s"a$i") :+ span) ++
      (11 to 20).map(i => s"a$i") :+ span
    val other = ((1 to 15).map(i => s"c$i") :+ span) ++
      (16 to 20).map(i => s"c$i")
    val df = Seq((1L, selfRep.mkString(" ")), (2L, other.mkString(" ")))
      .toDF("doc_id", "text")
    val all = Dedup.repeatedSpans(df, "doc_id", "text", minLen = 20,
      withinDoc = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // self row: doc 1's copies at 10 and 45 (junk 10 + span 25 + junk 10)
    assert(all.contains((1L, 1L, 10L, 45L, 25L)), s"self span: $all")
    // cross rows still present for BOTH copies vs doc 2's single copy
    assert(all.contains((1L, 2L, 10L, 15L, 25L)) &&
      all.contains((1L, 2L, 45L, 15L, 25L)), s"cross spans: $all")
    assert(all.size == 3, s"exactly one self + two cross rows: $all")
    // default path: bit-identical to withinDoc=false (no self rows)
    val dflt = Dedup.repeatedSpans(df, "doc_id", "text", minLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(dflt == all.filter(x => x._1 != x._2), s"default: $dflt")
  }

  test("exciseSpans: keep-first removal, overlap union, untouched docs " +
      "bit-identical") {
    val span = (1 to 50).map(i => s"s$i").mkString(" ")
    val a = ((1 to 20).map(i => s"a$i") :+ span) ++ (21 to 40).map(i => s"a$i")
    val b = ((1 to 30).map(i => s"b$i") :+ span) ++ (31 to 45).map(i => s"b$i")
    val clean = (1 to 25).map(i => s"z$i")
    val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")),
      (5L, clean.mkString(" "))).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", minLen = 20)
    val got = Dedup.exciseSpans(df, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // keep-first: doc 1 (lower id) keeps its copy, doc 2 loses exactly
    // the 50 shared tokens, the clean doc is untouched byte-for-byte
    assert(got(1L) == ((90L, 0L, a.mkString(" "))))
    assert(got(2L)._1 == 95L && got(2L)._2 == 50L)
    assert(got(2L)._3 ==
      (((1 to 30).map(i => s"b$i") ++ (31 to 45).map(i => s"b$i"))
        .mkString(" ")), s"doc 2 keeps only its flanks: ${got(2L)._3}")
    assert(got(5L) == ((25L, 0L, clean.mkString(" "))))
    // overlap union: two hand-made overlapping ranges on one doc remove
    // the union, not double-count
    val handSpans = Seq((0L, 9L, 0L, 2L, 6L), (0L, 9L, 0L, 5L, 6L))
      .toDF("id_a", "id_b", "a_start", "b_start", "n_tokens")
    val nine = Seq((9L, (1 to 15).map(i => s"n$i").mkString(" ")))
      .toDF("doc_id", "text")
    val o = Dedup.exciseSpans(nine, "doc_id", "text", handSpans)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .head
    // ranges [2,8) ∪ [5,11) = [2,11): 9 tokens removed of 15
    assert(o == ((15L, 9L,
      ((1 to 2) ++ (12 to 15)).map(i => s"n$i").mkString(" "))), s"$o")
  }

  test("survivorChangelog: an edgeless batch is all adds (no components run)") {
    val clusterOf = Seq(11L -> 11L).toDF("id", "cluster")
    val batch = Seq(10L, 20L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.survivorChangelog(clusterOf, edges, batch)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("add", 10L), ("add", 20L)))
  }

  test("clusterDelta: driver-local path ≡ the distributed branches " +
      "(gate forced off) on random and adversarial inputs") {
    // graft.delta.localMax=0 forces the distributed joins; the default
    // path computes the identical delta on the driver. Compare BOTH
    // outputs (changelog, assignment) as sorted multisets.
    def both(clusterOf: org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) = {
      def run() = {
        val (chl, asn) = Dedup.clusterDelta(clusterOf, edges, batch)
        (chl.collect().map(r => (r.getString(0), r.getLong(1)))
           .toSeq.sorted,
         asn.collect().map(r => (r.getLong(0), r.getLong(1)))
           .toSeq.sorted)
      }
      val viaLocal = run()
      val viaDist =
        SessionConf.scoped(spark, "graft.delta.localMax" -> "0")(run())
      (viaLocal, viaDist)
    }
    // 1. the documented event zoo: bridge, displace, absorb, novel,
    //    plus a corpus-corpus bridge edge and a stray endpoint that is
    //    neither corpus nor batch
    val clusterOf = Seq(11L -> 11L, 13L -> 11L, 15L -> 15L, 17L -> 15L,
      21L -> 21L, 23L -> 21L, 19L -> 19L, 25L -> 25L, 27L -> 25L)
      .toDF("id", "cluster")
    val batch = Seq(30L, 10L, 40L, 50L).toDF("id")
    val edges = Seq(
      (30L, 13L), (30L, 17L),  // batch bridges clusters 11 and 15
      (10L, 19L),              // batch displaces the singleton survivor
      (50L, 23L),              // absorbed
      (23L, 27L),              // corpus-corpus bridge (21 vs 25)
      (30L, 99L))              // stray endpoint: in neither set
      .toDF("id_a", "id_b")
    val (l1, d1) = both(clusterOf, edges, batch)
    assert(l1 == d1, s"zoo case: local $l1 vs dist $d1")
    // 2. random trials: random corpus partition with min-id labels,
    //    random batch, random mixed edges
    val rnd = new scala.util.Random(0xD17A)
    for (trial <- 0 until 3) {
      val corpusIds = (0 until 60).map(_ * 4L).distinct
      val groups = corpusIds.groupBy(_ => rnd.nextInt(18))
      val cmap = groups.values.flatMap { g =>
        val m = g.min; g.map(_ -> m)
      }.toSeq
      val batchIds = (0 until 25).map(_ => rnd.nextInt(80) * 4L + 1L)
        .distinct
      val pool = corpusIds ++ batchIds
      val es = (0 until 40).map { _ =>
        (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)))
      }.filter { case (a, b) =>
        // every edge carries >= 1 batch endpoint OR is corpus-corpus —
        // both shapes the callers produce
        a != b
      }.distinct
      val (l, dd) = both(cmap.toDF("id", "cluster"),
        es.toDF("id_a", "id_b"), batchIds.toDF("id"))
      assert(l == dd, s"trial $trial: local $l vs dist $dd")
    }
  }
}
