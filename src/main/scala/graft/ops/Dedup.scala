package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextAnalysis.{hash48, hash31, tokens, P31}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - every stage is a map + a keyed aggregation/join — no driver-side
  *    collection, no cross join anywhere;
  *  - candidate generation is always index-based (LSH band buckets /
  *    SimHash blocks / shingle inverted index), so the shuffle volume is
  *    proportional to corpus size + candidate pairs, never to n²;
  *  - hashing is portable integer arithmetic (see TextAnalysis.hash48), so
  *    signatures computed in different jobs/rounds can be joined for
  *    incremental dedup.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content hash: one shuffle on the 128-bit digest.
    * Output: one row per distinct content — representative id (min), dup
    * count. `keep = df.join(exact(...), "content_hash", "left_semi")` style
    * usage keeps the survivors.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  // ------------------------------------------------------------- shingles

  /** All word n-gram shingles per document, duplicates included: (id,
    * shingle). Built with sequence+transform (codegen) rather than an
    * exploding UDF. Sufficient for MinHash (min is duplicate-insensitive)
    * without the distinct shuffle.
    */
  def shinglesAll(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(col(idCol).as("id"),
      explode(shingleArray(toks, n)).as("shingle"))
  }

  /** Distinct word n-gram shingles per document — the set form required by
    * Jaccard intersection counting.
    *
    * Distinctness of (id, shingle) is per-document, i.e. ROW-LOCAL:
    * `array_distinct` before the explode produces the identical row set as
    * a global `.distinct()` with ZERO shuffle — the downstream consumer
    * (inverted-index join, df-cap, bucket join) then pays the only
    * exchange, on ITS key. The previous `.distinct()` form shuffled the
    * whole exploded shingle corpus on (id, shingle) first, immediately
    * followed by the consumer's re-shuffle on shingle — double exchange of
    * the largest frame in every Jaccard/decontamination pipeline.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.NativeShingles.distinctShinglesNative(
        col(textCol), n)).as("shingle"))

  /** [[shingles]] hash-partitioned on the shingle — the INVERTED-INDEX form
    * for pipelines that reference the shingle frame more than once (Jaccard
    * verification: sizes + both self-join sides). The explicit exchange is
    * the frame's single materialization point: ReuseExchange computes the
    * (interpreted, expensive) shingle transform once and every consumer
    * reads the shuffle files, already partitioned on the self-join key so
    * the join adds no further exchange. Without it the narrow [[shingles]]
    * subtree is recomputed per consumer — measured 25-40% slower on l07/l08
    * at sf0.1. Single-consumer or broadcast-join pipelines (e.g.
    * decontamination) should use the narrow [[shingles]] instead.
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingles(df, idCol, textCol, n).repartition(col("shingle"))

  /** Array of word n-gram shingles of `toks` (strings joined by a space). */
  def shingleArray(toks: Column, n: Int): Column = {
    // positions 0 .. size-n (empty when size < n; sequence() would descend)
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    transform(idx, i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
  }

  // -------------------------------------------------------------- minhash

  /** Affine permutation parameters for minhash j (1-based): deterministic,
    * engine-portable. a_j ∈ (0, P31), b_j ∈ [0, P31).
    */
  def mhA(j: Int): Long = { val a = (2654435761L * j) % P31; if (a == 0L) 1L else a }
  def mhB(j: Int): Long = (40503L * j * j + 2531011L) % P31

  /** Per-document MinHash signatures: k min-aggregations over the shingle
    * hash — one shuffle on id with full map-side partial aggregation (each
    * mapper emits one k-wide partial row per doc).
    *
    * The md5-derived base hash is projected ONCE per shingle before the
    * aggregation — putting it inside each min() would evaluate the digest
    * k times per row. min() is duplicate-insensitive, so the input needs no
    * distinct() pass either.
    * Output: (id, mh_1 .. mh_k).
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame = {
    val hashed = sh.select(col("id"), hash31(col("shingle")).as("h"))
    val aggs = (1 to k).map(j => min((col("h") * mhA(j) + mhB(j)) % P31).as(s"mh_$j"))
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document MinHash signatures as a NARROW map stage — zero shuffle.
    * The native one-pass kernel [[graft.functions.MinHashSig]] computes all
    * k permutation minima per document directly from the text; output
    * schema and values are bit-identical to [[minhashSignatures]] over
    * [[shinglesAll]] (documents with fewer than n tokens are absent from
    * both). Prefer this form whenever the shingle inverted index is not
    * ALSO needed downstream: at 100 TB it removes the exchange of the
    * exploded shingle corpus (~n× the text volume) entirely. When the
    * index is needed anyway (e.g. exact-Jaccard verification), the
    * aggregate form can share the index's shuffle via ReuseExchange —
    * measure both (see l07's plan-shape note).
    */
  def minhashSignaturesNarrow(df: DataFrame, idCol: String, textCol: String,
      k: Int, n: Int = 3): DataFrame = {
    // pre-filter on the CHEAP shingle-existence condition (>= n tokens),
    // not on isNotNull(kernel): the latter puts the kernel into the filter
    // condition too and doubles the md5 work per row (measured in the plan:
    // Filter[isnotnull(graft_minhash)] + Project[graft_minhash])
    val sig = df
      .filter(size(split(col(textCol), " ", -1)) >= n)
      .select(col(idCol).as("id"),
        graft.functions.NativeMinHash.minhashNative(col(textCol), n, k).as("_mh"))
    sig.select(col("id") +:
      (1 to k).map(j => element_at(col("_mh"), j).as(s"mh_$j")): _*)
  }

  /** Drop bucket keys holding more than `maxBucket` members before a
    * bucket self-join. A degenerate corpus (boilerplate, empty docs, spam
    * runs) can collapse into one bucket and turn the "never n²" candidate
    * join quadratic; capping bounds any bucket's pair contribution at
    * maxBucket² at the cost of recall ON that degenerate mass (its members
    * are mutual near-dups of each other anyway — production pipelines
    * handle such clusters by exact-hash dedup first).
    *
    * Shape: a window count over the bucket key, not groupBy+semi-join —
    * the window shuffles the frame onto the bucket key ONCE and the
    * filtered output keeps that partitioning, so the self-join that
    * follows adds no further exchange (the agg+semi variant measured a
    * second full exchange of the exploded frame, ~40% slower on l10).
    */
  private[ops] def capBuckets(bucketed: DataFrame, keyCol: String, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) bucketed
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      bucketed.withColumn("_n", count(lit(1)).over(w))
        .filter(col("_n") <= maxBucket).drop("_n")
    }

  /** LSH banding: signature rows -> (band, h1..hr key) buckets -> candidate
    * pairs via a self-equi-join on the bucket key. rowsPerBand=2 keeps recall
    * ≥ 1-1e-18 at J≥0.8 with k=32 (16 bands): P(miss) = (1-J²)^16.
    * `maxBucket` > 0 guards the self-join against degenerate buckets (see
    * [[capBuckets]]); 0 = unbounded (exact-recall mode).
    * Output: distinct (id_a, id_b) with id_a < id_b.
    */
  def lshCandidates(sig: DataFrame, k: Int, rowsPerBand: Int = 2,
      maxBucket: Int = 0): DataFrame = {
    val bands = k / rowsPerBand
    val bandStructs = (0 until bands).map { b =>
      val cols = (1 to rowsPerBand).map(r =>
        col(s"mh_${b * rowsPerBand + r}").as(s"h$r"))
      struct(lit(b).as("band") +: cols: _*)
    }
    val bucketed = capBuckets(
      sig.select(col("id"), explode(array(bandStructs: _*)).as("bucket")),
      "bucket", maxBucket)
    bucketed.as("l").join(bucketed.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Drop shingles that appear in more than `maxDf` documents. High-df
    * shingles ("of the …") carry no discriminative signal but dominate the
    * cost of any inverted-index self-join — a single shingle present in m
    * docs contributes m² candidate pairs. Standard MinHash practice; NOTE
    * this changes Jaccard values (it is an approximation), so callers that
    * are oracle-checked against exact Jaccard must not enable it there.
    */
  def dfCapped(sh: DataFrame, maxDf: Long): DataFrame = {
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select(col("shingle"))
    sh.join(rare, Seq("shingle"), "left_semi")
  }

  /** Asymmetric containment C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| over the
    * (df-capped) shingle inverted index — catches partial duplication
    * (quotes, wrapped reposts, doc-inside-doc) that symmetric Jaccard
    * misses: a 100-line file pasted into a 10 000-line one has tiny
    * Jaccard but containment 1.0.
    *
    * The threshold is a rational `minNum/minDen` compared as
    * `inter·minDen >= sz·minNum` — integer-exact, so set membership is
    * engine-portable; only the reported `containment` value divides (one
    * IEEE division of identical integers). Directional: both (a→b) and
    * (b→a) rows emit when both qualify. Pass the index through
    * [[dfCapped]] first — the self-join cost is bounded by shingle df
    * exactly as in [[ngramJaccardPairs]].
    */
  def containmentPairs(sh: DataFrame, minNum: Long = 1, minDen: Long = 2): DataFrame = {
    require(minDen > 0 && minNum >= 0, "threshold must be a valid rational")
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("src_sz"))
    val inter = sh.join(sh.select(col("shingle"), col("id").as("dst")),
        Seq("shingle"))
      .filter(col("id") =!= col("dst"))
      .groupBy(col("id"), col("dst")).agg(count(lit(1)).as("inter"))
    inter.join(sizes, Seq("id"))
      .filter(col("inter") * minDen >= col("src_sz") * minNum)
      .select(col("id").as("src"), col("dst"), col("inter"), col("src_sz"),
        (col("inter").cast("double") / col("src_sz")).as("containment"))
  }

  /** Exact Jaccard for given candidate pairs, via the shingle inverted
    * index: |A∩B| from a join on shingle restricted to candidates, |A|,|B|
    * from per-doc counts. Exact integer arithmetic; the final similarity is
    * one IEEE division.
    *
    * `sh` must carry set semantics (distinct (id, shingle) rows, i.e.
    * [[shingles]] output).
    *
    * Scale shape: BOTH sides of the intersection self-join are first
    * semi-joined to the distinct candidate doc-ids, so the join input is
    * |shingles of candidate docs|, not the whole corpus — without this, one
    * hot shingle makes the self-join quadratic in corpus size regardless of
    * how few candidates LSH produced. The candidate-id frame is tiny
    * relative to the corpus (it IS the near-dup set), so Spark broadcasts
    * it and the restriction is a narrow scan-side filter; the candidate
    * subtree behind it is materialized once by ReuseExchange (three
    * references, identical exchange). Per-doc sizes still come from the
    * unrestricted `sh` aggregate — same values, and that aggregate shares
    * the signature chain's shuffle.
    */
  def verifyJaccard(sh: DataFrame, candidates: DataFrame): DataFrame = {
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val shc = sh.join(candIds, Seq("id"), "left_semi")
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = shc.as("a").join(shc.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .join(candidates, Seq("id_a", "id_b"), "left_semi")
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
  }

  /** Exact n-gram Jaccard near-dup pairs ≥ threshold, via the shingle
    * inverted index (no LSH, no cross join): candidate pairs are pairs
    * sharing ≥1 shingle. At scale prefer [[lshCandidates]]; this is the
    * exact baseline/oracle path.
    *
    * `maxDf` is REQUIRED: a shingle with document frequency df contributes
    * df² candidate pairs to the self-join, so one hot shingle ("of the …")
    * makes the plan quadratic in corpus size — the cap bounds every
    * shingle's contribution to maxDf². There is deliberately no uncapped
    * overload: pick a cap above the corpus's max df when exactness is
    * required (a no-op cap — still the exact baseline) and a
    * discriminative cap (e.g. 5) for the scale path. Jaccard is computed
    * over the CAPPED sets (sizes included): with a no-op cap that IS the
    * exact uncapped form; with a tight cap it is the documented df-capped
    * approximation — callers' oracles apply the identical cap.
    */
  def ngramJaccardPairs(sh: DataFrame, threshold: Double, maxDf: Long): DataFrame = {
    // Long.MaxValue is the documented "no-op cap" — no shingle's df can
    // exceed it, so the df-count + semi-join pass would keep every row;
    // skip the pass outright instead of paying its exchange
    val shc = if (maxDf == Long.MaxValue) sh else dfCapped(sh, maxDf)
    val sizes = shc.groupBy(col("id")).agg(count(lit(1)).as("n"))
    shc.as("a").join(shc.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------ clusters

  /** Connected components over near-dup pairs: the step that turns
    * pairwise similarity into dedup groups (pairs alone cannot answer
    * "which rows do I keep"). Iterative min-label propagation — each
    * superstep joins labels across edges and keeps the minimum; a
    * component converges once the smallest id has reached every member,
    * i.e. in O(component diameter) rounds, and near-dup components are
    * shallow by construction. Per round: one join + one aggregation, both
    * on the edge/node keys — no driver-side graph, scales with |edges|.
    * Convergence is detected by the label-sum invariant (labels only
    * decrease, so an unchanged sum means a fixpoint) — one cheap aggregate
    * instead of a change-detection join. Lineage is truncated every round
    * with an eager localCheckpoint, the standard pattern for iterative
    * DataFrame algorithms (at extreme scale you would reach for
    * GraphX/GraphFrames' optimized large-star/small-star; the semantics
    * here are identical).
    *
    * Output: (id, cluster) for every id appearing in `pairs`, where
    * cluster = min id of its component. Isolated documents are not rows in
    * `pairs` and thus not here — they are their own cluster by definition.
    */
  /** Driver-local union-find over a MATERIALIZED edge set that was
    * measured to be broadcast-class small (≤ `graft.components.localMax`
    * edges, default 1M ≈ tens of MB collected — the same size class
    * Spark itself collects for a broadcast join build side). Labels =
    * min id per component, identical to the distributed fixpoints by
    * construction; edge order cannot matter (min-root union). Returns
    * None above the gate — callers fall through to their distributed
    * loop, so corpus-scale behavior is unchanged. This is the
    * scale-adaptive algorithm choice for the maintenance loops, whose
    * contracted per-batch graphs are tiny: the distributed loop paid
    * 2 driver round-trips per round on sub-second frames.
    */
  private def localComponents(edges: DataFrame, nEdges: Long)
      : Option[DataFrame] = {
    val spark = edges.sparkSession
    val cap = spark.conf.getOption("graft.components.localMax")
      .map(_.toLong).getOrElse(1000000L)
    // an empty edge set is ALWAYS labeled locally (besides being free,
    // the distributed label-propagation loop's convergence sum is NULL
    // on zero rows) — callers need no emptiness pre-probe of their own
    if (nEdges > cap && nEdges > 0L) return None
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    import org.apache.spark.sql.Row
    val rows = edges.select(col("src"), col("dst")).collect()
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[Row](parent.size())
    parent.keySet().forEach { id => out += Row(id, find(id)); () }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false)))))
  }

  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    // Loop shuffle width derived from the MATERIALIZED edge count, not
    // the session's core-count default (guide §2: make partitioning
    // scale-adaptive). Every round is a join + groupBy + agg over
    // frames bounded by the edge set; running a few-thousand-row
    // contracted graph through 32-partition exchanges made each round
    // ~0.65 s of stage scheduling for ~0.1 s of work (the l88/l90
    // maintenance loops pay this per batch). ~2M edges per partition
    // (~32 MB of long pairs); a corpus-scale edge set keeps the
    // session width. The count job is free — edges are already
    // checkpoint-materialized. The returned frame is materialized inside
    // the scope by the loop's convergence action.
    val nEdges = edges.count()
    // broadcast-class edge sets label on the driver in one collect —
    // see localComponents; the distributed loop below is the >cap path
    localComponents(edges, nEdges) match {
      case Some(lbl) => return lbl
      case None =>
    }
    SessionConf.narrowed(spark, nEdges, 2000000L) {
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var prevSum = labels.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("prop"))
      // LAZY localCheckpoint: the label-sum action below materializes it,
      // so each round runs ONE job (the eager form ran checkpoint + sum as
      // two jobs per round — pure fixed-latency overhead on shallow
      // components, where the loop is 2-3 rounds of tiny frames)
      labels = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("prop"), col("label"))).as("label"))
        .localCheckpoint(false)
      val s = labels.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge in $maxIter rounds (component " +
          s"diameter exceeds the label-propagation budget) — raise maxIter " +
          "or use componentsStar, whose round count is diameter-independent")
    labels.select(col("id"), col("label").as("cluster"))
    }
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the 100 TB path next to [[components]]' label
    * propagation. Label propagation needs O(component diameter) rounds; a
    * pathological chain of pairwise near-dups (common in boilerplate-heavy
    * web corpora: A~B~C~… without A~C) makes that linear. Large/small-star
    * converges in O(log n) rounds on ANY topology:
    *
    *  - large-star: per node u over its symmetric neighborhood, connect
    *    every strictly-larger neighbor to m = min(N(u) ∪ {u});
    *  - small-star: per node u over its smaller-or-equal neighbors,
    *    connect them (and u) to the minimum.
    *
    * Each half-round is one groupBy + one join on the edge key — no
    * driver-side graph. The edge set only shrinks toward stars, and the
    * fixpoint is detected by an (edge count, xxhash64 checksum) pair in a
    * single aggregate action per round. At the fixpoint every edge is
    * (member → component-min root), which IS the label assignment.
    * (Worst-case round bound for plain alternation is O(log² n); observed
    * round counts are small single digits — the point is independence
    * from component DIAMETER, which is what breaks label propagation.)
    * If `maxIter` rounds pass without a fixpoint the method THROWS rather
    * than return a non-star edge set as if it were a labeling.
    *
    * Identical output contract to [[components]] (asserted by a seeded
    * random-graph equivalence property in DedupSpec): (id, cluster) for
    * every id appearing in `pairs` — including ids whose only rows are
    * self-pairs — cluster = min id of the component.
    */
  def componentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      sym.filter(col("dst") > col("src")).join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("src"), col("dst")).as("hi"),
          least(col("src"), col("dst")).as("lo"))
        .filter(col("hi") =!= col("lo"))
      val mins = dir.groupBy("hi").agg(min(col("lo")).as("m"))
      dir.join(mins, "hi")
        .select(col("lo").as("src"), col("m").as("dst"))
        .union(mins.select(col("hi").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    val nodes = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().localCheckpoint(true)
    var edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    // size-derived loop shuffle width — same rationale and sizing as
    // [[components]]; the edge set only SHRINKS across star rounds, so
    // the initial count bounds every round's frames
    val spark = pairs.sparkSession
    val nEdges = edges.count()
    // broadcast-class edge sets label on the driver in one collect (the
    // star edges are one-directional here — union-find needs no
    // symmetry); isolated/self-pair-only nodes get their own id through
    // the same left join the distributed path ends with
    localComponents(edges, nEdges) match {
      case Some(lbl) =>
        return nodes.join(lbl, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("cluster"), col("id")).as("cluster"))
      case None =>
    }
    SessionConf.narrowed(spark, nEdges, 2000000L) {
    var prev: (Long, String) = (-1L, "")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prevEdges = edges
      edges = smallStar(largeStar(edges)).localCheckpoint(false)
      // decimal(38,0) checksum: ANSI mode would overflow a raw long sum
      val r = edges.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      val sig = (r.getLong(0), String.valueOf(r.getDecimal(1)))
      // the (count, hash-sum) signature is a cheap per-round probe; on a
      // match, confirm with ONE exact set compare (both frames are
      // checkpointed distinct sets, so equal counts + empty difference ⇒
      // equal sets) — a signature collision must keep iterating, never
      // declare a non-fixpoint edge set a labeling
      converged = sig == prev && prevEdges.exceptAll(edges).isEmpty
      prev = sig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"componentsStar did not reach a fixpoint in $maxIter rounds — " +
          "a truncated edge set is not a labeling; raise maxIter")
    val labels = edges.select(col("src").as("id"), col("dst").as("cluster"))
    // roots label themselves; nodes whose only rows were self-pairs have
    // no star edge at all and are their own cluster (components() parity)
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    }
  }

  /** Dedup survivors: one representative (min id) per cluster, with the
    * member count — `df.join(survivors, df("id") === survivors("cluster"),
    * "left_semi")`-style usage keeps them.
    */
  def survivors(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))

  /** Survivor selection by rank: keep the best-ranked member of each
    * near-dup cluster — the production policy (keep the longest / highest
    * quality / canonical doc), as opposed to [[components]]' min-id label.
    * `ranked` maps `idCol` to the rank; ties break on id. Docs in no pair
    * are absent from `clusters` and survive by default. One window over
    * the clustered set (pairs-bearing docs only — far smaller than the
    * corpus).
    */
  def survivorsBy(clusters: DataFrame, ranked: DataFrame, idCol: String,
      rankCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(rankCol.desc, col(idCol).asc)
    clusters.join(ranked, clusters("id") === ranked(idCol))
      .withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
      .select(col("cluster"), col(idCol).as("survivor"),
        rankCol.as("rank_val"))
  }

  /** Incremental survivor CHANGELOG — the corpus-as-CDC shape: when a
    * batch lands on a maintained corpus, emit the add/retract events to
    * the corpus' SURVIVOR SET (the rows a downstream training-data
    * consumer actually reads), instead of recomputing it. A new doc can
    *  (a) be novel → `add`,
    *  (b) be absorbed by an existing cluster → no event,
    *  (c) displace an existing survivor (smaller id wins) → `retract`
    *      old + `add` new,
    *  (d) BRIDGE two existing clusters → the merged cluster keeps one
    *      survivor, every other former survivor is `retract`ed.
    *
    * Cost is O(batch + touched clusters), never O(corpus): each
    * existing cluster is CONTRACTED to its label (its members are
    * already connected — one node represents them all), and components
    * run only over batch nodes plus the labels the batch's edges touch.
    * Untouched clusters emit nothing and are never read. The driver
    * gate (l87) proves the contraction exact: the oracle recomputes
    * both survivor sets FROM SCRATCH and diffs them.
    *
    * Inputs: `clusterOf` (id, cluster) — one row per existing corpus
    * doc, singletons labelled with their own id (the maintained state);
    * `newEdges` (id_a, id_b) — near-dup pairs with at least one batch
    * endpoint; `batchIds` (id) — the landing batch. Batch ids must be
    * disjoint from corpus ids. Output: (op ∈ add|retract, doc_id).
    */
  def survivorChangelog(clusterOf: DataFrame, newEdges: DataFrame,
      batchIds: DataFrame): DataFrame =
    clusterDelta(clusterOf, newEdges, batchIds)._1

  /** The changelog PLUS the label reassignments the batch implies —
    * what a maintained cluster table applies per micro-batch
    * ([[DedupIndex.startClusterMaintenance]]). Returns
    * `(changelog(op, doc_id), assign(id, cluster))` where `assign`
    * covers every batch doc and every member of a TOUCHED old cluster
    * (possibly with its label unchanged — the rewrite is idempotent);
    * untouched clusters never appear. Labels follow the min-id policy,
    * so the maintained table stays bit-identical to a from-scratch
    * [[components]] labelling after every batch — the l88 gate.
    */
  /** Driver-local form of [[clusterDelta]] over MATERIALIZED inputs that
    * measured broadcast-class small (≤ `graft.delta.localMax` collected
    * rows, default 1M — the size class Spark itself collects for a
    * broadcast build side): one collect each, then the identical
    * contraction → min-root union-find → survivor/changelog derivation
    * in-process. Semantics replicate the distributed branches EXACTLY
    * (pinned by the local-vs-forced-distributed property in DedupSpec):
    * min-id policy throughout, so output content cannot depend on the
    * path. The maintenance loops' per-batch state (a few thousand rows)
    * paid ~10 small shuffle jobs per batch in the distributed form —
    * pure driver latency (guide §1.2/§5: the driver should do almost no
    * data work, but a broadcast-class delta is not data work).
    */
  private def localClusterDelta(cl: DataFrame, edg: DataFrame,
      ids: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    val spark = cl.sparkSession
    val clRows = cl.collect()
    val edgRows = edg.collect()
    val idRows = ids.collect().map(_.getLong(0))
    val clusterOfMap = new java.util.HashMap[Long, Long](clRows.length * 2)
    clRows.foreach(r => clusterOfMap.put(r.getLong(0), r.getLong(1)))
    val batchSet = new java.util.HashSet[Long]()
    idRows.foreach { id => batchSet.add(id); () }
    // union-find over the CONTRACTED graph (corpus endpoints collapse to
    // their cluster label, batch endpoints stay themselves) — min-root
    // union, identical to localComponents
    val edgeEnd = new java.util.HashSet[Long]()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edgRows.foreach { r =>
      val a0 = r.getLong(0); val b0 = r.getLong(1)
      edgeEnd.add(a0); edgeEnd.add(b0)
      val a = clusterOfMap.getOrDefault(a0, a0)
      val b = clusterOfMap.getOrDefault(b0, b0)
      if (a != b) {
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    // per contracted node: its component g; split into batch members and
    // touched old-cluster labels (batch/corpus ids are disjoint by the
    // caller contract, mirroring the semi/anti joins on the batch set)
    val gOf = new java.util.HashMap[Long, Long]()
    parent.keySet().forEach { nd => gOf.put(nd, find(nd)); () }
    val touched = new java.util.HashSet[Long]()
    val minb = new java.util.HashMap[Long, java.lang.Long]()
    gOf.forEach { (nd, g) =>
      if (batchSet.contains(nd)) {
        val cur = minb.get(g)
        if (cur == null || nd < cur) minb.put(g, nd)
      } else { touched.add(nd); () }
    }
    // old survivor per TOUCHED cluster = min corpus member id (computed,
    // not assumed from the label — exactly the distributed aggregation);
    // a touched label with no corpus members contributes nothing (the
    // distributed inner join drops it from oldMembers the same way)
    val oldSurv = new java.util.HashMap[Long, java.lang.Long]()
    clRows.foreach { r =>
      val id = r.getLong(0); val c = r.getLong(1)
      if (touched.contains(c)) {
        val cur = oldSurv.get(c)
        if (cur == null || id < cur) oldSurv.put(c, id)
      }
    }
    val mino = new java.util.HashMap[Long, java.lang.Long]()
    touched.forEach { c =>
      val sv = oldSurv.get(c)
      if (sv != null) {
        val g = gOf.get(c)
        val cur = mino.get(g)
        if (cur == null || sv.longValue() < cur.longValue()) mino.put(g, sv)
      }
    }
    def newSurv(g: Long): Long = {
      val b = minb.get(g); val o = mino.get(g)
      if (b == null) o.longValue()
      else if (o == null) b.longValue()
      else math.min(b.longValue(), o.longValue())
    }
    val chl = new scala.collection.mutable.ArrayBuffer[Row]()
    val asn = new scala.collection.mutable.ArrayBuffer[Row]()
    // retracts: each touched cluster (with members) whose survivor is no
    // longer its group's survivor
    touched.forEach { c =>
      val sv = oldSurv.get(c)
      if (sv != null && sv.longValue() != newSurv(gOf.get(c)))
        { chl += Row("retract", sv.longValue()); () }
    }
    // bridge adds: a group's survivor is an `add` only when it is a
    // BATCH doc strictly displacing (or lacking) any old survivor
    val gs = new java.util.HashSet[Long]()
    gOf.values().forEach { g => gs.add(g); () }
    gs.forEach { g =>
      val b = minb.get(g); val o = mino.get(g)
      if (b != null && (o == null || b.longValue() < o.longValue()))
        { chl += Row("add", b.longValue()); () }
    }
    // singletons: batch ids on no new edge at all
    idRows.foreach { id =>
      if (!edgeEnd.contains(id)) {
        chl += Row("add", id); asn += Row(id, id); ()
      }
    }
    // assignments: every batch member and every member of a touched
    // (survivor-bearing) cluster, labelled with its group's new survivor
    gOf.forEach { (nd, g) =>
      if (batchSet.contains(nd)) { asn += Row(nd, newSurv(g)); () }
    }
    clRows.foreach { r =>
      val id = r.getLong(0); val c = r.getLong(1)
      if (touched.contains(c) && oldSurv.get(c) != null)
        { asn += Row(id, newSurv(gOf.get(c))); () }
    }
    def mk(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    (mk(chl.toSeq, StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("doc_id", LongType, nullable = true)))),
      mk(asn.toSeq, StructType(Seq(
        StructField("id", LongType, nullable = true),
        StructField("cluster", LongType, nullable = true)))))
  }

  def clusterDelta(clusterOf: DataFrame, newEdges: DataFrame,
      batchIds: DataFrame): (DataFrame, DataFrame) = {
    // the batch-id set is referenced by three branches below (singleton
    // anti-join, batch-member semi, old-member anti) — materialize it
    // once instead of re-scanning the batch source per branch
    val ids = batchIds.select(col("id")).localCheckpoint(true)
    // materialize the other two inputs ONCE as well: the distributed
    // branches below reference clusterOf four times and newEdges three
    // (l87's callers pass raw lineage — each consumer re-ran it), and the
    // materialized counts gate the driver-local path for free
    val cl = clusterOf.select(col("id"), col("cluster")).localCheckpoint(true)
    val edgM = newEdges.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val cap = newEdges.sparkSession.conf
      .getOption("graft.delta.localMax").map(_.toLong).getOrElse(1000000L)
    if (cl.count() + edgM.count() + ids.count() <= cap)
      return localClusterDelta(cl, edgM, ids)
    // contract: corpus endpoints collapse to their cluster label, batch
    // endpoints stay themselves (absent from clusterOf by the contract)
    val contracted = edgM
      .join(cl.select(col("id").as("id_a"), col("cluster").as("ca")),
        Seq("id_a"), "left")
      .join(cl.select(col("id").as("id_b"), col("cluster").as("cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val singletonAdds = ids
      .join(edgM.select(col("id_a").as("id"))
        .union(edgM.select(col("id_b").as("id"))).distinct(),
        Seq("id"), "left_anti")
    val singletonLog = singletonAdds
      .select(lit("add").as("op"), col("id").as("doc_id"))
    val singletonAssign = singletonAdds
      .select(col("id"), col("id").as("cluster"))
    // §1.5 job labels for the actions this function runs itself; the
    // caller's description is restored before returning so
    // lazily-consumed output doesn't inherit a stale label. (No
    // emptiness pre-probe: an empty contracted graph flows through the
    // full derivation for free — components labels empty sets locally —
    // and degenerates to exactly (singletonLog, singletonAssign); the
    // probe itself was a full action per batch.)
    val sc = newEdges.sparkSession.sparkContext
    val outerDesc = Option(sc.getLocalProperty("spark.job.description"))
    def sub(tag: String): Unit = sc.setJobDescription(
      outerDesc.map(d => s"$d/$tag").getOrElse(s"clusterDelta $tag"))
    try {
    sub("components")
    // components over the contracted graph: nodes are batch ids and
    // TOUCHED old-cluster labels only — the O(batch) piece
    val compG = components(contracted).withColumnRenamed("cluster", "g")
    val batchMembers = compG.join(ids, Seq("id"), "left_semi")
    // survivors are aggregated for TOUCHED clusters only (semi-join the
    // corpus state down to them first — one corpus pass instead of a
    // full groupBy), and the result is materialized once: oldMembers and
    // gNew feed SIX downstream branches (retracts, adds, both assign
    // legs, …) which would otherwise each re-run the corpus scan +
    // aggregation inside the caller's single checkpoint action
    sub("touched-survivors")
    val touchedCl = compG.join(ids, Seq("id"), "left_anti")
      .withColumnRenamed("id", "cluster")
    val oldSurv = cl
      .join(touchedCl.select(col("cluster")), Seq("cluster"), "left_semi")
      .groupBy(col("cluster")).agg(min(col("id")).as("survivor"))
    val oldMembers = touchedCl
      .join(oldSurv, "cluster") // (cluster, g, survivor)
      .localCheckpoint(true)
    // min-id policy: a cluster's label IS its survivor, so the merged
    // group's new label = min(batch mins, old labels)
    sub("group-labels")
    val gNew = batchMembers.groupBy(col("g")).agg(min(col("id")).as("minb"))
      .join(oldMembers.groupBy(col("g")).agg(min(col("survivor")).as("mino")),
        Seq("g"), "full")
      .select(col("g"), col("minb"), col("mino"),
        least(coalesce(col("minb"), col("mino")),
          coalesce(col("mino"), col("minb"))).as("new_surv"))
      .localCheckpoint(true)
    val retracts = oldMembers.join(gNew, "g")
      .filter(col("survivor") =!= col("new_surv"))
      .select(lit("retract").as("op"), col("survivor").as("doc_id"))
    // the merged group's survivor is an `add` only when it is a BATCH
    // doc (an old survivor keeping its role is not news)
    val bridgeAdds = gNew
      .filter(col("mino").isNull ||
        (col("minb").isNotNull && col("minb") < col("mino")))
      .select(lit("add").as("op"), col("minb").as("doc_id"))
    val changelog = retracts.union(bridgeAdds).union(singletonLog)
    val batchAssign = batchMembers.join(gNew, "g")
      .select(col("id"), col("new_surv").as("cluster"))
    val touchedAssign = cl.as("co").join(
        oldMembers.join(gNew, "g")
          .select(col("cluster").as("old_cluster"), col("new_surv")),
        col("co.cluster") === col("old_cluster"))
      .select(col("co.id").as("id"), col("new_surv").as("cluster"))
    (changelog, batchAssign.union(touchedAssign).union(singletonAssign))
    } finally sc.setJobDescription(outerDesc.orNull)
  }

  // -------------------------------------------------------------- simhash

  val SimhashBits = 48

  /** 48-bit SimHash over unigram token hashes: for each bit, sum +1/-1 by
    * the token-hash bit, take the sign. Implemented as one aggregate of a
    * 48-wide bit-count vector (map-side combinable — one shuffle on id).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", hash48(col("t")))
    // branch-free ±1: 2·bit−1, summed — same value as the when() form
    // without a conditional per (row × bit) in the generated code
    val bitAggs = (0 until SimhashBits).map { b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"bit_$b")
    }
    tok.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"),
        (0 until SimhashBits).map(b =>
          when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** 48-bit SimHash as a NARROW map stage — zero shuffle. The native
    * one-pass kernel [[graft.functions.SimHash48]] folds the per-bit ±1
    * counters per document directly from the text; values are bit-identical
    * to [[simhash]] (asserted in NativeSimHashSpec). Documents with null
    * text are absent from both forms (explode of null emits no rows there;
    * the cheap isNotNull filter here).
    */
  def simhashNarrow(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.NativeSimHash.simhashNative(col(textCol)).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= maxHamming, found by pigeonhole
    * blocking: split the 48 bits into (maxHamming+1) blocks; any pair within
    * the hamming radius must agree on at least one block (exact, not
    * approximate). Join on (block_idx, block_value) — shuffle volume is
    * corpus × blocks, never n².
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int,
      maxBucket: Int = 0): DataFrame = {
    val nBlocks = maxHamming + 1
    // Pigeonhole soundness needs every block non-empty: split the 48 bits
    // into nBlocks spans of base/base+1 bits (remainder spread over the
    // first blocks). The previous ceil-width split let the last block
    // degenerate to width 0 (e.g. maxHamming=8 -> 9 blocks of ceil 6 = 54
    // bits -> block 8 masked nothing), which funneled every doc through one
    // (blk, 0) bucket — a full n² join that only the hamming filter saved.
    val blocked = capBuckets(
      sig.select(col("id"), col("simhash"),
        explode(array(simhashBlocks(maxHamming): _*)).as("b")),
      "b", maxBucket)
    blocked.as("l").join(blocked.as("r"),
        col("l.b") === col("r.b") && col("l.id") < col("r.id"))
      // hamming filter BEFORE the pair-dedup: xor+popcount per candidate is
      // cheap map-side work, while distinct() is a shuffle — filtering first
      // shrinks that shuffle from |candidates| to |matches|.
      .withColumn("hamming", bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("hamming"))
      .distinct()
  }

  /** The pigeonhole block structs for radius `maxHamming` over a
    * `bits`-wide hash column: maxHamming+1 non-empty bit spans — any pair
    * within the radius agrees exactly on at least one whole block.
    */
  private def hammingBlocks(hashCol: Column, bits: Int, maxHamming: Int): Seq[Column] = {
    val nBlocks = maxHamming + 1
    require(nBlocks >= 2 && nBlocks <= bits,
      s"maxHamming must be in [1, ${bits - 1}], got $maxHamming")
    val base = bits / nBlocks
    val rem = bits % nBlocks
    val widths = (0 until nBlocks).map(i => base + (if (i < rem) 1 else 0))
    assert(widths.forall(_ >= 1) && widths.sum == bits)
    val offsets = widths.scanLeft(0)(_ + _)
    // nBlocks >= 2 caps every width at <= ceil(bits/2) <= 32, so the mask
    // shift below can never overflow a Long
    assert(widths.forall(_ < 64))
    (0 until nBlocks).map { i =>
      struct(lit(i).as("blk"),
        shiftrightunsigned(hashCol, offsets(i))
          .bitwiseAND(lit((1L << widths(i)) - 1)).as("v"))
    }
  }

  private def simhashBlocks(maxHamming: Int): Seq[Column] =
    hammingBlocks(col("simhash"), SimhashBits, maxHamming)

  /** Generic hamming-radius self-pairs over ANY `bits`-wide long hash
    * column (image perceptual hashes, 64-bit simhash variants, …): the
    * same exact pigeonhole blocking as [[simhashPairs]] — shuffle volume
    * is corpus × (maxHamming+1) block keys, never n².
    * Input: (id, <hashCol>); output: (id_a, id_b, hamming), id_a < id_b.
    *
    * `maxBucket` is deliberately NOT defaulted (same move as the
    * mandatory df-cap on n-gram Jaccard): a degenerate block key on a
    * near-duplicate-heavy corpus makes the block self-join quadratic, so
    * every caller must consciously size the cap (0 = uncapped, for
    * exact-baseline comparisons only).
    */
  def hammingPairs(sig: DataFrame, hashCol: String, bits: Int,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val blocked = capBuckets(
      sig.select(col("id"), col(hashCol).as("_hh"),
        explode(array(hammingBlocks(col(hashCol), bits, maxHamming): _*)).as("b")),
      "b", maxBucket)
    blocked.as("l").join(blocked.as("r"),
        col("l.b") === col("r.b") && col("l.id") < col("r.id"))
      .withColumn("hamming", bit_count(col("l._hh").bitwiseXOR(col("r._hh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("hamming"))
      .distinct()
  }

  /** Cross-set simhash radius join: (a, b) pairs with one id from `sigA`
    * and one from `sigB` within `maxHamming` — NEVER an A×B product. The
    * near-dup form of benchmark decontamination: exact-shingle overlap
    * (Curation.contaminated) misses paraphrased eval leakage; a simhash
    * radius catches it. Same exact pigeonhole blocking as [[simhashPairs]]
    * — each side explodes into maxHamming+1 block keys and only bucket
    * collisions are compared, so the join cost is candidate-proportional.
    * With an asymmetric workload (|eval| ≪ |train|) Catalyst broadcasts
    * the eval side's blocks: a map-side radius probe of the whole corpus.
    *
    * NOTE: there is deliberately no `id_a =!= id_b` guard — an id present
    * in BOTH sets yields its (x, x, hamming 0) pair, which for the
    * decontamination use is exactly right (a doc sitting in train AND
    * eval is the worst leak). Pass disjoint sets if self-matches are not
    * wanted.
    */
  /** Cross-document REPEATED-SUBSTRING spans (the suffix-array dedup
    * modality of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" — found here with the engine's banded-index
    * discipline instead of a suffix array): every MAXIMAL verbatim token
    * span of ≥ `minLen` tokens shared by two distinct documents. This is
    * the dup shape document-level similarity dilutes away — a 50-token
    * licence header pasted into two otherwise-unrelated 5 000-token docs
    * has MinHash-Jaccard ≈ 0.005 and near-zero n-gram overlap, yet is
    * exactly what a training pipeline must strip.
    *
    * Algorithm (seed-and-extend, BLAST-style, fully relational):
    *  1. positional `minLen`-gram fingerprints per doc — (id, pos,
    *     md5(gram)), a NARROW stage (the md5 is the 128-bit exact-match
    *     key; at 128 bits a collision needs ~2^64 grams — beyond any
    *     corpus — and the within-bucket diagonal step below never widens
    *     a match, so reported spans are exact token-for-token);
    *  2. fingerprint-bucket equi-join for seed pairs — candidate cost is
    *     bucket-bounded via [[capBuckets]] (`maxBucket`), NEVER an n²
    *     product: a gram shared by m docs contributes ≤ m² ≤ maxBucket²
    *     seeds, and non-shared grams contribute nothing;
    *  3. exact extension: within a (id_a, id_b) pair, seed matches on one
    *     DIAGONAL (pos_a − pos_b constant) at consecutive pos_a are the
    *     same span — a run of r consecutive matching `minLen`-grams IS a
    *     shared span of exactly r + minLen − 1 tokens, so one
    *     gaps-and-islands window (row_number over the diagonal) + one
    *     aggregation yields every maximal span with no re-scan of the
    *     text.
    *
    * One exchange on the fingerprint (join key), one on (id_a, id_b,
    * diag) for the window+agg — both candidate-proportional. At 100 TB
    * the fingerprint frame is the corpus token count sized; the seed-pair
    * frame only holds genuinely repeated grams (rare by construction at
    * minLen ≥ 20) and skew is bounded by `maxBucket` exactly like the
    * MinHash band join.
    *
    * Output: (id_a, id_b, a_start, b_start, n_tokens) with id_a < id_b,
    * starts 0-based token offsets, one row per MAXIMAL shared span.
    *
    * `withinDoc = true` ADDITIONALLY reports spans a document repeats
    * INSIDE ITSELF (Lee et al. dedup both forms): self rows have
    * id_a = id_b and a_start < b_start — the (pos_a < pos_b) half of the
    * self-join, so each internal repeat appears once, and the diagonal
    * extension is unchanged (a run of consecutive matching grams at a
    * fixed self-offset is one maximal internal repeat). Tandem repeats
    * overlap naturally: "x"·30 with minLen 20 yields one maximal row per
    * self-offset, each the longest run at that offset.
    */
  /** Stage 1 of [[repeatedSpans]], shared with the incremental index
    * ([[DedupIndex.buildSpanIndex]]): positional `minLen`-gram
    * fingerprints — (id, pos, fp) with fp = md5 of the gram text.
    */
  private[ops] def spanFingerprints(df: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // Widen a narrow input first: the per-position gram construction +
    // md5 is the CPU-heavy part of the whole span pipeline (minLen
    // tokens re-materialized per position), and a single staged file or
    // a coalesce(1) ingest batch otherwise serializes it into ONE task
    // (measured: 14 s single-task vs ~1 s spread, identical output). At
    // scale the scan already carries >= defaultParallelism partitions
    // and this branch adds nothing — no unconditional exchange.
    val target = df.sparkSession.sparkContext.defaultParallelism
    val in = df.select(col(idCol).as("id"), col(textCol).as("_t"))
    val wide = if (in.rdd.getNumPartitions < target)
      in.repartition(target) else in
    // 128-bit positional fingerprint as TWO independently-seeded
    // xxhash64's over the token SLICE itself, hex-packed into one
    // 32-char key column. The previous form md5'd the concat_ws-joined
    // gram STRING — re-materializing ~minLen tokens of text per
    // position made gram construction, not hashing, the dominant CPU in
    // the whole span pipeline; hashing the slice array skips the text
    // copy entirely. Collision math is unchanged at 128 bits (a false
    // seed needs ~2^64 grams), and the fingerprint never leaves the
    // pipeline — reported spans depend only on gram EQUALITY, so output
    // is bit-identical to the md5 form (the DuckDB oracles replay md5
    // on their side for the same reason: any exact 128-bit fingerprint
    // yields the same spans).
    val idx = when(size(col("_tk")) >= minLen,
        sequence(lit(0), size(col("_tk")) - minLen))
      .otherwise(array().cast("array<int>"))
    wide.select(col("id"), tokens(col("_t")).as("_tk"))
      .select(col("id"), posexplode(transform(idx,
        i => concat(
          lpad(hex(xxhash64(lit(1), slice(col("_tk"), i + 1, lit(minLen)))), 16, "0"),
          lpad(hex(xxhash64(lit(2), slice(col("_tk"), i + 1, lit(minLen)))), 16, "0"))))
        .as(Seq("pos", "fp")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("fp"))
  }

  /** Diagonal gaps-and-islands extension shared by [[repeatedSpans]] and
    * [[DedupIndex.incrementalSpans]]: seed matches (id_a, id_b, pos_a,
    * pos_b) → one row per MAXIMAL shared span.
    */
  private[ops] def extendSeeds(pairs: DataFrame, minLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    pairs
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).as("a_start"), min(col("pos_b")).as("b_start"),
        (count(lit(1)) + lit(minLen - 1).cast("long")).as("n_tokens"))
      .select(col("id_a"), col("id_b"), col("a_start"), col("b_start"),
        col("n_tokens"))
  }

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, maxBucket: Int = 64,
      withinDoc: Boolean = false): DataFrame = {
    val sh = spanFingerprints(df, idCol, textCol, minLen)
    val capped = capBuckets(sh, "fp", maxBucket)
    val pairCond =
      if (withinDoc)
        col("a.id") < col("b.id") ||
          (col("a.id") === col("b.id") && col("a.pos") < col("b.pos"))
      else col("a.id") < col("b.id")
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && pairCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    extendSeeds(pairs, minLen)
  }

  /** Repeated-span EXCISION — the removal step of Lee et al.'s
    * suffix-array dedup, completing [[repeatedSpans]]: rewrite the
    * corpus with every shared span's LATER occurrence removed
    * (keep-first: the copy in the lower doc id survives; each span row's
    * id_b-side token range `[b_start, b_start + n_tokens)` is dropped).
    * Overlapping ranges union naturally — a token goes when ANY range
    * covers it — so the rewrite is independent of span row order and
    * bit-deterministic.
    *
    * Scale shape: the span table is candidate-sized (genuinely repeated
    * grams only — orders of magnitude smaller than the corpus), so its
    * per-doc range aggregation broadcasts into ONE join against the
    * corpus; the rewrite itself is a narrow codegen'd HOF pass (token
    * filter by an `exists` over the doc's own ranges — ranges per doc
    * are few, the filter is O(tokens · ranges_doc)). No shuffle of
    * corpus bytes beyond that single broadcast join.
    *
    * Output: id, n_tokens (original), n_removed, text_clean.
    */
  def exciseSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val ranges = spans
      .groupBy(col("id_b").as("rid"))
      .agg(collect_list(struct(col("b_start").as("s"),
        (col("b_start") + col("n_tokens")).as("e"))).as("ranges"))
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .join(broadcast(ranges), col(idCol) === col("rid"), "left")
      .withColumn("ranges", coalesce(col("ranges"),
        expr("CAST(array() AS array<struct<s: bigint, e: bigint>>)")))
      .withColumn("keep", expr(
        """filter(
          transform(toks, (tk, i) -> named_struct('tk', tk,
            'i', CAST(i AS BIGINT))),
          x -> NOT exists(ranges, r -> x.i >= r.s AND x.i < r.e))"""))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("keep"))).cast("long")
          .as("n_removed"),
        expr("array_join(transform(keep, x -> x.tk), ' ')")
          .as("text_clean"))
  }

  def simhashCrossPairs(sigA: DataFrame, sigB: DataFrame, maxHamming: Int,
      maxBucket: Int = 0): DataFrame = {
    val blocks = simhashBlocks(maxHamming)
    def blocked(sig: DataFrame) = capBuckets(
      sig.select(col("id"), col("simhash"),
        explode(array(blocks: _*)).as("b")),
      "b", maxBucket)
    blocked(sigA).as("l").join(blocked(sigB).as("r"), col("l.b") === col("r.b"))
      .withColumn("hamming", bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("hamming"))
      .distinct()
  }
}
