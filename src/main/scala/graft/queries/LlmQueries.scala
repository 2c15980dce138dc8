package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CountMin, Curation, Dedup, Multimodal, SessionConf, Similarity,
  TextAnalysis => TA}
import Q.{Def, t}

/** LLM-training-data pipeline operators over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine), similarity search (brute-force + LSH-bucketed ANN), text
  * analysis (language ID, quality, token stats, fingerprints) and
  * multimodal column plumbing.
  *
  * Oracle parity: all hashing is md5-derived integer arithmetic
  * (TextAnalysis.hash48) and all similarity arithmetic is exact-integer
  * (Similarity.quantize) so DuckDB reproduces results bit-for-bit; the SQL
  * below is generated from the same constants the Spark operators use.
  */
object LlmQueries {

  import Dedup.{mhA, mhB}
  import TA.{P31, P9}

  /** The state store the transformWithState streams (l114–l116) need. */
  private val rocksDbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** One call of an l114–l116 gate: `slices` streamed through `build`
    * into an append parquet sink, on state partitions sized from the
    * staged input. Returns the sink's rows. */
  private def streamToParquet(s: SparkSession, tag: String,
      slices: Seq[DataFrame])(build: DataFrame => Dataset[_]): DataFrame =
    Q.streamGate(tag) { g =>
      val in = g.stage(slices)
      val out = s"${g.dir}/out"
      Q.withStreamParts(s, in.bytes) {
        g.run(ckpt => build(in.stream(s)).writeStream.outputMode("append")
          .option("checkpointLocation", ckpt).trigger(g.trigger)
          .format("parquet").option("path", out).start())
      }
      s.read.parquet(out)
    }

  /** The shared near-dup pipeline (l07's parameters are the single
    * source: k=32, 16 bands × 2 rows, maxBucket 10000): MinHash
    * signatures plus LSH-candidate pairs with exact-Jaccard stats.
    * l47/l49/l51 all consume this; a parameter change lands in one
    * place or their candidate sets would silently diverge.
    */
  private def verifiedNearDups(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    val sh = Dedup.shingleIndex(docs, "doc_id", "text")
    val sig = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text", k = 32)
    val cand = Dedup.lshCandidates(sig, k = 32, rowsPerBand = 2, maxBucket = 10000)
    (sig, Dedup.verifyJaccard(sh, cand))
  }

  /** Constructed timeline for l78 (windowed streaming dedup), memoized per
    * (session, sf dir) — the four day-partitioned input files are
    * immutable; each l78 run gets its own query/checkpoint/output.
    * Timeline (1-hour dedup window): texts uniquified per base doc; every
    * 7th doc gets a copy 30 min later (in-window dup), a day-3 copy
    * (digest expired through the two filler days → fresh owner), and a
    * copy 30 min after that (dup of the re-admitted owner).
    */
  // input memo: the staged l78 timeline, never the gate's output
  private val l78Cache =
    scala.collection.concurrent.TrieMap.empty[String, Q.Staged]

  private def l78Input(s: SparkSession, d: String): Q.Staged =
    l78Cache.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
      val E = 1704067200L // 2024-01-01 00:00:00 UTC, epoch seconds
      val Day = 86400L
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit("#"), col("doc_id").cast("string"))
            .as("text"),
          (col("doc_id") % 70000).cast("long").as("off"))
      def wave(idShift: Long, tsSec: org.apache.spark.sql.Column,
          src: DataFrame): DataFrame =
        src.select((col("doc_id") + idShift).as("doc_id"), col("text"),
          col("source"), timestamp_seconds(tsSec).as("ts"))
      val d7 = base.filter(col("doc_id") % 7 === 0)
      val day0 = wave(0L, lit(E) + col("off"), base)
        .unionByName(wave(1000000L, lit(E) + col("off") + 1800L, d7))
      def filler(id: Long, day: Long): DataFrame =
        s.range(1).select(lit(id).as("doc_id"),
          lit(s"filler-day-$day").as("text"), lit("filler").as("source"),
          timestamp_seconds(lit(E + day * Day)).as("ts"))
      val day3 = wave(2000000L, lit(E + 3 * Day) + col("off"), d7)
        .unionByName(wave(3000000L, lit(E + 3 * Day) + col("off") + 1800L, d7))
      Q.stage(Seq(day0, filler(9000001L, 1L), filler(9000002L, 2L), day3),
        TempDirs.workDir("graft_l78_in").toString)
    })

  /** l109 staged input: the corpus split into thirds (doc_id % 3) as
    * three arrival waves, plus a fourth wave of spam-vocabulary docs —
    * one parquet file per wave ([[Q.stage]]), replayed as ordered
    * micro-batches. The
    * oracle does not depend on the file→batch mapping: drift is grouped
    * by the in-data `slice` column, so any batching yields the same rows.
    */
  // input memo: the staged l109 waves, never the gate's output
  private val l109Cache =
    scala.collection.concurrent.TrieMap.empty[String, Q.Staged]

  private def l109Input(s: SparkSession, d: String): Q.Staged =
    l109Cache.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
      val base = t(s, d, "documents")
      val waves = (0 to 2).map { i =>
        base.filter(col("doc_id") % 3 === i)
          .select(col("doc_id"), col("source"), col("text"),
            lit(i).as("slice"))
      } :+ base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          lit("src_spam").as("source"),
          concat(lit("spamA spamB spamC spam"),
            col("doc_id").cast("string")).as("text"),
          lit(3).as("slice"))
      Q.stage(waves, TempDirs.workDir("graft_l109_in").toString)
    })

  // ------------------------------------------------------- oracle helpers

  /** DuckDB equivalent of TextAnalysis.hash48. */
  private def oH48(e: String) = s"CAST(('0x' || substr(md5($e), 1, 12)) AS BIGINT)"

  /** Deterministic per-doc crawl URL (the l126 synthesis pattern,
    * URL-shaped): mixed scheme/host case, www/CDN subdomains, default AND
    * non-default ports (including http+:443, which canonicalization must
    * KEEP), messy paths, tracking params, unsorted queries and fragments
    * — every [[graft.ops.Curation.urlCanonicalize]] rule fires on real
    * rows, and the suffix mix (github.io / co.uk / .weird /
    * s3.amazonaws.com / .com) exercises every registrableDomain rule.
    */
  private def synthUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    val scheme = when(id % 3 === 0, "HTTPS://")
      .when(id % 3 === 1, "https://").otherwise("HTTP://")
    val sub = when(id % 5 === 0, "WWW.").when(id % 5 === 1, "www.")
      .when(id % 5 === 3, "blog.").when(id % 5 === 4, "CDN.").otherwise("")
    val apex = when(id % 7 === 0, concat(col("source"), lit(".GitHub.IO")))
      .when(id % 7 === 1, concat(col("source"), lit(".co.uk")))
      .when(id % 7 === 2, concat(col("source"), lit(".weird")))
      .when(id % 7 === 3, concat(col("source"), lit(".S3.AmazonAWS.com")))
      .otherwise(concat(col("source"), lit(".com")))
    val port = when(id % 4 === 1, ":443").when(id % 4 === 2, ":8080")
      .otherwise("")
    val path = when(id % 6 === 0, "/a//b/")
      .when(id % 6 === 1, "")
      .when(id % 6 === 2, concat(lit("/articles/"), (id % 50).cast("string")))
      .when(id % 6 === 3, "/x/")
      .when(id % 6 === 4, "/Mixed/Case")
      .otherwise("/a/b")
    val query = when(id % 8 === 0, "?z=9&a=1&utm_source=feed")
      .when(id % 8 === 1, "?utm_campaign=x&utm_medium=y")
      .when(id % 8 === 2, concat(lit("?id="), id.cast("string")))
      .when(id % 8 === 3,
        concat(lit("?fbclid=abc&id="), (id % 10).cast("string"), lit("&b=2")))
      .otherwise("")
    val frag = when(id % 2 === 0, "#sec-2").otherwise("")
    concat(scheme, sub, apex, port, path, query, frag)
  }

  /** SQL twin of [[synthUrl]] over (doc_id, source). */
  private val oSynthUrl: String =
    """(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
             WHEN doc_id % 3 = 1 THEN 'https://' ELSE 'HTTP://' END ||
       CASE WHEN doc_id % 5 = 0 THEN 'WWW.' WHEN doc_id % 5 = 1 THEN 'www.'
            WHEN doc_id % 5 = 3 THEN 'blog.'
            WHEN doc_id % 5 = 4 THEN 'CDN.' ELSE '' END ||
       CASE WHEN doc_id % 7 = 0 THEN source || '.GitHub.IO'
            WHEN doc_id % 7 = 1 THEN source || '.co.uk'
            WHEN doc_id % 7 = 2 THEN source || '.weird'
            WHEN doc_id % 7 = 3 THEN source || '.S3.AmazonAWS.com'
            ELSE source || '.com' END ||
       CASE WHEN doc_id % 4 = 1 THEN ':443'
            WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END ||
       CASE WHEN doc_id % 6 = 0 THEN '/a//b/' WHEN doc_id % 6 = 1 THEN ''
            WHEN doc_id % 6 = 2 THEN '/articles/' || CAST(doc_id % 50 AS VARCHAR)
            WHEN doc_id % 6 = 3 THEN '/x/'
            WHEN doc_id % 6 = 4 THEN '/Mixed/Case' ELSE '/a/b' END ||
       CASE WHEN doc_id % 8 = 0 THEN '?z=9&a=1&utm_source=feed'
            WHEN doc_id % 8 = 1 THEN '?utm_campaign=x&utm_medium=y'
            WHEN doc_id % 8 = 2 THEN '?id=' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 8 = 3 THEN '?fbclid=abc&id=' ||
              CAST(doc_id % 10 AS VARCHAR) || '&b=2' ELSE '' END ||
       CASE WHEN doc_id % 2 = 0 THEN '#sec-2' ELSE '' END)"""

  /** DuckDB replay of Curation.urlCanonicalize as chained CTEs over
    * `inRel` (must carry a `url` column; all other columns ride along).
    * Exposes `url_canon` in `${p}4`. DuckDB's regexp_replace is
    * first-match-only by default — the 'g' flag restores Spark's
    * replace-all on the slash-collapse.
    */
  private def oUrlCanon(inRel: String, p: String): String = s"""
    ${p}1 AS (SELECT *, trim(url) AS u FROM $inRel),
    ${p}2 AS (SELECT *,
        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS araw,
        regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        regexp_extract(u, '^[^?#]*\\?([^#]*)', 1) AS q0
      FROM ${p}1),
    ${p}2u AS (SELECT *,
        regexp_extract(araw, '^(.*)@', 1) AS uinfo,
        lower(regexp_replace(araw, '^.*@', '')) AS hport
      FROM ${p}2),
    ${p}3 AS (SELECT *,
        (CASE WHEN uinfo = '' THEN '' ELSE uinfo || '@' END) ||
        (CASE WHEN scheme = 'http' THEN
               regexp_replace(regexp_replace(hport, '^www\\.', ''), ':80$$', '')
             WHEN scheme = 'https' THEN
               regexp_replace(regexp_replace(hport, '^www\\.', ''), ':443$$', '')
             ELSE regexp_replace(hport, '^www\\.', '') END) AS auth,
        regexp_replace(path0, '/{2,}', '/', 'g') AS path1,
        COALESCE(array_to_string(list_sort(list_filter(string_split(q0, '&'),
          pq -> pq <> '' AND NOT regexp_matches(pq,
            '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid)(=|$$)'))),
          '&'), '') AS q
      FROM ${p}2u),
    ${p}4 AS (SELECT *,
        CASE WHEN scheme = '' THEN u
             ELSE scheme || '://' || auth ||
               (CASE WHEN path1 = '' THEN '/'
                     ELSE regexp_replace(path1, '(.)/$$', '\\1') END) ||
               (CASE WHEN q = '' THEN '' ELSE '?' || q END) END AS url_canon
      FROM ${p}3)"""

  /** DuckDB replay of Curation.urlHost over a canonical URL. */
  private val oUrlHost =
    "regexp_extract(url_canon, " +
      "'^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/?#:]*)', 1)"

  /** DuckDB replay of Curation.registrableDomain over `inRel` (must carry
    * `host`): the IN lists are Curation.DefaultPublicSuffixes partitioned
    * by label count. Exposes `domain` in `${p}4`.
    */
  private def oDomain(inRel: String, p: String): String = s"""
    ${p}1 AS (SELECT *, string_split(host, '.') AS labs,
        len(string_split(host, '.')) AS nl FROM $inRel),
    ${p}2 AS (SELECT *,
        CASE WHEN nl > 3 AND array_to_string(list_slice(labs, nl - 2, nl), '.')
                 IN ('s3.amazonaws.com') THEN 3
             WHEN nl > 2 AND array_to_string(list_slice(labs, nl - 1, nl), '.')
                 IN ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                     'co.jp','ne.jp','com.br','co.in','github.io',
                     'blogspot.com') THEN 2
             WHEN nl > 1 AND labs[nl] IN ('com','net','org','io','dev','edu',
                     'gov','uk','au','jp','br','in') THEN 1
             ELSE 0 END AS mlen FROM ${p}1),
    ${p}3 AS (SELECT *, CASE WHEN mlen > 0 THEN mlen + 1
        ELSE LEAST(nl, 2) END AS rlen FROM ${p}2),
    ${p}4 AS (SELECT *,
        array_to_string(list_slice(labs, nl - rlen + 1, nl), '.') AS domain
      FROM ${p}3)"""
  private val oToks = "string_split(text, ' ')"

  /** The BPE training loop unrolled as chained CTEs (w0 → pK/bK/wK …):
    * char symbolization + </w>, pair counts from adjacencies, argmax with
    * (count DESC, pair ASC) tie-break, merge applied by the same
    * leftmost-first fold the Spark side runs (DuckDB list_reduce seeds
    * the accumulator with the first element, matching the Spark
    * aggregate's explicit init).
    */
  private def oBpeStages(k: Int): String = {
    val w0 = s"""w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
      CASE WHEN length(word) = 0 THEN '</w>'
        ELSE array_to_string(list_transform(generate_series(1, length(word)),
          i -> word[i]), ' ') || ' </w>' END AS syms
      FROM (SELECT unnest($oToks) AS word FROM documents) GROUP BY word)"""
    val stages = (1 to k).map { i =>
      s"""p$i AS (SELECT l[i] AS m_left, l[i + 1] AS m_right,
          CAST(SUM(cnt) AS BIGINT) AS pair_n
        FROM (SELECT cnt, string_split(syms, ' ') AS l FROM w${i - 1}),
          UNNEST(generate_series(1, len(l) - 1)) AS g(i)
        GROUP BY 1, 2),
      b$i AS (SELECT m_left, m_right, pair_n FROM p$i
        ORDER BY pair_n DESC, m_left, m_right LIMIT 1),
      w$i AS (SELECT word, cnt, list_reduce(string_split(syms, ' '),
          (acc, s) -> CASE WHEN s = b$i.m_right AND (acc = b$i.m_left OR
              right(acc, length(b$i.m_left) + 1) = ' ' || b$i.m_left)
            THEN CASE WHEN acc = b$i.m_left
              THEN b$i.m_left || b$i.m_right
              ELSE left(acc, length(acc) - length(b$i.m_left) - 1) ||
                ' ' || b$i.m_left || b$i.m_right END
            ELSE acc || ' ' || s END) AS syms
        FROM w${i - 1}, b$i)"""
    }
    (w0 +: stages).mkString(",\n")
  }

  /** DuckDB replay of Curation.bpeEncode on top of [[oBpeStages]](k)'s
    * final word table `w$k`: realized-symbol vocab (sym ASC row-number),
    * per-word id lists in symbol order, per-document flatten in token
    * order. Exposes `dd(doc_id, n_tokens, ids)`.
    */
  private def oBpeEncode(k: Int): String = s"""
    vb AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) AS BIGINT)
        AS tid
      FROM (SELECT DISTINCT unnest(string_split(syms, ' ')) AS sym
        FROM w$k)),
    wp AS (SELECT word, i, l[i] AS sym
      FROM (SELECT word, string_split(syms, ' ') AS l FROM w$k),
        UNNEST(generate_series(1, len(l))) AS g(i)),
    wid AS (SELECT word, list(tid ORDER BY i) AS wids
      FROM wp JOIN vb USING (sym) GROUP BY word),
    dtk AS (SELECT doc_id, i, t[i] AS word
      FROM (SELECT doc_id, $oToks AS t FROM documents),
        UNNEST(generate_series(1, len(t))) AS g(i)),
    dd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        flatten(list(wids ORDER BY i)) AS ids
      FROM dtk JOIN wid USING (word) GROUP BY doc_id)"""

  /** DuckDB replay of Curation.bpeEncode(frozenVocab, byteFallback=true)
    * + bpeDecode over the `aug` relation (doc_id, text), with merges
    * b1..b$k and frozen vocab vb from [[oBpeStages]]($k)'s TRAINING
    * chain: the learned merges are applied to aug's own unique words
    * (v-chain — words unseen at training still fold), in-vocab symbols
    * take their frozen tid, strays decompose to UTF-8 bytes at reserved
    * ids `MAX(tid)+1+byte`, and the decode replays the hex-concat →
    * from_hex → UTF-8 inversion. Exposes `dd(doc_id, n_tokens, ids)`
    * and `dt(doc_id, decoded)`.
    */
  private def oBpeEncodeFb(k: Int): String = {
    val hexd = "'0123456789ABCDEF'"
    val v0 = s"""v0 AS (SELECT word,
      CASE WHEN length(word) = 0 THEN '</w>'
        ELSE array_to_string(list_transform(generate_series(1, length(word)),
          i -> word[i]), ' ') || ' </w>' END AS syms
      FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        FROM aug))"""
    val vstages = (1 to k).map { i =>
      s"""v$i AS (SELECT word, list_reduce(string_split(syms, ' '),
          (acc, s) -> CASE WHEN s = b$i.m_right AND (acc = b$i.m_left OR
              right(acc, length(b$i.m_left) + 1) = ' ' || b$i.m_left)
            THEN CASE WHEN acc = b$i.m_left
              THEN b$i.m_left || b$i.m_right
              ELSE left(acc, length(acc) - length(b$i.m_left) - 1) ||
                ' ' || b$i.m_left || b$i.m_right END
            ELSE acc || ' ' || s END) AS syms
        FROM v${i - 1}, b$i)"""
    }.mkString(",\n")
    s"""$v0,
    $vstages,
    vb AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) AS BIGINT)
        AS tid
      FROM (SELECT DISTINCT unnest(string_split(syms, ' ')) AS sym
        FROM w$k)),
    mx AS (SELECT MAX(tid) + 1 AS bb FROM vb),
    wp AS (SELECT word, i, l[i] AS sym
      FROM (SELECT word, string_split(syms, ' ') AS l FROM v$k),
        UNNEST(generate_series(1, len(l))) AS g(i)),
    wph AS (SELECT word, i, sym, tid, hex(encode(sym)) AS h
      FROM wp LEFT JOIN vb USING (sym)),
    wpi AS (SELECT word, i, CASE WHEN tid IS NOT NULL THEN [tid]
        ELSE list_transform(generate_series(1, length(h) // 2), j ->
          mx.bb + CAST(16 * (strpos($hexd, h[2*j-1]) - 1)
            + strpos($hexd, h[2*j]) - 1 AS BIGINT)) END AS sids
      FROM wph CROSS JOIN mx),
    wid AS (SELECT word, flatten(list(sids ORDER BY i)) AS wids
      FROM wpi GROUP BY word),
    dtk AS (SELECT doc_id, i, t[i] AS word
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
        UNNEST(generate_series(1, len(t))) AS g(i)),
    dd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        flatten(list(wids ORDER BY i)) AS ids
      FROM dtk JOIN wid USING (word) GROUP BY doc_id),
    di AS (SELECT doc_id, j, ids[j] AS tid
      FROM dd, UNNEST(generate_series(1, len(ids))) AS g(j)),
    dih AS (SELECT doc_id, j, CASE WHEN di.tid < mx.bb
          THEN hex(encode(vb.sym))
          ELSE $hexd[CAST((di.tid - mx.bb) // 16 AS INTEGER) + 1] ||
               $hexd[CAST((di.tid - mx.bb) % 16 AS INTEGER) + 1] END AS h
      FROM di CROSS JOIN mx LEFT JOIN vb ON vb.tid = di.tid),
    dt AS (SELECT doc_id, rtrim(replace(decode(from_hex(
          string_agg(h, '' ORDER BY j))), '</w>', ' ')) AS decoded
      FROM dih GROUP BY doc_id)"""
  }

  /** DuckDB bigram-LM per-doc aggregate CTE chain (Curation.bigramLmScore):
    * corpus conditional counts floor-scaled by 1e6, summed per document.
    */
  private val oLmAgg =
    s"""tk AS (SELECT doc_id, $oToks AS t FROM documents),
       bg AS (SELECT doc_id, t[i] AS u, t[i+1] AS v
         FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
         WHERE len(t) >= 2),
       c2 AS (SELECT u, v, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
       c1 AS (SELECT u, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       sc AS (SELECT bg.doc_id, (1000000 * c2.c2) // c1.c1 AS p
         FROM bg JOIN c2 USING (u, v) JOIN c1 USING (u)),
       lm AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(p) AS BIGINT) AS sum_scaled FROM sc GROUP BY 1)"""

  /** DuckDB equivalent of TextAnalysis.qualityScore (the l04 expression). */
  private val oQualityLevelSum =
    s"""(CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1 ELSE 0 END)
       + (CASE WHEN CAST(len(list_filter($oToks, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len($oToks) > 0.001 THEN 1 ELSE 0 END)
       + (CASE WHEN CAST(list_sum(list_transform($oToks, tk -> LENGTH(tk))) AS DOUBLE) / len($oToks) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END)"""

  private val oQuality = s"CAST($oQualityLevelSum AS DOUBLE) / 3"

  private val oQualityLevel = s"CAST($oQualityLevelSum AS BIGINT)"

  /** DuckDB distinct 3-gram shingle CTE over documents. */
  private val oShingles =
    s"""sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM (SELECT doc_id, $oToks AS t FROM documents),
       UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS g(i))"""

  /** DuckDB per-shingle base hash (mod P31) CTE (depends on sh). */
  private val oShingleHash =
    s"hh AS (SELECT doc_id, ${oH48("shingle")} % $P31 AS hb FROM sh)"

  /** DuckDB exact-Jaccard pair CTE chain (depends on sh). */
  private val oJaccard =
    s"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jac AS (SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)"""

  /** DuckDB simhash CTE (48-bit, token-frequency weighted). */
  private val oSimhash =
    s"""tok AS (SELECT doc_id, UNNEST($oToks) AS tk FROM documents),
       th AS (SELECT doc_id, ${oH48("tk")} AS hv FROM tok),
       bits AS (SELECT doc_id, b,
           SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM th, UNNEST(generate_series(0, 47)) AS g(b) GROUP BY doc_id, b),
       sim AS (SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id)"""

  /** DuckDB quantized-embedding CTE: exact half-away-from-zero at 1e-4. */
  private val oQuant =
    """qe AS (SELECT vec_id, label,
         list_transform(embedding, x -> CAST(CASE WHEN x >= 0
           THEN FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5)
           ELSE CEIL(CAST(x AS DOUBLE) * 10000 - 0.5) END AS BIGINT)) AS q
       FROM embeddings),
       qn AS (SELECT vec_id, label, q,
         CAST(list_sum(list_transform(generate_series(1, 64), i -> q[i] * q[i])) AS BIGINT) AS norm_sq
       FROM qe)"""

  /** DuckDB exact dot product between two quantized vectors qa/qb. */
  private def oDot(a: String, b: String) =
    s"CAST(list_sum(list_transform(generate_series(1, 64), i -> $a[i] * $b[i])) AS BIGINT)"

  /** DuckDB sign-LSH bucket over the first `bits` dims. */
  private def oBucket(bits: Int, vec: String = "embedding") =
    (0 until bits).map(j =>
      s"(CASE WHEN $vec[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** The BM25 query workload (terms drawn from the corpus vocabulary). */
  val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "window", "agg"),
    2 -> Seq("customer", "join", "merge"),
    3 -> Seq("slow", "filter", "scan"),
    4 -> Seq("vector", "stream", "batch"))

  /** BM25 top-10 oracle over `documents`, optionally corpus-restricted —
    * shared by l35 (inline), l92 (maintained-index serve) and l93
    * (post-takedown serve): the maintained index must answer EXACTLY
    * like the inline computation over the same surviving corpus, so all
    * three gates are one SQL body differing only in the corpus WHERE.
    */
  private def oBm25(where: String): String =
    s"""WITH q(qid, term) AS (VALUES ${bm25Queries.flatMap {
          case (qid, ts) => ts.map(t0 => s"($qid, '$t0')")
        }.mkString(", ")}),
      tk AS (SELECT doc_id, $oToks AS t FROM documents $where),
      dls AS (SELECT doc_id, len(t) AS dl FROM tk),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dls),
      tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(t) AS tok FROM tk)
        WHERE tok IN (SELECT term FROM q) GROUP BY 1, 2),
      dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      scored AS (SELECT q.qid, tf.doc_id,
          CAST(FLOOR(
            (((2 * s.n_docs - 2 * d.df + 1) * 1000000.0) / (2 * d.df + 1))
            * (22 * s.sum_dl * tf.tf)
            / (10 * s.sum_dl * tf.tf + 3 * s.sum_dl + 9 * dls.dl * s.n_docs)
          ) AS BIGINT) AS score_i
        FROM tf JOIN q ON tf.term = q.term
        JOIN dfreq d ON tf.term = d.term
        JOIN dls ON tf.doc_id = dls.doc_id
        CROSS JOIN stats s),
      tot AS (SELECT qid, doc_id, CAST(SUM(score_i) AS BIGINT) AS score_scaled,
          COUNT(*) AS n_terms FROM scored GROUP BY 1, 2)
      SELECT qid, rank, doc_id, score_scaled, n_terms FROM (
        SELECT qid, doc_id, score_scaled, n_terms,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
        FROM tot)
      WHERE rank <= 10 ORDER BY qid, rank"""

  val defs: Map[String, Def] = Map(

    // Exact dedup: one shuffle on the content digest. Representative = min
    // id, survivors derivable by semi join.
    "l01_dedup_exact" -> Def(
      (s, d) => Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
        .select(col("content_hash"), col("rep_id"), col("n_dups"))
        .orderBy(col("rep_id")),
      Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS rep_id,
        COUNT(*) AS n_dups FROM documents GROUP BY md5(text) ORDER BY rep_id""")),

    // Document fingerprints: canonical-md5 + order-sensitive rolling hash.
    "l02_fingerprint" -> Def(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TA.fingerprintMd5(col("text")).as("fp_md5"),
          TA.fingerprintRolling(col("text")).as("fp_rolling"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp_md5,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform($oToks, tk -> ${oH48("tk")})),
          (a, b) -> (a * 31 + b) % $P9) AS fp_rolling
        FROM documents ORDER BY doc_id""")),

    // Token statistics (whitespace + BPE-ish subword estimate).
    "l03_token_stats" -> Def(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("n_chars"),
          TA.subwordCount(col("text")).as("n_subwords"),
          TA.meanTokenLen(col("text")).as("mean_token_len"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, len($oToks) AS n_tokens, n_chars,
        CAST(list_sum(list_transform($oToks, tk -> CAST(CEIL(LENGTH(tk) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
        CAST(list_sum(list_transform($oToks, tk -> LENGTH(tk))) AS DOUBLE) / len($oToks) AS mean_token_len
        FROM documents ORDER BY doc_id""")),

    // Quality scoring (C4/Gopher-style bands, deterministic arithmetic).
    "l04_quality" -> Def(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TA.stopwordRatio(col("text")).as("stopword_ratio"),
          TA.qualityScore(col("text"), col("n_chars")).as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        CAST(len(list_filter($oToks, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len($oToks) AS stopword_ratio,
        CAST((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(len(list_filter($oToks, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len($oToks) > 0.001 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(list_sum(list_transform($oToks, tk -> LENGTH(tk))) AS DOUBLE) / len($oToks) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END)
           AS DOUBLE) / 3 AS quality
        FROM documents ORDER BY doc_id""")),

    // Language ID: function-word marker scoring, first-max-wins.
    "l05_langid" -> Def(
      (s, d) => {
        val toks = TA.tokens(col("text"))
        val scores = TA.langMarkers.map { case (code, ms) =>
          code -> size(filter(toks, tk => tk.isInCollection(ms))).cast("long")
        }
        t(s, d, "documents")
          .select(col("doc_id") +: TA.langId(col("text")).as("lang_pred") +:
            scores.map { case (c, e) => e.as(s"s_$c") }: _*)
          .orderBy(col("doc_id"))
      },
      Some {
        val scoreExprs = TA.langMarkers.map { case (code, ms) =>
          code -> s"len(list_filter($oToks, tk -> tk IN (${ms.map(m => s"'$m'").mkString(",")})))"
        }
        val all = scoreExprs.map(e => s"s_${e._1}").mkString(", ")
        val firstMax = scoreExprs.map { case (c, _) =>
          s"WHEN s_$c >= GREATEST($all) THEN '$c'"
        }.mkString(" ")
        s"""SELECT doc_id,
          CASE WHEN GREATEST($all) = 0 THEN 'und' $firstMax END AS lang_pred,
          ${scoreExprs.map { case (c, _) => s"s_$c" }.mkString(", ")}
          FROM (SELECT doc_id,
            ${scoreExprs.map { case (c, e) => s"$e AS s_$c" }.mkString(", ")}
          FROM documents) ORDER BY doc_id"""
      }),

    // MinHash signatures (affine permutations over portable shingle hash).
    // Narrow native kernel: zero-shuffle signature computation; values are
    // bit-identical to the explode+groupBy form (NativeMinHashSpec), so
    // the oracle below is the aggregate formulation, unchanged.
    "l06_minhash_sig" -> Def(
      (s, d) => {
        val sig = Dedup.minhashSignaturesNarrow(
          t(s, d, "documents"), "doc_id", "text", k = 32)
        sig.select(col("id").as("doc_id"), col("mh_1"), col("mh_8"),
            col("mh_16"), col("mh_32"))
          .orderBy(col("doc_id"))
      },
      Some {
        val mins = Seq(1, 8, 16, 32).map(j =>
          s"MIN((hb * ${mhA(j)} + ${mhB(j)}) % $P31) AS mh_$j").mkString(", ")
        s"""WITH $oShingles, $oShingleHash
          SELECT doc_id, $mins FROM hh GROUP BY doc_id ORDER BY doc_id"""
      }),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified. 16 bands × 2 rows
    // on k=32 gives recall 1-(1-J²)^16 (≈1-4e-23 at the planted J≈0.98), so
    // the LSH output equals the exact-Jaccard oracle. (At production scale
    // the shingle frame would be written out once as a materialized index;
    // a .persist() here measured slower than recompute at bench scale.)
    "l07_minhash_lsh_pairs" -> Def(
      (s, d) => {
        // Signatures come from the narrow native kernel (no shuffle); the
        // distinct shingle frame feeds sizes and the candidate-restricted
        // intersection self-join, materialized once by ReuseExchange (see
        // verifyJaccard plan-shape note). Measured at sf0.1: narrow sig
        // 4.4-5.3s vs sig-shares-the-shingle-exchange 5.1-10.1s over 3
        // reps — dropping the 32-wide groupBy(id) agg beats sharing the
        // exchange. maxBucket guards the band self-join against degenerate
        // buckets; 10000 is >=10x any bucket observed at bench scale, so
        // results are unchanged on real data.
        // NOTE (measured twice, rounds 1 and 2): do NOT materialize `cand`
        // or `sh` here. A localCheckpoint of the candidate set halved the
        // plan's scan count but DOUBLED l07's wall time at sf0.1 — the
        // split into separate jobs breaks the ReuseExchange that otherwise
        // shares the shingle distinct-shuffle across the sizes aggregate
        // and both intersection sides. Single-plan, single-reference
        // shapes win.
        val docs = t(s, d, "documents")
        val sh = Dedup.shingleIndex(docs, "doc_id", "text")
        val sig = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text", k = 32)
        val cand = Dedup.lshCandidates(sig, k = 32, rowsPerBand = 2, maxBucket = 10000)
        Dedup.verifyJaccard(sh, cand)
          .filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
            col("n_b"), col("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $oShingles, $oJaccard
        SELECT id_a, id_b, inter, n_a, n_b, jaccard FROM jac
        WHERE jaccard >= 0.8 ORDER BY id_a, id_b""")),

    // Exact n-gram Jaccard pairs via the shingle inverted index (the
    // no-approximation baseline of l07). maxDf=1000 is ≥40× the corpus's
    // max shingle df (7 at sf0.01, 25 at sf0.1) — a no-op cap, so the
    // UNCAPPED oracle still matches bit-for-bit (and would fail loudly if
    // the cap ever bit), while no registered query retains an uncapped
    // inverted-index self-join: a hot shingle at 100× contributes at most
    // maxDf² pairs instead of df².
    "l08_ngram_jaccard_pairs" -> Def(
      (s, d) => Dedup.ngramJaccardPairs(
          Dedup.shingleIndex(t(s, d, "documents"), "doc_id", "text"), 0.5,
          maxDf = 1000)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $oShingles, $oJaccard
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
        ORDER BY id_a, id_b""")),

    // SimHash signatures (48-bit).
    "l09_simhash" -> Def(
      (s, d) => Dedup.simhashNarrow(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $oSimhash SELECT doc_id, simhash FROM sim ORDER BY doc_id""")),

    // SimHash near-dup pairs by pigeonhole blocking (exact for the hamming
    // radius — blocking changes cost, not results; oracle is the naive
    // all-pairs filter).
    // maxBucket=20000 is >=10x the largest 5-bit block bucket measured at
    // sf0.1 (1900) — guard present, results unchanged on real data.
    "l10_simhash_pairs" -> Def(
      (s, d) => Dedup.simhashPairs(
          Dedup.simhashNarrow(t(s, d, "documents"), "doc_id", "text"), maxHamming = 8,
          maxBucket = 20000)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $oSimhash
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        ORDER BY id_a, id_b""")),

    // Embedding near-dup pairs: sign-LSH bucket candidates + exact-integer
    // cosine threshold. The bucket predicate is part of the contract (and of
    // the oracle), so results are deterministic — no recall gap to reason
    // about in the check.
    "l11_embed_neardup" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.cosineNearDupPairs(prep, 0.2, bits = 8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $oQuant,
        b AS (SELECT vec_id, q, norm_sq, ${oBucket(8, "embedding")} AS bucket
              FROM qn JOIN embeddings USING (vec_id))
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
          CAST(${oDot("a.q", "c.q")} AS DOUBLE) /
            sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE CAST(${oDot("a.q", "c.q")} AS DOUBLE) /
            sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) >= 0.2
        ORDER BY id_a, id_b""")),

    // Dedup clustering: near-dup PAIRS -> connected components -> cluster
    // labels (the step that decides which rows survive dedup). Spark side
    // is iterative min-label propagation (Dedup.components); the oracle is
    // a recursive-CTE transitive closure over the same pair set — both
    // assign every member its component's min id.
    "l20_dedup_clusters" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        val pairs = Similarity.cosineNearDupPairs(prep, 0.2, bits = 8)
        Dedup.components(pairs).orderBy(col("id"))
      },
      Some(s"""WITH RECURSIVE $oQuant,
        b AS (SELECT vec_id, q, norm_sq, ${oBucket(8, "embedding")} AS bucket
              FROM qn JOIN embeddings USING (vec_id)),
        pr AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
          WHERE CAST(${oDot("a.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
        FROM reach GROUP BY src ORDER BY id""")),

    // Quality-aware survivor selection: per near-dup cluster keep the
    // best-ranked member (here: largest quantized norm, tie on id) — the
    // production "keep the canonical doc" policy vs l20's min-id label.
    "l44_survivor_by_rank" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        val pairs = Similarity.cosineNearDupPairs(prep, 0.2, bits = 8)
        Dedup.survivorsBy(Dedup.components(pairs),
            prep.select(col("id").as("vec_id"), col("norm_sq")),
            "vec_id", col("norm_sq"))
          .select(col("cluster"), col("survivor"), col("rank_val"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH RECURSIVE $oQuant,
        b AS (SELECT vec_id, q, norm_sq, ${oBucket(8, "embedding")} AS bucket
              FROM qn JOIN embeddings USING (vec_id)),
        pr AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
          WHERE CAST(${oDot("a.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        cl AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
          FROM reach GROUP BY src),
        j AS (SELECT cl.cluster, cl.id, qn.norm_sq FROM cl
          JOIN qn ON cl.id = qn.vec_id),
        r AS (SELECT cluster, id, norm_sq, ROW_NUMBER() OVER (
            PARTITION BY cluster ORDER BY norm_sq DESC, id) AS rk FROM j)
        SELECT cluster, id AS survivor, norm_sq AS rank_val FROM r
        WHERE rk = 1 ORDER BY cluster""")),

    // Large-star/small-star connected components (Kiveris et al. SoCC'14)
    // — the O(log n)-round 100 TB path next to l20's label propagation
    // (O(diameter): linear on a chain of pairwise near-dups). Same pair
    // graph, same oracle, bit-identical clusters (DedupSpec property).
    "l45_dedup_clusters_star" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        val pairs = Similarity.cosineNearDupPairs(prep, 0.2, bits = 8)
        Dedup.componentsStar(pairs).orderBy(col("id"))
      },
      Some(s"""WITH RECURSIVE $oQuant,
        b AS (SELECT vec_id, q, norm_sq, ${oBucket(8, "embedding")} AS bucket
              FROM qn JOIN embeddings USING (vec_id)),
        pr AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
          WHERE CAST(${oDot("a.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
        FROM reach GROUP BY src ORDER BY id""")),

    // Exact-count stratified sample: uniform without-replacement draw of
    // exactly n docs per source via ascending-hash rank (vs l22's
    // rate-based mixture). Hierarchical two-pass window — bit-identical
    // to the oracle's single window (see Curation.stratifiedSample).
    "l46_stratified_sample" -> Def(
      (s, d) => Curation.stratifiedSample(t(s, d, "documents"), col("source"),
          col("doc_id"), Map("src0" -> 20, "src1" -> 12, "src2" -> 5))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ranked AS (
        SELECT doc_id, source,
          CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 12
            WHEN 'src2' THEN 5 ELSE 0 END AS cap,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY ${oH48("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
        FROM documents)
        SELECT doc_id, source FROM ranked WHERE rk <= cap
        ORDER BY doc_id""")),

    // Edit-distance verification of near-dup candidates: character-level
    // Levenshtein over 200-char prefixes, computed ONLY on the LSH-found,
    // Jaccard-verified pair set (never all-pairs — levenshtein is O(L²)
    // per pair, so the candidate restriction is what makes it runnable at
    // corpus scale). The fuzzy-match primitive shingle Jaccard misses:
    // distance 0 here separates true byte-dups from paraphrase-near-dups.
    "l47_edit_distance_pairs" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val near = verifiedNearDups(s, d)._2.filter(col("jaccard") >= 0.8)
        val prefA = docs.select(col("doc_id").as("id_a"),
          substring(col("text"), 1, 200).as("_ta"))
        val prefB = docs.select(col("doc_id").as("id_b"),
          substring(col("text"), 1, 200).as("_tb"))
        near.join(prefA, "id_a").join(prefB, "id_b")
          .select(col("id_a"), col("id_b"),
            levenshtein(col("_ta"), col("_tb")).cast("long").as("edit_dist"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $oShingles, $oJaccard
        SELECT id_a, id_b,
          levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200)) AS edit_dist
        FROM jac JOIN documents a ON jac.id_a = a.doc_id
                 JOIN documents b ON jac.id_b = b.doc_id
        WHERE jaccard >= 0.8 ORDER BY id_a, id_b""")),

    // Frequency-based boilerplate strip: spans in >= 2 distinct docs
    // removed from EVERY doc (navigation chrome / license headers), vs
    // l32's first-occurrence-wins. Counter-aggregation df, never a
    // collect_set window (see Curation.stripBoilerplate scale note).
    "l48_strip_boilerplate" -> Def(
      (s, d) => Curation.stripBoilerplate(t(s, d, "documents"), "doc_id",
          "text", spanTokens = 10, minDf = 2)
        .select(col("id"), col("clean_text"), col("n_spans"), col("n_kept"))
        .orderBy(col("id")),
      Some(s"""WITH spans AS (
          SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS span_idx,
            array_to_string(t[(i-1)*10+1:(i-1)*10+10], ' ') AS span_text
          FROM (SELECT doc_id, $oToks AS t FROM documents),
            UNNEST(generate_series(1, CAST(CEIL(len(t) / 10.0) AS BIGINT))) AS g(i)),
        h AS (SELECT *, md5(span_text) AS span_hash FROM spans),
        sdf AS (SELECT span_hash, COUNT(DISTINCT id) AS span_df
                FROM h GROUP BY span_hash)
        SELECT id,
          string_agg(span_text, ' ' ORDER BY span_idx)
            FILTER (WHERE span_df < 2) AS clean_text,
          COUNT(*) AS n_spans,
          CAST(SUM(CASE WHEN span_df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM h JOIN sdf USING (span_hash)
        GROUP BY id HAVING n_kept > 0 ORDER BY id""")),

    // Cross-source duplication matrix: verified near-dup pairs rolled up
    // by unordered source pair — the governance report ("which crawl
    // mirrors which") that decides source-level dedup priorities. Rides
    // the same LSH->Jaccard pipeline as l07; the matrix rollup adds one
    // tiny aggregation over the pair set (|sources|²-bounded output).
    "l49_crosssource_matrix" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val near = verifiedNearDups(s, d)._2.filter(col("jaccard") >= 0.8)
        val srcs = docs.select(col("doc_id"), col("source"))
        near
          .join(srcs.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(srcs.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH $oShingles, $oJaccard
        SELECT LEAST(a.source, b.source) AS source_a,
               GREATEST(a.source, b.source) AS source_b,
               COUNT(*) AS n_pairs
        FROM jac JOIN documents a ON jac.id_a = a.doc_id
                 JOIN documents b ON jac.id_b = b.doc_id
        WHERE jaccard >= 0.8
        GROUP BY 1, 2 ORDER BY source_a, source_b""")),

    // Epoch replication: per-source repeat counts (the "N epochs for
    // high-quality sources" half of a training mix), each copy tagged
    // with its ordinal — narrow generator, zero shuffles.
    "l50_epoch_replicate" -> Def(
      (s, d) => Curation.replicate(t(s, d, "documents"), col("source"),
          Map("src0" -> 3, "src1" -> 2))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch")),
      Some("""SELECT doc_id, source, epoch FROM documents,
          UNNEST(generate_series(1, CASE source WHEN 'src0' THEN 3
            WHEN 'src1' THEN 2 ELSE 1 END)) AS g(epoch)
        ORDER BY doc_id, epoch""")),

    // MinHash calibration: per LSH-candidate pair, the signature-agreement
    // ESTIMATE (n_match/32 ≈ Jaccard) next to the exact truth — the QA
    // report that validates a dedup index's parameters (k, band shape)
    // before trusting it corpus-wide. Integer-exact output: agreement
    // count + exact intersection/sizes, no floating error term. The
    // oracle re-derives the FULL candidate set (16 band predicates over
    // per-permutation minima), not just the high-J survivors.
    "l51_minhash_calibration" -> Def(
      (s, d) => {
        val (sig, truth) = verifiedNearDups(s, d)
        val a = sig.select(col("id").as("id_a") +:
          (1 to 32).map(j => col(s"mh_$j").as(s"a_$j")): _*)
        val b = sig.select(col("id").as("id_b") +:
          (1 to 32).map(j => col(s"mh_$j").as(s"b_$j")): _*)
        val nMatch = (1 to 32).map(j =>
          when(col(s"a_$j") === col(s"b_$j"), 1L).otherwise(0L)).reduce(_ + _)
        truth.join(a, "id_a").join(b, "id_b")
          .select(col("id_a"), col("id_b"), nMatch.as("n_match"),
            col("inter"), col("n_a"), col("n_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val minCols = (1 to 32).map(j =>
          s"MIN((hb * ${mhA(j)} + ${mhB(j)}) % $P31) AS mh_$j").mkString(", ")
        val bandPred = (0 until 16).map { bnd =>
          val j1 = bnd * 2 + 1; val j2 = bnd * 2 + 2
          s"(a.mh_$j1 = b.mh_$j1 AND a.mh_$j2 = b.mh_$j2)"
        }.mkString(" OR ")
        val matchSum = (1 to 32).map(j =>
          s"(CASE WHEN a.mh_$j = b.mh_$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH $oShingles, $oShingleHash, $oJaccard,
          sigs AS (SELECT doc_id, $minCols FROM hh GROUP BY doc_id),
          cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST($matchSum AS BIGINT) AS n_match
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE $bandPred)
          SELECT c.id_a, c.id_b, c.n_match, j.inter, j.n_a, j.n_b
          FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
          ORDER BY c.id_a, c.id_b"""
      }),

    // Near-dup decontamination: train-vs-eval simhash radius join — the
    // paraphrase-level leakage check exact-shingle overlap (l24) misses.
    // Cross-set pigeonhole blocking, never a train × eval product; the
    // small eval side's blocks broadcast.
    "l52_neardup_decontam" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val sig = Dedup.simhashNarrow(docs, "doc_id", "text")
        val ev = sig.filter(col("id") % 17 === 3)
        val tr = sig.filter(col("id") % 17 =!= 3)
        Dedup.simhashCrossPairs(tr, ev, maxHamming = 8, maxBucket = 20000)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $oSimhash
        SELECT t.doc_id AS id_a, e.doc_id AS id_b,
          CAST(bit_count(xor(t.simhash, e.simhash)) AS BIGINT) AS hamming
        FROM sim t JOIN sim e
          ON t.doc_id % 17 != 3 AND e.doc_id % 17 = 3
          AND bit_count(xor(t.simhash, e.simhash)) <= 8
        ORDER BY id_a, id_b""")),

    // Embedding mean-pooling: chunk vectors -> one document vector (the
    // retrieval-index build step after chunked embedding). Exact integer
    // form — component SUMS plus chunk count, mean = sums/n left to the
    // consumer so no engine-specific float division; the sum vector is
    // JSON-serialized for the driver compare (arrays are unhashable
    // there). Reuses the labelCentroids two-level aggregation keyed by
    // synthetic doc id = vec_id DIV 5.
    "l53_mean_pool" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(t(s, d, "embeddings"), "embedding")
          .withColumn("did", expr("vec_id DIV 5"))
        Similarity.labelCentroids(prep, "did")
          .select(col("clabel").as("doc_id"), col("n").as("n_chunks"),
            to_json(col("sv")).as("pooled_sums"), col("ss"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $oQuant,
        px AS (SELECT vec_id // 5 AS did, i AS pos, q[i] AS v
          FROM qn, UNNEST(generate_series(1, 64)) AS g(i)),
        sums AS (SELECT did, pos, CAST(SUM(v) AS BIGINT) AS s,
            COUNT(*) AS cnt FROM px GROUP BY 1, 2)
        SELECT did AS doc_id, CAST(MAX(cnt) AS BIGINT) AS n_chunks,
          CAST(to_json(list(s ORDER BY pos)) AS VARCHAR) AS pooled_sums,
          CAST(SUM(s * s) AS BIGINT) AS ss
        FROM sums GROUP BY did ORDER BY doc_id""")),

    // Shingle novelty: per document, how many of its distinct shingles
    // appear NOWHERE else in the corpus — the informativeness/templated-
    // ness signal dual to dedup (novelty 0 = fully boilerplate, high
    // novelty = unique content worth keeping). Integer pair output
    // (n_shingles, n_unique); rides the shingle inverted index + its df
    // aggregation, both shuffles on the shingle key.
    "l54_shingle_novelty" -> Def(
      (s, d) => {
        val sh = Dedup.shingleIndex(t(s, d, "documents"), "doc_id", "text")
        val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("sdf"))
        sh.join(df, "shingle")
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("sdf") === 1, 1L).otherwise(0L)).as("n_unique"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $oShingles,
        sdf AS (SELECT shingle, COUNT(*) AS sdf FROM sh GROUP BY shingle)
        SELECT doc_id, COUNT(*) AS n_shingles,
          CAST(SUM(CASE WHEN sdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        FROM sh JOIN sdf USING (shingle)
        GROUP BY doc_id ORDER BY doc_id""")),

    // Tokenizer fertility by language: exact corpus sums of chars and
    // whitespace/subword token counts per language tag — the metric that
    // decides per-language token budgets (a fertile language eats budget
    // faster). Single map-side-partial aggregation; consumer divides.
    "l55_fertility_by_lang" -> Def(
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(graft.ops.TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
          sum(graft.ops.TextAnalysis.subwordCount(col("text"))).as("sum_subwords"))
        .orderBy(col("lang")),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
          CAST(SUM(len($oToks)) AS BIGINT) AS sum_tokens,
          CAST(SUM(list_sum(list_transform($oToks,
            tk -> CAST(CEIL(LENGTH(tk) / 4.0) AS BIGINT)))) AS BIGINT) AS sum_subwords
        FROM documents GROUP BY lang ORDER BY lang""")),

    // Leakage-safe train/test split: deterministic hash split (≈10% held
    // out), then train docs within simhash radius of ANY held-out doc are
    // evicted — the split you actually want before fine-tune/eval, where
    // hash disjointness alone still leaks paraphrases. Composition of
    // hash-split + cross-set pigeonhole radius join + anti join.
    "l56_leakage_safe_split" -> Def(
      (s, d) => {
        val sig = Dedup.simhashNarrow(t(s, d, "documents"), "doc_id", "text")
        val isTest = graft.ops.TextAnalysis
          .hash48(col("id").cast("string")) % 10L === 7L
        val leaky = Dedup.simhashCrossPairs(sig.filter(!isTest),
            sig.filter(isTest), maxHamming = 8, maxBucket = 20000)
          .select(col("id_a").as("id")).distinct()
        // enumerate train ids straight off the table — only the two
        // cross-join branches need the simhash kernel; a third reference
        // to `sig` here would re-run it over the whole corpus
        t(s, d, "documents")
          .select(col("doc_id").as("id"))
          .filter(!(graft.ops.TextAnalysis
            .hash48(col("id").cast("string")) % 10L === 7L))
          .join(leaky, Seq("id"), "left_anti")
          .orderBy(col("id"))
      },
      Some(s"""WITH $oSimhash
        SELECT t.doc_id AS id FROM sim t
        WHERE ${oH48("CAST(t.doc_id AS VARCHAR)")} % 10 != 7
          AND NOT EXISTS (SELECT 1 FROM sim e
            WHERE ${oH48("CAST(e.doc_id AS VARCHAR)")} % 10 = 7
              AND bit_count(xor(t.simhash, e.simhash)) <= 8)
        ORDER BY id""")),

    // KMV distinct-count sketch: estimate the corpus's distinct-shingle
    // cardinality from the k smallest hash values (order-statistics
    // estimator, (k-1)·2^48 / h_k). Unlike HLL (q23, rows-only check)
    // KMV over a fixed hash is a DETERMINISTIC function of the data, so
    // the estimate itself is oracle-exact — the engine-portable sketch
    // you can checkpoint, merge across corpora (union = merge the k-min
    // sets), and regression-test. TakeOrdered top-k: per-partition heaps,
    // never a global sort.
    "l57_kmv_distinct" -> Def(
      (s, d) => {
        val k = 64
        val hs = Dedup.shingleIndex(t(s, d, "documents"), "doc_id", "text")
          .select(TA.hash48(col("shingle")).as("h")).distinct()
        val kth = hs.orderBy(col("h")).limit(k)
          .agg(max(col("h")).as("h_k"), count(lit(1)).as("k_actual"))
        val tot = hs.agg(count(lit(1)).as("true_distinct"))
        kth.crossJoin(broadcast(tot))
          .select(col("k_actual"), col("h_k"),
            expr(s"CAST((${k - 1} * 281474976710656) DIV h_k AS BIGINT)")
              .as("est_distinct"),
            col("true_distinct"))
      },
      Some(s"""WITH $oShingles,
        hs AS (SELECT DISTINCT ${oH48("shingle")} AS h FROM sh),
        kth AS (SELECT h FROM hs ORDER BY h LIMIT 64),
        agg AS (SELECT MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_actual FROM kth),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct FROM hs)
        SELECT k_actual, h_k,
          CAST((63 * 281474976710656) // h_k AS BIGINT) AS est_distinct,
          true_distinct
        FROM agg, tot""")),

    // KMV mergeability, driver-gated: per-source k-min sketches merged
    // (union → re-cut to k smallest) give EXACTLY the direct global
    // sketch — any global k-min hash is within its own source's k-min.
    // This is the property that lets 1000 executors sketch partitions
    // independently and a coordinator merge them without touching rows.
    "l58_kmv_merge" -> Def(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 64
        val docs = t(s, d, "documents")
        val sh = Dedup.shingleIndex(docs, "doc_id", "text")
        val hsrc = sh.join(docs.select(col("doc_id").as("id"), col("source")), "id")
          .select(col("source"), TA.hash48(col("shingle")).as("h")).distinct()
        val w = Window.partitionBy(col("source")).orderBy(col("h"))
        val merged = hsrc.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select(col("h")).distinct().orderBy(col("h")).limit(k)
          .agg(max(col("h")).as("hk_m"))
        val direct = sh.select(TA.hash48(col("shingle")).as("h")).distinct()
          .orderBy(col("h")).limit(k)
          .agg(max(col("h")).as("hk_d"))
        merged.crossJoin(broadcast(direct))
          .select(
            expr(s"CAST((${k - 1} * 281474976710656) DIV hk_m AS BIGINT)")
              .as("merged_est"),
            expr(s"CAST((${k - 1} * 281474976710656) DIV hk_d AS BIGINT)")
              .as("direct_est"))
      },
      Some(s"""WITH $oShingles,
        hs AS (SELECT DISTINCT ${oH48("shingle")} AS h FROM sh),
        hsrc AS (SELECT DISTINCT d.source, ${oH48("shingle")} AS h
          FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
        ps AS (SELECT h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
          FROM hsrc),
        mk AS (SELECT DISTINCT h FROM ps WHERE rk <= 64 ORDER BY h LIMIT 64),
        m AS (SELECT MAX(h) AS hk FROM mk),
        dk AS (SELECT h FROM hs ORDER BY h LIMIT 64),
        dd AS (SELECT MAX(h) AS hk FROM dk)
        SELECT CAST((63 * 281474976710656) // m.hk AS BIGINT) AS merged_est,
               CAST((63 * 281474976710656) // dd.hk AS BIGINT) AS direct_est
        FROM m, dd""")),

    // Top boilerplate spans: the most-repeated spans corpus-wide with
    // their document frequency and example text — the triage report an
    // operator reads before setting stripBoilerplate's minDf. One
    // aggregation on span_hash + a bounded top-k.
    "l59_top_boilerplate" -> Def(
      (s, d) => Curation.spanExploded(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 10)
        .groupBy(col("span_hash"))
        .agg(countDistinct(col("id")).as("span_df"),
          min(col("id")).as("example_doc"),
          min(col("span_text")).as("span_text"))
        .filter(col("span_df") >= 2)
        .orderBy(col("span_df").desc, col("span_hash"))
        .limit(20)
        .select(col("span_hash"), col("span_df"), col("example_doc"),
          col("span_text")),
      Some("""WITH spans AS (
          SELECT doc_id AS id, array_to_string(t[(i-1)*10+1:(i-1)*10+10], ' ') AS span_text
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            UNNEST(generate_series(1, CAST(CEIL(len(t) / 10.0) AS BIGINT))) AS g(i)),
        agg AS (SELECT md5(span_text) AS span_hash,
            COUNT(DISTINCT id) AS span_df,
            MIN(id) AS example_doc, MIN(span_text) AS span_text
          FROM spans GROUP BY 1)
        SELECT span_hash, span_df, example_doc, span_text FROM agg
        WHERE span_df >= 2
        ORDER BY span_df DESC, span_hash LIMIT 20""")),

    // Language-ID confidence margin: top marker score minus runner-up —
    // the routing signal for "low-confidence docs go to review / a
    // heavier classifier". Integer-exact; same marker vocabularies as
    // l05, so the two queries can never disagree on the scores.
    "l60_langid_margin" -> Def(
      (s, d) => {
        val toks = TA.tokens(col("text"))
        val scores = TA.langMarkers.map { case (_, ms) =>
          size(filter(toks, tk => tk.isInCollection(ms))).cast("long")
        }
        val arr = sort_array(array(scores: _*), asc = false)
        t(s, d, "documents")
          .select(col("doc_id"), TA.langId(col("text")).as("lang_pred"),
            arr.getItem(0).as("top_score"),
            (arr.getItem(0) - arr.getItem(1)).as("margin"))
          .orderBy(col("doc_id"))
      },
      Some {
        val scoreExprs = TA.langMarkers.map { case (code, ms) =>
          code -> s"CAST(len(list_filter($oToks, tk -> tk IN (${ms.map(m => s"'$m'").mkString(",")}))) AS BIGINT)"
        }
        val all = scoreExprs.map(e => s"s_${e._1}").mkString(", ")
        val firstMax = scoreExprs.map { case (c, _) =>
          s"WHEN s_$c >= GREATEST($all) THEN '$c'"
        }.mkString(" ")
        s"""SELECT doc_id,
          CASE WHEN GREATEST($all) = 0 THEN 'und' $firstMax END AS lang_pred,
          srt[1] AS top_score, srt[1] - srt[2] AS margin
          FROM (SELECT doc_id, $all,
            list_sort([$all], 'DESC') AS srt
          FROM (SELECT doc_id,
            ${scoreExprs.map { case (c, e) => s"$e AS s_$c" }.mkString(", ")}
          FROM documents)) ORDER BY doc_id"""
      }),

    // Dedup savings report: the headline numbers a dedup run publishes —
    // how many documents and tokens near-dup clustering removes with
    // min-id survivorship. Single-row corpus report off the shared
    // near-dup pipeline + connected components.
    "l61_dedup_savings" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val near = verifiedNearDups(s, d)._2.filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        val clusters = Dedup.components(near)
        val toks = docs.select(col("doc_id").as("id"),
          TA.tokenCount(col("text")).cast("long").as("n_tok"))
        val clustered = clusters.join(toks, "id")
          .withColumn("is_surv", col("id") === col("cluster"))
        val cAgg = clustered.agg(
          count(lit(1)).as("n_clustered"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("n_tok")).as("tok_clustered"),
          sum(when(col("is_surv"), col("n_tok")).otherwise(0L)).as("tok_surv"))
        val tAgg = toks.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_total"))
        tAgg.crossJoin(broadcast(cAgg))
          .select(col("n_docs"), col("tok_total"), col("n_clustered"),
            col("n_clusters"),
            (col("n_clustered") - col("n_clusters")).as("docs_dropped"),
            (col("tok_clustered") - col("tok_surv")).as("tokens_dropped"))
      },
      Some(s"""WITH RECURSIVE $oShingles, $oJaccard,
        pr AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        cl AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
          FROM reach GROUP BY src),
        toks AS (SELECT doc_id AS id, CAST(len($oToks) AS BIGINT) AS n_tok
          FROM documents),
        cagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clustered,
            CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
            CAST(SUM(n_tok) AS BIGINT) AS tok_clustered,
            CAST(SUM(CASE WHEN id = cluster THEN n_tok ELSE 0 END) AS BIGINT)
              AS tok_surv
          FROM cl JOIN toks USING (id)),
        tagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS tok_total FROM toks)
        SELECT n_docs, tok_total, n_clustered, n_clusters,
          n_clustered - n_clusters AS docs_dropped,
          tok_clustered - tok_surv AS tokens_dropped
        FROM tagg, cagg""")),

    // RAG retrieval end-to-end: BM25 top-1 document per query, then the
    // best chunk within it by query-term hit count — document-level
    // retrieval then chunk-level drill-down, the full context-window prep
    // path. Composes bm25TopK (integer-exact scores) with chunkOverlap;
    // chunk scoring and tie-breaks are integer, so the winning chunk is
    // engine-exact.
    "l62_rag_retrieve_chunk" -> Def(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        val top1 = graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text",
            bm25Queries, k = 1)
          .select(col("qid").as("t_qid"), col("id").as("t_id"))
        val chunks = Curation.chunkOverlap(docs, "doc_id", "text",
          window = 32, stride = 24)
        val qdf = s.createDataFrame(
          bm25Queries.flatMap { case (q, ts) => ts.map(t0 => (q, t0)) })
          .toDF("q_qid", "term")
        val hits = top1.join(chunks, col("t_id") === col("id"))
          .select(col("t_qid"), col("id"), col("chunk_id"),
            explode(split(col("chunk_text"), " ")).as("tok"))
          .join(qdf, col("tok") === col("term") && col("t_qid") === col("q_qid"))
          .groupBy(col("t_qid").as("qid"), col("id"), col("chunk_id"))
          .agg(count(lit(1)).as("term_hits"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("term_hits").desc, col("chunk_id").asc)
        hits.withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
          .select(col("qid"), col("id").as("doc_id"), col("chunk_id"),
            col("term_hits"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH q(qid, term) AS (VALUES ${bm25Queries.flatMap {
            case (qid, ts) => ts.map(t0 => s"($qid, '$t0')")
          }.mkString(", ")}),
        tk AS (SELECT doc_id, $oToks AS t FROM documents),
        dls AS (SELECT doc_id, len(t) AS dl FROM tk),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dls),
        tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
          FROM (SELECT doc_id, UNNEST(t) AS tok FROM tk)
          WHERE tok IN (SELECT term FROM q) GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (SELECT q.qid, tf.doc_id,
            CAST(FLOOR(
              (((2 * s.n_docs - 2 * d.df + 1) * 1000000.0) / (2 * d.df + 1))
              * (22 * s.sum_dl * tf.tf)
              / (10 * s.sum_dl * tf.tf + 3 * s.sum_dl + 9 * dls.dl * s.n_docs)
            ) AS BIGINT) AS score_i
          FROM tf JOIN q ON tf.term = q.term
          JOIN dfreq d ON tf.term = d.term
          JOIN dls ON tf.doc_id = dls.doc_id
          CROSS JOIN stats s),
        tot AS (SELECT qid, doc_id, CAST(SUM(score_i) AS BIGINT) AS sc
          FROM scored GROUP BY 1, 2),
        top1 AS (SELECT qid, doc_id FROM (
          SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sc DESC, doc_id) AS rk FROM tot) WHERE rk = 1),
        ch AS (SELECT tk.doc_id, i AS chunk_id,
            list_slice(t, i * 24 + 1, i * 24 + 32) AS ck
          FROM tk JOIN (SELECT doc_id, 1 + (GREATEST(len(t) - 32, 0) + 23) // 24
              AS n_chunks FROM tk) nc ON tk.doc_id = nc.doc_id,
            UNNEST(generate_series(0, n_chunks - 1)) AS g(i)),
        ctoks AS (SELECT t1.qid, ch.doc_id, ch.chunk_id, UNNEST(ch.ck) AS tok
          FROM top1 t1 JOIN ch ON t1.doc_id = ch.doc_id),
        hits AS (SELECT c2.qid, c2.doc_id, c2.chunk_id, COUNT(*) AS term_hits
          FROM ctoks c2 JOIN q ON c2.tok = q.term AND q.qid = c2.qid
          GROUP BY 1, 2, 3)
        SELECT qid, doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, term_hits
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY term_hits DESC, chunk_id) AS rk FROM hits)
        WHERE rk = 1 ORDER BY qid""")),

    // Incremental ingest dedup: an arriving batch (doc_id % 10 == 0)
    // checked for exact n-gram Jaccard against the EXISTING corpus — the
    // per-batch gate of a continuous ingest loop. Same join shape as
    // DedupIndex.incrementalNearDups (whose bucketed stored-table variant
    // DedupIndexSpec covers); batch-side shingles join the corpus
    // inverted index, never batch × corpus.
    "l63_incremental_neardup" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val batch = docs.filter(col("doc_id") % 10 === 0)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val newSh = Dedup.shingleIndex(batch, "doc_id", "text")
        val oldSh = Dedup.shingleIndex(corpus, "doc_id", "text")
        val newSizes = newSh.groupBy(col("id").as("new_id"))
          .agg(count(lit(1)).as("n_new"))
        val oldSizes = oldSh.groupBy(col("id").as("old_id"))
          .agg(count(lit(1)).as("n_old"))
        newSh.as("nw").join(oldSh.as("ix"), col("nw.shingle") === col("ix.shingle"))
          .groupBy(col("nw.id").as("new_id"), col("ix.id").as("old_id"))
          .agg(count(lit(1)).as("inter"))
          .join(newSizes, "new_id").join(oldSizes, "old_id")
          .withColumn("jaccard", col("inter").cast("double") /
            (col("n_new") + col("n_old") - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select(col("new_id"), col("old_id"), col("inter"),
            col("n_new"), col("n_old"), col("jaccard"))
          .orderBy(col("new_id"), col("old_id"))
      },
      Some(s"""WITH $oShingles,
        nw AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        ix AS (SELECT * FROM sh WHERE doc_id % 10 != 0),
        ns AS (SELECT doc_id AS new_id, COUNT(*) AS n_new FROM nw GROUP BY 1),
        os AS (SELECT doc_id AS old_id, COUNT(*) AS n_old FROM ix GROUP BY 1),
        iv AS (SELECT nw.doc_id AS new_id, ix.doc_id AS old_id,
            COUNT(*) AS inter
          FROM nw JOIN ix ON nw.shingle = ix.shingle GROUP BY 1, 2)
        SELECT new_id, old_id, inter, n_new, n_old,
          CAST(inter AS DOUBLE) / (n_new + n_old - inter) AS jaccard
        FROM iv JOIN ns USING (new_id) JOIN os USING (old_id)
        WHERE CAST(inter AS DOUBLE) / (n_new + n_old - inter) >= 0.8
        ORDER BY new_id, old_id""")),

    // STREAMING dedup-index maintenance under the driver gate: the corpus
    // (doc_id % 10 != 0) arrives as three micro-batches through
    // DedupIndex.startMaintenance — each lands as its own ingest_batch
    // partition of the bucketed shingle layout (replay-idempotent
    // drop+append) — then the held-out batch (doc_id % 10 == 0) runs
    // incrementalNearDups against the MAINTAINED physical table. Same
    // oracle as l63: the streamed index must reproduce the recomputed
    // batch answer bit-for-bit through a completely different physical
    // path (streaming loop + catalog partitions + bucketed join).
    "l79_streaming_index_neardup" -> Def(
      (s, d) => {
        val name = "graft_l79_idx"
        Seq(name, s"${name}_sizes").foreach(freshTable(s, _))
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), col("text"))
        // the corpus streams in as three id-range slices
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        Q.streamGate("graft_l79") { g =>
          val in = g.stage(Q.idSlices(corpus, "doc_id", 3, maxId))
          g.run(graft.ops.DedupIndex.startMaintenance(s, in.stream(s),
            "doc_id", "text", name, _, trigger = g.trigger))
        }
        graft.ops.DedupIndex.incrementalNearDups(s,
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", name,
            threshold = 0.8)
          .orderBy(col("new_id"), col("old_id"))
      },
      Some(s"""WITH $oShingles,
        nw AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        ix AS (SELECT * FROM sh WHERE doc_id % 10 != 0),
        ns AS (SELECT doc_id AS new_id, COUNT(*) AS n_new FROM nw GROUP BY 1),
        os AS (SELECT doc_id AS old_id, COUNT(*) AS n_old FROM ix GROUP BY 1),
        iv AS (SELECT nw.doc_id AS new_id, ix.doc_id AS old_id,
            COUNT(*) AS inter
          FROM nw JOIN ix ON nw.shingle = ix.shingle GROUP BY 1, 2)
        SELECT new_id, old_id, inter, n_new, n_old,
          CAST(inter AS DOUBLE) / (n_new + n_old - inter) AS jaccard
        FROM iv JOIN ns USING (new_id) JOIN os USING (old_id)
        WHERE CAST(inter AS DOUBLE) / (n_new + n_old - inter) >= 0.8
        ORDER BY new_id, old_id""")),

    // SIZE-TIERED index compaction under the driver gate (r8): the l79
    // corpus arrives as TWO eras of micro-batches through separate
    // maintenance checkpoints; after each era the accumulated per-batch
    // partitions fold into a new negative partition (the Nth compaction
    // never rewrites the (N-1)th fold), then a fanout-2 pass merges the
    // two same-tier folds one tier up — and the held-out batch's
    // near-dups against the THRICE-compacted physical table must still
    // reproduce the recomputed answer bit-for-bit. The second era also
    // exercises the fingerprint guard: its batch ids sit at/below the
    // first compaction's horizon (fresh checkpoint) and must land, not
    // be mistaken for replays.
    "l82_tiered_index_compaction" -> Def(
      (s, d) => {
        val name = "graft_l82_idx"
        Seq(name, s"${name}_sizes").foreach(freshTable(s, _))
        val docs = t(s, d, "documents")
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        // era 1: doc_id % 10 in 1..4; era 2: % 10 in 5..9 — together the
        // l79/l63 corpus (% 10 != 0); two id-range slices per era, each
        // era through its own maintenance checkpoint
        def era(pred: org.apache.spark.sql.Column): Unit =
          Q.streamGate("graft_l82") { g =>
            val in = g.stage(Q.idSlices(docs.filter(pred)
              .select(col("doc_id"), col("text")), "doc_id", 2, maxId))
            g.run(graft.ops.DedupIndex.startMaintenance(s, in.stream(s),
              "doc_id", "text", name, _, trigger = g.trigger))
          }
        era(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 4)
        graft.ops.DedupIndex.compact(s, name)            // -> fold -1
        era(col("doc_id") % 10 >= 5)                     // horizon-guarded
        graft.ops.DedupIndex.compact(s, name)            // -> fold -2, -1 untouched
        graft.ops.DedupIndex.compact(s, name, tierFanout = 2) // tier merge
        graft.ops.DedupIndex.incrementalNearDups(s,
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", name,
            threshold = 0.8)
          .orderBy(col("new_id"), col("old_id"))
      },
      Some(s"""WITH $oShingles,
        nw AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        ix AS (SELECT * FROM sh WHERE doc_id % 10 != 0),
        ns AS (SELECT doc_id AS new_id, COUNT(*) AS n_new FROM nw GROUP BY 1),
        os AS (SELECT doc_id AS old_id, COUNT(*) AS n_old FROM ix GROUP BY 1),
        iv AS (SELECT nw.doc_id AS new_id, ix.doc_id AS old_id,
            COUNT(*) AS inter
          FROM nw JOIN ix ON nw.shingle = ix.shingle GROUP BY 1, 2)
        SELECT new_id, old_id, inter, n_new, n_old,
          CAST(inter AS DOUBLE) / (n_new + n_old - inter) AS jaccard
        FROM iv JOIN ns USING (new_id) JOIN os USING (old_id)
        WHERE CAST(inter AS DOUBLE) / (n_new + n_old - inter) >= 0.8
        ORDER BY new_id, old_id""")),

    // SEMANTIC dedup (SemDeDup, Abbas et al. 2023): seeded-IVF cells as
    // the blocking structure, exact cosine within a cell, one survivor
    // (largest norm, tie min id) per connected near-dup group — the
    // embedding-space sibling of the shingle dedup family, as one
    // KEEP/DROP verdict per corpus vector. Deterministic end to end
    // (md5-ranked seeds, BIGINT dot products, min-label components), so
    // the oracle recomputes cells, pairs, the transitive closure, and
    // survivor ranks in SQL.
    "l83_semantic_dedup" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        // maxCellSize caps the per-task pair block: cells above 24
        // vectors sub-split by the portable md5 hash before pairing
        // (the hot-cell guard), mirrored exactly in the oracle below
        Similarity.semanticDedup(prep, nCells = 64, threshold = 0.2,
          maxCellSize = 24)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE $oQuant,
        sdseeds0 AS (SELECT vec_id AS seed_id, q AS sq, norm_sq AS sn,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 64),
        sdseeds AS (SELECT seed_id, sq, sn,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cell
          FROM sdseeds0),
        sdasg0 AS (SELECT x.vec_id, x.q, x.norm_sq, s.cell,
            x.norm_sq - 2 * ${oDot("x.q", "s.sq")} + s.sn AS d2
          FROM qn x CROSS JOIN sdseeds s),
        sdcell AS (SELECT vec_id, q, norm_sq, cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY d2, cell) AS crk FROM sdasg0) WHERE crk = 1),
        sdsz AS (SELECT cell, (COUNT(*) + 23) // 24 AS nsub
          FROM sdcell GROUP BY 1),
        sdsub AS (SELECT c.vec_id, c.q, c.norm_sq, c.cell,
            ${oH48("CAST(c.vec_id AS VARCHAR)")} % z.nsub AS sub
          FROM sdcell c JOIN sdsz z USING (cell)),
        pr AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM sdsub a JOIN sdsub c
            ON a.cell = c.cell AND a.sub = c.sub AND a.vec_id < c.vec_id
          WHERE CAST(${oDot("a.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        cl AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
          FROM reach GROUP BY src),
        srk AS (SELECT cl.cluster, cl.id, ROW_NUMBER() OVER (
            PARTITION BY cl.cluster ORDER BY qn.norm_sq DESC, cl.id) AS rn
          FROM cl JOIN qn ON cl.id = qn.vec_id),
        sv AS (SELECT cluster, id AS survivor FROM srk WHERE rn = 1)
        SELECT e.vec_id, COALESCE(cl.cluster, e.vec_id) AS cluster,
          CAST(CASE WHEN cl.id IS NULL OR sv.survivor = e.vec_id
            THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM embeddings e
        LEFT JOIN cl ON e.vec_id = cl.id
        LEFT JOIN sv ON cl.cluster = sv.cluster
        ORDER BY vec_id""")),

    // Quality-weighted sampling: per-row keep probability proportional to
    // document length (capped), integer threshold out of 10000 — "better
    // docs survive more often", deterministically. Narrow filter at the
    // scan, zero shuffles.
    "l64_weighted_sample" -> Def(
      (s, d) => Curation.weightedSample(t(s, d, "documents"), col("doc_id"),
          least(col("n_chars"), lit(2000L)) * 5L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, n_chars FROM documents
        WHERE ${oH48("CAST(doc_id AS VARCHAR)")} % 10000 <
          LEAST(n_chars, 2000) * 5
        ORDER BY doc_id""")),

    // Label-disagreement audit: near-duplicate pairs whose language tags
    // differ — two texts this similar cannot be different languages, so
    // at least one tag is wrong. The metadata-QA dual of dedup; rides the
    // shared near-dup pipeline.
    "l65_lang_disagreement" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val near = verifiedNearDups(s, d)._2.filter(col("jaccard") >= 0.8)
        val langs = docs.select(col("doc_id"), col("lang"))
        near
          .join(langs.select(col("doc_id").as("id_a"), col("lang").as("lang_a")), "id_a")
          .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lang_b")), "id_b")
          .filter(col("lang_a") =!= col("lang_b"))
          .select(col("id_a"), col("id_b"), col("lang_a"), col("lang_b"),
            col("inter"), col("n_a"), col("n_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $oShingles, $oJaccard
        SELECT id_a, id_b, a.lang AS lang_a, b.lang AS lang_b,
          inter, n_a, n_b
        FROM jac JOIN documents a ON jac.id_a = a.doc_id
                 JOIN documents b ON jac.id_b = b.doc_id
        WHERE jaccard >= 0.8 AND a.lang != b.lang
        ORDER BY id_a, id_b""")),

    // Source health scorecard: per source, document count, Gopher-rule
    // pass count, exact-duplicate membership, and token mass — the
    // one-page comparison that decides which sources earn mix share.
    // One scan computes the row-level flags; the dup flag joins the
    // content-hash counter (one extra aggregation on the digest).
    "l66_source_scorecard" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val kept = TA.gopherFlags(col("text"))
          .collectFirst { case ("kept", c) => c }.get
        val digests = docs.select(col("doc_id"), md5(col("text")).as("dg"))
        val dupDg = digests.groupBy(col("dg")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).select(col("dg"))
        val dupFlag = digests.join(dupDg, Seq("dg"), "left_semi")
          .select(col("doc_id")).withColumn("is_dup", lit(true))
        docs.join(dupFlag, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(kept, 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
            sum(TA.tokenCount(col("text")).cast("long")).as("n_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH flags AS (SELECT source, doc_id, n_tok,
          (n_tok BETWEEN 5 AND 10000) AND (mwl >= 2.0 AND mwl <= 10.0)
            AND stop_ratio >= 0.01 AND rep_ratio < 0.3 AS kept
        FROM (SELECT source, doc_id, len(t) AS n_tok,
            CAST(list_sum(list_transform(t, tk -> LENGTH(tk))) AS DOUBLE) / len(t) AS mwl,
            CAST(len(list_filter(t, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(t) AS stop_ratio,
            CASE WHEN len(t) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END AS rep_ratio
          FROM (SELECT source, doc_id, t,
                  list_transform(generate_series(1, GREATEST(len(t) - 1, 0)),
                    i -> t[i] || ' ' || t[i+1]) AS g
                FROM (SELECT source, doc_id, $oToks AS t FROM documents)))),
        dups AS (SELECT doc_id, 1 AS is_dup FROM documents
          WHERE md5(text) IN (SELECT md5(text) FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1))
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
          CAST(SUM(COALESCE(is_dup, 0)) AS BIGINT) AS n_exact_dup,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM flags LEFT JOIN dups USING (doc_id)
        GROUP BY source ORDER BY source""")),

    // KMV cross-corpus resemblance: estimate the shingle-set Jaccard
    // between two corpus halves from their k-min sketches alone
    // (|kmin(A∪B) ∩ kmin(A) ∩ kmin(B)| / k — Broder's resemblance
    // estimator), next to the exact truth. Sketches are a few KB per
    // corpus vs the full shingle sets; deterministic given the hash, so
    // estimator AND truth are oracle-exact.
    "l67_kmv_resemblance" -> Def(
      (s, d) => {
        val k = 64
        val docs = t(s, d, "documents")
        val hs = Dedup.shingleIndex(docs, "doc_id", "text")
          .join(docs.select(col("doc_id").as("id"),
            (col("source").substr(4, 10).cast("long") < 10).as("in_a")), "id")
          .select(TA.hash48(col("shingle")).as("h"), col("in_a"))
        val hA = hs.filter(col("in_a")).select(col("h")).distinct()
        val hB = hs.filter(!col("in_a")).select(col("h")).distinct()
        val mA = hA.orderBy(col("h")).limit(k)
        val mB = hB.orderBy(col("h")).limit(k)
        val mU = mA.union(mB).distinct().orderBy(col("h")).limit(k)
        val estInter = mU.join(mA, Seq("h"), "left_semi")
          .join(mB, Seq("h"), "left_semi")
          .agg(count(lit(1)).as("kmin_inter"))
        val truth = hA.withColumn("a", lit(1))
          .join(hB.withColumn("b", lit(1)), Seq("h"), "full_outer")
          .agg(sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
            .as("true_inter"), count(lit(1)).as("true_union"))
        estInter.crossJoin(broadcast(truth))
          .select(lit(k.toLong).as("k"), col("kmin_inter"),
            col("true_inter"), col("true_union"))
      },
      Some(s"""WITH $oShingles,
        hs AS (SELECT DISTINCT ${oH48("shingle")} AS h,
            CAST(substr(d.source, 4) AS BIGINT) < 10 AS in_a
          FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
        ha AS (SELECT DISTINCT h FROM hs WHERE in_a),
        hb AS (SELECT DISTINCT h FROM hs WHERE NOT in_a),
        ma AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        mb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        mu AS (SELECT DISTINCT h FROM (SELECT h FROM ma UNION SELECT h FROM mb)
               ORDER BY h LIMIT 64),
        est AS (SELECT CAST(COUNT(*) AS BIGINT) AS kmin_inter FROM mu
          WHERE h IN (SELECT h FROM ma) AND h IN (SELECT h FROM mb)),
        tr AS (SELECT
            CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS true_inter,
            CAST(COUNT(*) AS BIGINT) AS true_union
          FROM (SELECT h, MAX(CASE WHEN in_a THEN 1 ELSE 0 END) AS ina,
              MAX(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS inb
            FROM hs GROUP BY h))
        SELECT CAST(64 AS BIGINT) AS k, kmin_inter, true_inter, true_union
        FROM est, tr""")),

    // Cluster source purity: for each near-dup cluster, member count and
    // distinct sources — multi-source clusters are syndicated/mirrored
    // content (dedup them ACROSS sources before computing mix shares, or
    // the same text is counted once per mirror). Runs the O(log n)
    // componentsStar path over the text pair graph.
    "l68_cluster_purity" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val near = verifiedNearDups(s, d)._2.filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        val cl = Dedup.componentsStar(near)
        cl.join(docs.select(col("doc_id").as("id"), col("source")), "id")
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH RECURSIVE $oShingles, $oJaccard,
        pr AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        cl AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
          FROM reach GROUP BY src)
        SELECT cluster, COUNT(*) AS n_members,
          COUNT(DISTINCT d.source) AS n_sources
        FROM cl JOIN documents d ON cl.id = d.doc_id
        GROUP BY cluster ORDER BY cluster""")),

    // Training-mix composition table: rate-sample per source (mixture),
    // replicate per-source epochs, then report docs/tokens per (source,
    // epoch) — the mix table a pretraining run publishes. Narrow filter +
    // narrow generator + one aggregation.
    "l69_mix_composition" -> Def(
      (s, d) => Curation.replicate(
          Curation.mixture(t(s, d, "documents"), col("source"), col("doc_id"),
            Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)),
          col("source"), Map("src0" -> 2))
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy(col("source"), col("epoch")),
      Some(s"""SELECT source, epoch, COUNT(*) AS n_docs,
          CAST(SUM(len($oToks)) AS BIGINT) AS n_tokens
        FROM (SELECT * FROM documents,
            UNNEST(generate_series(1, CASE source WHEN 'src0' THEN 2
              ELSE 1 END)) AS g(epoch)
          WHERE (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                 WHEN 'src2' THEN 0.25 ELSE -1 END) >= 0
            AND ${oH48("CAST(doc_id AS VARCHAR)")} % 10000 <
              CAST((CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                WHEN 'src2' THEN 0.25 ELSE -1 END) * 10000 AS BIGINT))
        GROUP BY source, epoch ORDER BY source, epoch""")),

    // Deterministic shard export manifest (the training-data EXPORT
    // stage): every doc gets shard = hash48(doc_id||salt) mod 16 and a
    // reproducible pseudo-random within-shard order; the compared output
    // is the per-shard manifest — doc/token totals and source spread —
    // that a shard writer would publish beside the files. Everything is
    // BIGINT-exact (hash shard keys, counts, token sums). Scale shape:
    // assignment is a narrow map; the manifest is one map-side-combinable
    // aggregation over 16 keys; the physical write is repartition(shard)
    // + sortWithinPartitions(ord) — one exchange for the whole corpus.
    "l76_shard_export" -> Def(
      (s, d) => Curation.shardAssign(t(s, d, "documents"), col("doc_id"), 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("shard")),
      Some(s"""SELECT ${oH48("CAST(doc_id AS VARCHAR) || '_shard'")} % 16 AS shard,
          COUNT(*) AS n_docs,
          CAST(SUM(len($oToks)) AS BIGINT) AS n_tokens,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents GROUP BY shard ORDER BY shard""")),

    // Image perceptual-hash near-dup pairs over REAL PNGs (multimodal ×
    // dedup crossover): deterministic synthetic pictures — doc pairs
    // (2k, 2k+1) share a seed, the odd one perturbed in a corner — are
    // ImageIO-decoded, aHash64-hashed (integer pixel math), and paired by
    // exact pigeonhole blocking within hamming radius 8. FULL hash gate:
    // the oracle cannot decode PNG, but it doesn't need to — the fixture
    // is cell-quantized (every 8×8 cell solid black/white from a 64-bit
    // mix of (seed, cell)), so the aHash IS the white-cell bitmask and
    // the pair hamming IS the count of base-black corner cells, which
    // DuckDB replays in exact HUGEINT mod-2^64 arithmetic. The PNG
    // encode→ImageIO decode→luma→mean-threshold pipeline must reproduce
    // that closed form bit-for-bit for the hash to match. Scale shape:
    // narrow hash map (payload bytes never shuffle) + corpus × (radius+1)
    // block-key exchange — never n².
    "l70_image_phash_pairs" -> Def(
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).filter(col("doc_id") < 400)
          .as[Long]
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map(id => (id,
              Multimodal.testPatternPng((id / 2).toInt, flipCorner = if (id % 2 == 1) 16 else 0)))
          }.toDF("media_id", "payload")
        Multimodal.imageNearDupPairs(Multimodal.imageAHash(s, media),
            maxHamming = 8, maxBucket = 10000)
          .orderBy(col("id_a"), col("id_b"))
      },
      // The synthesis hash chain (Multimodal.testPatternPng) in exact
      // HUGEINT arithmetic: v=(seed*83492791)^(cell*73856093);
      // v*=2654435761 (mod 2^64); v^=v>>>23; v*=0x2127599bf4325c37
      // (mod 2^64); v^=v>>>47; cell is white iff v&1=1. All values stay
      // in [0,2^64), so `//2^k` IS the logical shift and xor() matches
      // Java. Pair hamming = #corner cells {0,1,8,9} black in the base
      // (the flip forces them white; cell means are saturated so each
      // aHash bit is exactly the cell color).
      Some("""WITH pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.doc_id // 2 AS k
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id < 400 AND b.doc_id < 400 AND a.doc_id % 2 = 0),
        v1 AS (
          SELECT p.id_a, p.id_b, c.cell,
            (xor(CAST(p.k * 83492791 AS HUGEINT),
                 CAST(c.cell * 73856093 AS HUGEINT))
              * 2654435761) % 18446744073709551616::HUGEINT AS v
          FROM pairs p, (SELECT unnest([0, 1, 8, 9]) AS cell) c),
        v3 AS (
          SELECT id_a, id_b, cell,
            (xor(v, v // 8388608) * 2388976653695081527)
              % 18446744073709551616::HUGEINT AS v
          FROM v1)
        SELECT id_a, id_b,
          CAST(SUM(CASE WHEN xor(v, v // 140737488355328) % 2 = 0
            THEN 1 ELSE 0 END) AS INTEGER) AS hamming
        FROM v3 GROUP BY id_a, id_b ORDER BY id_a, id_b""")),

    // Audio PCM feature extraction over REAL WAV payloads: deterministic
    // square-wave fixtures (amplitude = f(doc_id)) are javax.sound-decoded
    // sample-by-sample and reduced to integer-exact peak/RMS — for a
    // square wave both equal the amplitude exactly (sumSq = n·amp², the
    // integer mean and isqrt are exact), so every output column is a
    // CLOSED FORM of doc_id and the oracle replays it arithmetically:
    // the WAV encode→javax.sound decode→sample walk must reproduce the
    // closed form bit-for-bit for the hash to match. Full gate; narrow
    // map, payload bytes never shuffle.
    "l72_audio_pcm_features" -> Def(
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 300).as[Long]
          .mapPartitions(_.map { id =>
            (id, Multimodal.squareWav(16000f, 64 + (id % 5).toInt * 16,
              (500 + (id % 1000) * 30).toShort))
          }).toDF("media_id", "payload")
        Multimodal.audioFeatureFrame(s, media)
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
          CAST(16000 AS INTEGER) AS sample_rate,
          CAST(64 + (doc_id % 5) * 16 AS BIGINT) AS n_samples,
          CAST(500 + (doc_id % 1000) * 30 AS INTEGER) AS peak_abs,
          CAST(500 + (doc_id % 1000) * 30 AS BIGINT) AS rms
        FROM documents WHERE doc_id < 300 ORDER BY media_id""")),

    // Real MJPEG-AVI video decode + frame sampling over synthesized
    // containers: deterministic JPEG frames (testPatternPng re-encoded)
    // are packed into real RIFF/AVI files, demuxed back by the pure-JDK
    // container walk, and every 2nd frame's actual bytes are emitted with
    // its decoded dimensions. FULL gate: frame count (2 + doc_id%4),
    // sampled indices (0,2,...), dimensions (64×64) and non-emptiness are
    // all closed forms of doc_id the oracle replays arithmetically — the
    // AVI mux→demux→JPEG decode round-trip must land exactly on them.
    // Narrow map — container bytes never shuffle.
    "l73_video_frame_sample" -> Def(
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 120).as[Long]
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map { id =>
              val nFrames = 2 + (id % 4).toInt
              val frames = (0 until nFrames).map { f =>
                val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
                  Multimodal.testPatternPng((id * 7 + f).toInt)))
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "jpg", bos)
                bos.toByteArray
              }
              (id, Multimodal.buildMjpegAvi(frames))
            }
          }.toDF("media_id", "payload")
        val sampled = Multimodal.sampleFrameBytes(s, media, stride = 2)
        sampled.as[(Long, Int, Array[Byte])]
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map { case (id, idx, frame) =>
              val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frame))
              (id, idx, img.getWidth, img.getHeight, frame.length > 0)
            }
          }.toDF("media_id", "frame_idx", "width", "height", "nonempty")
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""SELECT d.doc_id AS media_id, CAST(t.f AS INTEGER) AS frame_idx,
          CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
          TRUE AS nonempty
        FROM documents d,
          UNNEST(generate_series(0, CAST(1 + d.doc_id % 4 AS BIGINT), 2))
            AS t(f)
        WHERE d.doc_id < 120 ORDER BY media_id, frame_idx""")),

    // Batch analog of the STREAMING ingest dedup (streaming/StreamingDedup
    // .nearDupStream): with every document in one batch, the stateful
    // bucket-membership semantics reduce to "for each doc, the minimum
    // earlier doc sharing an LSH band whose signature agreement reaches
    // 26/32" — SQL-expressible, so the streaming operator's MATH gets a
    // bit-exact oracle here (and StreamingDedupSpec asserts the streaming
    // op produces exactly these verdicts for a single-batch run).
    "l71_ingest_dedup_batch" -> Def(
      (s, d) => {
        val sig = Dedup.minhashSignaturesNarrow(
          t(s, d, "documents"), "doc_id", "text", k = 32)
        val cand = Dedup.lshCandidates(sig, k = 32, rowsPerBand = 2,
          maxBucket = 10000)
        def side(tag: String) = sig.select(
          col("id").as(s"id_$tag") +:
            (1 to 32).map(j => col(s"mh_$j").as(s"${tag}_$j")): _*)
        val matches = (1 to 32)
          .map(j => when(col(s"a_$j") === col(s"b_$j"), 1).otherwise(0))
          .reduce(_ + _)
        cand.join(side("a"), "id_a").join(side("b"), "id_b")
          .withColumn("matches", matches)
          .filter(col("matches") >= 26) // = ceil(4/5 · 32), the stream's threshold
          .groupBy(col("id_b").as("doc_id"))
          .agg(min(col("id_a")).as("dup_of"),
            count(lit(1)).as("n_matching_members"))
          .orderBy(col("doc_id"))
      },
      Some {
        val mins = (1 to 32).map(j =>
          s"MIN((hb * ${mhA(j)} + ${mhB(j)}) % $P31) AS mh_$j").mkString(", ")
        val bandCond = (0 until 16).map { b =>
          s"(a.mh_${2 * b + 1} = b.mh_${2 * b + 1} AND a.mh_${2 * b + 2} = b.mh_${2 * b + 2})"
        }.mkString(" OR ")
        val agreeSum = (1 to 32).map(j =>
          s"CASE WHEN a.mh_$j = b.mh_$j THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $oShingles, $oShingleHash,
          sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
          agree AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              ($agreeSum) AS matches
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond))
          SELECT id_b AS doc_id, MIN(id_a) AS dup_of,
            COUNT(*) AS n_matching_members
          FROM agree WHERE matches >= 26
          GROUP BY id_b ORDER BY doc_id"""
      }),

    // Batch analog of the STREAMING ingest-curation funnel
    // (streaming/StreamingCuration): quality gate -> first-seen exact
    // dedup -> per-source quota admission, over the documents plus a
    // synthesized exact-copy wave (every 7th doc re-arrives under a
    // shifted id — the raw table has no byte-identical rows). With all
    // arrivals in one batch the stateful semantics reduce to window SQL
    // (first_seen = MIN(doc_id) per digest among quality-passers;
    // admit_rank = arrival ROW_NUMBER per source among survivors), so the
    // streaming operators' MATH is driver-gated bit-exact here, and
    // StreamingCurationSpec asserts the staged streaming run produces
    // exactly these verdicts across micro-batch boundaries.
    // Windowed (TTL) streaming dedup end-to-end under the driver gate:
    // StreamingCuration.exactDedupStream with a 1-hour event-time dedup
    // window runs for REAL across 4 micro-batches (maxFilesPerTrigger=1
    // over day-partitioned files with forced-increasing mtimes). The
    // input is CONSTRUCTED so the session structure is known a priori and
    // the oracle is analytic: texts are uniquified per base doc
    // (text#doc_id), every 7th doc gets (a) a copy 30 min later — inside
    // the window, flagged dup_of the original; (b) a copy on day 3 —
    // the digest expired during the day-1/day-2 filler batches (its
    // timeout, at most base+20.9h+1h, is below the day-1 watermark), so
    // it re-registers as a fresh owner; (c) a copy 30 min after (b) —
    // inside the re-admitted owner's window, flagged dup_of (b). The two
    // filler docs exist to advance the watermark through empty days.
    // This is the expiry/re-admission semantics the TTL mode promises,
    // hash-gated rather than only spec-asserted.
    "l78_windowed_dedup_streaming" -> Def(
      (s, d) => {
        val in = l78Input(s, d)
        Q.streamGate("graft_l78") { g =>
          val out = s"${g.dir}/out"
          Q.withStreamParts(s, in.bytes) {
            g.run(ckpt => graft.streaming.StreamingCuration.exactDedupStream(
                s, in.stream(s), "doc_id", "text", "source",
                eventTimeCol = Some("ts"), dedupWindowMs = Some(3600 * 1000L))
              .writeStream.outputMode("append")
              .option("checkpointLocation", ckpt).trigger(g.trigger)
              .start(out))
          }
          s.read.parquet(out)
            .select(col("doc_id"), col("source"), col("dup_of"))
            .orderBy(col("doc_id"))
        }
      },
      Some("""WITH d7 AS (SELECT doc_id, source FROM documents
          WHERE doc_id % 7 = 0)
        SELECT doc_id, source, CAST(NULL AS BIGINT) AS dup_of FROM documents
        UNION ALL SELECT doc_id + 1000000, source, doc_id FROM d7
        UNION ALL SELECT 9000001, 'filler', NULL
        UNION ALL SELECT 9000002, 'filler', NULL
        UNION ALL SELECT doc_id + 2000000, source, NULL FROM d7
        UNION ALL SELECT doc_id + 3000000, source, doc_id + 2000000 FROM d7
        ORDER BY doc_id""")),

    "l77_ingest_curation" -> Def(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val quota = 15L
        val base = t(s, d, "documents")
        val copies = base.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L)
        val scored = base.unionByName(copies).select(
          col("doc_id"), col("source"),
          TA.qualityScore(col("text"), col("n_chars")).as("quality"),
          md5(col("text")).as("digest"))
        val passers = scored.filter(col("quality") > 0.5)
          .withColumn("first_seen",
            min(col("doc_id")).over(Window.partitionBy(col("digest"))))
        val surv = passers.filter(col("first_seen") === col("doc_id"))
          .withColumn("admit_rank", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
        scored.filter(!(col("quality") > 0.5))
          .select(col("doc_id"), col("source"),
            lit("reject_quality").as("verdict"),
            lit(null).cast("long").as("dup_of"),
            lit(null).cast("long").as("admit_rank"))
          .unionByName(passers.filter(col("first_seen") < col("doc_id"))
            .select(col("doc_id"), col("source"),
              lit("reject_dup").as("verdict"),
              col("first_seen").as("dup_of"),
              lit(null).cast("long").as("admit_rank")))
          .unionByName(surv.select(col("doc_id"), col("source"),
            when(col("admit_rank") <= quota, "admit")
              .otherwise("reject_quota").as("verdict"),
            lit(null).cast("long").as("dup_of"), col("admit_rank")))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH cand AS (
          SELECT doc_id, source, text, n_chars FROM documents
          UNION ALL
          SELECT doc_id + 100000, source, text, n_chars FROM documents
          WHERE doc_id % 7 = 0),
        scored AS (SELECT doc_id, source, $oQuality AS quality,
          md5(text) AS digest FROM cand),
        passers AS (SELECT *, MIN(doc_id) OVER (PARTITION BY digest)
            AS first_seen
          FROM scored WHERE quality > 0.5),
        surv AS (SELECT doc_id, source,
            CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
              AS BIGINT) AS admit_rank
          FROM passers WHERE first_seen = doc_id)
        SELECT doc_id, source, 'reject_quality' AS verdict,
          CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS BIGINT) AS admit_rank
        FROM scored WHERE NOT (quality > 0.5)
        UNION ALL
        SELECT doc_id, source, 'reject_dup', first_seen, NULL
        FROM passers WHERE first_seen < doc_id
        UNION ALL
        SELECT doc_id, source,
          CASE WHEN admit_rank <= 15 THEN 'admit' ELSE 'reject_quota' END,
          NULL, admit_rank
        FROM surv
        ORDER BY doc_id""")),

    // Brute-force cosine top-k (the exact ANN baseline): query set vec_id<8.
    "l12_ann_bruteforce" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.bruteForceTopK(prep, prep.filter(col("id") < 8), k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) AS cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
              c.vec_id) AS BIGINT) AS rank
          FROM qn q JOIN qn c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // LSH-bucketed ANN top-k (the scale path: candidates share a 12-bit
    // sign bucket; recall < 1 by design and the bucket is part of the
    // contract/oracle).
    "l13_ann_lsh" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.bucketedTopK(prep, col("id") < 50, bits = 12, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        b AS (SELECT vec_id, q, norm_sq, ${oBucket(12, "embedding")} AS bucket
              FROM qn JOIN embeddings USING (vec_id))
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) AS cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
              c.vec_id) AS BIGINT) AS rank
          FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 50 AND q.vec_id <> c.vec_id)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // IVF ANN (coarse quantizer + probe): the third ANN strategy beside
    // brute force and sign-LSH. The quantizer here is the deterministic
    // md5-ranked-sample seeding (centroid = an exact quantized corpus
    // vector, assignment pure BIGINT), so the FULL pipeline — seed pick,
    // cell assignment, probe selection, candidate ranking — is under the
    // oracle's hash; the MLlib-KMeans variant (Similarity.ivfTopK) is
    // exactness-pinned in ScaleSpec (nProbe=nCells == brute force) since
    // Lloyd iterations aren't engine-portable.
    "l16_ann_ivf" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.ivfSeededTopK(prep, col("id") < 8, nCells = 8, nProbe = 2, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        seeds0 AS (SELECT vec_id AS seed_id, q AS sq, norm_sq AS sn,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 8),
        seeds AS (SELECT seed_id, sq, sn,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cell
          FROM seeds0),
        asg0 AS (SELECT x.vec_id, x.q, x.norm_sq, s.cell,
            x.norm_sq - 2 * ${oDot("x.q", "s.sq")} + s.sn AS d2
          FROM qn x CROSS JOIN seeds s),
        asg AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY d2, cell) AS crk FROM asg0),
        corpus AS (SELECT vec_id AS cid, q AS cq, norm_sq AS cn, cell
          FROM asg WHERE crk = 1),
        queries AS (SELECT vec_id AS qid, q AS qq, norm_sq AS qnorm, cell
          FROM asg WHERE vec_id < 8 AND crk <= 2)
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT q.qid AS query_id, c.cid AS neighbor_id,
            CAST(${oDot("q.qq", "c.cq")} AS DOUBLE) /
              sqrt(CAST(q.qnorm AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY q.qid
              ORDER BY CAST(${oDot("q.qq", "c.cq")} AS DOUBLE) /
                sqrt(CAST(q.qnorm AS DOUBLE) * CAST(c.cn AS DOUBLE)) DESC,
              c.cid) AS BIGINT) AS rank
          FROM queries q JOIN corpus c ON q.cell = c.cell AND q.qid <> c.cid)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Salted aggregation: identical result to the plain GROUP BY (the
    // oracle IS the unsalted query) with the hot-key shuffle spread over 8
    // salt lanes — the skew pattern for aggregation state AQE can't split.
    "q24_salted_agg" -> Def(
      (s, d) => {
        import graft.ops.Skew
        val li = t(s, d, "lineitem")
        Skew.saltedSumCount(li, Seq("l_returnflag"), col("l_orderkey"),
            Q.dec(col("l_quantity")), salts = 8)
          .select(col("l_returnflag"),
            col("sum_value").cast("double").as("sum_qty"), col("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Embedding stats per label (count, exact-integer norm stats, centroid
    // first component).
    "l14_embed_label_stats" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(t(s, d, "embeddings"), "embedding")
        prep.groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            min(col("norm_sq")).as("min_norm_sq"),
            max(col("norm_sq")).as("max_norm_sq"),
            (sum(element_at(col("qvec"), 1)).cast("double") / count(lit(1))).as("centroid_d1"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $oQuant
        SELECT label, COUNT(*) AS n, MIN(norm_sq) AS min_norm_sq,
          MAX(norm_sq) AS max_norm_sq,
          CAST(CAST(SUM(q[1]) AS BIGINT) AS DOUBLE) / COUNT(*) AS centroid_d1
        FROM qn GROUP BY label ORDER BY label""")),

    // Frame-sampling plan over the decoded video metadata (every 5th frame
    // index, metadata-only — no payload bytes move).
    "l19_frame_sample" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8"))
          .withColumn("kind",
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
        val media = Multimodal.withMediaMeta(docs, "doc_id", "payload", col("kind"))
        val decoded = Multimodal.decode(s, media).toDF()
        Multimodal.sampleFrames(decoded, stride = 5)
          .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx
        FROM (SELECT doc_id, 1 + LENGTH(text) % 30 AS n_frames
              FROM documents WHERE doc_id % 3 = 2),
        UNNEST(generate_series(0, n_frames - 1, 5)) AS g(f)
        ORDER BY media_id, frame_idx""")),

    // Gopher-style repetition signal: duplicate-2-gram fraction per doc.
    "l17_repetition" -> Def(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TA.repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        CASE WHEN len(t) < 2 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END AS rep_ratio
        FROM (SELECT doc_id, t,
                list_transform(generate_series(1, GREATEST(len(t) - 1, 0)),
                  i -> t[i] || ' ' || t[i+1]) AS g
              FROM (SELECT doc_id, $oToks AS t FROM documents))
        ORDER BY doc_id""")),

    // Deterministic PII-shaped redaction — the text-cleaning pass. Every
    // rule of TextAnalysis.redactionRules fires on every row: email,
    // UUID (hex segments must become <UUID>, never shredded into <NUM>),
    // grouped card digits (<CC> — fires BEFORE the phone rule can take
    // its 3-3-4 tail; 4-4-4-4 with mixed separators and Amex 4-6-5
    // both covered), separator-tolerant phones in all three shapes
    // (555-123-4567 / (555) 123-4567 / +1 555 987 6543), IPv4, and the
    // contiguous digit run. The oracle chain is BUILT from the same
    // rule Seq, so the two sides cannot desynchronize.
    "l18_redact" -> Def(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TA.redact(concat(col("text"), lit(" reach me at user"),
            col("doc_id"),
            lit("@example.com or 12345678901, call 555-123-4567, " +
              "(555) 123-4567 or +1 555 987 6543; host 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".17, card 4111-1111-1111-1111, mixed 5500-0000 0000-0004, " +
              "amex 3782 822463 10005, session " +
              "123e4567-e89b-12d3-a456-426614174000 done"))).as("clean_text"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        ${oRedact("""text || ' reach me at user' || doc_id ||
            '@example.com or 12345678901, call 555-123-4567, ' ||
            '(555) 123-4567 or +1 555 987 6543; host 10.0.' ||
            CAST(doc_id % 256 AS VARCHAR) ||
            '.17, card 4111-1111-1111-1111, mixed 5500-0000 0000-0004, ' ||
            'amex 3782 822463 10005, session ' ||
            '123e4567-e89b-12d3-a456-426614174000 done'""")} AS clean_text
        FROM documents ORDER BY doc_id""")),

    // Multimodal plumbing: binary payload envelope + [STUB] decode through
    // the real mapPartitions path (dims derive deterministically from byte
    // length, so the oracle replicates the formula from n_chars).
    // Deterministic weighted source mixing (the training-mix recipe op):
    // md5-derived per-row decisions — reproducible across runs/engines,
    // single narrow filter.
    "l22_mixture_sample" -> Def(
      (s, d) => Curation.mixture(t(s, d, "documents"), col("source"), col("doc_id"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, source FROM documents
        WHERE (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
               WHEN 'src2' THEN 0.25 ELSE -1 END) >= 0
          AND ${oH48("CAST(doc_id AS VARCHAR)")} % 10000 <
              CAST((CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                    WHEN 'src2' THEN 0.25 ELSE -1 END) * 10000 AS BIGINT)
        ORDER BY doc_id""")),

    // Sequence packing, concat-then-chunk (how documents become
    // fixed-length training sequences): one prefix-sum window over the
    // doc order; chunk id / offset / span count all derive from it.
    "l23_pack_sequences" -> Def(
      (s, d) => Curation.packSequences(t(s, d, "documents"),
          col("doc_id"), size(split(col("text"), " ", -1)), seqLen = 512)
        .select(col("doc_id"), col("token_count"), col("cum_start"),
          col("seq_id"), col("seq_offset"), col("n_spans"))
        .orderBy(col("doc_id")),
      // every windowed sum is CAST back to BIGINT: DuckDB widens SUM(BIGINT)
      // to HUGEINT, which would fail the driver's schema compare
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count,
        CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
          OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_start,
        CAST(FLOOR(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
          OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS seq_id,
        CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
          OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 512 AS BIGINT) AS seq_offset,
        CAST(FLOOR((COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
            OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + CAST(len(string_split(text, ' ')) AS BIGINT) - 1) / 512) AS BIGINT)
          - CAST(FLOOR(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
            OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) + 1 AS n_spans
        FROM documents ORDER BY doc_id""")),

    // Benchmark decontamination: training docs (doc_id >= 25) sharing >= 2
    // distinct 3-gram shingles with any "benchmark" doc (doc_id < 25) —
    // the shingle inverted index keeps it semi-join-shaped, never
    // train x eval.
    "l24_decontaminate" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        Curation.contaminated(docs.filter(col("doc_id") >= 25),
            docs.filter(col("doc_id") < 25), "doc_id", "text",
            n = 3, minShared = 2)
          .orderBy(col("id"))
      },
      Some(s"""WITH $oShingles,
        ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25),
        tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 25)
        SELECT tr.doc_id AS id, COUNT(*) AS shared_shingles
        FROM tr JOIN ev USING (shingle)
        GROUP BY tr.doc_id HAVING COUNT(*) >= 2 ORDER BY id""")),

    // Bloom-prefiltered decontamination: l24's exact semantics reached
    // through an 8 KiB bitmap literal riding the plan into every task —
    // the membership test is a codegen'd scalar filter at the scan, so
    // only possibly-contaminated shingles reach the verify join (where
    // Bloom false positives die; false negatives cannot exist). The
    // oracle is the PLAIN exact join — the hash match proves the Bloom
    // path changes nothing but the work done.
    "l89_bloom_decontam" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        Curation.bloomDecontaminate(
            docs.filter(col("doc_id") % 7 =!= 3),
            docs.filter(col("doc_id") % 7 === 3),
            "doc_id", "text", minShared = 2)
          .orderBy(col("id"))
      },
      Some(s"""WITH $oShingles,
        ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 3),
        tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 7 != 3)
        SELECT tr.doc_id AS id, COUNT(*) AS shared_shingles
        FROM tr JOIN ev USING (shingle)
        GROUP BY tr.doc_id HAVING COUNT(*) >= 2 ORDER BY id""")),

    // Corpus-statistics quality signal: rare-token ratio against the
    // corpus df table — integer arithmetic until the final division, so
    // the oracle hash-matches exactly (no transcendentals).
    "l25_rare_tokens" -> Def(
      (s, d) => Curation.rareTokenStats(t(s, d, "documents"), "doc_id", "text",
          minDf = 3)
        .select(col("id"), col("n_tokens"), col("n_rare"), col("rare_ratio"))
        .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS t
          FROM documents),
        docfreq AS (SELECT t, COUNT(*) AS df
          FROM (SELECT DISTINCT id, t FROM tok) GROUP BY t)
        SELECT id, COUNT(*) AS n_tokens,
          CAST(SUM(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
          CAST(SUM(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_ratio
        FROM tok JOIN docfreq USING (t)
        GROUP BY id ORDER BY id""")),

    // Span-level exact dedup (C4 line-dedup at paragraph granularity):
    // 10-token spans content-hashed; any span seen earlier in corpus order
    // is flagged with its first occurrence. One shuffle on span_hash.
    "l26_span_dedup" -> Def(
      (s, d) => Curation.spanDedup(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 10)
        .select(col("id"), col("span_idx"), col("span_hash"),
          col("first_id"), col("first_span"))
        .orderBy(col("id"), col("span_idx")),
      Some(s"""WITH spans AS (
          SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS span_idx,
            md5(array_to_string(t[(i-1)*10+1:(i-1)*10+10], ' ')) AS span_hash
          FROM (SELECT doc_id, $oToks AS t FROM documents),
            UNNEST(generate_series(1, CAST(CEIL(len(t) / 10.0) AS BIGINT))) AS g(i)),
        flagged AS (
          SELECT id, span_idx, span_hash,
            FIRST_VALUE(id) OVER w AS first_id,
            FIRST_VALUE(span_idx) OVER w AS first_span
          FROM spans
          WINDOW w AS (PARTITION BY span_hash ORDER BY id, span_idx))
        SELECT id, span_idx, span_hash, first_id, first_span FROM flagged
        WHERE id <> first_id OR span_idx <> first_span
        ORDER BY id, span_idx""")),

    // The cleaning pass over l26: duplicate spans removed, text rebuilt
    // from surviving spans in order (C4's line-dedup applied, not just
    // detected).
    "l32_clean_spans" -> Def(
      (s, d) => Curation.cleanSpans(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 10)
        .select(col("id"), col("clean_text"), col("n_spans"), col("n_kept"))
        .orderBy(col("id")),
      Some(s"""WITH spans AS (
          SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS span_idx,
            array_to_string(t[(i-1)*10+1:(i-1)*10+10], ' ') AS span_text
          FROM (SELECT doc_id, $oToks AS t FROM documents),
            UNNEST(generate_series(1, CAST(CEIL(len(t) / 10.0) AS BIGINT))) AS g(i)),
        flagged AS (
          SELECT id, span_idx, span_text,
            FIRST_VALUE(id) OVER w AS first_id,
            FIRST_VALUE(span_idx) OVER w AS first_span
          FROM (SELECT *, md5(span_text) AS span_hash FROM spans)
          WINDOW w AS (PARTITION BY span_hash ORDER BY id, span_idx))
        SELECT id,
          string_agg(span_text, ' ' ORDER BY span_idx)
            FILTER (WHERE id = first_id AND span_idx = first_span) AS clean_text,
          COUNT(*) AS n_spans,
          CAST(SUM(CASE WHEN id = first_id AND span_idx = first_span THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM flagged GROUP BY id HAVING n_kept > 0 ORDER BY id""")),

    // Gopher-style rule flags: per-rule boolean signals + the conjunctive
    // keep decision (per-rule rejection accounting, the form a curation
    // pipeline reports). Pure narrow map stage.
    "l27_gopher_filter" -> Def(
      (s, d) => {
        val flags = graft.ops.TextAnalysis.gopherFlags(col("text"))
        t(s, d, "documents")
          .select(col("doc_id") +: flags.map { case (n, c) => c.as(n) }: _*)
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
          n_tok BETWEEN 5 AND 10000 AS f_len,
          mwl >= 2.0 AND mwl <= 10.0 AS f_mwl,
          stop_ratio >= 0.01 AS f_stop,
          rep_ratio < 0.3 AS f_rep,
          (n_tok BETWEEN 5 AND 10000) AND (mwl >= 2.0 AND mwl <= 10.0)
            AND stop_ratio >= 0.01 AND rep_ratio < 0.3 AS kept
        FROM (SELECT doc_id, len(t) AS n_tok,
            CAST(list_sum(list_transform(t, tk -> LENGTH(tk))) AS DOUBLE) / len(t) AS mwl,
            CAST(len(list_filter(t, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(t) AS stop_ratio,
            CASE WHEN len(t) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END AS rep_ratio
          FROM (SELECT doc_id, t,
                  list_transform(generate_series(1, GREATEST(len(t) - 1, 0)),
                    i -> t[i] || ' ' || t[i+1]) AS g
                FROM (SELECT doc_id, $oToks AS t FROM documents)))
        ORDER BY doc_id""")),

    // The composed curation pipeline (the way the ops run in production):
    // Gopher rule filter AND exact-dedup survivorship AND language gate,
    // in one plan — the filters fuse into the scan, the dedup survivor
    // check is one semi-join against the (small) representative set.
    "l33_curation_pipeline" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val kept = TA.gopherFlags(col("text")).last._2
        val reps = Dedup.exactGroups(docs, "doc_id", "text")
          .select(col("rep_id").as("doc_id"))
        docs.select(col("doc_id"), col("source"),
            TA.langId(col("text")).as("lang_pred"), kept.as("kept"))
          .filter(col("kept") && col("lang_pred") =!= "und")
          .join(reps, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"), col("lang_pred"))
          .orderBy(col("doc_id"))
      },
      Some {
        val scoreExprs = TA.langMarkers.map { case (code, ms) =>
          code -> s"len(list_filter(t, tk -> tk IN (${ms.map(m => s"'$m'").mkString(",")})))"
        }
        val all = scoreExprs.map(e => s"s_${e._1}").mkString(", ")
        val firstMax = scoreExprs.map { case (c, _) =>
          s"WHEN s_$c >= GREATEST($all) THEN '$c'"
        }.mkString(" ")
        s"""WITH f AS (SELECT doc_id, source,
            len(t) AS n_tok,
            CAST(list_sum(list_transform(t, tk -> LENGTH(tk))) AS DOUBLE) / len(t) AS mwl,
            CAST(len(list_filter(t, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(t) AS stop_ratio,
            CASE WHEN len(t) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END AS rep_ratio,
            ${scoreExprs.map { case (c, e) => s"$e AS s_$c" }.mkString(", ")}
          FROM (SELECT doc_id, source, t,
                  list_transform(generate_series(1, GREATEST(len(t) - 1, 0)),
                    i -> t[i] || ' ' || t[i+1]) AS g
                FROM (SELECT doc_id, source, $oToks AS t FROM documents)))
        SELECT doc_id, source,
          CASE WHEN GREATEST($all) = 0 THEN 'und' $firstMax END AS lang_pred
        FROM f
        WHERE (n_tok BETWEEN 5 AND 10000) AND (mwl >= 2.0 AND mwl <= 10.0)
          AND stop_ratio >= 0.01 AND rep_ratio < 0.3
          AND (CASE WHEN GREATEST($all) = 0 THEN 'und' $firstMax END) <> 'und'
          AND doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        ORDER BY doc_id"""
      }),

    // Per-document distinctive terms: k lowest-df tokens (TF-IDF's
    // "informative terms" with integer-only df ranks — engine-exact).
    "l28_distinctive_terms" -> Def(
      (s, d) => Curation.distinctiveTerms(t(s, d, "documents"), "doc_id",
          "text", k = 3)
        .orderBy(col("id"), col("rank")),
      Some("""WITH tok AS (SELECT DISTINCT doc_id AS id,
            UNNEST(string_split(text, ' ')) AS term FROM documents),
          dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term)
        SELECT id, term, df, rank FROM (
          SELECT id, term, df,
            CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY df, term) AS BIGINT) AS rank
          FROM tok JOIN dfreq USING (term))
        WHERE rank <= 3 ORDER BY id, rank""")),

    // REAL image codec under the gate: render a PNG per document (dims a
    // deterministic function of doc_id), push it through the envelope +
    // mapPartitions decode, and verify ImageIO returned the exact
    // dimensions — the oracle recomputes the dimension formulas in SQL, so
    // a broken codec (or a silent fallback) fails the hash compare.
    "l21_image_decode" -> Def(
      (s, d) => {
        import s.implicits._
        val rendered = t(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map { id =>
              val w = 8 + (id % 24).toInt
              val h = 6 + (id % 18).toInt
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = img.createGraphics()
              try { g.setColor(new java.awt.Color((id % 255).toInt, 64, 128)); g.fillRect(0, 0, w, h) }
              finally g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              (id, bos.toByteArray)
            }
          }.toDF("doc_id", "payload")
        val media = Multimodal.withMediaMeta(rendered, "doc_id", "payload", lit("image"))
        Multimodal.decode(s, media).toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("n_frames"), col("decoded"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
        CAST(8 + doc_id % 24 AS INTEGER) AS width,
        CAST(6 + doc_id % 18 AS INTEGER) AS height,
        CAST(1 AS INTEGER) AS n_frames,
        TRUE AS decoded
        FROM documents ORDER BY media_id""")),

    // REAL audio codec under the gate (the WAV sibling of l21): synthesize
    // a PCM16 mono WAV per document with header fields derived from doc_id,
    // decode through the javax.sound path, and check the parsed sample rate
    // and frame count against the formulas in SQL — a silent fallback
    // (decoded=false, rate 16000) would fail the hash compare.
    "l29_audio_decode" -> Def(
      (s, d) => {
        import s.implicits._
        val rendered = t(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val rate = 8000 + (id % 8).toInt * 1000
              val nFrames = 100 + (id % 400).toInt
              val dataSize = nFrames * 2 // 16-bit mono
              val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
                .put("WAVE".getBytes("US-ASCII"))
                .put("fmt ".getBytes("US-ASCII")).putInt(16)
                .putShort(1).putShort(1) // PCM, mono
                .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
                .put("data".getBytes("US-ASCII")).putInt(dataSize)
              var i = 0
              while (i < nFrames) { bb.putShort(((id + i) % 4096).toShort); i += 1 }
              (id, bb.array())
            }
          }.toDF("doc_id", "payload")
        val media = Multimodal.withMediaMeta(rendered, "doc_id", "payload", lit("audio"))
        Multimodal.decode(s, media).toDF()
          .select(col("media_id"), col("sample_rate"), col("n_frames"),
            col("decoded"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
        CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
        CAST(100 + doc_id % 400 AS INTEGER) AS n_frames,
        TRUE AS decoded
        FROM documents ORDER BY media_id""")),

    // ANN with random-hyperplane sign-LSH (the basis-independent variant of
    // l13): ±1 plane coefficients derived from the portable md5 hash, so
    // the oracle recomputes the same buckets from embedded literal tables.
    "l30_ann_rplsh" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.rpBucketedTopK(prep, col("id") < 50, bits = 12, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val signs = Similarity.rpSigns(12, 64)
        val bucketExpr = signs.zipWithIndex.map { case (cs, j) =>
          val lits = cs.mkString("[", ", ", "]")
          s"""(CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64),
             i -> q[i] * ($lits)[i])) AS BIGINT) >= 0 THEN ${1L << j} ELSE 0 END)"""
        }.mkString(" + ")
        s"""WITH $oQuant,
          b AS (SELECT vec_id, q, norm_sq, $bucketExpr AS bucket FROM qn)
          SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) AS cosine,
              CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                ORDER BY CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                  sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
                c.vec_id) AS BIGINT) AS rank
            FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 50 AND q.vec_id <> c.vec_id)
          WHERE rank <= 5 ORDER BY query_id, rank"""
      }),

    // Multi-probe rp-LSH ANN: own bucket + 2 lowest-margin bit flips per
    // query — the production recall dial. Margins/buckets are integer-
    // exact, so the probe set (and thus the result) is oracle-exact.
    "l31_ann_multiprobe" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.multiProbeTopK(prep, col("id") < 50, bits = 12, nProbe = 3, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val signs = Similarity.rpSigns(12, 64)
        val dotExprs = signs.map { cs =>
          val lits = cs.mkString("[", ", ", "]")
          s"""CAST(list_sum(list_transform(generate_series(1, 64),
             i -> q[i] * ($lits)[i])) AS BIGINT)"""
        }
        val dotsList = dotExprs.mkString("[", ",\n", "]")
        val bucketFromDots = (0 until 12).map(j =>
          s"(CASE WHEN dots[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
        s"""WITH $oQuant,
          d AS (SELECT vec_id, q, norm_sq, $dotsList AS dots FROM qn),
          bq AS (SELECT vec_id, q, norm_sq, dots, $bucketFromDots AS bucket FROM d),
          pr AS (SELECT vec_id, q, norm_sq, bucket,
              list_transform(list_sort(list_transform(generate_series(1, 12),
                j -> [abs(dots[j]), CAST(j - 1 AS BIGINT)]))[1:2],
                p -> xor(bucket, CAST(1 AS BIGINT) << CAST(p[2] AS INTEGER))) AS flips
            FROM bq WHERE vec_id < 50),
          probes AS (SELECT vec_id, q, norm_sq, UNNEST(list_prepend(bucket, flips)) AS probe_bucket
            FROM pr)
          SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
              CAST(${oDot("p.q", "c.q")} AS DOUBLE) /
                sqrt(CAST(p.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) AS cosine,
              CAST(ROW_NUMBER() OVER (PARTITION BY p.vec_id
                ORDER BY CAST(${oDot("p.q", "c.q")} AS DOUBLE) /
                  sqrt(CAST(p.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
                c.vec_id) AS BIGINT) AS rank
            FROM probes p JOIN bq c ON p.probe_bucket = c.bucket AND p.vec_id <> c.vec_id)
          WHERE rank <= 5 ORDER BY query_id, rank"""
      }),

    // ANN recall@k evaluation harness: per-query recall of the rp-LSH
    // bucketed path against brute-force ground truth over a SAMPLED query
    // set — the measurement that tunes bits/nProbe before committing an
    // approximate path at 100 TB (ground truth cost ∝ |sample| × corpus,
    // not corpus²). Every compared column is an exact BIGINT count;
    // recall_pct is truncating integer percent, so the row set is
    // engine-exact even though the underlying rankings use one double
    // division each (deterministic, as in l12/l30).
    "l74_ann_recall" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.recallAtK(prep, col("id") < 50, bits = 12, k = 5)
          .orderBy(col("query_id"))
      },
      Some {
        val signs = Similarity.rpSigns(12, 64)
        val bucketExpr = signs.zipWithIndex.map { case (cs, j) =>
          val lits = cs.mkString("[", ", ", "]")
          s"""(CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64),
             i -> q[i] * ($lits)[i])) AS BIGINT) >= 0 THEN ${1L << j} ELSE 0 END)"""
        }.mkString(" + ")
        s"""WITH $oQuant,
          b AS (SELECT vec_id, q, norm_sq, $bucketExpr AS bucket FROM qn),
          truth AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                ORDER BY CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                  sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
                c.vec_id) AS BIGINT) AS rank
            FROM qn q JOIN qn c ON q.vec_id < 50 AND q.vec_id <> c.vec_id)
            WHERE rank <= 5),
          approx AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                ORDER BY CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                  sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
                c.vec_id) AS BIGINT) AS rank
            FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 50 AND q.vec_id <> c.vec_id)
            WHERE rank <= 5)
          SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
            CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
            (CAST(COUNT(a.neighbor_id) AS BIGINT) * 100) //
              CAST(COUNT(*) AS BIGINT) AS recall_pct
          FROM truth t LEFT JOIN approx a
            ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
          GROUP BY t.query_id ORDER BY t.query_id"""
      }),

    // Int8 scalar-quantized ANN (the memory scale path: 4x smaller than
    // float32 codes, per-vector symmetric scale, code_i = round(q_i * 127
    // / max|q|)). Ranking runs entirely in the code domain — exact BIGINT
    // code dots/norms, one double division — and the compared score
    // column is the exact integer code_dot. Recall vs full precision is
    // < 1 by design; l74's harness is the measurement for that dial.
    "l75_ann_int8" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.int8TopK(prep, col("id") < 8, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        m AS (SELECT vec_id, q,
            list_max(list_transform(q, x -> abs(x))) AS ma FROM qn),
        codes AS (SELECT vec_id,
            list_transform(q, x -> CASE WHEN ma = 0 THEN 0
              WHEN x >= 0 THEN CAST(FLOOR(CAST(x AS DOUBLE) * 127.0
                / CAST(ma AS DOUBLE) + 0.5) AS BIGINT)
              ELSE CAST(CEIL(CAST(x AS DOUBLE) * 127.0
                / CAST(ma AS DOUBLE) - 0.5) AS BIGINT) END) AS c8
          FROM m),
        cn AS (SELECT vec_id, c8,
            CAST(list_sum(list_transform(generate_series(1, 64),
              i -> c8[i] * c8[i])) AS BIGINT) AS c8_norm FROM codes)
        SELECT query_id, neighbor_id, code_dot, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ${oDot("q.c8", "c.c8")} AS code_dot,
            CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY CAST(${oDot("q.c8", "c.c8")} AS DOUBLE) /
                sqrt(CAST(q.c8_norm AS DOUBLE) * CAST(c.c8_norm AS DOUBLE)) DESC,
              c.vec_id) AS BIGINT) AS rank
          FROM cn q JOIN cn c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Product-quantization ANN (PQ + ADC): vectors stored as 8 one-byte
    // codes (nearest seeded codebook centroid per 8-dim subspace), ranked
    // by the asymmetric-distance dot — the 64x-compression scale path
    // beyond int8's 4x. Seeded codebook (md5-ranked sample, no Lloyd) →
    // encoding and ADC are BIGINT end-to-end, fully oracle-hashed.
    "l80_ann_pq" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.pqTopK(prep, col("id") < 8, m = 8, nCent = 256, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        seeds0 AS (SELECT vec_id AS seed_id, q AS sq,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 256),
        seeds AS (SELECT seed_id, sq,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cent
          FROM seeds0),
        enc0 AS (SELECT x.vec_id, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]) *
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]))) AS BIGINT) AS d2
          FROM qn x CROSS JOIN seeds s,
            UNNEST(generate_series(1, 8)) AS g(j)),
        codes AS (SELECT vec_id, j, cent FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
              ORDER BY d2, cent) AS rn FROM enc0) WHERE rn = 1),
        qpd AS (SELECT q.vec_id AS qid, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              q.q[(g.j-1)*8+i] * s.sq[(g.j-1)*8+i])) AS BIGINT) AS pd
          FROM qn q CROSS JOIN seeds s,
            UNNEST(generate_series(1, 8)) AS g(j)
          WHERE q.vec_id < 8),
        score AS (SELECT qid, c.vec_id AS cid, CAST(SUM(pd) AS BIGINT) AS adc_dot,
            CAST(SUM(pd) AS DOUBLE) /
              sqrt(CAST(qn1.norm_sq AS DOUBLE) * CAST(cn1.norm_sq AS DOUBLE))
              AS adc_cosine
          FROM codes c
          JOIN qpd ON qpd.j = c.j AND qpd.cent = c.cent
          JOIN qn qn1 ON qn1.vec_id = qpd.qid
          JOIN qn cn1 ON cn1.vec_id = c.vec_id
          WHERE qid <> c.vec_id
          GROUP BY qid, c.vec_id, qn1.norm_sq, cn1.norm_sq)
        SELECT query_id, neighbor_id, adc_dot, adc_cosine, rank FROM (
          SELECT qid AS query_id, cid AS neighbor_id, adc_dot, adc_cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_cosine DESC, cid) AS BIGINT) AS rank
          FROM score)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // IVF×PQ — the production ANN pairing end-to-end: coarse cells prune
    // candidates to nProbe/nCells of the corpus, PQ/ADC codes rank them
    // without ever reading the vectors (the index row is ~(4+8+m) bytes).
    // Both quantizers seeded → the ENTIRE two-stage pipeline (cell
    // assignment, probe pick, byte codes, LUT, ADC cosine, top-k) is
    // BIGINT-exact under the oracle's hash.
    "l81_ann_ivfpq" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.ivfPqTopK(prep, col("id") < 8, nCells = 16, nProbe = 4,
            m = 8, nCent = 256, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        cseeds0 AS (SELECT vec_id AS seed_id, q AS sq, norm_sq AS sn,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 16),
        cseeds AS (SELECT seed_id, sq, sn,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cell
          FROM cseeds0),
        pseeds0 AS (SELECT vec_id AS seed_id, q AS sq,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 256),
        pseeds AS (SELECT seed_id, sq,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cent
          FROM pseeds0),
        cells AS (SELECT vec_id, cell FROM (
            SELECT x.vec_id, s.cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id
              ORDER BY x.norm_sq - 2 * ${oDot("x.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn x CROSS JOIN cseeds s) WHERE rn = 1),
        enc0 AS (SELECT x.vec_id, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]) *
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]))) AS BIGINT) AS d2
          FROM qn x CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)),
        codes AS (SELECT vec_id, j, cent FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
              ORDER BY d2, cent) AS rn FROM enc0) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, s.cell, ROW_NUMBER() OVER (
              PARTITION BY q.vec_id
              ORDER BY q.norm_sq - 2 * ${oDot("q.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn q CROSS JOIN cseeds s WHERE q.vec_id < 8) WHERE rn <= 4),
        qpd AS (SELECT q.vec_id AS qid, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              q.q[(g.j-1)*8+i] * s.sq[(g.j-1)*8+i])) AS BIGINT) AS pd
          FROM qn q CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)
          WHERE q.vec_id < 8),
        cand AS (SELECT p.qid, c.vec_id AS cid
          FROM probes p JOIN cells c ON c.cell = p.cell
          WHERE p.qid <> c.vec_id),
        score AS (SELECT cand.qid, cand.cid,
            CAST(SUM(pd) AS BIGINT) AS adc_dot,
            CAST(SUM(pd) AS DOUBLE) /
              sqrt(CAST(qn1.norm_sq AS DOUBLE) * CAST(cn1.norm_sq AS DOUBLE))
              AS adc_cosine
          FROM cand
          JOIN codes k2 ON k2.vec_id = cand.cid
          JOIN qpd ON qpd.qid = cand.qid AND qpd.j = k2.j
            AND qpd.cent = k2.cent
          JOIN qn qn1 ON qn1.vec_id = cand.qid
          JOIN qn cn1 ON cn1.vec_id = cand.cid
          GROUP BY cand.qid, cand.cid, qn1.norm_sq, cn1.norm_sq)
        SELECT query_id, neighbor_id, adc_dot, adc_cosine, rank FROM (
          SELECT qid AS query_id, cid AS neighbor_id, adc_dot, adc_cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_cosine DESC, cid) AS BIGINT) AS rank
          FROM score)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ANN-index TAKEDOWN (r9): the maintained IVF×PQ index after a
    // removal request. Tombstones broadcast into a serve-path anti-join
    // (no bucket rewrite per request); the FROZEN quantizer is
    // untouched — seeds derived from since-removed vectors remain valid
    // cell centers. The oracle replays l81's full pipeline with the
    // quantizer seeded over the ORIGINAL corpus but the index and query
    // sets restricted to the remaining vectors — serve-after-takedown
    // must equal index-never-contained-them, bit for bit.
    "l91_ann_takedown" -> Def(
      (s, d) => {
        val name = "graft_l91_idx"
        Seq(name, s"${name}_cells", s"${name}_codebook",
            s"${name}_tombstones").foreach { tb =>
          s.sql(s"DROP TABLE IF EXISTS $tb")
          val loc = new java.net.URI(
            s.conf.get("spark.sql.warehouse.dir")).getPath + s"/$tb"
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
          }
          rm(new java.io.File(loc))
        }
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        Similarity.saveIvfPqQuantizer(s, prep, name, nCells = 16)
        graft.ops.DedupIndex.landBatch(s, s,
          Similarity.ivfPqEncodeWith(s, prep, name)
            .withColumn("ingest_batch", lit(0L)),
          name, 0L, bucketed = true, 8, bucketCol = "cell")
        Similarity.retractVectors(s, name,
          prep.filter(col("id") % 11 === 5).select(col("id")), opId = 1000L)
        Similarity.ivfPqServe(s, name,
            prep.filter(col("id") < 8 && col("id") % 11 =!= 5),
            nProbe = 4, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        cseeds0 AS (SELECT vec_id AS seed_id, q AS sq, norm_sq AS sn,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 16),
        cseeds AS (SELECT seed_id, sq, sn,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cell
          FROM cseeds0),
        pseeds0 AS (SELECT vec_id AS seed_id, q AS sq,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 256),
        pseeds AS (SELECT seed_id, sq,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cent
          FROM pseeds0),
        cells AS (SELECT vec_id, cell FROM (
            SELECT x.vec_id, s.cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id
              ORDER BY x.norm_sq - 2 * ${oDot("x.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn x CROSS JOIN cseeds s) WHERE rn = 1),
        enc0 AS (SELECT x.vec_id, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]) *
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]))) AS BIGINT) AS d2
          FROM qn x CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)),
        codes AS (SELECT vec_id, j, cent FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
              ORDER BY d2, cent) AS rn FROM enc0) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, s.cell, ROW_NUMBER() OVER (
              PARTITION BY q.vec_id
              ORDER BY q.norm_sq - 2 * ${oDot("q.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn q CROSS JOIN cseeds s
            WHERE q.vec_id < 8 AND q.vec_id % 11 != 5) WHERE rn <= 4),
        qpd AS (SELECT q.vec_id AS qid, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              q.q[(g.j-1)*8+i] * s.sq[(g.j-1)*8+i])) AS BIGINT) AS pd
          FROM qn q CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)
          WHERE q.vec_id < 8 AND q.vec_id % 11 != 5),
        cand AS (SELECT p.qid, c.vec_id AS cid
          FROM probes p JOIN cells c ON c.cell = p.cell
          WHERE p.qid <> c.vec_id AND c.vec_id % 11 != 5),
        score AS (SELECT cand.qid, cand.cid,
            CAST(SUM(pd) AS BIGINT) AS adc_dot,
            CAST(SUM(pd) AS DOUBLE) /
              sqrt(CAST(qn1.norm_sq AS DOUBLE) * CAST(cn1.norm_sq AS DOUBLE))
              AS adc_cosine
          FROM cand
          JOIN codes k2 ON k2.vec_id = cand.cid
          JOIN qpd ON qpd.qid = cand.qid AND qpd.j = k2.j
            AND qpd.cent = k2.cent
          JOIN qn qn1 ON qn1.vec_id = cand.qid
          JOIN qn cn1 ON cn1.vec_id = cand.cid
          GROUP BY cand.qid, cand.cid, qn1.norm_sq, cn1.norm_sq)
        SELECT query_id, neighbor_id, adc_dot, adc_cosine, rank FROM (
          SELECT qid AS query_id, cid AS neighbor_id, adc_dot, adc_cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_cosine DESC, cid) AS BIGINT) AS rank
          FROM score)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // The maintained-ANN-index LIFECYCLE under the driver gate (r8):
    // freeze the quantizer (saveIvfPqQuantizer), stream the corpus in
    // two micro-batched slices through startIvfPqMaintenance (each
    // landing as an ingest_batch partition of the cell-bucketed layout),
    // size-tier-compact the partitions, then SERVE queries from the
    // maintained table via the frozen seeds (ivfPqServe) — and the
    // answers must be bit-for-bit the inline l81 build's (the oracle is
    // l81's, verbatim): a maintained index that drifts from the
    // build-once index is corrupt, and this gate would catch it.
    "l84_ann_index_lifecycle" -> Def(
      (s, d) => {
        val name = "graft_l84_idx"
        Seq(name, s"${name}_cells", s"${name}_codebook").foreach(freshTable(s, _))
        val emb = t(s, d, "embeddings")
        val prep = Similarity.prepare(
          emb.withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.saveIvfPqQuantizer(s, prep, name, nCells = 16, m = 8,
          nCent = 256)
        // two id-range slices arrive as separate micro-batches
        Q.streamGate("graft_l84") { g =>
          val in = g.stage(Q.idSlices(
            emb.select(col("vec_id"), col("embedding")), "vec_id", 2))
          g.run(Similarity.startIvfPqMaintenance(s, in.stream(s), "vec_id",
            "embedding", name, _, trigger = g.trigger))
        }
        Similarity.compactIvfPqIndex(s, name)
        Similarity.ivfPqServe(s, name, prep.filter(col("id") < 8),
            nProbe = 4, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        cseeds0 AS (SELECT vec_id AS seed_id, q AS sq, norm_sq AS sn,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 16),
        cseeds AS (SELECT seed_id, sq, sn,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cell
          FROM cseeds0),
        pseeds0 AS (SELECT vec_id AS seed_id, q AS sq,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 256),
        pseeds AS (SELECT seed_id, sq,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cent
          FROM pseeds0),
        cells AS (SELECT vec_id, cell FROM (
            SELECT x.vec_id, s.cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id
              ORDER BY x.norm_sq - 2 * ${oDot("x.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn x CROSS JOIN cseeds s) WHERE rn = 1),
        enc0 AS (SELECT x.vec_id, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]) *
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]))) AS BIGINT) AS d2
          FROM qn x CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)),
        codes AS (SELECT vec_id, j, cent FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
              ORDER BY d2, cent) AS rn FROM enc0) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, s.cell, ROW_NUMBER() OVER (
              PARTITION BY q.vec_id
              ORDER BY q.norm_sq - 2 * ${oDot("q.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn q CROSS JOIN cseeds s WHERE q.vec_id < 8) WHERE rn <= 4),
        qpd AS (SELECT q.vec_id AS qid, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              q.q[(g.j-1)*8+i] * s.sq[(g.j-1)*8+i])) AS BIGINT) AS pd
          FROM qn q CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)
          WHERE q.vec_id < 8),
        cand AS (SELECT p.qid, c.vec_id AS cid
          FROM probes p JOIN cells c ON c.cell = p.cell
          WHERE p.qid <> c.vec_id),
        score AS (SELECT cand.qid, cand.cid,
            CAST(SUM(pd) AS BIGINT) AS adc_dot,
            CAST(SUM(pd) AS DOUBLE) /
              sqrt(CAST(qn1.norm_sq AS DOUBLE) * CAST(cn1.norm_sq AS DOUBLE))
              AS adc_cosine
          FROM cand
          JOIN codes k2 ON k2.vec_id = cand.cid
          JOIN qpd ON qpd.qid = cand.qid AND qpd.j = k2.j
            AND qpd.cent = k2.cent
          JOIN qn qn1 ON qn1.vec_id = cand.qid
          JOIN qn cn1 ON cn1.vec_id = cand.cid
          GROUP BY cand.qid, cand.cid, qn1.norm_sq, cn1.norm_sq)
        SELECT query_id, neighbor_id, adc_dot, adc_cosine, rank FROM (
          SELECT qid AS query_id, cid AS neighbor_id, adc_dot, adc_cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_cosine DESC, cid) AS BIGINT) AS rank
          FROM score)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    "l15_multimodal" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8"))
          .withColumn("kind",
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
        val media = Multimodal.withMediaMeta(docs, "doc_id", "payload", col("kind"))
        val decoded = Multimodal.decode(s, media).toDF()
        decoded.select(col("media_id"), col("kind"), col("width"),
            col("height"), col("sample_rate"), col("n_frames"))
          .join(media.select(col("media_id"), col("byte_len"), col("content_md5")), "media_id")
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(CASE WHEN doc_id % 3 = 2 OR doc_id % 3 = 0 THEN 64 + LENGTH(text) % 640 ELSE 0 END AS INTEGER) AS width,
        CAST(CASE WHEN doc_id % 3 = 2 OR doc_id % 3 = 0 THEN 64 + LENGTH(text) % 480 ELSE 0 END AS INTEGER) AS height,
        CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INTEGER) AS sample_rate,
        CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + LENGTH(text) % 30 WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_frames,
        LENGTH(text) AS byte_len, md5(text) AS content_md5
        FROM documents ORDER BY media_id""")),

    // The SCALE PATH for exact n-gram Jaccard (l08 is the exact baseline;
    // this is how the same pipeline survives 100 TB): shingles whose
    // document frequency exceeds maxDf are dropped from the inverted index
    // BEFORE the self-join — a hot shingle ("of the ...") contributes df²
    // candidate pairs, so capping df bounds any single shingle's join
    // contribution while dropping only non-discriminative mass. Jaccard is
    // then computed on the capped sets (a documented approximation); the
    // oracle applies the identical cap, so the result is still
    // hash-checked exactly.
    "l34_ngram_jaccard_dfcap" -> Def(
      (s, d) => Dedup.ngramJaccardPairs(
          Dedup.shingleIndex(t(s, d, "documents"), "doc_id", "text"),
          0.5, maxDf = 5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $oShingles,
        keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 5),
        shc AS (SELECT doc_id, shingle FROM sh WHERE shingle IN (SELECT shingle FROM keep)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jac AS (SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
            CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
          FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
        ORDER BY id_a, id_b""")),

    // Asymmetric containment (doc-inside-doc detection): directional
    // |A∩B|/|A| over the df-capped shingle index; integer-exact rational
    // threshold (inter*2 >= sz) so membership is engine-portable.
    "l43_containment_pairs" -> Def(
      (s, d) => Dedup.containmentPairs(
          Dedup.dfCapped(
            Dedup.shingleIndex(t(s, d, "documents"), "doc_id", "text"),
            maxDf = 5))
        .orderBy(col("src"), col("dst")),
      Some(s"""WITH $oShingles,
        keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 5),
        shc AS (SELECT doc_id, shingle FROM sh
          WHERE shingle IN (SELECT shingle FROM keep)),
        sizes AS (SELECT doc_id, COUNT(*) AS src_sz FROM shc GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS inter
          FROM shc a JOIN shc b ON a.shingle = b.shingle
            AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
        SELECT src, dst, inter, src_sz,
          CAST(inter AS DOUBLE) / src_sz AS containment
        FROM inter JOIN sizes ON src = sizes.doc_id
        WHERE inter * 2 >= src_sz ORDER BY src, dst""")),

    // BM25 top-k retrieval (rational-idf variant — see ops/Retrieval):
    // inverted-index postings restricted to the query vocabulary, df stats
    // off the same exchange, integer-exact scores so ranking (incl. the
    // top-k cutoff) is bit-identical across engines.
    "l35_bm25_topk" -> Def(
      (s, d) => graft.ops.Retrieval.bm25TopK(t(s, d, "documents"),
          "doc_id", "text", bm25Queries, k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("qid"), col("rank")),
      Some(oBm25(""))),

    // The maintained-BM25-index LIFECYCLE (r9) — the lexical twin of
    // l84's ANN lifecycle: stream the corpus in two micro-batched slices
    // through startBm25Maintenance (postings land term-bucketed per
    // ingest_batch; corpus stats land as per-batch partials),
    // size-tier-compact the partitions, then SERVE the l35 workload from
    // the maintained table — and the answers must be bit-for-bit the
    // inline l35 computation's (the oracle is l35's, verbatim). Unlike
    // ANN there is nothing to freeze: df/N/S derive from the index at
    // serve time, so the index is always current with the corpus.
    "l92_bm25_maintained" -> Def(
      (s, d) => {
        val name = "graft_l92_bm25"
        Seq(name, s"${name}_stats").foreach(freshTable(s, _))
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        Q.streamGate("graft_l92") { g =>
          val in = g.stage(Q.idSlices(docs, "doc_id", 2))
          g.run(graft.ops.Retrieval.startBm25Maintenance(s, in.stream(s),
            "doc_id", "text", name, _, trigger = g.trigger))
        }
        graft.ops.Retrieval.compactBm25Index(s, name)
        graft.ops.Retrieval.bm25Serve(s, name, bm25Queries, k = 10)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("qid"), col("rank"))
      },
      Some(oBm25(""))),

    // BM25-index TAKEDOWN (r9): removal requests land as (id, dl)
    // tombstones through the idempotent partition protocol; the serve
    // path anti-joins the broadcast removal set (which corrects df — df
    // counts surviving postings) and subtracts its (count, Σdl) from the
    // maintained corpus stats. No bucket is rewritten per request. The
    // oracle is the inline computation over the REMAINING corpus only —
    // serve-after-takedown ≡ index-never-contained-them, bit for bit
    // (n_docs/sum_dl/df shifts included, which any per-posting filter
    // short of real stats correction would get wrong).
    "l93_bm25_takedown" -> Def(
      (s, d) => {
        val name = "graft_l93_bm25"
        Seq(name, s"${name}_stats", s"${name}_tombstones").foreach { tb =>
          s.sql(s"DROP TABLE IF EXISTS $tb")
          val loc = new java.net.URI(
            s.conf.get("spark.sql.warehouse.dir")).getPath + s"/$tb"
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
          }
          rm(new java.io.File(loc))
        }
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        graft.ops.Retrieval.buildBm25Index(s, docs, "doc_id", "text", name)
        graft.ops.Retrieval.retractBm25Docs(s, name,
          docs.filter(col("doc_id") % 9 === 4), "doc_id", "text",
          opId = 1000L)
        graft.ops.Retrieval.bm25Serve(s, name, bm25Queries, k = 10)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("qid"), col("rank"))
      },
      Some(oBm25("WHERE doc_id % 9 != 4"))),

    // HYBRID retrieval (r9): reciprocal-rank fusion of the two maintained
    // indexes — the lexical BM25 layout (l92's) and the vector IVF×PQ
    // layout (l91's) serve the same four queries (terms + the query's
    // embedding), k=20 per leg, fused by the published RRF recipe
    // score(d) = Σ 1/(60+rank) as engine-exact floor(1e9/(60+rank)).
    // The oracle replays BOTH serve pipelines (l35's BM25 SQL at k=20 +
    // l81's IVF×PQ SQL for queries 1..4 at k=20) and fuses them the same
    // way — the fusion layer must be bit-for-bit, not just "similar".
    "l94_hybrid_rrf" -> Def(
      (s, d) => {
        val nameB = "graft_l94_bm25"; val nameV = "graft_l94_idx"
        Seq(nameB, s"${nameB}_stats", nameV, s"${nameV}_cells",
            s"${nameV}_codebook").foreach { tb =>
          s.sql(s"DROP TABLE IF EXISTS $tb")
          val loc = new java.net.URI(
            s.conf.get("spark.sql.warehouse.dir")).getPath + s"/$tb"
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
          }
          rm(new java.io.File(loc))
        }
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        graft.ops.Retrieval.buildBm25Index(s, docs, "doc_id", "text", nameB)
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        Similarity.saveIvfPqQuantizer(s, prep, nameV, nCells = 16)
        graft.ops.DedupIndex.landBatch(s, s,
          Similarity.ivfPqEncodeWith(s, prep, nameV)
            .withColumn("ingest_batch", lit(0L)),
          nameV, 0L, bucketed = true, 8, bucketCol = "cell")
        val lex = graft.ops.Retrieval.bm25Serve(s, nameB, bm25Queries,
          k = 20)
        val vec = Similarity.ivfPqServe(s, nameV,
            prep.filter(col("id").between(1, 4)), nProbe = 4, k = 20)
          .select(col("query_id").as("qid"), col("neighbor_id").as("id"),
            col("rank"))
        graft.ops.Retrieval.rrfFuse(Seq(lex, vec), k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        cseeds0 AS (SELECT vec_id AS seed_id, q AS sq, norm_sq AS sn,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 16),
        cseeds AS (SELECT seed_id, sq, sn,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cell
          FROM cseeds0),
        pseeds0 AS (SELECT vec_id AS seed_id, q AS sq,
            md5(CAST(vec_id AS VARCHAR)) AS h
          FROM qn ORDER BY h, seed_id LIMIT 256),
        pseeds AS (SELECT seed_id, sq,
            CAST(ROW_NUMBER() OVER (ORDER BY h, seed_id) AS BIGINT) AS cent
          FROM pseeds0),
        cells AS (SELECT vec_id, cell FROM (
            SELECT x.vec_id, s.cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id
              ORDER BY x.norm_sq - 2 * ${oDot("x.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn x CROSS JOIN cseeds s) WHERE rn = 1),
        enc0 AS (SELECT x.vec_id, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]) *
              (x.q[(g.j-1)*8+i] - s.sq[(g.j-1)*8+i]))) AS BIGINT) AS d2
          FROM qn x CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)),
        codes AS (SELECT vec_id, j, cent FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
              ORDER BY d2, cent) AS rn FROM enc0) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, s.cell, ROW_NUMBER() OVER (
              PARTITION BY q.vec_id
              ORDER BY q.norm_sq - 2 * ${oDot("q.q", "s.sq")} + s.sn, s.cell)
              AS rn
            FROM qn q CROSS JOIN cseeds s
            WHERE q.vec_id BETWEEN 1 AND 4) WHERE rn <= 4),
        qpd AS (SELECT q.vec_id AS qid, s.cent, g.j,
            CAST(list_sum(list_transform(generate_series(1, 8), i ->
              q.q[(g.j-1)*8+i] * s.sq[(g.j-1)*8+i])) AS BIGINT) AS pd
          FROM qn q CROSS JOIN pseeds s,
            UNNEST(generate_series(1, 8)) AS g(j)
          WHERE q.vec_id BETWEEN 1 AND 4),
        cand AS (SELECT p.qid, c.vec_id AS cid
          FROM probes p JOIN cells c ON c.cell = p.cell
          WHERE p.qid <> c.vec_id),
        vscore AS (SELECT cand.qid, cand.cid,
            CAST(SUM(pd) AS DOUBLE) /
              sqrt(CAST(qn1.norm_sq AS DOUBLE) * CAST(cn1.norm_sq AS DOUBLE))
              AS adc_cosine
          FROM cand
          JOIN codes k2 ON k2.vec_id = cand.cid
          JOIN qpd ON qpd.qid = cand.qid AND qpd.j = k2.j
            AND qpd.cent = k2.cent
          JOIN qn qn1 ON qn1.vec_id = cand.qid
          JOIN qn cn1 ON cn1.vec_id = cand.cid
          GROUP BY cand.qid, cand.cid, qn1.norm_sq, cn1.norm_sq),
        vrank AS (SELECT qid, cid AS id,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_cosine DESC, cid) AS BIGINT) AS rank
          FROM vscore),
        bq(qid, term) AS (VALUES ${bm25Queries.flatMap {
            case (qid, ts) => ts.map(t0 => s"($qid, '$t0')")
          }.mkString(", ")}),
        tk AS (SELECT doc_id, $oToks AS t FROM documents),
        dls AS (SELECT doc_id, len(t) AS dl FROM tk),
        bstats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dls),
        tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
          FROM (SELECT doc_id, UNNEST(t) AS tok FROM tk)
          WHERE tok IN (SELECT term FROM bq) GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        bscored AS (SELECT bq.qid, tf.doc_id,
            CAST(FLOOR(
              (((2 * s.n_docs - 2 * d.df + 1) * 1000000.0) / (2 * d.df + 1))
              * (22 * s.sum_dl * tf.tf)
              / (10 * s.sum_dl * tf.tf + 3 * s.sum_dl + 9 * dls.dl * s.n_docs)
            ) AS BIGINT) AS score_i
          FROM tf JOIN bq ON tf.term = bq.term
          JOIN dfreq d ON tf.term = d.term
          JOIN dls ON tf.doc_id = dls.doc_id
          CROSS JOIN bstats s),
        btot AS (SELECT qid, doc_id,
            CAST(SUM(score_i) AS BIGINT) AS score_scaled FROM bscored
          GROUP BY 1, 2),
        lrank AS (SELECT qid, doc_id AS id,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
          FROM btot),
        fused AS (SELECT qid, id,
            CAST(FLOOR(1000000000.0 / (60 + rank)) AS BIGINT) AS rrf_i
          FROM (SELECT qid, id, rank FROM lrank WHERE rank <= 20
                UNION ALL SELECT qid, id, rank FROM vrank WHERE rank <= 20)),
        ftot AS (SELECT qid, id, CAST(SUM(rrf_i) AS BIGINT) AS rrf_score,
            COUNT(*) AS n_legs FROM fused GROUP BY 1, 2)
        SELECT qid, rank, id, rrf_score, n_legs FROM (
          SELECT qid, id, rrf_score, n_legs,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY rrf_score DESC, id) AS BIGINT) AS rank
          FROM ftot)
        WHERE rank <= 10 ORDER BY qid, rank""")),

    // PHRASE search (r9) over the POSITIONAL maintained index: postings
    // carry sorted token positions; a phrase-word-k posting at position p
    // proposes anchor p−k, and an anchor with ALL slots proposed is a
    // consecutive-token match (query 3's repeated-word phrase "batch
    // batch" exercises slot-by-index matching — overlapping occurrences
    // count, same as the oracle's sliding window). Serve prunes the scan
    // to the phrase vocabulary's term buckets; the corpus is never
    // rescanned.
    "l95_phrase_search" -> Def(
      (s, d) => {
        val name = "graft_l95_bm25"
        Seq(name, s"${name}_stats").foreach { tb =>
          s.sql(s"DROP TABLE IF EXISTS $tb")
          val loc = new java.net.URI(
            s.conf.get("spark.sql.warehouse.dir")).getPath + s"/$tb"
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
          }
          rm(new java.io.File(loc))
        }
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        graft.ops.Retrieval.buildBm25Index(s, docs, "doc_id", "text", name,
          positional = true)
        graft.ops.Retrieval.phraseServe(s, name, Seq(
            1 -> Seq("table", "scan"),
            2 -> Seq("join", "order"),
            3 -> Seq("batch", "batch"),
            4 -> Seq("merge", "slow", "join")))
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("qid"), col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $oToks AS t FROM documents),
        m1 AS (SELECT 1 AS qid, doc_id, COUNT(*) AS n_matches FROM tk,
          UNNEST(generate_series(1, len(t) - 1)) g(i)
          WHERE t[i] = 'table' AND t[i+1] = 'scan' GROUP BY doc_id),
        m2 AS (SELECT 2 AS qid, doc_id, COUNT(*) AS n_matches FROM tk,
          UNNEST(generate_series(1, len(t) - 1)) g(i)
          WHERE t[i] = 'join' AND t[i+1] = 'order' GROUP BY doc_id),
        m3 AS (SELECT 3 AS qid, doc_id, COUNT(*) AS n_matches FROM tk,
          UNNEST(generate_series(1, len(t) - 1)) g(i)
          WHERE t[i] = 'batch' AND t[i+1] = 'batch' GROUP BY doc_id),
        m4 AS (SELECT 4 AS qid, doc_id, COUNT(*) AS n_matches FROM tk,
          UNNEST(generate_series(1, len(t) - 2)) g(i)
          WHERE t[i] = 'merge' AND t[i+1] = 'slow' AND t[i+2] = 'join'
          GROUP BY doc_id)
        SELECT qid, doc_id, n_matches FROM (
          SELECT * FROM m1 UNION ALL SELECT * FROM m2
          UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
        ORDER BY qid, doc_id""")),

    // Keyword-in-context snippets: the display layer of the retrieval
    // stack. Top-5 BM25 hits served from the maintained POSITIONAL
    // index, each hit's rarest matching term chosen (df asc, term
    // tie-break) and a ±3-token extract cut around its FIRST occurrence
    // — ranking, df and positions all come from the bucket-pruned
    // index; the corpus is touched once, to read the 20 winning texts
    // (winners broadcast into the scan). Slice clamping is mirrored by
    // the oracle's list slice, so the extracts match byte-for-byte.
    "l98_snippets" -> Def(
      (s, d) => {
        val name = "graft_l98_bm25"
        Seq(name, s"${name}_stats").foreach { tb =>
          s.sql(s"DROP TABLE IF EXISTS $tb")
          val loc = new java.net.URI(
            s.conf.get("spark.sql.warehouse.dir")).getPath + s"/$tb"
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
          }
          rm(new java.io.File(loc))
        }
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        graft.ops.Retrieval.buildBm25Index(s, docs, "doc_id", "text", name,
          positional = true)
        graft.ops.Retrieval.snippets(s, name, bm25Queries, docs,
            "doc_id", "text", k = 5, window = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH q(qid, term) AS (VALUES ${bm25Queries.flatMap {
            case (qid, ts) => ts.map(t0 => s"($qid, '$t0')")
          }.mkString(", ")}),
        tk AS (SELECT doc_id, $oToks AS t FROM documents),
        dls AS (SELECT doc_id, len(t) AS dl FROM tk),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dls),
        tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
          FROM (SELECT doc_id, UNNEST(t) AS tok FROM tk)
          WHERE tok IN (SELECT term FROM q) GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (SELECT q.qid, tf.doc_id,
            CAST(FLOOR(
              (((2 * s.n_docs - 2 * d.df + 1) * 1000000.0) / (2 * d.df + 1))
              * (22 * s.sum_dl * tf.tf)
              / (10 * s.sum_dl * tf.tf + 3 * s.sum_dl + 9 * dls.dl * s.n_docs)
            ) AS BIGINT) AS score_i
          FROM tf JOIN q ON tf.term = q.term
          JOIN dfreq d ON tf.term = d.term
          JOIN dls ON tf.doc_id = dls.doc_id
          CROSS JOIN stats s),
        tot AS (SELECT qid, doc_id,
            CAST(SUM(score_i) AS BIGINT) AS score_scaled
          FROM scored GROUP BY 1, 2),
        topk AS (SELECT qid, doc_id, rank FROM (
          SELECT qid, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
          FROM tot) WHERE rank <= 5),
        best AS (SELECT qid, doc_id, rank, term FROM (
          SELECT k.qid, k.doc_id, k.rank, t2.term,
            ROW_NUMBER() OVER (PARTITION BY k.qid, k.doc_id
              ORDER BY d.df, t2.term) AS rn
          FROM topk k JOIN tf t2 ON t2.doc_id = k.doc_id
          JOIN q ON q.qid = k.qid AND q.term = t2.term
          JOIN dfreq d ON d.term = t2.term) WHERE rn = 1),
        pos AS (SELECT b.qid, b.rank, b.doc_id,
            list_position(tk.t, b.term) - 1 AS p, tk.t AS t
          FROM best b JOIN tk ON tk.doc_id = b.doc_id)
        SELECT qid, rank, doc_id,
          array_to_string(t[GREATEST(1, p + 1 - 3) : p + 1 + 3], ' ')
            AS snippet
        FROM pos ORDER BY qid, rank""")),

    // Hard-negative mining for contrastive retrieval training (the
    // DPR/ANCE data recipe: each anchor's top-k most-similar vectors
    // with a DIFFERENT label — "close but wrong" training pairs).
    // Candidates come from the sign-LSH bucket join (per-bucket blocks,
    // never n² pairs) with the anti-label predicate INSIDE the join, so
    // the positives — the densest neighborhood of any anchor — are
    // dropped before the rank window sees them. Integer-quantized dots;
    // the oracle replays the identical bucketing, so the gate is exact.
    "l99_hard_negatives" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"), "embedding")
        Similarity.hardNegatives(prep, col("id") < 32, "label",
            bits = 8, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oQuant,
        b AS (SELECT vec_id, qn.label, q, norm_sq,
            ${oBucket(8, "embedding")} AS bucket
          FROM qn JOIN embeddings USING (vec_id))
        SELECT query_id, anchor_label, negative_id, negative_label,
          cosine, rank FROM (
          SELECT q.vec_id AS query_id, q.label AS anchor_label,
            c.vec_id AS negative_id, c.label AS negative_label,
            CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
              sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) AS cosine,
            CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY CAST(${oDot("q.q", "c.q")} AS DOUBLE) /
                sqrt(CAST(q.norm_sq AS DOUBLE) * CAST(c.norm_sq AS DOUBLE)) DESC,
              c.vec_id) AS BIGINT) AS rank
          FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 32
            AND q.label <> c.label)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Fixed-window chunking with overlap (RAG / context-window prep):
    // zero-shuffle narrow generator — window 32 tokens, stride 24.
    "l36_chunk_overlap" -> Def(
      (s, d) => Curation.chunkOverlap(t(s, d, "documents"), "doc_id",
          "text", window = 32, stride = 24)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""WITH tk AS (SELECT doc_id, $oToks AS t FROM documents),
        c AS (SELECT doc_id, t,
            1 + (GREATEST(len(t) - 32, 0) + 23) // 24 AS n_chunks FROM tk)
        SELECT doc_id, i AS chunk_id,
          len(list_slice(t, i * 24 + 1, i * 24 + 32)) AS n_chunk_tokens,
          array_to_string(list_slice(t, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
        FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
        ORDER BY doc_id, chunk_id""")),

    // Nearest-centroid label assignment (Rocchio) over quantized
    // embeddings: integer-exact scaled distances (n²|x|² − 2n·x·sv + |sv|²
    // via the native dot kernel), one |labels|-row broadcast, confusion
    // matrix as output.
    "l37_centroid_classify" -> Def(
      (s, d) => Similarity.centroidClassify(
          Similarity.prepare(t(s, d, "embeddings"), "embedding"),
          "vec_id", "label")
        .groupBy(col("label"), col("pred"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("pred")),
      Some(s"""WITH $oQuant,
        cs AS (SELECT label, j, CAST(SUM(q[j]) AS BIGINT) AS sj, COUNT(*) AS n
          FROM qe, UNNEST(generate_series(1, 64)) AS g(j) GROUP BY 1, 2),
        cent AS (SELECT label AS clabel, MAX(n) AS n, list(sj ORDER BY j) AS sv,
          CAST(SUM(sj * sj) AS BIGINT) AS ss FROM cs GROUP BY 1),
        pairs AS (SELECT qn.vec_id, qn.label, cent.clabel, cent.n,
            cent.n * cent.n * qn.norm_sq
              - 2 * cent.n * ${oDot("qn.q", "cent.sv")}
              + cent.ss AS d2_num
          FROM qn CROSS JOIN cent),
        ranked AS (SELECT vec_id, label, clabel,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY CAST(d2_num AS DOUBLE) / (n * n), clabel) AS rk
          FROM pairs)
        SELECT label, clabel AS pred, COUNT(*) AS n_vecs FROM ranked
        WHERE rk = 1 GROUP BY 1, 2 ORDER BY label, pred""")),

    // Bigram LM fluency score (CCNet/KenLM-shape, engine-portable):
    // corpus conditional probabilities floor(1e6·C(u,v)/C(u·)), averaged
    // per doc. Single corpus pass; the occurrence->count join is
    // co-partitioned off the shared (u,v) exchange.
    "l38_bigram_lm_score" -> Def(
      (s, d) => Curation.bigramLmScore(t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH $oLmAgg
        SELECT doc_id, n_bigrams, sum_scaled,
          CAST(sum_scaled AS DOUBLE) / n_bigrams AS lm_score
        FROM lm ORDER BY doc_id""")),

    // Distribution-based quality gate (the CCNet cutoff move): drop the
    // bottom 20% of documents by bigram-LM fluency. The cutoff is a
    // DISCRETE percentile over an integer score — an actual data value,
    // no interpolation — so threshold and membership are engine-exact.
    // Scale note: exact percentile_disc funnels the doc-level score
    // column through one reducer; at 100 TB swap in approx_percentile
    // (same plan shape, cutoff moves by the sketch's epsilon).
    "l41_lm_quantile_gate" -> Def(
      (s, d) => {
        val scored = Curation.bigramLmScore(t(s, d, "documents"),
            "doc_id", "text")
          .withColumn("score10k", expr("(10000 * sum_scaled) DIV n_bigrams"))
        // percentile_disc returns double; the disc cutoff is an actual
        // integer data value, so the cast back to long is lossless
        val thr = scored.agg(expr(
          "percentile_disc(0.2) WITHIN GROUP (ORDER BY score10k)")
          .cast("long").as("threshold"))
        scored.join(broadcast(thr))
          .filter(col("score10k") >= col("threshold"))
          .select(col("id").as("doc_id"), col("score10k"), col("threshold"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $oLmAgg,
        scored AS (SELECT doc_id,
          (10000 * sum_scaled) // n_bigrams AS score10k FROM lm),
        thr AS (SELECT quantile_disc(score10k, 0.2) AS threshold FROM scored)
        SELECT doc_id, score10k, threshold FROM scored, thr
        WHERE score10k >= threshold ORDER BY doc_id""")),

    // Curation funnel: stage-by-stage doc/token survival through the l33
    // pipeline (raw -> gopher -> exact-dedup -> language gate) — the
    // observability report every production curation run publishes. ONE
    // corpus scan computes all stage flags; the cumulative stages explode
    // from an inline array, so adding a stage never adds a scan.
    "l42_curation_funnel" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val kept = TA.gopherFlags(col("text")).last._2
        val reps = Dedup.exactGroups(docs, "doc_id", "text")
          .select(col("rep_id").as("doc_id"), lit(true).as("is_rep"))
        val flagged = docs.join(reps, Seq("doc_id"), "left")
          .select(size(TA.tokens(col("text"))).cast("long").as("n_tok"),
            kept.as("g"), coalesce(col("is_rep"), lit(false)).as("r"),
            (TA.langId(col("text")) =!= "und").as("l"))
        flagged.select(col("n_tok"), explode(array(
            struct(lit(0L).as("stage"), lit("raw").as("stage_name"),
              lit(true).as("keep")),
            struct(lit(1L).as("stage"), lit("gopher").as("stage_name"),
              col("g").as("keep")),
            struct(lit(2L).as("stage"), lit("exact_dedup").as("stage_name"),
              (col("g") && col("r")).as("keep")),
            struct(lit(3L).as("stage"), lit("lang").as("stage_name"),
              (col("g") && col("r") && col("l")).as("keep"))))
            .as("st"))
          .filter(col("st.keep"))
          .groupBy(col("st.stage").as("stage"),
            col("st.stage_name").as("stage_name"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .orderBy(col("stage"))
      },
      Some {
        val scoreExprs = TA.langMarkers.map { case (code, ms) =>
          code -> s"len(list_filter(t, tk -> tk IN (${ms.map(m => s"'$m'").mkString(",")})))"
        }
        val all = scoreExprs.map(e => s"s_${e._1}").mkString(", ")
        val firstMax = scoreExprs.map { case (c, _) =>
          s"WHEN s_$c >= GREATEST($all) THEN '$c'"
        }.mkString(" ")
        s"""WITH f AS (SELECT doc_id, len(t) AS n_tok,
            CAST(list_sum(list_transform(t, tk -> LENGTH(tk))) AS DOUBLE) / len(t) AS mwl,
            CAST(len(list_filter(t, tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(t) AS stop_ratio,
            CASE WHEN len(t) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END AS rep_ratio,
            ${scoreExprs.map { case (c, e) => s"$e AS s_$c" }.mkString(", ")}
          FROM (SELECT doc_id, t,
                  list_transform(generate_series(1, GREATEST(len(t) - 1, 0)),
                    i -> t[i] || ' ' || t[i+1]) AS g
                FROM (SELECT doc_id, $oToks AS t FROM documents))),
        fl AS (SELECT n_tok,
            (n_tok BETWEEN 5 AND 10000) AND (mwl >= 2.0 AND mwl <= 10.0)
              AND stop_ratio >= 0.01 AND rep_ratio < 0.3 AS g,
            doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text)) AS r,
            (CASE WHEN GREATEST($all) = 0 THEN 'und' $firstMax END) <> 'und' AS l
          FROM f)
        SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM fl
        UNION ALL SELECT 1, 'gopher', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM fl WHERE g
        UNION ALL SELECT 2, 'exact_dedup', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM fl WHERE g AND r
        UNION ALL SELECT 3, 'lang', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM fl WHERE g AND r AND l
        ORDER BY stage"""
      }),

    // BPE vocabulary induction, first merge iteration: corpus-wide
    // adjacent-character pair counts within tokens. Narrow per-doc
    // generator (pairs flattened before the explode), one map-side-
    // combinable aggregation over a <= |alphabet|^2 key space, total
    // ORDER BY so the top-100 cutoff is deterministic.
    "l39_bpe_pairs" -> Def(
      (s, d) => Curation.bpePairCounts(t(s, d, "documents"), "text")
        .orderBy(col("cnt").desc, col("pair")).limit(100),
      Some(s"""WITH p AS (SELECT UNNEST(flatten(list_transform(
            list_filter($oToks, tk -> LENGTH(tk) >= 2),
            tk -> list_transform(generate_series(1, LENGTH(tk) - 1),
              i -> substring(tk, i, 2))))) AS pair
          FROM documents)
        SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1
        ORDER BY cnt DESC, pair LIMIT 100""")),

    // Link-graph centrality as a curation prior (the web-corpus recipe:
    // rank sources by their position in the link graph, feed the rank
    // into the quality score). Graph: the customer<->supplier
    // co-occurrence graph derived from orders |><| lineitem (the
    // edges-from-facts pattern — at 100 TB the link graph IS a join
    // away, never a stored table), symmetrized so nothing dangles.
    // Integer-exact PageRank (Graph.pageRank): ranks are BIGINTs scaled
    // by 1e9, each step floor-divides before damping, so six unrolled
    // oracle iterations reproduce the Spark loop bit-for-bit. Scale
    // shape: edges deduped + hash-partitioned by src ONCE; per
    // iteration one |V| rank shuffle + one |E|->|V| map-side-combined
    // aggregation; lineage truncated per step (localCheckpoint — the
    // iterative-DataFrame pattern, data never touches the driver).
    "l96_pagerank" -> Def(
      (s, d) => {
        val pairs = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (col("l_suppkey").cast("long") + lit(1000000L)).as("dst"))
          .distinct()
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        graft.ops.Graph.pageRank(edges, iters = 6, scale = 1000000000L)
          .orderBy(col("r").desc, col("node")).limit(100)
      },
      Some {
        val stages = (1 to 6).map { k =>
          s"""pr$k AS (
            SELECT n.node,
              150000000 + (85 * COALESCE(SUM(p.r // dg.deg), 0)) // 100 AS r
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN pr${k - 1} p ON p.node = e.src
            LEFT JOIN deg dg ON dg.src = e.src
            GROUP BY n.node)"""
        }.mkString(",\n")
        s"""WITH pairs AS (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
            CAST(l_suppkey AS BIGINT) + 1000000 AS dst
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        edges AS (SELECT src, dst FROM pairs
          UNION ALL SELECT dst, src FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
        pr0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
        $stages
        SELECT node, CAST(r AS BIGINT) AS r FROM pr6
        ORDER BY r DESC, node LIMIT 100"""
      }),

    // Personalized PageRank from a trusted-seed allowlist (the
    // quality-propagation recipe: a hand-audited seed set — here one
    // nation's customers — teleports ALL the restart mass, so the
    // fixed-point is proximity-to-trust through the co-occurrence
    // graph; a node no seed reaches in 6 hops holds rank 0 exactly and
    // drops out). Same integer-exact floor-division iteration as l96,
    // so the oracle unrolls the identical six steps; the seed set
    // broadcasts into the node frame once.
    "l100_seed_quality_rank" -> Def(
      (s, d) => {
        val pairs = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (col("l_suppkey").cast("long") + lit(1000000L)).as("dst"))
          .distinct()
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = t(s, d, "customer").filter(col("c_nationkey") === 1)
          .select(col("c_custkey").cast("long").as("node"))
        graft.ops.Graph.personalizedPageRank(edges, seeds,
            iters = 6, scale = 1000000000L)
          .filter(col("r") > 0)
          .orderBy(col("r").desc, col("node")).limit(100)
      },
      Some {
        val stages = (1 to 6).map { k =>
          s"""pr$k AS (
            SELECT n.node,
              (CASE WHEN n.node IN (SELECT node FROM seeds)
                THEN 150000000 ELSE 0 END)
              + (85 * COALESCE(SUM(p.r // dg.deg), 0)) // 100 AS r
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN pr${k - 1} p ON p.node = e.src
            LEFT JOIN deg dg ON dg.src = e.src
            GROUP BY n.node)"""
        }.mkString(",\n")
        s"""WITH pairs AS (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
            CAST(l_suppkey AS BIGINT) + 1000000 AS dst
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        edges AS (SELECT src, dst FROM pairs
          UNION ALL SELECT dst, src FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
        seeds AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS node
          FROM customer WHERE c_nationkey = 1),
        pr0 AS (SELECT node,
          CAST(CASE WHEN node IN (SELECT node FROM seeds)
            THEN 1000000000 ELSE 0 END AS BIGINT) AS r FROM nodes),
        $stages
        SELECT node, CAST(r AS BIGINT) AS r FROM pr6 WHERE r > 0
        ORDER BY r DESC, node LIMIT 100"""
      }),

    // Triangle counting with degree orientation over the market-basket
    // graph (parts co-ordered at high quantity): the projection's edge
    // set is derived by one self-join, then every edge is directed from
    // its (degree, id)-smaller endpoint — each triangle counted exactly
    // once and the wedge join's fan-out drops from the hub-node Σ deg²
    // blow-up to Σ outdeg² ≤ |E|^1.5 (the "last reducer" fix; hub tasks
    // can't exist by construction). Oracle replays the identical
    // orientation, so the gate is an exact per-node count match.
    "l97_triangle_counts" -> Def(
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_quantity") >= 40)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        graft.ops.Graph.triangleCounts(pairs)
          .orderBy(col("triangles").desc, col("node")).limit(100)
      },
      Some(s"""WITH e AS (
          SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
            greatest(a.l_partkey, b.l_partkey) AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        deg AS (SELECT u AS n, COUNT(*) AS c FROM und GROUP BY 1),
        o AS (SELECT und.u AS s, und.v AS t FROM und
          JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v
          WHERE du.c < dv.c OR (du.c = dv.c AND und.u < und.v)),
        w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
          FROM o e1 JOIN o e2 ON e1.t = e2.s),
        tri AS (SELECT a, b, c FROM w JOIN o ON w.a = o.s AND w.c = o.t),
        n AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        SELECT node, COUNT(*) AS triangles FROM n GROUP BY 1
        ORDER BY triangles DESC, node LIMIT 100""")),

    // Rank-based per-source quota (governance cap: at most N docs per
    // Count-min sketch heavy hitters: vocabulary frequency mining
    // without an exact groupBy over the key space. d×w counters (4×512
    // here), est = min over the 4 row-hash cells — an εN overestimate,
    // never an under. Deterministic md5-derived row hashes make every
    // cell and every estimate DuckDB-reproducible, so the gate is an
    // exact hash match. Scale shape: the explode is narrow, the cell
    // groupBy partial-aggregates map-side to ≤ d×w rows per task, and
    // the estimate join BROADCASTS the ≤2048-cell sketch over the
    // distributed candidate stream.
    "l85_cms_heavy_hitters" -> Def(
      (s, d) => {
        val (dd, w) = (4, 512)
        val toks = t(s, d, "documents")
          .select(explode(TA.tokens(col("text"))).as("tok"))
        val cms = CountMin.sketch(toks, "tok", dd, w)
        CountMin.estimate(cms, toks.distinct(), "tok", dd, w)
          .filter(col("est") >= 50L)
          .orderBy(col("tok"))
      },
      Some(s"""WITH tok AS (SELECT unnest($oToks) AS tok FROM documents),
        rs AS (SELECT unnest(range(4)) AS r),
        cms AS (SELECT r, ${oH48("CAST(r AS VARCHAR) || '~' || tok")} % 512 AS c,
            COUNT(*) AS n
          FROM tok CROSS JOIN rs GROUP BY 1, 2),
        cand AS (SELECT DISTINCT tok FROM tok),
        est AS (SELECT cand.tok, MIN(COALESCE(cms.n, 0)) AS est
          FROM cand CROSS JOIN rs
          LEFT JOIN cms ON cms.r = rs.r AND
            cms.c = ${oH48("CAST(rs.r AS VARCHAR) || '~' || cand.tok")} % 512
          GROUP BY 1)
        SELECT tok, est FROM est WHERE est >= 50 ORDER BY tok""")),

    // CMS linearity gate: each source shard sketched INDEPENDENTLY,
    // merged by cell-wise sum, estimates served from the merged sketch
    // — while the oracle sketches the whole corpus in one pass. A hash
    // match proves merged-from-shards ≡ global exactly (the property
    // that lets 100 TB of shards sketch as they land, no rescan when a
    // new shard or epoch joins).
    "l86_cms_shard_merge" -> Def(
      (s, d) => {
        val (dd, w) = (4, 512)
        val toks = t(s, d, "documents")
          .select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
        val merged = CountMin.merge(
          CountMin.sketchBy(toks, "tok", "source", dd, w).drop("source"))
        val cand = toks.select(col("tok")).distinct()
          .filter(TA.hash48(col("tok")) % 13 === 5)
        CountMin.estimate(merged, cand, "tok", dd, w)
          .orderBy(col("tok"))
      },
      Some(s"""WITH tok AS (SELECT unnest($oToks) AS tok FROM documents),
        rs AS (SELECT unnest(range(4)) AS r),
        cms AS (SELECT r, ${oH48("CAST(r AS VARCHAR) || '~' || tok")} % 512 AS c,
            COUNT(*) AS n
          FROM tok CROSS JOIN rs GROUP BY 1, 2),
        cand AS (SELECT DISTINCT tok FROM tok
          WHERE ${oH48("tok")} % 13 = 5)
        SELECT cand.tok, MIN(COALESCE(cms.n, 0)) AS est
        FROM cand CROSS JOIN rs
        LEFT JOIN cms ON cms.r = rs.r AND
          cms.c = ${oH48("CAST(rs.r AS VARCHAR) || '~' || cand.tok")} % 512
        GROUP BY 1 ORDER BY tok""")),

    // STREAMING cluster maintenance — l87's loop run for real: 4 real
    // micro-batches land through startClusterMaintenance (index +
    // cluster table + changelog per batch, each batch's edges computed
    // against the PRE-batch index, touched clusters contracted and
    // reassigned in place). Gate: the FINAL maintained cluster table
    // must be bit-identical to a from-scratch min-label components run
    // over the whole corpus — four incremental applications ≡ one shot.
    "l88_streaming_cluster_maintenance" -> Def(
      (s, d) => {
        val name = "graft_l88_idx"
        Seq(name, s"${name}_sizes", s"${name}_clusters",
          s"${name}_changelog").foreach(freshTable(s, _))
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        Q.streamGate("graft_l88") { g =>
          val in = g.stage(Q.idSlices(docs, "doc_id", 4))
          g.run(graft.ops.DedupIndex.startClusterMaintenance(s, in.stream(s),
            "doc_id", "text", name, _, threshold = 0.8, trigger = g.trigger))
        }
        s.table(s"${name}_clusters")
          .select(col("id").as("doc_id"), col("cluster"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $oShingles, $oJaccard,
        pra AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        eda AS (SELECT id_a AS s, id_b AS d FROM pra
                UNION SELECT id_b, id_a FROM pra),
        rea(s, d) AS (SELECT s, d FROM eda
          UNION SELECT r.s, e.d FROM rea r JOIN eda e ON r.d = e.s),
        cma AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
                FROM rea GROUP BY s)
        SELECT dd.doc_id, COALESCE(c.cluster, dd.doc_id) AS cluster
        FROM documents dd LEFT JOIN cma c USING (doc_id)
        ORDER BY doc_id""")),

    // TAKEDOWN — the deletion half of the corpus-as-CDC loop: after the
    // l88 streaming build, retract every doc_id % 9 == 4 (the removal
    // request). Deletion can SPLIT clusters (the removed doc was the
    // bridge), so retractDocs re-derives the touched clusters' edges
    // from the INDEX and re-clusters just those members; removed docs
    // tombstone out of future ingest pairing. Gate: the post-takedown
    // cluster table ≡ a from-scratch clustering of the REMAINING docs.
    "l90_cluster_takedown" -> Def(
      (s, d) => {
        val name = "graft_l90_idx"
        Seq(name, s"${name}_sizes", s"${name}_clusters",
          s"${name}_changelog", s"${name}_tombstones").foreach(freshTable(s, _))
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        Q.streamGate("graft_l90") { g =>
          val in = g.stage(Q.idSlices(docs, "doc_id", 2))
          g.run(graft.ops.DedupIndex.startClusterMaintenance(s, in.stream(s),
            "doc_id", "text", name, _, threshold = 0.8, trigger = g.trigger))
        }
        graft.ops.DedupIndex.retractDocs(s, name,
          docs.filter(col("doc_id") % 9 === 4)
            .select(col("doc_id").as("id")),
          opId = 1000L, threshold = 0.8)
        s.table(s"${name}_clusters")
          .select(col("id").as("doc_id"), col("cluster"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE
        dd AS (SELECT doc_id, text FROM documents WHERE doc_id % 9 != 4),
        sh AS (SELECT DISTINCT doc_id,
            t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM (SELECT doc_id, $oToks AS t FROM dd),
          UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS g(i)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pra AS (SELECT id_a, id_b FROM inter
          JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
        eda AS (SELECT id_a AS s, id_b AS d FROM pra
                UNION SELECT id_b, id_a FROM pra),
        rea(s, d) AS (SELECT s, d FROM eda
          UNION SELECT r.s, e.d FROM rea r JOIN eda e ON r.d = e.s),
        cma AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
                FROM rea GROUP BY s)
        SELECT dd.doc_id, COALESCE(c.cluster, dd.doc_id) AS cluster
        FROM dd LEFT JOIN cma c USING (doc_id)
        ORDER BY doc_id""")),

    // Incremental survivor changelog — corpus-as-CDC: a landing batch
    // emits add/retract events to the near-dup survivor set instead of
    // a recompute. Existing clusters are CONTRACTED to their labels, so
    // components run over batch nodes + touched labels only: O(batch),
    // never O(corpus); untouched clusters emit nothing. The oracle
    // recomputes BOTH survivor sets from scratch and diffs them —
    // hash-match proves the incremental contraction ≡ full recompute.
    "l87_survivor_changelog" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val sh = Dedup.shingleIndex(docs, "doc_id", "text")
        val pairs = Dedup.ngramJaccardPairs(sh, 0.8, maxDf = 1000)
          .select(col("id_a"), col("id_b"))
        val corpusPairs = pairs
          .filter(col("id_a") % 10 =!= 0 && col("id_b") % 10 =!= 0)
        val newEdges = pairs
          .filter(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
        // maintained state: yesterday's clusters (every corpus doc,
        // singletons labelled with their own id)
        val clusterOf = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("id"))
          .join(Dedup.components(corpusPairs), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("cluster"), col("id")).as("cluster"))
        Dedup.survivorChangelog(clusterOf, newEdges,
            docs.filter(col("doc_id") % 10 === 0)
              .select(col("doc_id").as("id")))
          .orderBy(col("doc_id"), col("op"))
      },
      Some(s"""WITH RECURSIVE $oShingles, $oJaccard,
        pra AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        eda AS (SELECT id_a AS s, id_b AS d FROM pra
                UNION SELECT id_b, id_a FROM pra),
        rea(s, d) AS (SELECT s, d FROM eda
          UNION SELECT r.s, e.d FROM rea r JOIN eda e ON r.d = e.s),
        cma AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
                FROM rea GROUP BY s),
        cla AS (SELECT dd.doc_id, COALESCE(c.cluster, dd.doc_id) AS cluster
                FROM documents dd LEFT JOIN cma c USING (doc_id)),
        sva AS (SELECT MIN(doc_id) AS sv FROM cla GROUP BY cluster),
        prb AS (SELECT id_a, id_b FROM pra
                WHERE id_a % 10 != 0 AND id_b % 10 != 0),
        edb AS (SELECT id_a AS s, id_b AS d FROM prb
                UNION SELECT id_b, id_a FROM prb),
        reb(s, d) AS (SELECT s, d FROM edb
          UNION SELECT r.s, e.d FROM reb r JOIN edb e ON r.d = e.s),
        cmb AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
                FROM reb GROUP BY s),
        clb AS (SELECT dd.doc_id, COALESCE(c.cluster, dd.doc_id) AS cluster
                FROM documents dd LEFT JOIN cmb c USING (doc_id)
                WHERE dd.doc_id % 10 != 0),
        svb AS (SELECT MIN(doc_id) AS sv FROM clb GROUP BY cluster)
        SELECT 'add' AS op, sv AS doc_id FROM sva
          WHERE sv NOT IN (SELECT sv FROM svb)
        UNION ALL
        SELECT 'retract' AS op, sv AS doc_id FROM svb
          WHERE sv NOT IN (SELECT sv FROM sva)
        ORDER BY doc_id, op""")),

    // domain, best-quality-first). Spark side ranks hierarchically —
    // (source, salt-bucket) pre-prune then a final <= N*buckets rank — so
    // one giant domain never funnels through a single task; the oracle is
    // the plain single-window form, asserting the two are identical.
    "l40_source_quota" -> Def(
      (s, d) => Curation.sourceQuota(
          t(s, d, "documents").withColumn("quality",
            TA.qualityScore(col("text"), col("n_chars"))),
          col("source"), col("doc_id"), col("quality"), 10)
        .select(col("doc_id"), col("source"), col("quality"))
        .orderBy(col("source"), col("doc_id")),
      Some(s"""WITH scored AS (SELECT doc_id, source, $oQuality AS quality
          FROM documents),
        ranked AS (SELECT doc_id, source, quality,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id) AS rk FROM scored)
        SELECT doc_id, source, quality FROM ranked WHERE rk <= 10
        ORDER BY source, doc_id""")),

    // Quality-score CALIBRATION: does the cheap rule-based quality
    // signal predict whether a document's embedding agrees with its
    // label's centroid? Per integer quality LEVEL (the score is discrete
    // — 0..3 rule hits — so bucketing is exact and needs NO global
    // quantile pass or single-partition window): doc count, centroid-
    // agreement count, and the agreement rate in basis points. The
    // doc↔vector linkage is the row-aligned id convention
    // (doc_id = vec_id). One broadcast-centroid classify + one
    // combinable 4-group aggregation.
    "l106_quality_calibration" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id").as("id"),
            TA.qualityLevel(col("text"), col("n_chars")).as("quality_level"))
        val cls = Similarity.centroidClassify(
            Similarity.prepare(t(s, d, "embeddings"), "embedding"),
            "vec_id", "label")
          .select(col("id"),
            (col("pred") === col("label")).cast("long").as("agree"))
        docs.join(cls, "id")
          .groupBy(col("quality_level"))
          .agg(count(lit(1)).as("n_docs"), sum(col("agree")).as("n_agree"))
          .withColumn("agree_bp", expr("n_agree * 10000 DIV n_docs"))
          .orderBy(col("quality_level"))
      },
      Some(s"""WITH $oQuant,
        cs AS (SELECT label, j, CAST(SUM(q[j]) AS BIGINT) AS sj, COUNT(*) AS n
          FROM qe, UNNEST(generate_series(1, 64)) AS g(j) GROUP BY 1, 2),
        cent AS (SELECT label AS clabel, MAX(n) AS n, list(sj ORDER BY j) AS sv,
          CAST(SUM(sj * sj) AS BIGINT) AS ss FROM cs GROUP BY 1),
        pairs AS (SELECT qn.vec_id, qn.label, cent.clabel, cent.n,
            cent.n * cent.n * qn.norm_sq
              - 2 * cent.n * ${oDot("qn.q", "cent.sv")}
              + cent.ss AS d2_num
          FROM qn CROSS JOIN cent),
        ranked AS (SELECT vec_id, label, clabel,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY CAST(d2_num AS DOUBLE) / (n * n), clabel) AS rk
          FROM pairs),
        ag AS (SELECT vec_id AS id,
            CASE WHEN clabel = label THEN 1 ELSE 0 END AS agree
          FROM ranked WHERE rk = 1),
        ql AS (SELECT doc_id AS id, $oQualityLevel AS quality_level
          FROM documents)
        SELECT quality_level, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(agree) AS BIGINT) AS n_agree,
          CAST(SUM(agree) AS BIGINT) * 10000 // COUNT(*) AS agree_bp
        FROM ql JOIN ag USING (id)
        GROUP BY quality_level ORDER BY quality_level""")),

    // DSIR data selection (Xie et al. 2023): pick the 100 raw documents
    // whose hashed-n-gram profile best matches the TARGET distribution
    // (here: the English sub-corpus). Unigram+bigram features hash into
    // 512 buckets; add-one-smoothed target/raw bucket distributions give
    // the per-bucket scaled likelihood ratio (integer DIV — the same
    // ratio-linearization of the paper's log-ratio that l38 applies to
    // KenLM perplexity, documented in Curation.dsirWeights); a doc's
    // weight sums the ratio over its feature occurrences. Selection is
    // the paper's resampling step at temperature→0: deterministic top-k,
    // executed as TakeOrderedAndProject (per-partition partial top-k, no
    // global sort). Scale shape: B-row bucket table (map-side combined,
    // broadcast back), ONE corpus-keyed shuffle for the per-doc sum; all
    // products in DECIMAL(38,0) / HUGEINT since Nq·scale overflows int64
    // at corpus scale.
    "l107_dsir_select" -> Def(
      (s, d) => Curation.dsirSelect(t(s, d, "documents"), col("doc_id"),
          col("text"), col("lang") === "en", k = 100)
        .select(col("id").as("doc_id"), col("weight"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id, lang = 'en' AS tgt,
          $oToks AS t FROM documents),
        gs AS (SELECT doc_id, tgt, t[i] AS g
            FROM tk, UNNEST(generate_series(1, len(t))) AS s(i)
          UNION ALL
          SELECT doc_id, tgt, t[i] || ' ' || t[i+1] AS g
            FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
            WHERE len(t) >= 2),
        fb AS (SELECT doc_id, tgt, ${oH48("g")} % 512 AS b FROM gs),
        bc AS (SELECT b,
            CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS HUGEINT) AS ct,
            CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS HUGEINT) AS cq
          FROM fb GROUP BY b),
        tot AS (SELECT SUM(ct) AS nt, SUM(cq) AS nq FROM bc),
        rb AS (SELECT b, CAST((1000000 * (ct + 1) * (nq + 512))
            // ((cq + 1) * (nt + 512)) AS BIGINT) AS r FROM bc, tot),
        w AS (SELECT doc_id, CAST(SUM(CAST(r AS HUGEINT)) AS BIGINT)
            AS weight
          FROM fb JOIN rb USING (b) WHERE NOT tgt GROUP BY doc_id),
        sel AS (SELECT doc_id, weight,
            ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) AS rk FROM w)
        SELECT doc_id, weight FROM sel WHERE rk <= 100
        ORDER BY doc_id""")),

    // Distribution-drift monitor: per-source total-variation distance
    // between the source's hashed-unigram bucket distribution and the
    // corpus-wide one — the alarm that a feed changed character
    // (scraper regression, language flip, spam flood). Integer-exact:
    // TV·2·Ng·N is an integer (|c/Ng − C/N| = |c·N − C·Ng|/(Ng·N));
    // reported in ppm via integer DIV, absent-bucket mass folded in as
    // Ng·(N − Σ_present C) so no dense source×bucket frame exists. One
    // corpus shuffle (groupBy source,bucket — map-side combined to
    // ≤ G·B rows/task); the tiny totals frames broadcast back. HUGEINT
    // / DECIMAL(38,0): c·N ≈ 10^26 at 100 TB, past int64.
    "l108_drift_monitor" -> Def(
      (s, d) => Curation.distributionDrift(t(s, d, "documents"),
          col("source"), col("text"))
        .withColumnRenamed("g", "source")
        .orderBy(col("source")),
      Some(s"""WITH w AS (SELECT source AS g, ${oH48("word")} % 512 AS b
          FROM (SELECT source, unnest($oToks) AS word FROM documents)),
        gb AS (SELECT g, b, CAST(count(*) AS HUGEINT) AS c
          FROM w GROUP BY g, b),
        ng AS (SELECT g, SUM(c) AS ng FROM gb GROUP BY g),
        cb AS (SELECT b, SUM(c) AS cb FROM gb GROUP BY b),
        n AS (SELECT SUM(c) AS n FROM gb)
        SELECT g AS source, CAST((1000000 *
            (SUM(ABS(c * n.n - cb.cb * ng.ng))
             + MAX(ng.ng) * (MAX(n.n) - SUM(cb.cb))))
          // (2 * MAX(ng.ng) * MAX(n.n)) AS BIGINT) AS tv_ppm
        FROM gb JOIN cb USING (b) JOIN ng USING (g) CROSS JOIN n
        GROUP BY g ORDER BY source""")),

    // STREAMING drift alarm: the l108 monitor run for real against an
    // arriving feed. Reference = the corpus's 512-bucket histogram,
    // frozen ONCE (collected — 512 driver longs however large the
    // reference was) before the stream starts; four micro-batches
    // arrive (the corpus in thirds, then a spam-vocabulary wave) and
    // foreachBatch scores each per (slice, source) against the frozen
    // reference via broadcast — the reference corpus is never
    // rescanned. Thirds of the corpus sit near the corpus mix (low TV,
    // no alert); the spam wave's vocabulary is disjoint (TV → 1e6,
    // alert fires). Output is grouped by the in-data slice column, so
    // the oracle is independent of the file→batch mapping; alert
    // threshold 500000 ppm separates the two regimes with wide margin.
    "l109_streaming_drift" -> Def(
      (s, d) => {
        val refCounts = Curation.bucketCounts(t(s, d, "documents"),
            col("text")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        Q.streamGate("graft_l109") { g =>
          val out = s"${g.dir}/out"
          g.run(ckpt => graft.streaming.StreamingCuration.driftMonitorStream(
              s, l109Input(s, d).stream(s), Seq("slice", "source"), "text",
              refCounts, out, ckpt, thresholdPpm = 500000L)
            .trigger(g.trigger).start())
          s.read.parquet(out)
            .select(col("slice"), col("source"), col("tv_ppm"), col("alert"))
            .orderBy(col("slice"), col("source"))
        }
      },
      Some(s"""WITH cand AS (
          SELECT doc_id, source, text, CAST(doc_id % 3 AS INT) AS slice
          FROM documents
          UNION ALL
          SELECT doc_id + 500000, 'src_spam',
            'spamA spamB spamC spam' || CAST(doc_id AS VARCHAR),
            CAST(3 AS INT)
          FROM documents WHERE doc_id % 11 = 0),
        ref AS (SELECT ${oH48("word")} % 512 AS b,
            CAST(count(*) AS HUGEINT) AS cb
          FROM (SELECT unnest($oToks) AS word FROM documents) GROUP BY 1),
        nr AS (SELECT SUM(cb) AS nr FROM ref),
        gb AS (SELECT slice, source, ${oH48("word")} % 512 AS b,
            CAST(count(*) AS HUGEINT) AS c
          FROM (SELECT slice, source, unnest(string_split(text, ' '))
              AS word FROM cand)
          GROUP BY 1, 2, 3),
        gn AS (SELECT slice, source, SUM(c) AS ng FROM gb GROUP BY 1, 2),
        j AS (SELECT gb.slice, gb.source, gb.c,
            COALESCE(ref.cb, CAST(0 AS HUGEINT)) AS cb, gn.ng
          FROM gb LEFT JOIN ref USING (b) JOIN gn USING (slice, source)),
        tv AS (SELECT slice, source, CAST((1000000 *
              (SUM(ABS(c * nr.nr - cb * ng))
               + MAX(ng) * (nr.nr - SUM(cb))))
            // (2 * MAX(ng) * nr.nr) AS BIGINT) AS tv_ppm
          FROM j CROSS JOIN nr GROUP BY slice, source, nr.nr)
        SELECT slice, source, tv_ppm, tv_ppm > 500000 AS alert
        FROM tv ORDER BY slice, source""")),

    // Corpus snapshot DIFF — the post-rebuild regression check of an
    // incremental pipeline: old = documents; new = documents with every
    // 13th doc dropped (removed), every 7th non-dropped doc's text
    // rewritten (changed), and a shifted-id wave appended (added).
    // corpusDiff emits ONLY the delta (unchanged docs filtered before
    // materialization — output is |delta| not |corpus|), comparing
    // 32-byte md5 digests computed at the scan so the co-partitioned
    // full-outer id join never carries text.
    "l110_corpus_diff" -> Def(
      (s, d) => {
        val base = t(s, d, "documents")
        val next = base.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(base.filter(col("doc_id") % 17 === 0)
            .select((col("doc_id") + 700000L).as("doc_id"), col("text")))
        Curation.corpusDiff(base, next, col("doc_id"), col("text"))
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""WITH next AS (
          SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
              ELSE text END AS text
            FROM documents WHERE doc_id % 13 <> 0
          UNION ALL
          SELECT doc_id + 700000, text FROM documents WHERE doc_id % 17 = 0),
        o AS (SELECT doc_id, md5(text) AS od FROM documents),
        n AS (SELECT doc_id, md5(text) AS nd FROM next),
        j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, od, nd
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        SELECT doc_id,
          CASE WHEN od IS NULL THEN 'added'
               WHEN nd IS NULL THEN 'removed'
               WHEN od <> nd THEN 'changed' END AS verdict
        FROM j
        WHERE od IS NULL OR nd IS NULL OR od <> nd
        ORDER BY doc_id""")),

    // MAINTAINED distinct-count cube (r9): the cardinality-tracking twin
    // of the l92/l84 lifecycles — lineitem streams in two real micro-
    // batches, each pre-aggregated to a fine-grain HLL cube (≤ #slices
    // rows per batch) and landed through the replay-idempotent partition
    // protocol; compaction folds the partials via sketch register-union
    // (the foldAgg row-compression hook); serve answers per-flag AND
    // grand-total distinct-order counts from the CUBE table only. HLL
    // union associativity makes serve independent of land/fold state, so
    // the q58 gate (exact + within-5% flag) holds bit-for-bit.
    "l111_cube_maintained" -> Def(
      (s, d) => {
        val name = freshTable(s, "graft_l111_cube")
        val dims = Seq("l_returnflag", "l_linestatus")
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"))
        Q.streamGate("graft_l111") { g =>
          val in = g.stage(Q.idSlices(li, "l_orderkey", 2))
          g.run(graft.ops.SketchCube.startMaintenance(s, in.stream(s), dims,
            "l_orderkey", name, _, trigger = g.trigger))
        }
        graft.ops.SketchCube.compactMaintained(s, name, dims)
        val flagEst = graft.ops.SketchCube.serve(s, name, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_rows"), col("distinct_est"))
        val globalEst = graft.ops.SketchCube.serve(s, name, Nil)
          .select(lit("ALL").as("l_returnflag"), col("n_rows"),
            col("distinct_est"))
        val exact = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
          .unionByName(li.agg(countDistinct(col("l_orderkey"))
            .as("exact_orders"))
            .select(lit("ALL").as("l_returnflag"), col("exact_orders")))
        flagEst.unionByName(globalEst).join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("exact_orders"), col("n_rows"),
            (abs(col("distinct_est") - col("exact_orders")).cast("double") <=
              lit(0.05) * col("exact_orders")).cast("bigint").as("within_5pct"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
          COUNT(DISTINCT l_orderkey) AS exact_orders,
          COUNT(*) AS n_rows, CAST(1 AS BIGINT) AS within_5pct
        FROM lineitem GROUP BY 1
        UNION ALL
        SELECT 'ALL', COUNT(DISTINCT l_orderkey), COUNT(*), CAST(1 AS BIGINT)
        FROM lineitem
        ORDER BY l_returnflag""")),

    // Systematic PPS sampling (r9): token-weighted EXACT-ish-k selection
    // per source — each shard's docs laid on a weight line (per-shard
    // prefix-sum window, one shuffle, no global sort), every stride-th
    // position a sampling point; heavy docs carry their multiplicity in
    // n_points. Pure BIGINT arithmetic with all division numerators kept
    // non-negative (+stride shift), where DuckDB's truncating // and
    // Spark's floor division agree — exact hash gate.
    "l112_pps_sample" -> Def(
      (s, d) => Curation.ppsSample(
          t(s, d, "documents").select(col("source"), col("doc_id"),
            TA.tokenCount(col("text")).cast("bigint").as("weight")),
          col("source"), col("doc_id"), col("weight"), k = 50L)
        .select(col("source"), col("doc_id"), col("weight"), col("n_points"))
        .orderBy(col("source"), col("doc_id")),
      Some(s"""WITH w AS (SELECT source, doc_id,
          CAST(len($oToks) AS BIGINT) AS weight FROM documents),
        c AS (SELECT source, doc_id, weight,
            CAST(SUM(weight) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cw,
            CAST(SUM(weight) OVER (PARTITION BY source) AS BIGINT) AS total
          FROM w),
        st AS (SELECT source, doc_id, weight, cw,
            GREATEST(total // 50, 1) AS stride FROM c),
        p AS (SELECT source, doc_id, weight,
            ((cw - (stride // 2) - 1 + stride) // stride) -
            ((cw - weight - (stride // 2) - 1 + stride) // stride)
              AS n_points
          FROM st)
        SELECT source, doc_id, weight, CAST(n_points AS BIGINT) AS n_points
        FROM p WHERE n_points >= 1 ORDER BY source, doc_id""")),

    // GLOBAL systematic PPS (r9): the l112 draw without the shard crutch —
    // the global prefix sum is the two-phase distributed form (range
    // exchange + per-partition totals to the driver + broadcast offsets),
    // NOT a single-partition window; output is cut-independent (each
    // row's global prefix depends only on the total id order), so the
    // oracle replays it as one ordered window and the gate is exact.
    "l113_pps_global" -> Def(
      (s, d) => Curation.ppsSampleGlobal(
          t(s, d, "documents").select(col("doc_id"), col("source"),
            TA.tokenCount(col("text")).cast("bigint").as("weight")),
          col("doc_id"), col("weight"), k = 200L)
        .select(col("doc_id"), col("source"), col("weight"), col("n_points"))
        .orderBy(col("doc_id")),
      Some(s"""WITH w AS (SELECT doc_id, source,
          CAST(len($oToks) AS BIGINT) AS weight FROM documents),
        c AS (SELECT doc_id, source, weight,
            CAST(SUM(weight) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cw,
            CAST(SUM(weight) OVER () AS BIGINT) AS total FROM w),
        st AS (SELECT doc_id, source, weight, cw,
            GREATEST(total // 200, 1) AS stride FROM c),
        p AS (SELECT doc_id, source, weight,
            ((cw - (stride // 2) - 1 + stride) // stride) -
            ((cw - weight - (stride // 2) - 1 + stride) // stride)
              AS n_points
          FROM st)
        SELECT doc_id, source, weight, CAST(n_points AS BIGINT) AS n_points
        FROM p WHERE n_points >= 1 ORDER BY doc_id""")),

    // STREAMING funnel (r9): Behavior.funnel's incremental twin — per-
    // entity progress is ONE integer in transformWithState keyed state,
    // each event advances it at most one stage, each advancement emits a
    // StageHit; per-trigger cost O(arrivals), history never re-scanned.
    // Two real event-time-ordered micro-batches through a checkpointed
    // stream; the post-stream rollup reproduces the BATCH funnel's
    // output exactly, so the gate reuses q63's oracle program verbatim.
    "l114_stream_funnel" -> Def(
      (s, d) => {
        SessionConf.scoped(s, rocksDbProvider) {
          val ev = t(s, d, "events")
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts"))
          val out = streamToParquet(s, "graft_l114",
              Q.idSlices(ev, "event_id", 2)) { in =>
            graft.streaming.StreamingFunnel.stageHits(s, in, "user_id",
              "event_type", "ts", "event_id", Seq("signup", "view", "purchase"))
          }
          val n0 = out.filter(col("stage") === 1L).count()
          out.groupBy(col("stage"), col("stage_name"))
            .agg(count(lit(1)).as("n_entities"))
            .withColumn("conversion_ppm",
              floor(col("n_entities").cast("decimal(20,0)") * 1000000 /
                greatest(lit(n0), lit(1L))).cast("bigint"))
            .orderBy(col("stage"))
        }
      },
      Some("""WITH r AS (SELECT user_id, ts, event_id, event_type,
            MIN(CASE WHEN event_type = 'signup' THEN ts END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0
          FROM events),
        r2 AS (SELECT *, CASE WHEN event_type = 'view' AND cum0 IS NOT NULL
            THEN ts END AS reach1 FROM r),
        r3 AS (SELECT *, MIN(reach1)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
          FROM r2),
        r4 AS (SELECT *, CASE WHEN event_type = 'purchase'
            AND cum1 IS NOT NULL THEN ts END AS reach2 FROM r3),
        hits AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS h0,
            MAX(CASE WHEN reach1 IS NOT NULL THEN 1 ELSE 0 END) AS h1,
            MAX(CASE WHEN reach2 IS NOT NULL THEN 1 ELSE 0 END) AS h2
          FROM r4 GROUP BY 1),
        s AS (SELECT CAST(SUM(h0) AS BIGINT) AS n0,
            CAST(SUM(h1) AS BIGINT) AS n1,
            CAST(SUM(h2) AS BIGINT) AS n2 FROM hits)
        SELECT stage, stage_name, n_entities,
          CAST((n_entities * 1000000) // GREATEST(n0, 1) AS BIGINT)
            AS conversion_ppm
        FROM (
          SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name,
            n0 AS n_entities, n0 FROM s
          UNION ALL SELECT CAST(2 AS BIGINT), 'view', n1, n0 FROM s
          UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n2, n0 FROM s)
        WHERE n_entities > 0
        ORDER BY stage""")),

    // STREAMING transition mining (r9): q68's Markov matrix maintained
    // incrementally — keyed state is the entity's LAST event only, every
    // arrival emits one edge, the matrix is a rollup of the edge stream.
    // Two event-time-ordered micro-batches; the rollup reproduces the
    // batch lead() program exactly, so the gate reuses q68's oracle.
    "l115_stream_transitions" -> Def(
      (s, d) => {
        SessionConf.scoped(s, rocksDbProvider) {
          val ev = t(s, d, "events")
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts"))
          val out = streamToParquet(s, "graft_l115",
              Q.idSlices(ev, "event_id", 2)) { in =>
            graft.streaming.StreamingTransitions.edges(s, in, "user_id",
              "event_type", "ts", "event_id")
          }.groupBy(col("from_type"), col("to_type"))
            .agg(count(lit(1)).as("n"))
          val byFrom = org.apache.spark.sql.expressions.Window
            .partitionBy(col("from_type"))
          out.withColumn("prob_ppm",
              floor(col("n").cast("decimal(20,0)") * 1000000 /
                sum(col("n")).over(byFrom)).cast("bigint"))
            .select(col("from_type"), col("to_type"), col("n"),
              col("prob_ppm"))
            .orderBy(col("from_type"), col("to_type"))
        }
      },
      Some("""WITH p AS (SELECT event_type AS from_type,
            LEAD(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
        c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
          CAST((n * 1000000) // CAST(SUM(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS BIGINT) AS prob_ppm
        FROM c ORDER BY from_type, to_type""")),

    // STREAMING cohort retention (r9): q64 maintained incrementally —
    // per-entity state = the cohort week (ValueState long) + the offsets
    // already emitted (MapState: per-entry point writes, never a whole-
    // set round trip); each event costs O(1) state work and emits ≤1
    // hit. Two event-time-ordered micro-batches; the hit-stream rollup
    // reproduces the batch operator exactly → q64's oracle verbatim.
    "l116_stream_cohort" -> Def(
      (s, d) => {
        SessionConf.scoped(s, rocksDbProvider) {
          val ev = t(s, d, "events")
            .select(col("event_id"), col("user_id"), col("ts"))
          streamToParquet(s, "graft_l116", Q.idSlices(ev, "event_id", 2)) {
            graft.streaming.StreamingCohort.hits(s, _, "user_id", "ts", "event_id")
          }.groupBy(col("cohort_week"), col("week_offset"))
            .agg(countDistinct(col("entity")).as("n_entities"))
            .orderBy(col("cohort_week"), col("week_offset"))
        }
      },
      Some("""WITH c AS (SELECT user_id,
            CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
              AS DATE) AS cohort_week,
            date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
              AS cohort_ts,
            date_trunc('week', ts) AS wk
          FROM events),
        d AS (SELECT DISTINCT user_id, cohort_week,
            CAST(datediff('day', cohort_ts, wk) // 7 AS BIGINT)
              AS week_offset
          FROM c)
        SELECT cohort_week, week_offset,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities
        FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),

    // STREAMING metric series + robust alarm (r9): the ops-monitoring
    // loop — per-minute per-type event counts maintained INCREMENTALLY
    // (each micro-batch lands its partial counts through the replay-
    // idempotent partition protocol; a minute straddling a batch
    // boundary just sums across partials, so no window-close problem),
    // then the median/MAD test runs over the MAINTAINED series. The
    // serve-side rollup is bit-equal to computing the series from the
    // full corpus, so the gate is q65's oracle verbatim.
    "l117_stream_metric_series" -> Def(
      (s, d) => {
        val name = freshTable(s, "graft_l117_series")
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"), col("ts"))
        Q.streamGate("graft_l117") { g =>
          val in = g.stage(Q.idSlices(ev, "event_id", 2))
          g.run(ckpt => in.stream(s).writeStream.outputMode("append")
            .option("checkpointLocation", ckpt).trigger(g.trigger)
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                val bs = batch.sparkSession
                val partial = batch.toDF()
                  .groupBy(col("event_type"),
                    date_trunc("minute", col("ts")).as("m"))
                  .agg(count(lit(1)).as("v"))
                  .withColumn("ingest_batch", lit(batchId))
                graft.ops.DedupIndex.landBatch(bs, s, partial, name, batchId,
                  bucketed = false, buckets = 8)
            }.start())
        }
        val series = s.table(name)
          .groupBy(col("event_type"), col("m"))
          .agg(sum(col("v")).as("v"))
        graft.ops.Anomaly.madOutliers(series, Seq("event_type"), "v", 3)
          .orderBy(col("event_type"))
      },
      Some("""WITH m AS (SELECT event_type, date_trunc('minute', ts) AS mn,
          CAST(COUNT(*) AS BIGINT) AS v FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, v,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n FROM m),
        med AS (SELECT event_type,
            MAX(CASE WHEN rn * 2 = n + (n % 2) THEN v END) AS med
          FROM r GROUP BY 1),
        d AS (SELECT m.event_type, v, med, ABS(v - med) AS dd
          FROM m JOIN med USING (event_type)),
        r2 AS (SELECT event_type, dd,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
        mad AS (SELECT event_type,
            MAX(CASE WHEN rn * 2 = n + (n % 2) THEN dd END) AS mad
          FROM r2 GROUP BY 1)
        SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MAX(med) AS BIGINT) AS med, CAST(MAX(mad) AS BIGINT) AS mad,
          CAST(SUM(CASE WHEN dd > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
            AS n_outliers
        FROM d JOIN mad USING (event_type)
        GROUP BY 1 ORDER BY 1""")),

    // MAINTAINED quantile cube (r9): the l111 lifecycle instantiated for
    // the SECOND cube family — per-batch histograms land through the
    // idempotent protocol, compaction folds with COUNT-ADDITION (the
    // generic foldAgg hook's second aggregation after HLL union, proving
    // it generalizes), and q61's p50/p95/p99 program runs off the
    // maintained table. Count addition is associative → serve is
    // land/fold-state independent → q61's oracle verbatim.
    "l118_quantile_cube_maintained" -> Def(
      (s, d) => {
        val name = freshTable(s, "graft_l118_qcube")
        val f = t(s, d, "orders").select(col("o_orderkey"),
          col("o_orderpriority").as("prio"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"))
        Q.streamGate("graft_l118") { g =>
          val in = g.stage(Q.idSlices(f, "o_orderkey", 2))
          g.run(graft.ops.HistogramCube.startMaintenance(s, in.stream(s),
            Seq("prio"), "cents", 100000L, name, _, trigger = g.trigger))
        }
        graft.ops.HistogramCube.compactMaintained(s, name, Seq("prio"))
        val cube = graft.ops.HistogramCube.rollup(
          s.table(name).drop("ingest_batch"), Seq("prio"))
        val globalSlice = graft.ops.HistogramCube.rollup(cube, Nil)
          .select(lit("ALL").as("prio"), col("bucket"), col("n"))
        graft.ops.HistogramCube.quantiles(cube.unionByName(globalSlice),
            Seq("prio"), 100000L, Seq(50, 95, 99))
          .select(col("prio"), col("q_pct"), col("est"))
          .orderBy(col("prio"), col("q_pct"))
      },
      Some("""WITH f AS (SELECT o_orderpriority AS prio,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM orders),
        h AS (SELECT prio, cents // 100000 AS bucket, COUNT(*) AS n
          FROM f GROUP BY 1, 2),
        hall AS (SELECT prio, bucket, n FROM h
          UNION ALL
          SELECT 'ALL' AS prio, bucket, SUM(n) AS n FROM h GROUP BY bucket),
        t AS (SELECT prio, bucket, n,
            SUM(n) OVER (PARTITION BY prio ORDER BY bucket) AS cum,
            SUM(n) OVER (PARTITION BY prio) AS total FROM hall),
        j AS (SELECT prio, q_pct, bucket, n, cum, total,
            GREATEST((total * q_pct + 99) // 100, 1) AS rk
          FROM t CROSS JOIN (SELECT * FROM (VALUES (50), (95), (99))
            AS v(q_pct)))
        SELECT prio, CAST(q_pct AS BIGINT) AS q_pct,
          CAST(bucket * 100000 + ((rk - (cum - n)) * 100000) // n AS BIGINT)
            AS est
        FROM j WHERE cum - n < rk AND rk <= cum
        ORDER BY prio, q_pct""")),

    // Budget ENFORCEMENT — the l102 plan materialized: full epochs plus
    // a deterministically hash-sampled partial epoch per source, and the
    // audit a run publishes — achieved vs target tokens with the
    // realized deviation in basis points (the residual pass is
    // rate-sampled, so the deviation is the sampling noise, reported
    // not hidden). Everything BIGINT; the oracle replays the identical
    // plan arithmetic, epoch fan-out and hash decisions.
    "l105_budget_enforce" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = Map("src0" -> 4, "src1" -> 2, "src2" -> 1, "src3" -> 1)
        val sample = Curation.enforceBudget(docs, col("source"),
          col("doc_id"), TA.tokenCount(col("text")), w, budget = 500000L)
        val plan = Curation.tokenBudget(docs, col("source"),
          TA.tokenCount(col("text")), w, budget = 500000L)
        sample.groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_tokens")).as("achieved_tokens"))
          .join(broadcast(plan.select(col("source"), col("target_tokens"))),
            "source")
          .withColumn("deviation_bp", expr(
            "abs(achieved_tokens - target_tokens) * 10000 DIV target_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH agg AS (SELECT source,
          CAST(SUM(len($oToks)) AS BIGINT) AS avail_tokens,
          CAST(CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2
            WHEN 'src2' THEN 1 WHEN 'src3' THEN 1 END AS BIGINT) AS w
        FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
        GROUP BY source),
        pl AS (SELECT source, avail_tokens,
          (500000 * w) // 8 AS target_tokens,
          ((500000 * w) // 8 + avail_tokens - 1) // avail_tokens AS epochs
        FROM agg WHERE (500000 * w) // 8 > 0),
        pl2 AS (SELECT *, (target_tokens - (epochs - 1) * avail_tokens)
            * 10000 // avail_tokens AS partial_bp FROM pl),
        sample AS (SELECT d.source, d.doc_id, len($oToks) AS n_tokens, e
          FROM documents d JOIN pl2 USING (source),
            UNNEST(generate_series(1, epochs)) AS g(e)
          WHERE e < epochs OR
            ${oH48("CAST(doc_id AS VARCHAR)")} % 10000 < partial_bp)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(n_tokens) AS BIGINT) AS achieved_tokens,
          pl2.target_tokens,
          abs(CAST(SUM(n_tokens) AS BIGINT) - pl2.target_tokens) * 10000
            // pl2.target_tokens AS deviation_bp
        FROM sample JOIN pl2 USING (source)
        GROUP BY source, pl2.target_tokens ORDER BY source""")),

    // BPE tokenizer TRAINING — the real iterative algorithm, distributed:
    // pair counts and merges run over the word-FREQUENCY table (the
    // corpus is scanned once), argmax per step with deterministic
    // tie-break, merges applied leftmost-first by a symbol fold. The
    // oracle unrolls the identical six steps as chained CTEs (DuckDB
    // list_reduce replays the same fold), so the learned merge table is
    // gated bit-for-bit — not "a plausible vocab", THE vocab.
    "l103_bpe_train" -> Def(
      (s, d) => Curation.bpeTrain(t(s, d, "documents"), "text",
        merges = 6)._1.orderBy(col("step")),
      Some(s"""WITH ${oBpeStages(6)}
        SELECT * FROM (${(1 to 6).map(i =>
          s"""SELECT CAST($i AS BIGINT) AS step, m_left, m_right,
            m_left || m_right AS merged, CAST(pair_n AS BIGINT) AS pair_n
          FROM b$i""").mkString("\nUNION ALL\n")})
        ORDER BY step""")),

    // Segmentation audit under the trained BPE vocab: per document the
    // whitespace token count vs the subword count after the six learned
    // merges (the compression number a tokenizer build publishes). The
    // per-word merge work happened in training; the corpus side is one
    // explode + a vocabulary-sized join + a combinable aggregation.
    "l104_bpe_segment" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val (_, words) = Curation.bpeTrain(docs, "text", merges = 6)
        Curation.bpeSegmentCounts(docs, "doc_id", "text", words)
      },
      Some(s"""WITH ${oBpeStages(6)},
        tk AS (SELECT doc_id, unnest($oToks) AS word FROM documents)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(len(string_split(w6.syms, ' '))) AS BIGINT) AS n_subwords
        FROM tk JOIN w6 USING (word)
        GROUP BY doc_id ORDER BY doc_id""")),

    // BPE ENCODE (r13) — the trained merge table APPLIED: per document
    // the real token-id sequence (ids over the realized-symbol vocab,
    // sym-ASC assignment — the deterministic contract), the pass a
    // pipeline runs between curation and packing. All merge work rides
    // the unique-WORD table; the corpus is touched twice (word join +
    // per-doc ordered re-aggregation). The oracle replays training AND
    // encoding relationally (list_reduce fold, row-number vocab,
    // ordered flatten) — the id sequences are gated bit-for-bit as
    // strings.
    "l135_bpe_encode" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val (mt, _) = Curation.bpeTrain(docs, "text", merges = 6)
        val (enc, _) = Curation.bpeEncode(docs, "doc_id", "text", mt)
        enc.select(col("doc_id"), col("n_tokens"), col("n_ids"),
            array_join(col("ids"), " ").as("ids_str"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${oBpeStages(6)},
        ${oBpeEncode(6)}
        SELECT doc_id, n_tokens, CAST(len(ids) AS BIGINT) AS n_ids,
          COALESCE(array_to_string(ids, ' '), '') AS ids_str
        FROM dd ORDER BY doc_id""")),

    // TOKENIZE AT INGEST (r13): the deployed-tokenizer shape — train
    // once, freeze the PUBLISHED artifacts (merge table + vocab, with
    // strays mapping to the reserved unk id 0), then encode a STREAM of
    // arriving documents per micro-batch under the frozen id space.
    // Exactness: encoding is stateless per document and the frozen
    // vocab covers the training corpus, so the streamed ids equal the
    // batch encode bit-for-bit — the oracle is l135's chain verbatim.
    // The artifacts cross into each batch's session as re-created
    // LocalRelations from pre-collected rows (vocabulary-sized — the
    // same bounded-driver-artifact class as the quantizer seeds).
    "l141_streaming_tokenize" -> Def(
      (s, d) => {
        import org.apache.spark.sql.Encoders
        val docs = t(s, d, "documents")
        val (mt, words) = Curation.bpeTrain(docs, "text", merges = 6)
        val mergeRows = mt.select(col("step"), col("m_left"),
            col("m_right")).orderBy(col("step")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        val vocabRows = Curation.bpeVocab(words)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        Q.streamGate("graft_l141") { g =>
          val in = g.stage(Q.idSlices(
            docs.select(col("doc_id"), col("text")), "doc_id", 3))
          g.run(ckpt => in.stream(s).writeStream
            .option("checkpointLocation", ckpt).trigger(g.trigger)
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                val s2 = batch.sparkSession
                val mtDf = s2.createDataset(mergeRows)(Encoders.tuple(
                    Encoders.scalaLong, Encoders.STRING, Encoders.STRING))
                  .toDF("step", "m_left", "m_right")
                val vbDf = s2.createDataset(vocabRows)(Encoders.tuple(
                    Encoders.STRING, Encoders.scalaLong)).toDF("sym", "tid")
                val (enc, _) = Curation.bpeEncode(batch.toDF(), "doc_id",
                  "text", mtDf, frozenVocab = Some(vbDf))
                // overwrite-per-batch-path: a crash-replayed batch id
                // rewrites its own directory instead of appending twice —
                // the foreachBatch analog of the partition land protocol
                enc.select(col("doc_id"), col("n_tokens"), col("n_ids"),
                    array_join(col("ids"), " ").as("ids_str"))
                  .write.mode("overwrite").parquet(s"${g.dir}/out/b=$batchId")
            }.start())
          s.read.parquet(s"${g.dir}/out").drop("b").orderBy(col("doc_id"))
        }
      },
      Some(s"""WITH ${oBpeStages(6)},
        ${oBpeEncode(6)}
        SELECT doc_id, n_tokens, CAST(len(ids) AS BIGINT) AS n_ids,
          COALESCE(array_to_string(ids, ' '), '') AS ids_str
        FROM dd ORDER BY doc_id""")),

    // TOKENIZE -> PACK end-to-end (r13): sequence packing driven by the
    // REAL BPE id counts (l23 packs on whitespace counts; this is the
    // actual pre-training layout pass — concat-then-chunk over encoded
    // lengths). One window prefix-sum over the deterministic doc order
    // on top of the encode chain; integer-exact everywhere (cum_start
    // stays < 2^53 at any plausible corpus, and n_ids >= 1 keeps the
    // span formula's numerator non-negative so Spark floor-div and
    // DuckDB trunc-div agree).
    "l136_bpe_pack" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val (mt, _) = Curation.bpeTrain(docs, "text", merges = 6)
        val (enc, _) = Curation.bpeEncode(docs, "doc_id", "text", mt)
        Curation.packSequences(enc, col("doc_id"), col("n_ids"), seqLen = 128)
          .select(col("doc_id"), col("token_count"), col("cum_start"),
            col("seq_id"), col("seq_offset"), col("n_spans"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${oBpeStages(6)},
        ${oBpeEncode(6)},
        cs AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS token_count,
            CAST(COALESCE(SUM(CAST(len(ids) AS BIGINT)) OVER (
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_start
          FROM dd)
        SELECT doc_id, token_count, cum_start,
          cum_start // 128 AS seq_id,
          cum_start % 128 AS seq_offset,
          (cum_start + token_count - 1) // 128 - cum_start // 128 + 1
            AS n_spans
        FROM cs ORDER BY doc_id""")),

    // BYTE-FALLBACK BPE + LOSSLESS ROUND-TRIP (r14): the deployed-
    // tokenizer guarantee production tokenizers make (GPT-2 byte-level,
    // SentencePiece byte_fallback) — EVERY string encodes, strays
    // decomposing to reserved per-byte ids above the frozen vocab
    // instead of one lossy unk. Train on the (all-ASCII) corpus, freeze
    // the artifacts, then encode the corpus PLUS planted multi-byte
    // UTF-8 documents (ids derived from max(doc_id)+1 on both sides)
    // and decode back: `roundtrip` proves encode∘decode = identity even
    // where a code point's bytes split across consecutive ids — the
    // case the hex-concat decode exists for.
    "l144_byte_fallback" -> Def(
      (s, d) => {
        import org.apache.spark.sql.Encoders
        val docs = t(s, d, "documents")
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val planted = s.createDataset(Seq(
          (maxId + 1, "café déjà vu naïve"),
          (maxId + 2, "東京 žluťoučký kůň Ωmega"),
          (maxId + 3, "plain words mixed café")))(Encoders.tuple(
          Encoders.scalaLong, Encoders.STRING)).toDF("doc_id", "text")
        val aug = docs.select(col("doc_id"), col("text"))
          .unionByName(planted)
        val (mt, words) = Curation.bpeTrain(docs, "text", merges = 6)
        val vocab = Curation.bpeVocab(words)
        val byteBase = vocab.agg(max(col("tid"))).head().getLong(0) + 1L
        val (enc, _) = Curation.bpeEncode(aug, "doc_id", "text", mt,
          frozenVocab = Some(vocab), byteFallback = true)
        val dec = Curation.bpeDecode(enc, "doc_id", vocab, byteBase)
          .withColumnRenamed("text", "decoded")
        enc.join(dec, "doc_id").join(aug, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("n_ids"),
            array_join(col("ids"), " ").as("ids_str"), col("decoded"),
            (col("decoded") === col("text")).as("roundtrip"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${oBpeStages(6)},
        aug AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT (SELECT MAX(doc_id) FROM documents) + 1,
            'café déjà vu naïve'
          UNION ALL SELECT (SELECT MAX(doc_id) FROM documents) + 2,
            '東京 žluťoučký kůň Ωmega'
          UNION ALL SELECT (SELECT MAX(doc_id) FROM documents) + 3,
            'plain words mixed café'),
        ${oBpeEncodeFb(6)}
        SELECT dd.doc_id, dd.n_tokens,
          CAST(len(dd.ids) AS BIGINT) AS n_ids,
          COALESCE(array_to_string(dd.ids, ' '), '') AS ids_str,
          dt.decoded, dt.decoded = aug.text AS roundtrip
        FROM dd JOIN dt USING (doc_id) JOIN aug USING (doc_id)
        ORDER BY doc_id""")),

    // BEST-FIT SEQUENCE PACKING (r14): the boundary-respecting layout —
    // documents never split across sequences (concat-then-chunk's
    // cross-document attention contamination), placed first-fit-
    // decreasing into seqLen-token bins within hash shards; docs longer
    // than seqLen get their own bin, flagged oversize. The oracle
    // replays the EXACT sequential FFD fold with a recursive CTE that
    // admits one document per shard per step (depth = max per-shard
    // rank), so bin indices — not just counts — are hash-gated; the
    // per-shard audit quantifies the waste vs concat packing.
    "l145_pack_bestfit" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val base = docs.select(col("doc_id"),
          TA.tokenCount(col("text")).as("cnt"))
        val asg = Curation.packBestFit(base, col("doc_id"), col("cnt"),
          seqLen = 64, nShards = 4)
        val audit = Curation.packBestFitAudit(asg, 64)
        asg.join(audit, "shard")
          .select(col("id").as("doc_id"), col("token_count"),
            col("shard"), col("bin"), col("oversize"), col("n_bins"),
            col("total_tokens"), col("waste_bestfit"), col("waste_concat"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE base AS (
          SELECT doc_id, CAST(len($oToks) AS BIGINT) AS cnt,
            ${oH48("CAST(doc_id AS VARCHAR)")} % 4 AS shard
          FROM documents),
        rk AS (SELECT doc_id, cnt, shard,
            ROW_NUMBER() OVER (PARTITION BY shard
              ORDER BY cnt DESC, doc_id) AS r
          FROM base),
        st AS (
          SELECT shard, CAST(0 AS BIGINT) AS r,
            CAST([] AS BIGINT[]) AS bins,
            CAST([] AS STRUCT(doc_id BIGINT, bin BIGINT, cnt BIGINT)[])
              AS asg
          FROM (SELECT DISTINCT shard FROM rk)
          UNION ALL
          SELECT st.shard, st.r + 1,
            CASE WHEN rk.cnt > 64
                OR len(list_filter(st.bins, b -> b >= rk.cnt)) = 0
              THEN list_append(st.bins, 64 - rk.cnt)
              ELSE list_transform(generate_series(1, len(st.bins)), i ->
                CASE WHEN i = list_filter(generate_series(1, len(st.bins)),
                    i2 -> st.bins[i2] >= rk.cnt)[1]
                  THEN st.bins[i] - rk.cnt ELSE st.bins[i] END) END,
            list_append(st.asg, {'doc_id': rk.doc_id,
              'bin': CASE WHEN rk.cnt > 64
                  OR len(list_filter(st.bins, b -> b >= rk.cnt)) = 0
                THEN CAST(len(st.bins) AS BIGINT)
                ELSE CAST(list_filter(generate_series(1, len(st.bins)),
                  i2 -> st.bins[i2] >= rk.cnt)[1] - 1 AS BIGINT) END,
              'cnt': rk.cnt})
          FROM st JOIN rk ON rk.shard = st.shard AND rk.r = st.r + 1),
        fin AS (SELECT shard, bins, asg FROM st
          QUALIFY ROW_NUMBER() OVER (PARTITION BY shard ORDER BY r DESC)
            = 1),
        da AS (SELECT shard, u.doc_id, u.bin, u.cnt
          FROM (SELECT shard, unnest(asg) AS u FROM fin)),
        bt AS (SELECT shard, bins[i] AS rem
          FROM (SELECT shard, bins FROM fin),
            UNNEST(generate_series(1, len(bins))) AS g(i)),
        aud AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_bins,
            CAST(SUM(CASE WHEN rem > 0 THEN rem ELSE 0 END) AS BIGINT)
              AS waste_bestfit
          FROM bt GROUP BY shard),
        tot AS (SELECT shard, CAST(SUM(cnt) AS BIGINT) AS total_tokens
          FROM base GROUP BY shard),
        aud2 AS (SELECT shard, n_bins, waste_bestfit, total_tokens,
            (total_tokens + 63) // 64 * 64 - total_tokens AS waste_concat
          FROM aud JOIN tot USING (shard))
        SELECT da.doc_id, da.cnt AS token_count, da.shard, da.bin,
          da.cnt > 64 AS oversize, aud2.n_bins, aud2.total_tokens,
          aud2.waste_bestfit, aud2.waste_concat
        FROM da JOIN aud2 USING (shard) ORDER BY doc_id""")),

    // Vocabulary coverage curve (tokenizer vocab sizing): corpus tokens
    // covered by the top-V token types for candidate vocab sizes V. Rank
    // is (count DESC, token ASC) — deterministic ties, integer-exact
    // curve. Scale shape: one explode + combinable type count, then
    // TakeOrderedAndProject top-maxV (per-partition top-k, no global
    // sort, no full-type-table window); only the ≤ maxV survivors see a
    // window.
    "l101_vocab_coverage" -> Def(
      (s, d) => Curation.vocabCoverage(t(s, d, "documents"), "text",
        Seq(100, 500, 1000, 2000, 5000)),
      Some(s"""WITH tok AS (SELECT unnest($oToks) AS tok FROM documents),
        cnts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        rk AS (SELECT cnt,
            ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk FROM cnts),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens FROM tok),
        sz AS (SELECT CAST(unnest([100, 500, 1000, 2000, 5000]) AS BIGINT)
            AS vocab_size)
        SELECT vocab_size, CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(cnt) AS BIGINT) AS covered_tokens, tot.total_tokens
        FROM sz JOIN rk ON rk.rk <= sz.vocab_size CROSS JOIN tot
        GROUP BY vocab_size, tot.total_tokens ORDER BY vocab_size""")),

    // Token-budget mixture solver (pretraining-mix planning): per source
    // the available tokens, the budget share target = budget·w/Σw, the
    // epochs needed when the share oversubscribes the source (data
    // repeats), and the sampling rate in basis points. Pure BIGINT
    // arithmetic over one combinable per-source aggregation — the plan a
    // run publishes before touching 100 TB.
    "l102_token_budget" -> Def(
      (s, d) => Curation.tokenBudget(t(s, d, "documents"), col("source"),
        TA.tokenCount(col("text")),
        Map("src0" -> 4, "src1" -> 2, "src2" -> 1, "src3" -> 1),
        budget = 500000L),
      Some(s"""WITH agg AS (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len($oToks)) AS BIGINT) AS avail_tokens,
          CAST(CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2
            WHEN 'src2' THEN 1 WHEN 'src3' THEN 1 END AS BIGINT) AS w
        FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
        GROUP BY source),
        tg AS (SELECT source, n_docs, avail_tokens,
          (500000 * w) // 8 AS target_tokens FROM agg)
        SELECT source, n_docs, avail_tokens, target_tokens,
          (target_tokens + avail_tokens - 1) // avail_tokens AS epochs,
          (target_tokens * 10000) // avail_tokens AS rate_bp
        FROM tg ORDER BY source""")),

    // STREAM-STREAM interval join (r10) — the last stateful Structured
    // Streaming operator class the surface lacked: click→impression
    // attribution, two unbounded inputs joined on the entity plus an
    // event-time band, each side watermarked so state stays bounded by
    // rate × window. Clicks derive from the events table (every 3rd
    // event clicks 10 min later — inside the 30-min window; every 5th
    // clicks 2 h later — outside, matching nothing), both sides staged
    // as three event-time-ordered slices per side admitted one file per
    // trigger — so matches SPAN micro-batches (a slice-1 click reaching
    // a slice-0 impression proves retained join state, not within-batch
    // luck) while the ordered admission keeps the append-mode inner
    // join exactly the batch interval join the oracle computes.
    "l119_stream_stream_join" -> Def(
      (s, d) => {
        val joined = runIntervalJoinStream(s, d, "inner", "graft_l119")
        joined.select(col("click_id"), col("imp_id"))
          .orderBy(col("click_id"), col("imp_id"))
      },
      Some("""WITH clk AS (
          SELECT event_id + 10000000 AS click_id, user_id,
            ts + INTERVAL 10 MINUTE AS click_ts
          FROM events WHERE event_id % 3 = 0
          UNION ALL
          SELECT event_id + 20000000, user_id, ts + INTERVAL 2 HOUR
          FROM events WHERE event_id % 5 = 0)
        SELECT c.click_id, i.event_id AS imp_id
        FROM clk c JOIN events i ON c.user_id = i.user_id
          AND c.click_ts >= i.ts
          AND c.click_ts <= i.ts + INTERVAL 30 MINUTE
        ORDER BY click_id, imp_id""")),

    // LEFT-OUTER stream-stream interval join (r11): the UNATTRIBUTED
    // impression feed — an unmatched impression emits once, with a null
    // click, when the watermark passes imp_ts + window. Emission timing
    // is watermark-driven, so a drained run leaves the youngest tail
    // pending in state; the gate therefore compares only null rows the
    // final watermark (min of both sides' max event time − delay =
    // max(ts) − 45 min, since the click side runs 2 h ahead) has
    // DECIDED, with a one-minute guard band so the oracle never races
    // Spark's eviction boundary on the regular synthetic timestamps.
    // Matched pairs are compared exactly (same inner semantics as l119).
    "l120_stream_join_outer" -> Def(
      (s, d) => {
        val joined = runIntervalJoinStream(s, d, "left_outer", "graft_l120",
          extraCols = Seq("imp_ts"))
        val mx = t(s, d, "events").agg(max(unix_micros(col("ts")))).head()
          .getLong(0)
        // decided boundary: wm = mx − 45 min; null rows with
        // imp_ts + 30 min within 1 min of it are boundary-undecided on a
        // drained run — excluded on BOTH sides
        val decided = mx - (45L + 30L + 1L) * 60000000L
        joined
          .filter(col("click_id").isNotNull ||
            unix_micros(col("imp_ts")) < decided)
          .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
            col("imp_id"))
          .orderBy(col("click_id"), col("imp_id"))
      },
      Some("""WITH clk AS (
          SELECT event_id + 10000000 AS click_id, user_id,
            ts + INTERVAL 10 MINUTE AS click_ts
          FROM events WHERE event_id % 3 = 0
          UNION ALL
          SELECT event_id + 20000000, user_id, ts + INTERVAL 2 HOUR
          FROM events WHERE event_id % 5 = 0),
        matched AS (
          SELECT c.click_id, i.event_id AS imp_id
          FROM clk c JOIN events i ON c.user_id = i.user_id
            AND c.click_ts >= i.ts
            AND c.click_ts <= i.ts + INTERVAL 30 MINUTE),
        mxv AS (SELECT max(ts) AS mx FROM events)
        SELECT click_id, imp_id FROM matched
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS click_id, i.event_id AS imp_id
        FROM events i, mxv
        WHERE NOT EXISTS (SELECT 1 FROM matched m
            WHERE m.imp_id = i.event_id)
          AND i.ts < mx - INTERVAL 76 MINUTE
        ORDER BY click_id, imp_id""")),

    // Distributed Lloyd k-means over the embedding corpus (k=8 seeds =
    // the 8 lowest vec_ids, 3 iterations) — the clustering pass behind
    // cluster-balanced sampling / per-cluster curation audits. Centroids
    // stay exact rationals (count n, BIGINT sum vector sv, its squared
    // norm ss): the assignment metric n²|x|² − 2n(x·sv) + |sv|² is exact
    // integer and the only IEEE step is one double ÷n² in the argmin, so
    // the DuckDB oracle replays the identical unrolled iterations
    // bit-for-bit. Per-cluster output stats are all exact BIGINTs
    // (member count, n²-scaled inertia, centroid checksum). Scale: per
    // iteration one narrow fold-argmin pass (centroids ride as an 8-
    // element literal — no crossJoin, no window) + a (cid,dim) partial
    // agg; only k rows ever reach the driver.
    "l121_kmeans" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        Similarity.kMeans(prep, "id", k = 8, iters = 3)
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH $kmChain
        SELECT c.cid AS cluster_id,
          COALESCE(m.n_members, 0) AS n_members,
          c.n AS n_cent,
          CAST(COALESCE(m.inertia_num, 0) AS BIGINT) AS inertia_num,
          CAST(list_sum(list_transform(generate_series(1, 64),
            j -> j * c.sv[j])) AS BIGINT) AS sv_checksum,
          CAST(c.ss AS BIGINT) AS ss
        FROM c3 c LEFT JOIN (
          SELECT cid, COUNT(*) AS n_members, SUM(d2num) AS inertia_num
          FROM a4 GROUP BY cid) m USING (cid)
        ORDER BY cluster_id""")),

    // Cluster-balanced sampling: k-means strata (the l121 training, same
    // seeds/ties) + an exact per-cluster quota — the diversity draw that
    // keeps a curated mix from collapsing onto the dominant embedding
    // mode (per-cluster caps are the DataComp/DCLM-style recipe;
    // uniform-at-random WITHIN a cluster via ascending content hash).
    // Composition of two already-gated pieces: kMeansAssign supplies the
    // stratum key, stratifiedSample's hierarchical two-pass window takes
    // exactly min(6, |cluster|) per cluster with no single-stratum task
    // funnel. The oracle replays the full k-means chain, then ranks by
    // the same md5-derived hash.
    "l122_cluster_balanced_sample" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        val asg = Similarity.kMeansAssign(prep, "id", k = 8, iters = 3)
        Curation.stratifiedSample(asg, col("cid").cast("string"), col("id"),
            (0 until 8).map(i => i.toString -> 6).toMap)
          .select(col("id").as("vec_id"), col("cid").as("cluster_id"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $kmChain
        SELECT vec_id, cluster_id FROM (
          SELECT vec_id, cid AS cluster_id,
            ROW_NUMBER() OVER (PARTITION BY cid
              ORDER BY ${oH48("CAST(vec_id AS VARCHAR)")}, vec_id) AS rk
          FROM a4)
        WHERE rk <= 6 ORDER BY vec_id""")),

    // Cluster scorecard: the trained k-means strata joined back to the
    // document metadata (vec_id ≡ doc_id in this corpus) — the audit a
    // curation pipeline runs after clustering ("which sources/languages
    // does each embedding mode hold, and how much text") before deciding
    // per-cluster mixes. One co-partitioned equi-join on the id and a
    // tiny (k × sources) aggregate; nothing but the scans grows at
    // 100 TB.
    "l123_cluster_scorecard" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        val asg = Similarity.kMeansAssign(prep, "id", k = 8, iters = 3)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        asg.join(docs, col("id") === col("doc_id"))
          .groupBy(col("cid"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_total"),
            countDistinct(col("lang")).as("n_langs"))
          .select(col("cid").as("cluster_id"), col("source"),
            col("n_docs"), col("chars_total"), col("n_langs"))
          .orderBy(col("cluster_id"), col("source"))
      },
      Some(s"""WITH $kmChain
        SELECT a.cid AS cluster_id, doc.source,
          COUNT(*) AS n_docs,
          CAST(SUM(doc.n_chars) AS BIGINT) AS chars_total,
          CAST(COUNT(DISTINCT doc.lang) AS BIGINT) AS n_langs
        FROM a4 a JOIN documents doc ON a.vec_id = doc.doc_id
        GROUP BY a.cid, doc.source
        ORDER BY cluster_id, doc.source""")),

    // Streaming cluster routing against a FROZEN quantizer: the batch
    // corpus trains the l121 centroids once, then the same vectors
    // arrive as a STREAM (three file-slices, one per micro-batch) and
    // are routed by the stateless narrow argmin — online ingestion
    // assignment (route new documents to their embedding mode at
    // arrival time). Exactness: routing carries no state and no
    // shuffle, so the streamed assignment is bit-identical to the batch
    // one — the oracle is literally the batch a4 assignment.
    "l124_streaming_cluster_assign" -> Def(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val prep = Similarity.prepare(
          emb.withColumnRenamed("vec_id", "id"), "embedding")
        val cents = Similarity.kMeansCentroids(prep, "id", k = 8, iters = 3)
        Q.streamGate("graft_l124") { g =>
          val in = g.stage(embSlices(s, d))
          val out = s"${g.dir}/out"
          g.run(ckpt => Similarity.routeToCentroids(
              Similarity.prepare(in.stream(s), "embedding"), cents)
            .select(col("vec_id"), col("cid"))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).trigger(g.trigger).start())
          s.read.parquet(out)
            .select(col("vec_id"), col("cid").as("cluster_id"))
            .orderBy(col("vec_id"))
        }
      },
      Some(s"""WITH $kmChain
        SELECT vec_id, cid AS cluster_id FROM a4 ORDER BY vec_id""")),

    // Embedding-space outlier detection: per trained cluster, the 3
    // members FARTHEST from their centroid — the curation pass that
    // surfaces mislabeled/garbage/off-distribution documents before
    // they train (the prototype-distance filter of SemDeDup/CLIP-score
    // pipelines, distance-to-centroid form). Exactness: within one
    // cluster the denominator n is constant, so ranking by the
    // n²-scaled integer d2num IS ranking by distance — no division, no
    // doubles. Scale: reuses sourceQuota's salted two-pass window (rank
    // within (cluster, salt-bucket) first), so 8 clusters at 100 TB
    // never funnel into 8 tasks.
    "l125_embedding_outliers" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        val asg = Similarity.kMeansAssign(prep, "id", k = 8, iters = 3)
        Curation.sourceQuota(asg, col("cid"), col("id"),
            col("d2num"), n = 3)
          .select(col("cid").as("cluster_id"), col("id").as("vec_id"),
            col("d2num"))
          .orderBy(col("cluster_id"), col("d2num").desc, col("vec_id"))
      },
      Some(s"""WITH $kmChain
        SELECT cid AS cluster_id, vec_id, CAST(d2num AS BIGINT) AS d2num
        FROM (SELECT cid, vec_id, d2num,
            ROW_NUMBER() OVER (PARTITION BY cid
              ORDER BY d2num DESC, vec_id ASC) AS rk
          FROM a4)
        WHERE rk <= 3
        ORDER BY cluster_id, d2num DESC, vec_id""")),

    // HTML -> text extraction (the web-corpus cleaning stage): each doc
    // is wrapped in a deterministic page — title, a style block, a
    // script whose BODY contains a stray '<' (the case that forces
    // block-removal before tag-stripping), the text in a <p>, and an
    // entity-escaped nav footer — then TextAnalysis.htmlToText strips
    // it back to clean text and htmlTitle pulls the title. The operator
    // is a pure codegen'd regexp chain on the narrow scan path (no UDF,
    // no shuffle); the oracle replays the identical pattern chain in
    // DuckDB (the Java-regex/RE2-agreeing subset).
    "l126_html_extract" -> Def(
      (s, d) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit(" - "), col("source"),
          lit("</title><style>p{color:red}</style>"),
          lit("<script>var x = 1 < 2 && true;</script></head>"),
          lit("<body><h1>Doc "), col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"),
          lit("</p><div class=\"nav\">HOME | ABOUT &amp; CONTACT</div>" +
            "</body></html>"))
        t(s, d, "documents").select(col("doc_id"),
            TA.htmlTitle(html).as("title"),
            md5(TA.htmlToText(html)).as("clean_md5"),
            length(TA.htmlToText(html)).cast("long").as("clean_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH h AS (SELECT doc_id,
          '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' - '
            || source || '</title><style>p{color:red}</style>'
            || '<script>var x = 1 < 2 && true;</script></head>'
            || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
            || text || '</p><div class="nav">HOME | ABOUT &amp; CONTACT'
            || '</div></body></html>' AS html
          FROM documents),
        x AS (SELECT doc_id,
          regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
          trim($oHtmlClean) AS clean
          FROM h)
        SELECT doc_id, title, md5(clean) AS clean_md5,
          CAST(length(clean) AS BIGINT) AS clean_len
        FROM x ORDER BY doc_id""")),

    // URL canonicalization — the crawl-curation FRONT DOOR's key
    // normalization (C4/RefinedWeb filter and dedup by URL before
    // touching any text). Each doc gets a deterministically messy URL
    // (mixed case, www, default/non-default ports, duplicate slashes,
    // tracking params, unsorted queries, fragments); the operator is a
    // pure codegen'd regexp/HOF chain on the narrow scan path — zero
    // shuffles, no UDF — and the oracle replays the identical pattern
    // chain (the Java-regex/RE2-agreeing subset; DuckDB needs its 'g'
    // flag where Spark replaces globally).
    "l127_url_canonicalize" -> Def(
      (s, d) => {
        val withUrl = t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", synthUrl)
        withUrl.select(col("doc_id"), col("url"),
            Curation.urlCanonicalize(col("url")).as("url_canon"))
          .withColumn("host", Curation.urlHost(col("url_canon")))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH u0 AS (SELECT doc_id, source, $oSynthUrl AS url
          FROM documents),
        ${oUrlCanon("u0", "cx")}
        SELECT doc_id, url, url_canon, $oUrlHost AS host
        FROM cx4 ORDER BY doc_id""")),

    // Registrable domain (eTLD+1) via the broadcast public-suffix table:
    // the key crawl pipelines group by for per-site quotas and
    // blocklists ("news.bbc.co.uk" -> "bbc.co.uk", not "co.uk"). Scale
    // shape: label arithmetic + one LEFT BROADCAST JOIN per suffix
    // depth — no explode, no re-aggregation, zero exchanges
    // (CurationSpec pins the plan).
    "l128_registrable_domain" -> Def(
      (s, d) => {
        val withHost = t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", synthUrl)
          .withColumn("host",
            Curation.urlHost(Curation.urlCanonicalize(col("url"))))
        Curation.registrableDomain(withHost, col("host"))
          .select(col("doc_id"), col("host"), col("domain"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH u0 AS (SELECT doc_id, source, $oSynthUrl AS url
          FROM documents),
        ${oUrlCanon("u0", "cx")},
        h0 AS (SELECT doc_id, $oUrlHost AS host FROM cx4),
        ${oDomain("h0", "dx")}
        SELECT doc_id, host, domain FROM dx4 ORDER BY doc_id""")),

    // The composed URL front door: canonicalize -> URL-dedup (first
    // crawl wins) -> domain blocklist -> per-domain cap, each doc
    // labeled with its verdict — the whole pre-text admission pipeline
    // a crawl curation pass runs BEFORE fetching/cleaning any body
    // text. A re-crawl wave (every 9th page under a www/fragment
    // variant of its URL) exercises the dedup stage; the stage order is
    // the contract (a dup of a blocked page is reject_dup). The
    // blocklist rides a BROADCAST join (the at-scale shape for a
    // millions-of-domains list); the cap rank is one window per domain
    // (small per-domain groups here — the production kept-set path is
    // Curation.sourceQuota's salted two-pass rank).
    "l129_url_front_door" -> Def(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", synthUrl)
        val copies = base
          .withColumn("url_canon", Curation.urlCanonicalize(col("url")))
          .filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
            concat(regexp_replace(col("url_canon"),
              "^(https?)://", "$1://www."), lit("#copy")).as("url"))
        val all = base.select(col("doc_id"), col("source"), col("url"))
          .unionByName(copies)
          .withColumn("url_canon", Curation.urlCanonicalize(col("url")))
          .withColumn("host", Curation.urlHost(col("url_canon")))
        val dom = Curation.registrableDomain(all, col("host"))
        val blockDf = s.createDataset(
          Seq("src3.com", "src5.co.uk", "src7.github.io"))(
          org.apache.spark.sql.Encoders.STRING).toDF("__blocked_domain")
        val labeled = dom
          .withColumn("first_seen",
            min(col("doc_id")).over(Window.partitionBy(col("url_canon"))))
          .join(broadcast(blockDf),
            col("domain") === col("__blocked_domain"), "left")
          .withColumn("is_dup", col("doc_id") > col("first_seen"))
          .withColumn("is_blocked", col("__blocked_domain").isNotNull)
        val rejects = labeled.filter(col("is_dup") || col("is_blocked"))
          .select(col("doc_id"), col("domain"),
            when(col("is_dup"), "reject_dup")
              .otherwise("reject_blocked").as("verdict"),
            when(col("is_dup"), col("first_seen"))
              .otherwise(lit(null).cast("long")).as("dup_of"))
        val capped = labeled.filter(!col("is_dup") && !col("is_blocked"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("domain")).orderBy(col("doc_id"))))
          .select(col("doc_id"), col("domain"),
            when(col("rk") <= 8, "admit")
              .otherwise("reject_domain_cap").as("verdict"),
            lit(null).cast("long").as("dup_of"))
        rejects.unionByName(capped).orderBy(col("doc_id"))
      },
      Some(s"""WITH u0 AS (SELECT doc_id, source, $oSynthUrl AS url
          FROM documents),
        ${oUrlCanon("u0", "cx")},
        cp AS (SELECT doc_id + 100000 AS doc_id, source,
            regexp_replace(url_canon, '^(https?)://', '\\1://www.')
              || '#copy' AS url
          FROM cx4 WHERE doc_id % 9 = 0),
        a0 AS (SELECT doc_id, source, url FROM u0
          UNION ALL SELECT doc_id, source, url FROM cp),
        ${oUrlCanon("a0", "bx")},
        h0 AS (SELECT doc_id, url_canon, $oUrlHost AS host FROM bx4),
        ${oDomain("h0", "dx")},
        f0 AS (SELECT doc_id, url_canon, domain,
            MIN(doc_id) OVER (PARTITION BY url_canon) AS first_seen,
            domain IN ('src3.com', 'src5.co.uk', 'src7.github.io')
              AS is_blocked
          FROM dx4),
        sv AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
              ORDER BY doc_id) AS rk
          FROM f0 WHERE doc_id = first_seen AND NOT is_blocked),
        res AS (
          SELECT doc_id, domain, 'reject_dup' AS verdict,
              first_seen AS dup_of
            FROM f0 WHERE doc_id > first_seen
          UNION ALL
          SELECT doc_id, domain, 'reject_blocked' AS verdict,
              CAST(NULL AS BIGINT) AS dup_of
            FROM f0 WHERE doc_id = first_seen AND is_blocked
          UNION ALL
          SELECT doc_id, domain,
              CASE WHEN rk <= 8 THEN 'admit'
                ELSE 'reject_domain_cap' END AS verdict,
              CAST(NULL AS BIGINT) AS dup_of
            FROM sv)
        SELECT doc_id, domain, verdict, CAST(dup_of AS BIGINT) AS dup_of
        FROM res ORDER BY doc_id""")),

    // Main-content extraction by block text-density (the trafilatura/
    // boilerpipe shape): each doc is wrapped in a full page — head with
    // title/style/script, a link-only nav bar, a short h1, the body
    // text in a <p>, a second paragraph CONTAINING a link, a link-list
    // <aside> sidebar, a link-only footer — and extractMainContent must
    // keep exactly the two paragraphs: blocks survive on length >= 20
    // AND link-density < 0.5, so the nav/aside/footer (mostly anchor
    // text) and the h1 (short) provably drop while tag-stripping
    // htmlToText keeps them all (flat_len >> main_len). Pure
    // regexp/HOF split-score-filter chain, no UDF, narrow scan path;
    // the oracle replays block splitting + scoring verbatim.
    "l130_main_content" -> Def(
      (s, d) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p{color:red}</style>" +
            "<script>var x = 1 < 2;</script></head><body>" +
            "<div class=\"nav\"><a href=\"/\">Home</a> | " +
            "<a href=\"/a\">About</a> | <a href=\"/c\">Contact</a></div>" +
            "<h1>Doc "), col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"),
          lit("</p><p>Read the full <a href=\"/r\">annual report</a>" +
            " for source "), col("source"),
          lit(" details.</p><aside><ul><li><a href=\"/1\">Latest breaking" +
            " news</a></li><li><a href=\"/2\">Top trending stories</a>" +
            "</li></ul></aside><footer><a href=\"/p\">Privacy Policy</a>" +
            " | <a href=\"/t\">Terms of Service</a></footer>" +
            "</body></html>"))
        val main = TA.extractMainContent(html)
        t(s, d, "documents").select(col("doc_id"),
            md5(main).as("main_md5"),
            length(main).cast("long").as("main_len"),
            length(TA.htmlToText(html)).cast("long").as("flat_len"))
          .orderBy(col("doc_id"))
      },
      Some({
        val keep = s"length(${oBClean("b")}) >= 20 AND " +
          s"2 * length(${oBClean(oLinkJoin("b"))}) < length(${oBClean("b")})"
        s"""WITH h AS (SELECT doc_id,
            '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
            '</title><style>p{color:red}</style>' ||
            '<script>var x = 1 < 2;</script></head><body>' ||
            '<div class="nav"><a href="/">Home</a> | ' ||
            '<a href="/a">About</a> | <a href="/c">Contact</a></div>' ||
            '<h1>Doc ' || CAST(doc_id AS VARCHAR) ||
            '</h1><p>' || text ||
            '</p><p>Read the full <a href="/r">annual report</a>' ||
            ' for source ' || source ||
            ' details.</p><aside><ul><li><a href="/1">Latest breaking' ||
            ' news</a></li><li><a href="/2">Top trending stories</a>' ||
            '</li></ul></aside><footer><a href="/p">Privacy Policy</a>' ||
            ' | <a href="/t">Terms of Service</a></footer>' ||
            '</body></html>' AS html
          FROM documents),
        nh AS (SELECT doc_id, html,
            regexp_replace(regexp_replace(regexp_replace(html,
              '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS body
          FROM h),
        bl AS (SELECT doc_id, html,
            list_filter(string_split_regex(body,
              '${TA.blockTagPattern}'),
              b -> $keep) AS kept
          FROM nh),
        m AS (SELECT doc_id, html,
            trim(regexp_replace(COALESCE(array_to_string(
              list_transform(kept, b -> ${oBClean("b")}), ' '), ''),
              '\\s+', ' ', 'g')) AS main
          FROM bl)
        SELECT doc_id, md5(main) AS main_md5,
          CAST(length(main) AS BIGINT) AS main_len,
          CAST(length(trim($oHtmlClean)) AS BIGINT) AS flat_len
        FROM m ORDER BY doc_id"""
      })),

    // K-means with deterministic FARTHEST-POINT seeding — the l121
    // training with the k-means++-shape seed rule (greedy max-min
    // spread instead of the k lowest ids, RNG-free so every engine
    // reproduces it; DedupSpec pins the inertia win on skew). Same
    // exact-rational Lloyd rounds, same output shape as l121; the
    // oracle unrolls the 8 seed selections (each an exact-BIGINT
    // min-d² argmax, ties to the lowest vec_id) and then reuses the
    // l121 round replay verbatim.
    "l131_kmeans_farthest_seeds" -> Def(
      (s, d) => {
        val prep = Similarity.prepare(
          t(s, d, "embeddings").withColumnRenamed("vec_id", "id"),
          "embedding")
        Similarity.kMeans(prep, "id", k = 8, iters = 3,
            seeding = Similarity.SeedFarthestPoint)
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH $kmChainFp
        SELECT c.cid AS cluster_id,
          COALESCE(m.n_members, 0) AS n_members,
          c.n AS n_cent,
          CAST(COALESCE(m.inertia_num, 0) AS BIGINT) AS inertia_num,
          CAST(list_sum(list_transform(generate_series(1, 64),
            j -> j * c.sv[j])) AS BIGINT) AS sv_checksum,
          CAST(c.ss AS BIGINT) AS ss
        FROM c3 c LEFT JOIN (
          SELECT cid, COUNT(*) AS n_members, SUM(d2num) AS inertia_num
          FROM a4 GROUP BY cid) m USING (cid)
        ORDER BY cluster_id""")),

    // CCNet-shape n-gram LM coverage filter: train a bigram LM on the
    // clean reference slice (doc_id % 5 = 0), cap the vocabulary to the
    // top 500 by (count desc, gram) — the cap that bounds the broadcast
    // at any reference size, and it BINDS here (41% OOV) — then score
    // every document by the exact-integer log2-magnitude sum of its
    // bigram counts and cut head/middle/tail at the frozen quantile
    // thresholds (280/242 = this corpus's quartiles). The portable
    // stand-in for KenLM perplexity: ln() differs in the last ulp
    // across libms, length(bin(cnt+1)) is the same ordering in exact
    // integers both engines agree on. Shape: narrow per-doc bigram
    // flatten, broadcast LM join, one map-side-combinable re-agg.
    "l132_lm_coverage_filter" -> Def(
      (s, d) => {
        import graft.ops.LangModel
        val docs = graft.queries.Q.wide(t(s, d, "documents"))
        val lm = LangModel.bigramLm(
          docs.filter(col("doc_id") % 5 === 0), "text", vocab = 500)
        LangModel.coverageScore(docs, "doc_id", "text", lm)
          .withColumn("bucket",
            LangModel.coverageBucket(col("fluency_x100"), 280L, 242L))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents),
        bg AS (SELECT doc_id, CASE WHEN len(t) >= 2
            THEN list_transform(generate_series(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1])
            ELSE CAST([] AS VARCHAR[]) END AS grams FROM tk),
        lm AS (SELECT gram, COUNT(*) AS cnt FROM
            (SELECT unnest(grams) AS gram FROM bg WHERE doc_id % 5 = 0)
          GROUP BY gram ORDER BY cnt DESC, gram LIMIT 500),
        ex AS (SELECT doc_id, unnest(grams) AS gram FROM bg),
        sc0 AS (SELECT e.doc_id, COUNT(e.gram) AS n_bigrams,
            SUM(CASE WHEN l.cnt IS NULL THEN 1 ELSE 0 END) AS oov,
            SUM(length(bin(COALESCE(l.cnt, 0) + 1))) AS fl
          FROM ex e LEFT JOIN lm l USING (gram) GROUP BY e.doc_id),
        sc AS (SELECT d.doc_id,
            CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
            CAST(COALESCE(s.oov, 0) AS BIGINT) AS oov_bigrams,
            CAST(COALESCE(s.fl, 0) AS BIGINT) AS fluency_num,
            CAST(COALESCE(s.fl, 0) * 100
              // GREATEST(COALESCE(s.n_bigrams, 0), 1) AS BIGINT)
              AS fluency_x100
          FROM documents d LEFT JOIN sc0 s USING (doc_id))
        SELECT doc_id, n_bigrams, oov_bigrams, fluency_num, fluency_x100,
          CASE WHEN fluency_x100 >= 280 THEN 'head'
               WHEN fluency_x100 >= 242 THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM sc ORDER BY doc_id""")),

    // fastText/DCLM-shape hashed linear classifier, trained and applied
    // IN-ENGINE: tokens hash into 64 feature slots, per-slot weights are
    // the exact integer gcd-normalized cross-difference
    // c_pos*(N_neg/g) - c_neg*(N_pos/g) over
    // the labeled slices (positive = doc_id % 3 = 0 here — the labels
    // are the harness, the OPERATOR is the contract), inference is a
    // zero-shuffle narrow fold over the 64 inlined weights. The oracle
    // retrains the same weights relationally and scores by join —
    // structurally different plan, bit-identical integers.
    "l133_hashed_classifier" -> Def(
      (s, d) => {
        import graft.ops.LangModel
        val docs = t(s, d, "documents")
        val w = LangModel.trainHashedClassifier(docs, "text",
          col("doc_id") % 3 === 0, buckets = 64)
        LangModel.linearScore(docs, "doc_id", "text", w)
          .select(col("doc_id"), col("score_num"),
            (col("score_num") > 0L).as("pred"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id,
            unnest(string_split(text, ' ')) AS tok FROM documents),
        st AS (SELECT doc_id, (doc_id % 3 = 0) AS pos,
            ${oH48("tok")} % 64 AS slot FROM tk),
        cnts AS (SELECT slot,
            CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
            CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
          FROM st GROUP BY slot),
        tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS np0,
            CAST(SUM(cn) AS BIGINT) AS nn0 FROM cnts),
        tg AS (SELECT np0 // GREATEST(gcd(np0, nn0), 1) AS np,
            nn0 // GREATEST(gcd(np0, nn0), 1) AS nn FROM tot),
        w AS (SELECT slot, cp * (SELECT nn FROM tg)
            - cn * (SELECT np FROM tg) AS wv FROM cnts),
        sc AS (SELECT s.doc_id, SUM(w.wv) AS score
          FROM st s JOIN w USING (slot) GROUP BY s.doc_id)
        SELECT doc_id, CAST(score AS BIGINT) AS score_num,
          score > 0 AS pred
        FROM sc ORDER BY doc_id""")),

    // LEARNED language ID (r13) — l133's hashed features composed into a
    // multi-class router, fastText's flagship use: per-language
    // one-vs-rest RATE-difference weights (fixed-point ppm — a COMMON
    // scale across classes, unlike the binary cross-difference whose
    // N_pos·N_neg magnitude differs per class) trained on the
    // marker-labeled slices, routed by first-max-wins argmax. The output
    // is the learned-vs-rule agreement audit every curation pass wants:
    // marker label, learned label, winner score, agree flag. All
    // integer arithmetic (non-negative division operands, so floor==
    // trunc) — the oracle retrains all five models relationally.
    "l137_learned_langid" -> Def(
      (s, d) => {
        import graft.ops.LangModel
        val docs = t(s, d, "documents")
        val labeled = docs.withColumn("lang_marker", TA.langId(col("text")))
        // all five one-vs-rest models trained in ONE corpus scan —
        // bit-identical to five separate trainings (spec-pinned)
        val models = LangModel.trainRateWeightsMulti(labeled, "text",
          col("lang_marker"), TA.langMarkers.map(_._1), buckets = 64)
        LangModel.routeArgmax(labeled, "doc_id", "text", models,
            out = "lang_learned")
          .select(col("doc_id"), col("lang_marker"), col("lang_learned"),
            col("lang_learned_score"),
            (col("lang_marker") === col("lang_learned")).as("agree"))
          .orderBy(col("doc_id"))
      },
      Some {
        val codes = TA.langMarkers.map(_._1)
        val mExprs = TA.langMarkers.map { case (c, ms) =>
          c -> s"len(list_filter($oToks, tk -> tk IN (${
            ms.map(m => s"'$m'").mkString(",")})))"
        }
        val allM = mExprs.map(e => s"m_${e._1}").mkString(", ")
        val firstMaxM = mExprs.map { case (c, _) =>
          s"WHEN m_$c >= GREATEST($allM) THEN '$c'"
        }.mkString(" ")
        val allS = codes.map(c => s"s_$c").mkString(", ")
        val learnedCase = "CASE " + codes.map(c =>
          s"WHEN s_$c >= GREATEST($allS) THEN '$c'").mkString(" ") + " END"
        s"""WITH m0 AS (SELECT doc_id,
            ${mExprs.map { case (c, e) => s"$e AS m_$c" }.mkString(", ")}
          FROM documents),
        lab AS (SELECT doc_id, CASE WHEN GREATEST($allM) = 0 THEN 'und'
            $firstMaxM END AS lang_marker FROM m0),
        tk AS (SELECT doc_id, unnest($oToks) AS tok FROM documents),
        st AS (SELECT t.doc_id, lab.lang_marker AS lang,
            ${oH48("tok")} % 64 AS slot
          FROM tk t JOIN lab USING (doc_id)),
        cnts AS (SELECT slot, CAST(COUNT(*) AS BIGINT) AS ct,
            ${codes.map(c => s"CAST(SUM(CASE WHEN lang = '$c' THEN 1 " +
              s"ELSE 0 END) AS BIGINT) AS cp_$c").mkString(", ")}
          FROM st GROUP BY slot),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nall,
            ${codes.map(c =>
              s"CAST(SUM(cp_$c) AS BIGINT) AS np_$c").mkString(", ")}
          FROM cnts),
        w AS (SELECT slot, ${codes.map(c =>
            s"""(CASE WHEN t.np_$c = 0 THEN 0
              ELSE (cp_$c * 1000000) // t.np_$c END)
            - (CASE WHEN t.nall - t.np_$c = 0 THEN 0
              ELSE ((ct - cp_$c) * 1000000) // (t.nall - t.np_$c) END)
            AS w_$c""").mkString(", ")}
          FROM cnts, tot t),
        sc AS (SELECT s.doc_id, ${codes.map(c =>
            s"CAST(SUM(w.w_$c) AS BIGINT) AS s_$c").mkString(", ")}
          FROM st s JOIN w USING (slot) GROUP BY s.doc_id),
        -- zero-token documents have no st rows: LEFT JOIN + COALESCE
        -- keeps them scored 0, matching routeArgmax's withColumn
        -- semantics (r13 advice — latent desync, no fixture hits it)
        scf AS (SELECT lab.doc_id, lab.lang_marker, ${codes.map(c =>
            s"CAST(COALESCE(s_$c, 0) AS BIGINT) AS s_$c").mkString(", ")}
          FROM lab LEFT JOIN sc USING (doc_id))
        SELECT doc_id, lang_marker, $learnedCase AS lang_learned,
          GREATEST($allS) AS lang_learned_score,
          (lang_marker = $learnedCase) AS agree
        FROM scf ORDER BY doc_id"""
      }),

    // Embedding-cosine DECONTAMINATION (r13): the cross-set semantic
    // form — flag corpus vectors whose cosine to any eval vector
    // reaches τ = 95/100, decided in exact rational arithmetic
    // (dot²·den² vs num²·‖c‖²·‖e‖² on DECIMAL(38,0)/HUGEINT — zero
    // floats in the verdict). The corpus carries PLANTED ×2-scaled
    // copies of every vector (cosine ≈ 1 after quantization — the
    // paraphrase-leak shape n-gram decontamination misses): the gate
    // must flag each eval vector's literal presence AND its scaled
    // double, and nothing else at this τ.
    "l142_embed_decontaminate" -> Def(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // planted ids start at max(vec_id)+1 — derived, not hard-coded,
        // so no fixture can ever collide planted with real ids (the
        // oracle mirrors via a scalar subquery; r13 advice). One-row
        // driver collect, the documented bounded class.
        val off = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
        val planted = emb.select((col("vec_id") + off).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val corpus = Similarity.prepare(
          emb.select(col("vec_id"), col("embedding")).unionByName(planted)
            .withColumnRenamed("vec_id", "id"), "embedding")
        val evalSet = Similarity.prepare(
          emb.filter(col("vec_id") % 17 === 3)
            .select(col("vec_id").as("id"), col("embedding")), "embedding")
        Similarity.embedDecontaminate(corpus, evalSet,
            tauNum = 95, tauDen = 100)
          .select(col("id").as("vec_id"), col("n_hits"),
            col("first_eval_id"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH src AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
            list_transform(embedding, x -> x * CAST(2 AS REAL))
          FROM embeddings),
        qe2 AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(CASE WHEN x >= 0
              THEN FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5)
              ELSE CEIL(CAST(x AS DOUBLE) * 10000 - 0.5) END AS BIGINT))
            AS q
          FROM src),
        qn2 AS (SELECT vec_id, q,
            CAST(list_sum(list_transform(generate_series(1, 64),
              i -> q[i] * q[i])) AS BIGINT) AS norm_sq
          FROM qe2),
        ev AS (SELECT vec_id AS eid, q AS eq, norm_sq AS en FROM qn2
          WHERE vec_id % 17 = 3
            AND vec_id <= (SELECT MAX(vec_id) FROM embeddings)),
        ht AS (SELECT c.vec_id AS id, ev.eid
          FROM qn2 c CROSS JOIN ev
          WHERE ${oDot("c.q", "ev.eq")} > 0
            AND CAST(${oDot("c.q", "ev.eq")} AS HUGEINT)
              * ${oDot("c.q", "ev.eq")} * 10000
              >= CAST(9025 AS HUGEINT) * c.norm_sq * ev.en)
        SELECT id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
          MIN(eid) AS first_eval_id
        FROM ht GROUP BY id ORDER BY vec_id""")),

    // Cross-document REPEATED-SUBSTRING spans (r14): the suffix-array
    // dedup modality (Lee et al.) — maximal verbatim token spans >= 20
    // shared across documents, found by positional-fingerprint seeding +
    // diagonal gaps-and-islands extension (never all-pairs). The corpus
    // carries PLANTED 50-token spans: every doc_id % 7 == 2 with >= 60
    // tokens donates tokens 11..60 into an otherwise-unrelated planted
    // doc (unique junk words on both flanks) — document-level MinHash
    // at the registered threshold misses these (Jaccard ~ 0.4 on 3-gram
    // sets of a 70-token doc sharing 50 tokens — and far lower on
    // realistic 5k-token docs), yet every plant must surface as one
    // maximal span row with n_tokens >= 50. The fixture's natural
    // near-dup docs contribute their own maximal spans; the oracle
    // replays seed + extension exactly.
    "l143_repeated_spans" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        // planted ids start at max(doc_id)+1 — derived, collision-free
        // (same discipline as l142; one-row bounded driver collect)
        val off = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
        val tks = split(col("text"), " ", -1)
        def junk(tag: String) = array_join(
          transform(sequence(lit(1), lit(10)),
            k => concat_ws("", lit(tag), col("doc_id"), lit("x"), k)), " ")
        val planted = docs
          .filter(col("doc_id") % 7 === 2 && size(tks) >= 60)
          .select((col("doc_id") + off).as("doc_id"),
            concat_ws(" ", junk("ja"),
              array_join(slice(tks, 11, 50), " "), junk("jb")).as("text"))
        val corpus = docs.select(col("doc_id"), col("text"))
          .unionByName(planted)
        Dedup.repeatedSpans(corpus, "doc_id", "text", minLen = 20)
          .orderBy(col("id_a"), col("id_b"), col("a_start"), col("b_start"))
      },
      Some(s"""WITH srcp AS (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents
          WHERE doc_id % 7 = 2 AND len(string_split(text, ' ')) >= 60),
        pl AS (SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents)
            AS doc_id,
            array_to_string(list_transform(generate_series(1, 10),
              k -> 'ja' || doc_id || 'x' || k), ' ')
            || ' ' || array_to_string(t[11:60], ' ') || ' ' ||
            array_to_string(list_transform(generate_series(1, 10),
              k -> 'jb' || doc_id || 'x' || k), ' ') AS text
          FROM srcp),
        corpus AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM pl),
        tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        sh0 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            md5(array_to_string(t[i:i+19], ' ')) AS fp
          FROM tk, UNNEST(generate_series(1, GREATEST(len(t) - 19, 0)))
            AS g(i)),
        cap AS (SELECT doc_id, pos, fp FROM (SELECT *,
            COUNT(*) OVER (PARTITION BY fp) AS nb FROM sh0)
          WHERE nb <= 64),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
          FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        isl AS (SELECT *, pos_a - ROW_NUMBER()
            OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
          FROM pr)
        SELECT id_a, id_b, MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
          CAST(COUNT(*) + 19 AS BIGINT) AS n_tokens
        FROM isl GROUP BY id_a, id_b, diag, grp
        ORDER BY id_a, id_b, a_start, b_start""")),

    // REPEATED-SPAN EXCISION (r14): the removal step Lee et al. actually
    // apply — l143 finds the maximal cross-document spans, this rewrites
    // the corpus dropping each span's LATER occurrence (keep-first), so
    // a planted doc keeps its unique junk flanks but loses the 50 tokens
    // it shares with the lower-id original. Overlapping ranges union, so
    // the rewrite is independent of span row order; the oracle replays
    // the same chain and removal exactly, and every rewritten text —
    // not just removal counts — is hash-gated.
    "l146_excise_spans" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val off = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
        val tks = split(col("text"), " ", -1)
        // junk flanks SURFACE in this query's output (unlike l143), so
        // the planted id inside them is written explicitly — Spark 4's
        // lateral column aliasing would otherwise resolve a bare
        // `doc_id` to the just-aliased shifted id while DuckDB keeps
        // the source column, a silent text divergence
        def junk(tag: String) = array_join(
          transform(sequence(lit(1), lit(10)),
            k => concat_ws("", lit(tag), col("doc_id") + off,
              lit("x"), k)), " ")
        val planted = docs
          .filter(col("doc_id") % 7 === 2 && size(tks) >= 60)
          .select((col("doc_id") + off).as("pid"),
            concat_ws(" ", junk("ja"),
              array_join(slice(tks, 11, 50), " "), junk("jb")).as("text"))
          .withColumnRenamed("pid", "doc_id")
        val corpus = docs.select(col("doc_id"), col("text"))
          .unionByName(planted)
        val spans = Dedup.repeatedSpans(corpus, "doc_id", "text",
          minLen = 20)
        Dedup.exciseSpans(corpus, "doc_id", "text", spans)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH srcp AS (SELECT doc_id,
            doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS pid,
            string_split(text, ' ') AS t
          FROM documents
          WHERE doc_id % 7 = 2 AND len(string_split(text, ' ')) >= 60),
        pl AS (SELECT pid AS doc_id,
            array_to_string(list_transform(generate_series(1, 10),
              k -> 'ja' || pid || 'x' || k), ' ')
            || ' ' || array_to_string(t[11:60], ' ') || ' ' ||
            array_to_string(list_transform(generate_series(1, 10),
              k -> 'jb' || pid || 'x' || k), ' ') AS text
          FROM srcp),
        corpus AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM pl),
        tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        sh0 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            md5(array_to_string(t[i:i+19], ' ')) AS fp
          FROM tk, UNNEST(generate_series(1, GREATEST(len(t) - 19, 0)))
            AS g(i)),
        cap AS (SELECT doc_id, pos, fp FROM (SELECT *,
            COUNT(*) OVER (PARTITION BY fp) AS nb FROM sh0)
          WHERE nb <= 64),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
          FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        isl AS (SELECT *, pos_a - ROW_NUMBER()
            OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
          FROM pr),
        sp AS (SELECT id_a, id_b, MIN(pos_a) AS a_start,
            MIN(pos_b) AS b_start,
            CAST(COUNT(*) + 19 AS BIGINT) AS n_tokens
          FROM isl GROUP BY id_a, id_b, diag, grp),
        rg AS (SELECT id_b AS doc_id, b_start AS s,
            b_start + n_tokens AS e FROM sp),
        tkx AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tk
          FROM tk, UNNEST(generate_series(1, len(t))) AS g(i)),
        rem AS (SELECT DISTINCT tkx.doc_id, tkx.pos
          FROM tkx JOIN rg ON rg.doc_id = tkx.doc_id
            AND tkx.pos >= rg.s AND tkx.pos < rg.e)
        SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(COUNT(rem.pos) AS BIGINT) AS n_removed,
          COALESCE(array_to_string(
            list(x.tk ORDER BY x.pos) FILTER (WHERE rem.pos IS NULL),
            ' '), '') AS text_clean
        FROM tkx x LEFT JOIN rem
          ON rem.doc_id = x.doc_id AND rem.pos = x.pos
        GROUP BY x.doc_id ORDER BY x.doc_id""")),

    // STREAMING SPAN-INDEX MAINTENANCE (r14): Lee et al.'s scan run AT
    // INGEST — the corpus' positional fingerprints live in a bucketed
    // table; each micro-batch seeds its arrivals against the PRE-batch
    // index (zero corpus-side exchange), lands the detected spans as an
    // append-only changelog partition, then folds its own fingerprints
    // in (both replay-idempotent). Sources stream in two slices, the
    // planted span-carriers third — every plant must surface when it
    // ARRIVES, keep-first direction corpus→arrival; same-slice pairs
    // are by-design absent (within-batch dedup is a separate pass). The
    // oracle replays the per-batch index states exactly, including the
    // df-cap evaluated against each batch's own pre-state.
    "l148_streaming_span_index" -> Def(
      (s, d) => {
        val name = "graft_l148_idx"
        Seq(name, s"${name}_spans").foreach(freshTable(s, _))
        val docs = t(s, d, "documents")
        val off = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
        val tks = split(col("text"), " ", -1)
        def junk(tag: String) = array_join(
          transform(sequence(lit(1), lit(10)),
            k => concat_ws("", lit(tag), col("doc_id") + off,
              lit("x"), k)), " ")
        val planted = docs
          .filter(col("doc_id") % 7 === 2 && size(tks) >= 60)
          .select((col("doc_id") + off).as("pid"),
            concat_ws(" ", junk("ja"),
              array_join(slice(tks, 11, 50), " "), junk("jb")).as("text"))
          .withColumnRenamed("pid", "doc_id")
        val base = docs.select(col("doc_id"), col("text"))
        val maxId = off - 1L
        Q.streamGate("graft_l148") { g =>
          val in = g.stage(Seq(base.filter(col("doc_id") <= maxId / 2),
            base.filter(col("doc_id") > maxId / 2), planted))
          g.run(graft.ops.DedupIndex.startSpanMaintenance(s, in.stream(s),
            "doc_id", "text", name, _, minLen = 20, trigger = g.trigger))
        }
        s.table(s"${name}_spans")
          .select(col("id_a"), col("id_b"), col("a_start"),
            col("b_start"), col("n_tokens"))
          .orderBy(col("id_a"), col("id_b"), col("a_start"),
            col("b_start"))
      },
      Some(s"""WITH srcp AS (SELECT doc_id,
            doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS pid,
            string_split(text, ' ') AS t
          FROM documents
          WHERE doc_id % 7 = 2 AND len(string_split(text, ' ')) >= 60),
        pl AS (SELECT pid AS doc_id,
            array_to_string(list_transform(generate_series(1, 10),
              k -> 'ja' || pid || 'x' || k), ' ')
            || ' ' || array_to_string(t[11:60], ' ') || ' ' ||
            array_to_string(list_transform(generate_series(1, 10),
              k -> 'jb' || pid || 'x' || k), ' ') AS text
          FROM srcp),
        corpus AS (SELECT doc_id, text,
            CASE WHEN doc_id <= (SELECT MAX(doc_id) FROM documents) // 2
              THEN 0
              WHEN doc_id <= (SELECT MAX(doc_id) FROM documents) THEN 1
              ELSE 2 END AS sl
          FROM (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM pl)),
        tk AS (SELECT doc_id, sl, string_split(text, ' ') AS t
          FROM corpus),
        sh0 AS (SELECT doc_id, sl, CAST(i - 1 AS BIGINT) AS pos,
            md5(array_to_string(t[i:i+19], ' ')) AS fp
          FROM tk, UNNEST(generate_series(1, GREATEST(len(t) - 19, 0)))
            AS g(i)),
        fpc AS (SELECT fp,
            COUNT(*) FILTER (WHERE sl = 0) AS c0,
            COUNT(*) FILTER (WHERE sl <= 1) AS c01
          FROM sh0 GROUP BY fp),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
          FROM sh0 a JOIN sh0 b ON a.fp = b.fp AND a.sl < b.sl
          JOIN fpc ON fpc.fp = a.fp
          WHERE (b.sl = 1 AND fpc.c0 <= 64)
             OR (b.sl = 2 AND fpc.c01 <= 64)),
        isl AS (SELECT *, pos_a - ROW_NUMBER()
            OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
          FROM pr)
        SELECT id_a, id_b, MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
          CAST(COUNT(*) + 19 AS BIGINT) AS n_tokens
        FROM isl GROUP BY id_a, id_b, diag, grp
        ORDER BY id_a, id_b, a_start, b_start""")),

    // WITHIN-DOCUMENT REPEATED SPANS (r14): the self-repetition half of
    // Lee et al.'s dedup — a document repeating a long span INSIDE
    // itself (boilerplate pasted twice, scraper echo) is as much a
    // training hazard as the cross-doc form, and document-LEVEL dedup
    // can never see it. Every doc_id % 11 == 3 with >= 50 tokens gets
    // tokens 5..34 of itself appended; each plant must surface as a
    // maximal self row (id, a_start < b_start, n_tokens >= 30) from the
    // SAME diagonal extension, restricted to the (pos_a < pos_b)
    // self-join half so each internal repeat reports once.
    "l147_self_spans" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents")
        val tks = split(col("text"), " ", -1)
        val aug = docs.select(col("doc_id"),
          when(col("doc_id") % 11 === 3 && size(tks) >= 50,
            concat_ws(" ", col("text"), array_join(slice(tks, 6, 30), " ")))
            .otherwise(col("text")).as("text"))
        Dedup.repeatedSpans(aug, "doc_id", "text", minLen = 20,
            withinDoc = true)
          .filter(col("id_a") === col("id_b"))
          .select(col("id_a").as("doc_id"), col("a_start"),
            col("b_start"), col("n_tokens"))
          .orderBy(col("doc_id"), col("a_start"), col("b_start"))
      },
      Some(s"""WITH corpus AS (SELECT doc_id,
            CASE WHEN doc_id % 11 = 3
                AND len(string_split(text, ' ')) >= 50
              THEN text || ' ' ||
                array_to_string(string_split(text, ' ')[6:35], ' ')
              ELSE text END AS text
          FROM documents),
        tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        sh0 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            md5(array_to_string(t[i:i+19], ' ')) AS fp
          FROM tk, UNNEST(generate_series(1, GREATEST(len(t) - 19, 0)))
            AS g(i)),
        cap AS (SELECT doc_id, pos, fp FROM (SELECT *,
            COUNT(*) OVER (PARTITION BY fp) AS nb FROM sh0)
          WHERE nb <= 64),
        pr AS (SELECT a.doc_id AS doc_id,
            a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
          FROM cap a JOIN cap b ON a.fp = b.fp
            AND a.doc_id = b.doc_id AND a.pos < b.pos),
        isl AS (SELECT *, pos_a - ROW_NUMBER()
            OVER (PARTITION BY doc_id, diag ORDER BY pos_a) AS grp
          FROM pr)
        SELECT doc_id, MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
          CAST(COUNT(*) + 19 AS BIGINT) AS n_tokens
        FROM isl GROUP BY doc_id, diag, grp
        ORDER BY doc_id, a_start, b_start""")),

    // MAINTAINED k-means (r13): the frozen l124 quantizer UPDATED over a
    // stream — per micro-batch the arrivals route against the frozen
    // base and land exact (n, Σ)-deltas as centroid versions via the
    // idempotent partition protocol. Exactness: routing against the
    // frozen base makes the deltas order-independent, so the fold over
    // the three streamed slices equals one MORE batch Lloyd iteration
    // bit-for-bit — the oracle simply extends the l17/l124 replay chain
    // by a fourth update round (c4).
    "l138_maintained_centroids" -> Def(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val prep = Similarity.prepare(
          emb.withColumnRenamed("vec_id", "id"), "embedding")
        val base = Similarity.kMeansCentroids(prep, "id", k = 8, iters = 3)
        val tbl = freshTable(s, "graft_l138_cents")
        Q.streamGate("graft_l138") { g =>
          val in = g.stage(embSlices(s, d))
          g.run(Similarity.startCentroidMaintenance(s, in.stream(s), "vec_id",
            "embedding", base, tbl, _, g.trigger))
        }
        val cents = Similarity.centroidsAt(s, tbl, base)
        import s.implicits._
        cents.toSeq.map { case (cid, n, sv, ss) =>
          (cid, n, sv.zipWithIndex.map { case (v, j) => (j + 1L) * v }.sum,
            ss)
        }.toDF("cluster_id", "n", "sv_checksum", "ss")
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH $kmChain, ${kmUpdate("u4", "a4", "c3", "c4")}
        SELECT cid AS cluster_id, CAST(n AS BIGINT) AS n,
          CAST(list_sum(list_transform(generate_series(1, 64),
            j -> j * sv[j])) AS BIGINT) AS sv_checksum,
          CAST(ss AS BIGINT) AS ss
        FROM c4 ORDER BY cluster_id""")),

    // Maintained-quantizer EPOCH LIFECYCLE (r13): fold epoch 1's
    // streamed version, REFREEZE it as epoch 2's base, stream the
    // corpus again — the epoch-2 fold must equal batch Lloyd ITERS+2,
    // proving the maintained path composes: every refreeze is exactly
    // one more batch iteration, so the streamed quantizer converges on
    // the same trajectory the offline trainer walks (oracle: the replay
    // chain extended to c5).
    "l140_maintained_epoch2" -> Def(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val prep = Similarity.prepare(
          emb.withColumnRenamed("vec_id", "id"), "embedding")
        var base = Similarity.kMeansCentroids(prep, "id", k = 8, iters = 3)
        Q.streamGate("graft_l140") { g =>
          val in = g.stage(embSlices(s, d))
          (1 to 2).foreach { epoch =>
            val tbl = freshTable(s, s"graft_l140_cents_e$epoch")
            g.run(Similarity.startCentroidMaintenance(s, in.stream(s),
              "vec_id", "embedding", base, tbl, _, g.trigger))
            base = Similarity.centroidsAt(s, tbl, base) // the refreeze
          }
        }
        import s.implicits._
        base.toSeq.map { case (cid, n, sv, ss) =>
          (cid, n, sv.zipWithIndex.map { case (v, j) => (j + 1L) * v }.sum,
            ss)
        }.toDF("cluster_id", "n", "sv_checksum", "ss")
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH $kmChain, ${kmUpdate("u4", "a4", "c3", "c4")},
        ${kmAssign("a5", "c4")}, ${kmUpdate("u5", "a5", "c4", "c5")}
        SELECT cid AS cluster_id, CAST(n AS BIGINT) AS n,
          CAST(list_sum(list_transform(generate_series(1, 64),
            j -> j * sv[j])) AS BIGINT) AS sv_checksum,
          CAST(ss AS BIGINT) AS ss
        FROM c5 ORDER BY cluster_id""")),

    // Centroid DRIFT report (r13): per (landed batch, cid), the exact
    // integer L1 shift between consecutive centroid versions —
    // Σ_j |sv_cur_j·n_prev − sv_prev_j·n_cur| over denom n_prev·n_cur,
    // a cid's first batch shifting relative to the frozen base. The
    // report reads ONLY the k·dims-per-batch delta table (corpus size
    // never appears); the oracle recomputes the per-slice cumulative
    // versions relationally from the same assignment chain.
    "l139_centroid_drift" -> Def(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val prep = Similarity.prepare(
          emb.withColumnRenamed("vec_id", "id"), "embedding")
        val base = Similarity.kMeansCentroids(prep, "id", k = 8, iters = 3)
        val tbl = freshTable(s, "graft_l139_cents")
        Q.streamGate("graft_l139") { g =>
          val in = g.stage(embSlices(s, d))
          g.run(Similarity.startCentroidMaintenance(s, in.stream(s), "vec_id",
            "embedding", base, tbl, _, g.trigger))
        }
        Similarity.centroidDrift(s, tbl, base)
          .select(col("ingest_batch"), col("cid"), col("n_prev"),
            col("n_cur"), col("shift_l1_num"), col("denom"))
          .orderBy(col("ingest_batch"), col("cid"))
      },
      Some(s"""WITH $kmChain,
        mx AS (SELECT MAX(vec_id) AS m FROM embeddings),
        sl AS (SELECT vec_id, CASE WHEN vec_id <= m // 3 THEN 0
            WHEN vec_id <= (2 * m) // 3 THEN 1 ELSE 2 END AS b
          FROM embeddings CROSS JOIN mx),
        ad AS (SELECT sl.b, a.cid, a.q FROM a4 a JOIN sl USING (vec_id)),
        dx AS (SELECT b, cid, i AS j, SUM(q[i]) AS dsj, COUNT(*) AS dn
          FROM ad CROSS JOIN generate_series(1, 64) g(i)
          GROUP BY b, cid, i),
        cm AS (SELECT b, cid, j, SUM(dsj) OVER w AS csj,
            SUM(dn) OVER w AS cn
          FROM dx WINDOW w AS (PARTITION BY cid, j ORDER BY b)),
        lg AS (SELECT b, cid, j, csj, cn, LAG(csj) OVER w AS sjp,
            LAG(cn) OVER w AS cnp
          FROM cm WINDOW w AS (PARTITION BY cid, j ORDER BY b)),
        ce AS (SELECT cid, i AS j, n AS n0, sv[i] AS sv0
          FROM c3 CROSS JOIN generate_series(1, 64) g(i)),
        dr AS (SELECT l.b, l.cid,
            COALESCE(l.cnp, ce.n0) AS n_prev, l.cn AS n_cur,
            ABS(l.csj * COALESCE(l.cnp, ce.n0)
              - COALESCE(l.sjp, ce.sv0) * l.cn) AS t
          FROM lg l JOIN ce ON l.cid = ce.cid AND l.j = ce.j)
        SELECT CAST(b AS BIGINT) AS ingest_batch, cid,
          CAST(MAX(n_prev) AS BIGINT) AS n_prev,
          CAST(MAX(n_cur) AS BIGINT) AS n_cur,
          CAST(SUM(t) AS BIGINT) AS shift_l1_num,
          CAST(MAX(n_prev) * MAX(n_cur) AS BIGINT) AS denom
        FROM dr GROUP BY b, cid ORDER BY ingest_batch, cid""")),

    // STREAMING URL admission: the l127/l128 front-door derivation
    // (canonicalize -> host -> registrable domain) applied at INGESTION
    // time over a file stream (three doc_id-range slices, one per
    // micro-batch) — how a crawl pipeline keys URLs as pages arrive,
    // before anything lands. Exactness: the chain is stateless-narrow
    // regexp/HOF work plus stream-static BROADCAST joins (the suffix
    // table), so the streamed result is bit-identical to the batch one
    // — the oracle is literally the batch chain.
    "l134_streaming_url_admission" -> Def(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        Q.streamGate("graft_l134") { g =>
          val in = g.stage(Q.idSlices(docs, "doc_id", 3))
          val out = s"${g.dir}/out"
          val canon = in.stream(s).withColumn("url", synthUrl)
            .withColumn("url_canon", Curation.urlCanonicalize(col("url")))
            .withColumn("host", Curation.urlHost(col("url_canon")))
          g.run(ckpt => Curation.registrableDomain(canon, col("host"))
            .select(col("doc_id"), col("url_canon"), col("domain"))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).trigger(g.trigger).start())
          s.read.parquet(out).orderBy(col("doc_id"))
        }
      },
      Some(s"""WITH u0 AS (SELECT doc_id, source, $oSynthUrl AS url
          FROM documents),
        ${oUrlCanon("u0", "cx")},
        h0 AS (SELECT doc_id, url_canon, $oUrlHost AS host FROM cx4),
        ${oDomain("h0", "dx")}
        SELECT doc_id, url_canon, domain FROM dx4 ORDER BY doc_id"""))
  )

  /** DuckDB replay of TextAnalysis.blockClean over an arbitrary SQL
    * expression: strip tags, unescape entities (&amp; last), collapse
    * whitespace, trim — the per-block half of [[oHtmlClean]].
    */
  private def oBClean(v: String): String = {
    val steps = Seq(
      ("'<[^>]+>'", "' '"),
      ("'&lt;'", "'<'"), ("'&gt;'", "'>'"), ("'&quot;'", "'\"'"),
      ("'&#39;'", "CHR(39)"), ("'&nbsp;'", "' '"), ("'&amp;'", "'&'"),
      ("'\\s+'", "' '"))
    "trim(" + steps.foldLeft(v) { case (a, (p, r)) =>
      s"regexp_replace($a, $p, $r, 'g')" } + ")"
  }

  /** DuckDB replay of the anchor-inner-text join (link-density numerator):
    * Spark's array_join over regexp_extract_all is '' when no anchors
    * match; DuckDB's array_to_string of an empty list is NULL — COALESCE
    * restores the agreement (a link-free block must KEEP, not
    * NULL-propagate to dropped).
    */
  private def oLinkJoin(v: String): String =
    s"COALESCE(array_to_string(regexp_extract_all($v, " +
      s"'(?is)<a\\b[^>]*>(.*?)</a>', 1), ' '), '')"

  /** DuckDB replay of TextAnalysis.redact, generated from the SAME
    * redactionRules Seq the Spark side folds (patterns are the
    * RE2/Java-agreeing subset; 'g' restores Spark's replace-all).
    */
  private def oRedact(v: String): String =
    TA.redactionRules.foldLeft(s"($v)") { case (a, (p, r)) =>
      s"regexp_replace($a, '$p', '$r', 'g')"
    }

  /** The DuckDB replay of [[graft.ops.TextAnalysis.htmlToText]]'s
    * regexp chain over a column named `html`, built by the same fold as
    * the Scala side so the nesting can never desynchronize.
    */
  private def oHtmlClean: String = {
    val steps = Seq(
      ("'(?s)<script[^>]*>.*?</script>'", "' '"),
      ("'(?s)<style[^>]*>.*?</style>'", "' '"),
      ("'<[^>]+>'", "' '"),
      ("'&lt;'", "'<'"), ("'&gt;'", "'>'"), ("'&quot;'", "'\"'"),
      ("'&#39;'", "CHR(39)"), ("'&nbsp;'", "' '"), ("'&amp;'", "'&'"),
      ("'\\s+'", "' '"))
    steps.foldLeft("html") { case (acc, (p, r)) =>
      s"regexp_replace($acc, $p, $r, 'g')"
    }
  }

  /** The complete DuckDB k-means replay shared verbatim by the
    * l121–l125 oracles: quantization, seeds = the 8 lowest vec_ids,
    * three unrolled Lloyd rounds, ending in the final assignment CTE
    * `a4`. One definition so a change to k / iterations / the seed rule
    * can never desynchronize a subset of the oracles from
    * [[graft.ops.Similarity.kMeans]].
    */
  private def kmChain: String = kmChainFrom("",
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
              AS INTEGER) AS cid,
            CAST(1 AS BIGINT) AS n, q AS sv, norm_sq AS ss
          FROM qn WHERE vec_id IN
            (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)""")

  /** [[kmChain]] with a pluggable seed rule: `preCtes` (extra CTEs after
    * qn, empty or ", name AS (...)") feed a `c0` body producing
    * (cid, n, sv, ss) — the three Lloyd rounds and the final assignment
    * are shared verbatim, so seed variants can never diverge from the
    * trained-round replay.
    */
  private def kmChainFrom(preCtes: String, c0: String): String =
    s"""$oQuant$preCtes,
        c0 AS ($c0),
        ${kmAssign("a1", "c0")}, ${kmUpdate("u1", "a1", "c0", "c1")},
        ${kmAssign("a2", "c1")}, ${kmUpdate("u2", "a2", "c1", "c2")},
        ${kmAssign("a3", "c2")}, ${kmUpdate("u3", "a3", "c2", "c3")},
        ${kmAssign("a4", "c3")}"""

  /** DuckDB replay of Similarity.farthestPointSeeds, unrolled: fs1 = the
    * min-(hash48, id) row; round j computes every row's exact min-d² to
    * the chosen set (fm_j) and takes the max (fs_j), accumulating into
    * fsd_j with cid = selection ordinal. Seeds have n = 1, so d² =
    * norm_sq − 2·(q·sv) + ss is exact BIGINT end to end. Each fsd_j is
    * MATERIALIZED: round j+1 reads it twice (directly and through
    * fm/fs), so an inlined chain would copy fsd1 2^(k−1) times.
    */
  private def fpSeedChain(k: Int): String = {
    val b = new StringBuilder
    b ++= s"""fs1 AS (SELECT q AS sv, norm_sq AS ss FROM qn
        ORDER BY ${oH48("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 1),
      fsd1 AS MATERIALIZED (SELECT 0 AS cid, sv, ss FROM fs1)"""
    for (j <- 2 to k) {
      b ++= s""",
      fm$j AS (SELECT v.vec_id,
          MIN(v.norm_sq - 2 * ${oDot("v.q", "s.sv")} + s.ss) AS md
        FROM qn v CROSS JOIN fsd${j - 1} s GROUP BY v.vec_id),
      fs$j AS (SELECT qn.q AS sv, qn.norm_sq AS ss FROM qn
        JOIN fm$j USING (vec_id)
        ORDER BY fm$j.md DESC, qn.vec_id ASC LIMIT 1),
      fsd$j AS MATERIALIZED (SELECT * FROM fsd${j - 1}
        UNION ALL SELECT ${j - 1} AS cid, sv, ss FROM fs$j)"""
    }
    b.toString
  }

  /** Drop a managed table AND its leftover warehouse directory: a fresh
    * JVM's in-memory catalog forgets the table but the location
    * survives, and a later saveAsTable would fail with
    * LOCATION_ALREADY_EXISTS (the l138 lesson — every cross-run
    * maintained-table gate needs this, not just DROP IF EXISTS).
    */
  private def freshTable(s: SparkSession, name: String): String = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // DedupIndex also stages a table's batches under `<name>__stage`
    Seq(name, s"${name}__stage").foreach(n => rm(new java.io.File(wh, n)))
    name
  }

  /** The embeddings as three vec_id-range slices, the ordered stream
    * input of the l124/l138/l139/l140 gates. */
  private def embSlices(s: SparkSession, d: String): Seq[DataFrame] =
    Q.idSlices(t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
      "vec_id", 3)

  /** The k=8 farthest-point-seeded k-means chain (l131). */
  private def kmChainFp: String = kmChainFrom(
    s""",
      ${fpSeedChain(8)}""",
    "SELECT cid, CAST(1 AS BIGINT) AS n, sv, ss FROM fsd8")

  /** DuckDB k-means assignment round: nearest exact-rational centroid
    * (n²|x|² − 2n(x·sv) + |sv|², one double ÷n², ties to lowest cid) —
    * the verbatim replay of [[graft.ops.Similarity.kMeans]]'s fold.
    */
  private def kmAssign(a: String, cPrev: String): String =
    s"""$a AS (SELECT vec_id, q, norm_sq, cid, n, d2num FROM (
        SELECT v.vec_id, v.q, v.norm_sq, c.cid, c.n,
          c.n*c.n*v.norm_sq - 2*c.n*${oDot("v.q", "c.sv")} + c.ss AS d2num,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
            CAST(c.n*c.n*v.norm_sq - 2*c.n*${oDot("v.q", "c.sv")} + c.ss
              AS DOUBLE) / (c.n*c.n) ASC, c.cid ASC) AS rn
        FROM qn v CROSS JOIN $cPrev c) WHERE rn = 1)"""

  /** DuckDB k-means update round: per-(cid, dim) sums -> exact-rational
    * centroids; empty clusters keep the previous centroid.
    */
  private def kmUpdate(u: String, a: String, cPrev: String,
      cNew: String): String =
    s"""$u AS (SELECT cid, i, SUM(q[i]) AS s, COUNT(*) AS cnt
         FROM $a CROSS JOIN generate_series(1, 64) g(i) GROUP BY cid, i),
       $cNew AS (SELECT p.cid, COALESCE(un.n, p.n) AS n,
           COALESCE(un.sv, p.sv) AS sv, COALESCE(un.ss, p.ss) AS ss
         FROM $cPrev p LEFT JOIN (
           SELECT cid, MAX(cnt) AS n, list(s ORDER BY i) AS sv,
             SUM(s*s) AS ss FROM $u GROUP BY cid) un USING (cid))"""

  /** Shared harness for the stream-stream interval-join gates: derives
    * impressions (all events) and clicks (every 3rd event +10 min —
    * in-window; every 5th +2 h — out-of-window) from the events table,
    * stages BOTH sides as three event-time-ordered slices admitted one
    * file per trigger (matches span micro-batches; ordered admission is
    * the exactness precondition in [[graft.streaming.StreamingJoins]]),
    * runs the join to a parquet sink and returns the drained result.
    */
  private def runIntervalJoinStream(s: SparkSession, d: String,
      joinType: String, tag: String,
      extraCols: Seq[String] = Nil): DataFrame = {
    val e = t(s, d, "events")
    val imps = e.select(col("event_id").as("imp_id"),
      col("user_id"), col("ts").as("imp_ts"))
    val clicks = e.filter(col("event_id") % 3 === 0)
      .select((col("event_id") + 10000000L).as("click_id"),
        col("user_id").as("c_user"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("click_ts"))
      .unionByName(e.filter(col("event_id") % 5 === 0)
        .select((col("event_id") + 20000000L).as("click_id"),
          col("user_id").as("c_user"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("click_ts")))
    // shared absolute cut points: admission is event-time-ordered on
    // BOTH sides, so a batch never carries a row older than a prior
    // batch's rows
    val (tMin, tMax) = {
      val r = e.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      (r.getLong(0), r.getLong(1) + 1L)
    }
    val cut1 = tMin + (tMax - tMin) / 3
    val cut2 = tMin + 2L * (tMax - tMin) / 3
    def thirds(df: DataFrame, tsCol: String): Seq[DataFrame] = {
      val us = unix_micros(col(tsCol))
      Seq(us < cut1, us >= cut1 && us < cut2, us >= cut2).map(df.filter)
    }
    Q.streamGate(tag) { g =>
      val imp = g.stage(thirds(imps, "imp_ts"))
      val clk = g.stage(thirds(clicks, "click_ts"))
      val out = s"${g.dir}/out"
      // state partitions sized from the staged input, not core count —
      // the stream-stream join pays 4 state stores per partition per
      // micro-batch (see Q.withStreamParts)
      Q.withStreamParts(s, imp.bytes + clk.bytes) {
        val joined = graft.streaming.StreamingJoins.intervalJoin(
          imp.stream(s).withColumnRenamed("user_id", "entity"),
          clk.stream(s).withColumnRenamed("c_user", "entity"),
          keyCol = "entity", leftTs = "imp_ts", rightTs = "click_ts",
          windowMinutes = 30L, watermarkDelay = "45 minutes",
          joinType = joinType)
        g.run(ckpt => joined
          .select((Seq("click_id", "imp_id") ++ extraCols).map(col): _*)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt).trigger(g.trigger)
          .start(out))
      }
      s.read.parquet(out)
    }
  }
}
