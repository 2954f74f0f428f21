package graft

import graft.functions.TextFns
import graft.operators.{Dedup, MinHashLSH, SimHash, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EntrySupport._

/** Deduplication (training-data pipeline). */
private[graft] object DedupEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ── Dedup ───────────────────────────────────────────────────────────
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), col("text"), col("doc_id")).orderBy("h")),

    "dedup_fingerprint" -> ((s, dir) =>
      Dedup.fingerprintGroups(Tables.documents(s, dir), col("text"), col("doc_id")).orderBy("fp")),

    // CCNet-style paragraph-level exact dedup with document reassembly:
    // paragraphs (non-overlapping 20-token windows on this single-line
    // corpus) are deduplicated corpus-wide keep-first, and every document
    // is rebuilt from its surviving paragraphs — the pass CCNet/
    // RefinedWeb/Dolma run before any fuzzy dedup. Winner election is an
    // agg + digest join (map-side partials absorb hot paragraphs), never
    // a window over the digest.
    "dedup_paragraph" -> ((s, dir) =>
      Dedup
        .paragraphDedup(Tables.documents(s, dir), "doc_id", "text", paraTokens = 20)
        .select(col("id").as("doc_id"), col("n_paras"), col("n_kept"), col("kept_text"))
        .orderBy("doc_id")),

    // Cross-source duplicate-leakage matrix: for every source pair, how
    // many normalized fingerprints they share — the "is my web dump
    // contaminating my curated set" diagnostic a mixing decision needs
    // BEFORE dedup runs. Distinct (fingerprint, source) first, then a
    // digest-keyed self-join whose per-group fan-out is bounded by the
    // SOURCE COUNT (never by dup volume) — linear at any corpus size.
    "dedup_source_overlap" -> ((s, dir) => {
      val hs = Tables
        .documents(s, dir)
        .select(TextFns.fingerprint(col("text")).as("h"), col("source"))
        .distinct()
      hs.as("x")
        .join(hs.as("y"), col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("src_a", "src_b")
    }),

    "dedup_minhash_lsh" -> ((s, dir) =>
      MinHashLSH.nearDupPairs(Tables.documents(s, dir), "doc_id", "text", threshold = 0.5).orderBy("a", "b")),

    // Incremental dedup for an append-mostly corpus — the operation a
    // 100 TB pipeline runs daily: probe TODAY'S docs (doc_id % 7 == 3
    // plays the delta) against the memoized corpus artifact instead of
    // recomputing the corpus. DedupSpec proves incremental ∪ full(corpus)
    // ≡ full(corpus ∪ delta) pair-for-pair.
    "dedup_minhash_incremental" -> ((s, dir) => {
      val idx = cachedMinhashIndex(s, dir)
      MinHashLSH
        .incrementalPairs(idx, Tables.documents(s, dir).filter(col("doc_id") % 7 === 3), "doc_id", "text", threshold = 0.5)
        .orderBy("a", "b")
    }),

    // Asymmetric containment dedup over rare 3-grams (df <= 50): quote
    // inclusion / partial copies that symmetric Jaccard dilutes — both
    // directions emitted, threshold on the max.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5)),

    "dedup_simhash" -> ((s, dir) =>
      SimHash.nearDupPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3).orderBy("a", "b")),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // Seed the shared pair memo so dedup_components never recomputes
      // candidate generation; the entry itself still returns (and bench
      // still times) the real PPJoin+ computation.
      cachedNgramPairs(s, dir).count()
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.4).orderBy("a", "b")
    }),

    // Threshold calibrated to the synthetic corpus (max pairwise cosine
    // ~0.46): "near-dup" here = the far tail of the similarity histogram.
    // 32 tables because the threshold IS the far tail: hyperplane collision
    // at cos=0.35 is p=0.614/bit, so 6-bit sigs need ~32 OR-ed tables for
    // ~0.83 worst-case recall right at the boundary (ReplicaSpec measures
    // it against all-pairs truth).
    "dedup_embedding" -> ((s, dir) =>
      Similarity
        // nBits = 0 = auto occupancy-scaled signature width: resolves to
        // the measured 6-bit operating point at the gate SF (2 k vectors)
        // and widens with the corpus so candidate volume stays linear —
        // the pinned 6/32 was quadratic past ~10 k vectors (ReplicaSpec
        // pins the explicit-parameter recall contract).
        .embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.35, nBits = 0, tables = 32)
        .orderBy("a", "b")),

    // SemDeDup (Abbas '23): the same near-dup pairs blocked by k-means
    // CLUSTER instead of LSH tables — precision 1.0 (exact verify),
    // recall = the cross-cluster boundary loss (measured in ReplicaSpec).
    "dedup_semantic" -> ((s, dir) =>
      Similarity
        .semanticNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.35)
        .orderBy("a", "b")),


    // Pairs → clusters: connected components over the exact near-dup pair
    // graph (min-label propagation), the step that turns pairwise dedup
    // output into per-cluster survivors. Exact input + deterministic
    // algorithm → oracle-checkable via a recursive CTE.
    "dedup_components" -> ((s, dir) =>
      // Consumes the memoized pair table (built once per JVM, shared with
      // dedup_ngram_jaccard) — clustering no longer pays for candidate
      // generation a second time. The resulting label table is itself
      // memoized (cachedComponents) for downstream consumers.
      cachedComponents(s, dir)
        .withColumnRenamed("node", "doc_id")
        .orderBy("doc_id")),


    // Clusters → kept corpus: one canonical representative per dup
    // cluster (longest doc, ties to the smallest id), singletons their
    // own cluster. The pick is a single max_by hash agg over the
    // LEFT-OUTER-labeled corpus — no window, no second pass; consumes
    // the memoized LABEL table (not just the pair table), so the
    // propagation rounds dedup_components already ran are not repeated.
    "dedup_representatives" -> ((s, dir) => {
      val comps = cachedComponents(s, dir)
      val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
      docs
        .join(comps, docs("doc_id") === comps("node"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"), col("n_chars"))
        .groupBy("cluster")
        .agg(
          max_by(col("doc_id"), struct(col("n_chars"), negate(col("doc_id")))).as("rep_doc_id"),
          count(lit(1)).as("members")
        )
        .orderBy("cluster")
    }),


    // The dedup report every pipeline run prints: cluster-size histogram
    // (singletons included) off the memoized label table — two tiny hash
    // aggs; propagation is never re-run.
    "dedup_cluster_stats" -> ((s, dir) => {
      val comps = cachedComponents(s, dir)
      val docs = Tables.documents(s, dir).select("doc_id")
      docs
        .join(comps, docs("doc_id") === comps("node"), "left_outer")
        .select(coalesce(col("component"), col("doc_id")).as("cluster"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("size"))
        .groupBy("size")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("size")
    }),


    // Survivor policy #2 — quality-weighted: the kept doc per dup
    // cluster maximizes a QUALITY signal (stopword ratio — the classic
    // "is this prose" proxy), ties to the smallest id, instead of
    // longest-doc. Same single max_by hash agg over the label-joined
    // corpus; the quality column rides the same codegen'd scan, so the
    // policy swap costs nothing at 100 TB.
    "dedup_survivors_quality" -> ((s, dir) => {
      val comps = cachedComponents(s, dir)
      val docs = Tables
        .documents(s, dir)
        .select(col("doc_id"), round(TextFns.stopwordRatio(col("text")), 6).as("quality"))
      docs
        .join(comps, docs("doc_id") === comps("node"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"), col("quality"))
        .groupBy("cluster")
        .agg(
          max_by(col("doc_id"), struct(col("quality"), negate(col("doc_id")))).as("rep_doc_id"),
          round(max(col("quality")), 6).as("rep_quality"),
          count(lit(1)).as("members")
        )
        .orderBy("cluster")
    })
  )

  val oracleSql: Map[String, String] = SharedOracles.withSharers(Map(

    // SemDeDup FULL replication (r17): the fixed-point Lloyd means
    // (Σ floor(x·10⁶+0.5) integer sums → one double division → REAL) make
    // the whole k-means blocking trajectory bit-replayable — the oracle
    // re-derives the md5-sampled seeds, replays both refinement rounds,
    // takes each vector's 2 nearest cells (the multi-assign), and
    // recomputes the in-cell exact-cosine verify. Cluster count scales
    // with the corpus exactly as semanticAutoLists does (greatest(16,
    // ceil(n·2/256))), so the same SQL gates every SF.
    "dedup_semantic" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        |nl AS (SELECT greatest(16, CAST(ceil(count(*) * 2.0 / 256) AS BIGINT)) AS n FROM base),
        |c0 AS (
        |  SELECT cell, c FROM (
        |    SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell, v AS c
        |    FROM base)
        |  WHERE cell < (SELECT n FROM nl)),
        |a0 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c0 c) WHERE rn = 1),
        |s1 AS (
        |  SELECT a0.cell, d.d,
        |         sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s,
        |         count(b.v[d.d]) AS n
        |  FROM base b JOIN a0 USING (vec_id) CROSS JOIN generate_series(1,64) d(d)
        |  GROUP BY a0.cell, d.d),
        |c0d AS (SELECT cell, d.d, c[d.d] AS x FROM c0 CROSS JOIN generate_series(1,64) d(d)),
        |c1 AS (
        |  SELECT c0d.cell,
        |         list(CASE WHEN s1.n IS NOT NULL AND s1.n > 0
        |              THEN CAST(CAST(CAST(s1.s AS DOUBLE)/(CAST(s1.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |              ELSE c0d.x END ORDER BY c0d.d) AS c
        |  FROM c0d LEFT JOIN s1 ON s1.cell = c0d.cell AND s1.d = c0d.d
        |  GROUP BY c0d.cell),
        |a1 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c1 c) WHERE rn = 1),
        |s2 AS (SELECT a1.cell, d.d, sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s, count(b.v[d.d]) AS n
        |  FROM base b JOIN a1 USING (vec_id) CROSS JOIN generate_series(1,64) d(d) GROUP BY a1.cell, d.d),
        |c1d AS (SELECT cell, d.d, c[d.d] AS x FROM c1 CROSS JOIN generate_series(1,64) d(d)),
        |c2 AS (SELECT c1d.cell, list(CASE WHEN s2.n IS NOT NULL AND s2.n > 0
        |              THEN CAST(CAST(CAST(s2.s AS DOUBLE)/(CAST(s2.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |              ELSE c1d.x END ORDER BY c1d.d) AS c
        |  FROM c1d LEFT JOIN s2 ON s2.cell = c1d.cell AND s2.d = c1d.d GROUP BY c1d.cell),
        |cells AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c2 c) WHERE rn <= 2)
        |SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
        |       round(list_cosine_similarity(bl.v, br.v), 6) AS cos
        |FROM cells l JOIN cells r ON l.cell = r.cell AND l.vec_id < r.vec_id
        |JOIN base bl ON bl.vec_id = l.vec_id
        |JOIN base br ON br.vec_id = r.vec_id
        |WHERE round(list_cosine_similarity(bl.v, br.v), 6) >= 0.35
        |ORDER BY a, b""".stripMargin,

    // FULL LSH replication (r16): the oracle recomputes the md5-based
    // signatures, band keys, candidate set, AND the Jaccard verify — so
    // banding recall loss is part of the checked contract, not an excuse
    // for rows-only. Shared spec with graft.functions.OracleHash:
    // base = ('0x'||substr(md5(shingle),1,15))::BIGINT % P,
    // perm_i = (a_i*base + b_i) % P, band key = md5("b,v1..v8").
    "dedup_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text),' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(t)-2,0)), i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks),
        |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |base AS (SELECT doc_id, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647 AS h FROM shx),
        |perms AS (SELECT doc_id, i,
        |            min(((((i*1103515245 + 12345) % 2147483646) + 1) * h + (i*69069 + 7) % 2147483647) % 2147483647) AS v
        |          FROM base CROSS JOIN generate_series(0, 127) g(i)
        |          GROUP BY doc_id, i),
        |sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM perms GROUP BY doc_id),
        |banded AS (SELECT doc_id, b, md5(b || ',' || array_to_string(sig[b*8+1:b*8+8], ',')) AS bh
        |           FROM sigs CROSS JOIN generate_series(0, 15) g(b)),
        |cands AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |          FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id),
        |j AS (SELECT c.a, c.b,
        |        round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |              (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
        |      FROM cands c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
        |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // Incremental ≡ full(corpus ∪ delta) restricted to delta-involving
    // pairs (the DedupSpec equivalence, now oracle-checked): same full
    // LSH replication, filtered to doc_id % 7 = 3 on either side.
    "dedup_minhash_incremental" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text),' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(t)-2,0)), i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks),
        |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |base AS (SELECT doc_id, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647 AS h FROM shx),
        |perms AS (SELECT doc_id, i,
        |            min(((((i*1103515245 + 12345) % 2147483646) + 1) * h + (i*69069 + 7) % 2147483647) % 2147483647) AS v
        |          FROM base CROSS JOIN generate_series(0, 127) g(i)
        |          GROUP BY doc_id, i),
        |sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM perms GROUP BY doc_id),
        |banded AS (SELECT doc_id, b, md5(b || ',' || array_to_string(sig[b*8+1:b*8+8], ',')) AS bh
        |           FROM sigs CROSS JOIN generate_series(0, 15) g(b)),
        |cands AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |          FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id),
        |j AS (SELECT c.a, c.b,
        |        round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |              (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
        |      FROM cands c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
        |SELECT a, b, jaccard FROM j
        |WHERE jaccard >= 0.5 AND (a % 7 = 3 OR b % 7 = 3) ORDER BY a, b""".stripMargin,

    // SimHash with md5 token hashes (r16): signatures recomputed from two
    // 32-bit md5 halves; pigeonhole banding is EXACT for maxHamming <
    // blocks, so the operator's output equals this all-pairs truth.
    "dedup_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS tok FROM documents),
        |th AS (SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS hi,
        |              CAST(('0x'||substr(md5(tok),9,8)) AS BIGINT) AS lo FROM toks),
        |bits AS (SELECT doc_id, k,
        |           sum(CASE WHEN ((CASE WHEN k < 32 THEN lo ELSE hi END) >> (k % 32)) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |         FROM th CROSS JOIN generate_series(0, 63) g(k)
        |         GROUP BY doc_id, k),
        |sigs AS (SELECT doc_id,
        |           sum(CASE WHEN c > 0 AND k >= 32 THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS shi,
        |           sum(CASE WHEN c > 0 AND k < 32 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS slo
        |         FROM bits GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(bit_count(xor(x.shi, y.shi)) + bit_count(xor(x.slo, y.slo)) AS INTEGER) AS hamming
        |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.shi, y.shi)) + bit_count(xor(x.slo, y.slo)) <= 3
        |ORDER BY a, b""".stripMargin,

    // FULL hyperplane-LSH replication (r16): signature width from the
    // SAME exact-integer auto rule (smallest b with 2^b·32 ≥ n), 32
    // tables of md5-derived planes, bucket self-join, exact-cosine
    // verify — banding recall loss is in the checked contract.
    "dedup_embedding" ->
      """WITH n AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
        |bits AS (SELECT greatest(4, min(b)) AS bits
        |         FROM generate_series(0, 40) t(b), n WHERE (CAST(1 AS BIGINT) << b) * 32 >= n.n),
        |planes AS (
        |  SELECT t.t, p.p,
        |         list_transform(generate_series(1,64), d ->
        |           (CAST(('0x'||substr(md5(p.p || ':' || (d-1) || ':' || (t.t*104729+13)),1,15)) AS BIGINT) % 100000)/100000.0 - 0.5) AS pl
        |  FROM generate_series(0,31) t(t)
        |  CROSS JOIN generate_series(0,39) p(p)
        |  JOIN bits ON p.p < bits.bits),
        |sigs AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS sig
        |  FROM embeddings e CROSS JOIN planes pl
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY e.vec_id, pl.t)
        |SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
        |       round(list_cosine_similarity(CAST(el.embedding AS DOUBLE[]), CAST(er.embedding AS DOUBLE[])), 6) AS cos
        |FROM sigs l JOIN sigs r ON l.t = r.t AND l.sig = r.sig AND l.vec_id < r.vec_id
        |JOIN embeddings el ON el.vec_id = l.vec_id
        |JOIN embeddings er ON er.vec_id = r.vec_id
        |WHERE round(list_cosine_similarity(CAST(el.embedding AS DOUBLE[]), CAST(er.embedding AS DOUBLE[])), 6) >= 0.35
        |ORDER BY a, b""".stripMargin,

    // The prefix filter is lossless (PPJoin exactness), so the operator's
    // output equals the naive all-pairs Jaccard — which the oracle can
    // brute-force at verification scale.
    "dedup_containment" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  CROSS JOIN unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
        |rare AS (SELECT id, g FROM grams
        |         JOIN (SELECT g, count(*) AS df FROM grams GROUP BY 1) f USING (g)
        |         WHERE df <= 50),
        |sizes AS (SELECT id, count(*) AS n_rare FROM rare GROUP BY 1),
        |shared AS (
        |  SELECT x.id AS a, y.id AS b, count(*) AS shared
        |  FROM rare x JOIN rare y USING (g) WHERE x.id < y.id GROUP BY 1, 2)
        |SELECT a, b,
        |       round(shared * 1.0 / sa.n_rare, 4) AS containment_ab,
        |       round(shared * 1.0 / sb.n_rare, 4) AS containment_ba
        |FROM shared
        |JOIN sizes sa ON sa.id = a
        |JOIN sizes sb ON sb.id = b
        |WHERE greatest(round(shared * 1.0 / sa.n_rare, 4), round(shared * 1.0 / sb.n_rare, 4)) >= 0.5
        |ORDER BY a, b""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                        for i in generate_series(1, len(t) - 2)]) AS sh
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 3)
        |SELECT a, b, jaccard FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |               / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |  FROM s x, s y WHERE x.doc_id < y.doc_id) t
        |WHERE jaccard >= 0.4 ORDER BY a, b""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,

    // Winner = corpus-wide min (doc_id, pidx) per paragraph text; the
    // oracle elects it with a window (fine at oracle scale), the engine
    // with an agg + digest join (the plan that partial-aggregates).
    "dedup_paragraph" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, (len(toks) - 1) // 20 + 1)) AS pidx, toks FROM t),
        |p AS (SELECT doc_id, CAST(pidx AS BIGINT) AS pidx,
        |             array_to_string(toks[pidx*20 + 1 : pidx*20 + 20], ' ') AS ptext FROM c),
        |w AS (SELECT doc_id, pidx, ptext,
        |             row_number() OVER (PARTITION BY ptext ORDER BY doc_id, pidx) AS rn FROM p)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_paras,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       string_agg(CASE WHEN rn = 1 THEN ptext END, ' ' ORDER BY pidx) AS kept_text
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Connected components over the same (exact) pair derivation as the
    // dedup_ngram_jaccard oracle, closed transitively with min-label
    // propagation in a recursive CTE.
    "dedup_components" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                        for i in generate_series(1, len(t) - 2)]) AS sh
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |    FROM s x, s y WHERE x.doc_id < y.doc_id) t
        |  WHERE jaccard >= 0.4),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node)
        |SELECT node AS doc_id, min(lbl) AS component FROM reach
        |GROUP BY node ORDER BY doc_id""".stripMargin,

    // Same recursive-CTE component derivation, then one representative
    // per cluster: longest doc, ties to the smallest id.
    "dedup_representatives" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                        for i in generate_series(1, len(t) - 2)]) AS sh
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |    FROM s x, s y WHERE x.doc_id < y.doc_id) t
        |  WHERE jaccard >= 0.4),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        |lab AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
        |SELECT cluster, rep_doc_id, members FROM (
        |  SELECT cluster, doc_id AS rep_doc_id,
        |         CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS members,
        |         row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM lab) t
        |WHERE rn = 1 ORDER BY cluster""".stripMargin,

    // Same component derivation; the survivor maximizes stopword ratio
    // (ties to smallest id) instead of document length.
    "dedup_survivors_quality" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                        for i in generate_series(1, len(t) - 2)]) AS sh
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |    FROM s x, s y WHERE x.doc_id < y.doc_id) t
        |  WHERE jaccard >= 0.4),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        |lab AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
        |         round(CAST(len(list_filter(string_split(lower(d.text), ' '),
        |                      t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
        |               / len(string_split(lower(d.text), ' ')), 6) AS q
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
        |SELECT cluster, rep_doc_id, rep_quality, members FROM (
        |  SELECT cluster, doc_id AS rep_doc_id, q AS rep_quality,
        |         CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS members,
        |         row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
        |  FROM lab) t
        |WHERE rn = 1 ORDER BY cluster""".stripMargin,

    "dedup_cluster_stats" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                        for i in generate_series(1, len(t) - 2)]) AS sh
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |    FROM s x, s y WHERE x.doc_id < y.doc_id) t
        |  WHERE jaccard >= 0.4),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        |sizes AS (
        |  SELECT coalesce(c.component, d.doc_id) AS cluster, count(*) AS size
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |  GROUP BY 1)
        |SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size ORDER BY size""".stripMargin,

    "dedup_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
        |       count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "dedup_source_overlap" ->
      """WITH hs AS (
        |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS h,
        |         source
        |  FROM documents)
        |SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
        |FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
  ))
}
