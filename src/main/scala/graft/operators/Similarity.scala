package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One PQ-encoded vector: its coarse IVF cell and the per-subspace
  * codebook indices. Top-level public case class — encoder + Janino
  * requirements for use as a UDF return type.
  */
final case class PqCode(cell: Int, code: Seq[Int])

/** Similarity search over an `array<float>` embedding column.
  *
  * Brute-force top-k is the correctness baseline: one scan, per-row cosine
  * against a literal query vector (broadcast as a constant into codegen),
  * then TakeOrderedAndProject (per-partition heaps + single reduce — no
  * global sort). Embarrassingly parallel: at 100 TB this is scan-bound.
  *
  * The scale path is LSH bucketing ([[VectorFns.hyperplaneSig]]): probes
  * join only their own signature bucket; a k-NN *join* shuffles both sides
  * on the signature instead of cross-joining.
  */
object Similarity {

  private def vecLit(v: Seq[Float]): Column = array(v.map(x => lit(x.toDouble)): _*)

  /** Exact top-k by cosine against a single query vector. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String, query: Seq[Float], k: Int): DataFrame =
    emb
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)

  /** Range (radius) search: every vector with cosine ≥ `minCos` of the
    * query — the fixed-threshold cousin of top-k. One scan, pushdown-
    * friendly projection, no sort beyond the result set.
    */
  def rangeSearch(emb: DataFrame, idCol: String, vecCol: String, query: Seq[Float], minCos: Double): DataFrame =
    emb
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy(col("cos").desc, col(idCol).asc)

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98):
    * diversified top-k — each pick maximizes
    * `λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)`, so near-duplicates of
    * an already-selected result are penalized exactly by their redundancy.
    * λ=1 degenerates to plain relevance top-k (ReplicaSpec pins that
    * equality); λ→0 maximizes pairwise diversity.
    *
    * Scale shape: the DATA-sized stage is the candidate retrieval — one
    * distributed scan scoring every vector, bounded TakeOrdered to the
    * `window` (swap any ANN index path in for the scan at scale; the
    * contract only needs (id, rel, vector) rows). The greedy selection is
    * a k·window loop over the collected window — coordinator-side over a
    * BOUNDED frame, the same place the real engine runs its rescore
    * phase. The corpus is never collected; `window` is a request
    * constant (50 here), independent of corpus size.
    *
    * Ties break by higher relevance then smaller id at every step, so
    * the emitted ranking is deterministic and replica-checkable.
    */
  def mmrRerank(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      window: Int,
      lambda: Double
  ): DataFrame = {
    require(k > 0 && window >= k, s"need window >= k > 0, got k=$k window=$window")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val cand: Array[(Long, Double, Array[Double])] = emb
      .select(
        col(idCol).cast("long"),
        round(VectorFns.cosine(col(vecCol), vecLit(query)), 6).as("rel"),
        col(vecCol).cast("array<double>")
      )
      .orderBy(col("rel").desc, col(idCol).asc)
      .limit(window)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    // The CosineSim fold's convention (dot / (√na·√nb), r17 — was
    // √(na·nb)): the similarity-penalty kernel is then the same
    // expression the oracle's list_cosine_similarity evaluates, ulps
    // aside — part of the ann_mmr_rerank full-oracle promotion.
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]() // (id, rel, mmr)
    val remaining = scala.collection.mutable.ArrayBuffer(cand.indices: _*)
    // maxSim(i) = max cosine of candidate i to any selected doc so far —
    // updated incrementally after each pick, so the loop is k·window
    // cosines, not k·window².
    val maxSim = Array.fill(cand.length)(Double.NegativeInfinity)
    while (selected.size < k && remaining.nonEmpty) {
      val pick = remaining.maxBy { i =>
        val (_, rel, _) = cand(i)
        val penalty = if (selected.isEmpty) 0.0 else maxSim(i)
        // tuple ordering = (objective, rel, -id): deterministic ties
        (lambda * rel - (1 - lambda) * penalty, rel, -cand(i)._1.toDouble)
      }
      val (id, rel, vec) = cand(pick)
      val mmr = if (selected.isEmpty) lambda * rel else lambda * rel - (1 - lambda) * maxSim(pick)
      selected += ((id, rel, BigDecimal(mmr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      remaining -= pick
      remaining.foreach { i =>
        val s = cos(cand(i)._3, vec)
        if (s > maxSim(i)) maxSim(i) = s
      }
    }
    val spark = emb.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, mmr), i) => (i + 1, id, rel, mmr) }
      .toDF("rank", idCol, "rel", "mmr_score")
  }

  /** Batch k-NN join: for every probe row, its top-k neighbors from the
    * candidate set. The probe×candidate pairing carries NO hint: AQE
    * picks broadcast from runtime stats when the probe batch is small
    * and is free to shuffle when it is data-sized — a forced
    * `broadcast(probes)` would pin an unbounded frame to every executor
    * precisely in the batch use where probes grow with the data.
    * Ranking runs through [[graft.plans.TopKPerKey]] — partial bounded
    * heaps per partition, so the shuffle carries at most k rows per
    * probe per partition. A window partitioned by probe_id would
    * instead hash the ENTIRE scored set into #probes partitions and
    * sort it: a straggler machine whenever the probe batch is small.
    */
  def knnJoin(
      probes: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val scored = c
      .crossJoin(p)
      .select(
        col("probe_id"),
        col("cand_id"),
        round(VectorFns.cosine(col("probe_vec"), col("cand_vec")), 6).as("cos")
      )
    graft.plans.TopKPerKey
      .perKey(scored, Seq("probe_id"), Seq("cos" -> false, "cand_id" -> true), k)
      .select(col("probe_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /** The per-table hyperplane seed — one constant shared by index build
    * and probe so their signatures are bit-identical.
    */
  private def lshSeed(table: Int): Int = table * 7919 + 1

  /** LSH ANN index: the exploded (id, table, sig) signature table — the
    * artifact a deployment persists/buckets by (table, sig) once and
    * probes many times — plus the (id, vector) base for the exact
    * rescore. Signatures carry NO vectors: ids only.
    */
  final case class LshIndex(nBits: Int, tables: Int, sigs: DataFrame, base: DataFrame) {
    def persist(): LshIndex = {
      sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      this
    }
    def unpersist(): Unit = { sigs.unpersist(); () }
  }

  def lshIndex(emb: DataFrame, idCol: String, vecCol: String, nBits: Int, tables: Int): LshIndex = {
    // Missing vectors bucket nowhere (family rule): drop null embeddings
    // up front so one bad row can't kill the index build or rescore.
    val base = emb.filter(col(vecCol).isNotNull).select(col(idCol), col(vecCol))
    val sigs = graft.Tables
      .ensureParallelism(base)
      .select(
        col(idCol),
        // one batched kernel call per row (values identical per table)
        posexplode(
          VectorFns.hyperplaneSigs(col(vecCol), nBits, (0 until tables).map(lshSeed))
        ).as(Seq("table", "sig"))
      )
    LshIndex(nBits, tables, sigs, base)
  }

  /** Score a query against a prebuilt LSH index: candidates are rows whose
    * signature matches the probe's in at least one table, ranked by exact
    * cosine. Candidate dedup is on the ID ONLY (a row can collide in
    * several tables) — distinct() over (id, vector) would shuffle and
    * hash-compare 64-float arrays as grouping keys; the candidate-id set
    * is query-scale, so it broadcasts back onto the base for the exact
    * rescore and the vectors themselves never shuffle.
    */
  def scoreAgainstLsh(
      index: LshIndex,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      probeRadius: Int = 0
  ): DataFrame = {
    val qlit = vecLit(query)
    val qsigs = (0 until index.tables).map(t => VectorFns.hyperplaneSig(qlit, index.nBits, seed = lshSeed(t)))
    val exact = index.sigs.sparkSession
      .range(index.tables)
      .select(
        col("id").cast("int").as("table"),
        element_at(array(qsigs: _*), col("id").cast("int") + 1).as("sig")
      )
    // Multi-probe LSH (Lv et al., VLDB'07): also probe the buckets whose
    // signature differs from the query's in one bit — a near-miss on one
    // hyperplane is the most likely place for a lost neighbor. Radius 1
    // multiplies probed buckets by (1 + nBits) per table, which buys the
    // recall of ~nBits× more tables WITHOUT growing the stored index —
    // probe cost is still O(tables · nBits) broadcast rows, the index
    // stays one row per (vector, table).
    val probeSigs =
      if (probeRadius <= 0) exact
      else
        exact
          .select(
            col("table"),
            explode(array(lit(0L) +: (0 until index.nBits).map(b => lit(1L << b)): _*)).as("mask"),
            col("sig")
          )
          .select(col("table"), col("sig").bitwiseXOR(col("mask")).as("sig"))
    // candIds is NOT hint-broadcast: with hot buckets (skewed corpora,
    // small nBits) the candidate set can approach corpus size, and a
    // forced broadcast would OOM the driver. AQE converts the join to
    // broadcast-hash at runtime when the measured candidate set is small
    // (the common case) and keeps a shuffle join when it is not.
    val candIds = index.sigs
      .join(broadcast(probeSigs), Seq("table", "sig"))
      .select(col(idCol))
      .distinct()
    index.base
      .join(candIds, Seq(idCol))
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), qlit), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch ANN against a prebuilt LSH index — the vectorized multi-probe
    * path: EVERY probe's buckets (exact signature + optional radius-1 bit
    * flips) are generated as one small frame and joined against the
    * signature table in a SINGLE pass, so a 10 000-probe batch costs one
    * scan of the index, not 10 000 probe queries. Candidates shuffle
    * (probe_id, id) pairs only; vectors are joined back by id for the
    * exact rescore, and ranking runs through the bounded-heap TopKPerKey
    * exec (≤ k rows per probe per partition shuffle) — identical result
    * set to running [[scoreAgainstLsh]] per probe at the same radius
    * (asserted in ReplicaSpec), at a fraction of the job count.
    */
  def knnJoinLsh(
      index: LshIndex,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      probeRadius: Int = 1
  ): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val exact = p.select(
      col("probe_id"),
      col("probe_vec"),
      // one batched kernel call per probe row (values identical per table)
      posexplode(
        VectorFns.hyperplaneSigs(col("probe_vec"), index.nBits, (0 until index.tables).map(lshSeed))
      ).as(Seq("table", "sig"))
    )
    val probeSigs =
      if (probeRadius <= 0) exact.select(col("probe_id"), col("table"), col("sig"))
      else
        exact
          .select(
            col("probe_id"),
            col("table"),
            explode(array(lit(0L) +: (0 until index.nBits).map(b => lit(1L << b)): _*)).as("mask"),
            col("sig")
          )
          .select(col("probe_id"), col("table"), col("sig").bitwiseXOR(col("mask")).as("sig"))
    // One pass over the signature table for the whole batch. The probe
    // bucket list is batch × tables × (1 + nBits) rows — no forced
    // broadcast hint: AQE converts to broadcast-hash when the measured
    // batch is small and keeps a shuffle join when a million-probe batch
    // is not (the same reasoning that removed the customer-table hints).
    val candPairs = index.sigs
      .join(probeSigs.select(col("probe_id"), col("table"), col("sig")), Seq("table", "sig"))
      .select(col("probe_id"), col(idCol))
      .distinct()
    val scored = candPairs
      .join(index.base, Seq(idCol))
      .join(p.select(col("probe_id"), col("probe_vec")), Seq("probe_id"))
      .select(
        col("probe_id"),
        col(idCol).as("cand_id"),
        round(VectorFns.cosine(col(vecCol), col("probe_vec")), 6).as("cos")
      )
    graft.plans.TopKPerKey
      .perKey(scored, Seq("probe_id"), Seq("cos" -> false, "cand_id" -> true), k)
      .select(col("probe_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /** One-shot LSH ANN: build + score. Recall is tunable via (nBits,
    * tables); cost is a key-equality join, never a cross join. The split
    * exists so repeated queries amortize the signature build.
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nBits: Int = 12,
      tables: Int = 4
  ): DataFrame =
    scoreAgainstLsh(lshIndex(emb, idCol, vecCol, nBits, tables), idCol, vecCol, query, k)

  /** IVF (inverted-file) ANN index: a coarse quantizer partitions vectors
    * into cells; queries scan only the `nProbe` nearest cells.
    *
    * `centroids` is driver-resident index METADATA — O(nLists) vectors,
    * the same order of magnitude as a probe batch, shipped to executors as
    * a broadcast closure. `assigned` is the corpus with its cell id: at
    * 100 TB this is the artifact you persist/bucket by cell once and score
    * thousands of queries against (see the Bm25 buildIndex/score split —
    * same amortization contract; `persist()` pins it for a
    * multi-query session, a real deployment writes it out).
    */
  final case class IvfIndex(centroids: Array[Array[Float]], assigned: DataFrame) {
    def persist(): IvfIndex = {
      assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      this
    }
    def unpersist(): Unit = { assigned.unpersist(); () }
  }

  /** Build the IVF index. Centroids are a deterministic pseudo-random
    * sample of the corpus (the `nLists` rows with the smallest id-hash —
    * one TakeOrdered pass, no RNG state; at 100 TB you'd k-means them, the
    * index structure is identical). Cell assignment is a PURE PROJECTION:
    * a compiled argmin over the closure-broadcast centroid array — one
    * scan, zero shuffle. The r2 form (broadcast join against the centroid
    * frame + min_by hash aggregate) expanded the corpus ×nLists and paid a
    * full aggregation; it also evaluated the centroid TakeOrdered twice
    * per query. Measured 4.2 s → well under 1 s at sf0.1.
    */
  /** Compiled argmin over the closure-broadcast centroid array — the cell
    * assignment is a pure projection (one scan, zero shuffle). NULL
    * vectors go to cell -1, which is never probed.
    */
  /** Nearest-cell id via the native [[VectorFns.nearestCells]] codegen
    * expression (null vector → cell −1, never probed — the retired boxed
    * UDF's contract, bit-identical assignments).
    */
  private def assignCell(centroids: Array[Array[Float]], v: Column): Column =
    coalesce(element_at(VectorFns.nearestCells(v, centroids, 1), 1), lit(-1))

  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String, nLists: Int): IvfIndex = {
    // O(nLists) driver fetch: index metadata, same class as a probe-vector
    // fetch. Order (id-hash asc, id asc) is deterministic; the position in
    // this array IS the cell id. The id hash is md5-derived (r16, was
    // Spark murmur3): ('0x'||substr(md5(id::text),1,15))::BIGINT in
    // DuckDB terms, so the ORACLE can re-derive the same centroid set
    // and the whole coarse-quantizer tier becomes hash-checkable.
    // NULL embeddings are excluded from the sample (getSeq would NPE) and
    // land in cell -1 at assignment — never probed.
    val centroids: Array[Array[Float]] = emb
      .select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      // Native md5-prefix expression (r19, was conv(substring(md5(...))) —
      // same value, no hex-string round-trip; Md5PrefixSpec pins equality).
      .orderBy(graft.functions.Md5PrefixLong.md5PrefixLong(col(idCol).cast("string"), 15).asc, col(idCol))
      .limit(nLists)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    val assigned = graft.Tables
      .ensureParallelism(emb.select(col(idCol), col(vecCol)))
      .withColumn("cell", assignCell(centroids, col(vecCol)))
    IvfIndex(centroids, assigned)
  }

  /** Fold new vectors into an existing IVF index WITHOUT retraining:
    * assign them to the CURRENT centroids (one delta-sized scan — the
    * faiss `add()` contract) and union the assignment table. This is the
    * daily operation of a live vector tier: work scales with |delta|,
    * the corpus-sized assignment table is never touched. The documented
    * trade is centroid drift — cells reflect the corpus at train time,
    * so recall for the new vectors degrades only as the data
    * distribution shifts (periodic re-train is the remedy, exactly as
    * in production IVF deployments). APPEND-ONLY contract: the delta's
    * ids must be new — a re-sent id leaves both rows in the table (the
    * streaming wrapper, [[graft.streaming.StreamingIvf]], owns upsert
    * semantics by retiring re-sent ids first). SimilaritySpec verifies
    * the folded assignments against first-principles nearest-centroid
    * math and the search contract over the unioned corpus.
    */
  def addToIvf(index: IvfIndex, delta: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    val newAssigned = graft.Tables
      .ensureParallelism(delta.select(col(idCol), col(vecCol)))
      .withColumn("cell", assignCell(index.centroids, col(vecCol)))
    index.copy(assigned = index.assigned.unionByName(newAssigned))
  }

  /** Lloyd (k-means) refinement of the IVF coarse quantizer: each round
    * re-assigns every vector to its nearest centroid (the native
    * [[assignCell]] expression) and moves each centroid to its cell's
    * per-dimension mean — one hash-aggregate per round over dim native
    * `avg(element_at(vec, k))` columns, shuffling nLists × dim partial
    * means, never vectors. No explode: the earlier `posexplode` plan let
    * Catalyst collapse the assignment into the Generate, re-running the
    * O(nLists·dim) kernel once per EXPLODED row — a dim-× amplification
    * that dominated scaled builds. Refined cells are tighter and more
    * even, so the same nProbe recovers more true neighbors (standard IVF
    * practice; the index structure and score path are unchanged). Empty
    * cells keep their previous centroid. The per-round cost is one corpus
    * scan — an index-build-time cost, amortized exactly like the build
    * itself.
    */
  def ivfRefine(emb: DataFrame, idCol: String, vecCol: String, index: IvfIndex, iters: Int): IvfIndex = {
    val base = emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
    var cents = index.centroids
    val dim = if (cents.isEmpty) 0 else cents(0).length
    for (_ <- 0 until iters if dim > 0) {
      // nLists rows × dim mean columns — driver-scale index metadata,
      // same class as the centroid array itself.
      // `get` (0-based) not `element_at`: null — not an ANSI error — past a
      // ragged vector's end, matching the explode plan's missing-dim rows.
      // EXACT fixed-point means (r17, was float avg): per dim the cell
      // accumulates Σ floor(x·10⁶ + 0.5) as a LONG — an integer sum, so
      // the value is partition-order-proof — and the mean is ONE double
      // division S/(n·10⁶) at the end. The whole Lloyd trajectory is then
      // bit-replayable by a SQL engine (the promotion that takes
      // ann_ivf_kmeans_topk and dedup_semantic to full oracle), where the
      // float-avg form depended on double summation order. Quantization
      // error ≤ 5·10⁻⁷ per dim per round — two decades inside the float32
      // grid the centroid lands in anyway (the stored value is .toFloat).
      val aggCols = (0 until dim).flatMap { k =>
        val x = get(col(vecCol), lit(k)).cast("double")
        Seq(
          sum(floor(x * lit(1e6) + lit(0.5)).cast("long")).as(s"s$k"),
          count(x).as(s"n$k")
        )
      }
      val means = graft.Tables
        .ensureParallelism(base)
        .groupBy(assignCell(cents, col(vecCol)).as("cell"))
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val cell = r.getInt(0)
        var k = 0
        while (k < dim) {
          val n = if (r.isNullAt(2 + 2 * k)) 0L else r.getLong(2 + 2 * k)
          if (n > 0 && !r.isNullAt(1 + 2 * k))
            next(cell)(k) = (r.getLong(1 + 2 * k).toDouble / (n.toDouble * 1e6)).toFloat
          k += 1
        }
      }
      cents = next
    }
    IvfIndex(cents, base.withColumn("cell", assignCell(cents, col(vecCol))))
  }

  /** Build + refine in one call: the deterministic sample seeds Lloyd. */
  def ivfIndexKMeans(emb: DataFrame, idCol: String, vecCol: String, nLists: Int, iters: Int): IvfIndex =
    ivfRefine(emb, idCol, vecCol, ivfIndex(emb, idCol, vecCol, nLists), iters)

  /** The `nProbe` cells nearest to `query` — driver-side math over the
    * O(nLists) centroid array (distance asc, cell id asc on ties).
    */
  def probeCells(index: IvfIndex, query: Seq[Float], nProbe: Int): Seq[Int] =
    probeCellsOf(index.centroids, query, nProbe)

  private def probeCellsOf(centroids: Array[Array[Float]], query: Seq[Float], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0
        var j = 0
        val n = math.min(c.length, query.length)
        while (j < n) { val t = query(j).toDouble - c(j).toDouble; d += t * t; j += 1 }
        (d, i)
      }
      .sortBy(identity)
      .take(nProbe)
      .map(_._2)
      .toSeq

  /** Score a query against a prebuilt index: filter to the probed cells
    * (a partition-prunable predicate when `assigned` is stored
    * partitioned/bucketed by cell), exact cosine within them, bounded
    * top-k — no join, no aggregation, no shuffle.
    */
  def scoreAgainstIvf(
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val qlit = vecLit(query)
    val cells = probeCells(index, query, nProbe)
    index.assigned
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), qlit), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** One-shot top-k via IVF: build + score. The split exists so repeated
    * queries amortize the build (see SimilaritySpec).
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4
  ): DataFrame =
    scoreAgainstIvf(ivfIndex(emb, idCol, vecCol, nLists), idCol, vecCol, query, k, nProbe)

  /** Product-quantized IVF index (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): each
    * vector's RESIDUAL against its coarse IVF centroid is split into `m`
    * subvectors, and each subvector stored as the index of its nearest
    * entry in a per-subspace codebook of `ksub` entries. A stored row is
    * (id, cell, m small ints) — m bytes of payload instead of dim floats
    * (8 vs 256 here): the index that still fits when the corpus doesn't.
    *
    * `centroids` and `codebooks` (m × ksub × dim/m floats) are
    * driver-resident metadata, same class as the IVF centroid array.
    * `codes` is the corpus-scale artifact a deployment persists; `base`
    * is the raw (id, vector) frame used only for the exact top rescore.
    */
  final case class PqIndex(
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      codes: DataFrame,
      base: DataFrame,
      /** OPQ rotation (orthonormal dim×dim), applied to residuals before
        * the subspace split; None = plain PQ (identity).
        */
      rotation: Option[Array[Array[Float]]] = None,
      /** OPQ training evidence: (identity-rotation MSE, trained-rotation
        * MSE) of the sample quantization error — the trained value can
        * never exceed the identity value (best-of-iterations).
        */
      trainMse: Option[(Double, Double)] = None
  ) {
    def m: Int = codebooks.length
  }

  private def sqDist(a: Array[Float], b: Seq[Float], from: Int, until: Int): Double = {
    var d = 0.0
    var j = from
    while (j < until && j < b.length) { val t = b(j).toDouble - a(j - from).toDouble; d += t * t; j += 1 }
    d
  }

  private def nearestCell(centroids: Array[Array[Float]], v: Seq[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < centroids.length) {
      val d = sqDist(centroids(i), v, 0, centroids(i).length)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Apply an orthonormal rotation to a residual: out[a] = Σ R[a][b]·in[b]. */
  private def rotateVec(r: Array[Array[Float]], in: Array[Float]): Array[Float] = {
    val out = new Array[Float](in.length)
    var a = 0
    while (a < r.length && a < in.length) {
      var acc = 0.0
      var b = 0
      val row = r(a)
      while (b < row.length && b < in.length) { acc += row(b).toDouble * in(b).toDouble; b += 1 }
      out(a) = acc.toFloat
      a += 1
    }
    out
  }

  /** Double-precision rotation (the PQ/OPQ residual path): same fold as
    * [[rotateVec]] with the residual kept in double end-to-end.
    */
  private def rotateVecD(r: Array[Array[Float]], in: Array[Double]): Array[Double] = {
    val out = new Array[Double](in.length)
    var a = 0
    while (a < r.length && a < in.length) {
      var acc = 0.0
      var b = 0
      val row = r(a)
      while (b < row.length && b < in.length) { acc += row(b).toDouble * in(b); b += 1 }
      out(a) = acc
      a += 1
    }
    out
  }

  /** Compiled (cell, code) encoder: coarse argmin, then per-subspace
    * argmin over the (optionally OPQ-rotated) residual — a pure
    * projection, one scan, no shuffle. NULL vectors encode as cell -1
    * (never probed) with an empty code. Residuals are DOUBLE
    * end-to-end (r17, was float): v[j] − c[j] evaluated in double is
    * the exact IEEE expression a SQL oracle computes over the same
    * parquet floats, which is what makes the plain-PQ code table
    * bit-replayable in DuckDB (the OPQ rotation path shares the
    * kernel; its training stays replica-tier).
    */
  private def encodeUdf(
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      rotation: Option[Array[Array[Float]]] = None
  ) =
    udf { (v: Seq[Float]) =>
      if (v == null) PqCode(-1, Seq.empty)
      else {
        val cell = nearestCell(centroids, v)
        val c = centroids(cell)
        val res0 = Array.tabulate(v.length)(j => v(j).toDouble - (if (j < c.length) c(j).toDouble else 0.0))
        val res = rotation.map(rotateVecD(_, res0)).getOrElse(res0)
        val dsub = v.length / codebooks.length
        val code = Array.tabulate(codebooks.length) { mi =>
          var best = 0
          var bestD = Double.MaxValue
          var k = 0
          val book = codebooks(mi)
          while (k < book.length) {
            var d = 0.0
            var j = 0
            while (j < dsub) { val t = res(mi * dsub + j) - book(k)(j).toDouble; d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = k }
            k += 1
          }
          best
        }
        PqCode(cell, code.toSeq)
      }
    }

  /** Build the PQ index over an IVF coarse quantizer. Codebooks are
    * seeded from a deterministic id-hash sample of residuals (same
    * no-RNG trick as the IVF centroids) and tightened with `iters`
    * Lloyd rounds per subspace — each round is ONE corpus scan whose
    * aggregate output is (m × ksub × dim/m) means: driver-scale.
    *
    * The whole training trajectory is SQL-replayable (r17): the seed
    * order is md5(id || ":pq") — salted so the seeds are NOT the
    * coarse-centroid rows, whose residuals are identically zero — the
    * per-subspace means are EXACT fixed-point (Σ floor(x·10⁶ + 0.5)
    * LONG sums, partition-order-proof, one double division at the
    * end, the ivfRefine precedent), and every residual is computed in
    * double. DuckDB re-derives seeds → Lloyd round → codebooks →
    * every stored code, which is what promotes ann_ivf_pq_topk and
    * ann_pq_incremental to full oracle.
    */
  def pqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 1
  ): PqIndex = {
    // ksub sample rows, deterministic md5(id||":pq") order (the salt
    // keeps the seeds off the coarse-centroid rows, whose residuals are
    // exactly zero) — the seed codebooks. The ROW fetch is independent
    // of the centroid TakeOrdered (residual math is driver-side, after
    // both land), so the two driver actions run concurrently (r19;
    // guide §2.6 — the opqIndexFull pattern).
    val (ivf, sampleRows) = Overlap(emb.sparkSession)(ivfIndex(emb, idCol, vecCol, nLists)) {
      emb
        .select(col(idCol), col(vecCol))
        .filter(col(vecCol).isNotNull)
        .orderBy(
          graft.functions.Md5PrefixLong
            .md5PrefixLong(concat(col(idCol).cast("string"), lit(":pq")), 15)
            .asc,
          col(idCol)
        )
        .limit(ksub)
        .collect()
    }
    val cents = ivf.centroids
    val dim = cents(0).length
    require(dim % m == 0, s"embedding dim $dim must divide into $m subspaces")
    val dsub = dim / m
    // Each seed entry is the double residual rounded to float: the value
    // DuckDB spells CAST(v[d] - c[d] AS REAL) over the same parquet.
    val sample = sampleRows.map { r =>
      val v = r.getSeq[Float](1)
      val c = cents(nearestCell(cents, v))
      Array.tabulate(v.length)(j => (v(j).toDouble - (if (j < c.length) c(j).toDouble else 0.0)).toFloat)
    }
    var books = Array.tabulate(m)(mi => sample.map(_.slice(mi * dsub, (mi + 1) * dsub)))
    // Persisted (r18): the refit scan(s) and the final encode each
    // re-read the source otherwise (values unchanged; see opqIndexFull).
    val base = emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 0 until iters) {
      // One scan: encode, explode residual dims, mean per (subspace,
      // assigned code, dim-within-subspace). Empty codes keep their entry.
      // ONE struct UDF evaluated once per row, then posexplode over its
      // residual half: the struct is referenced twice (code + exploded
      // residual), so CollapseProject cannot fold the UDF into the
      // Generate and re-run it per exploded row — the silent dim-×
      // amplification the previous two-UDF projection paid (the same
      // class as the ivfRefine fix; the OPQ refit always had this shape).
      val cb = books
      val trainScan = udf { (v: Seq[Float]) =>
        val c = cents(nearestCell(cents, v))
        val res = Array.tabulate(v.length)(j => v(j).toDouble - (if (j < c.length) c(j).toDouble else 0.0))
        val dsubV = v.length / cb.length
        val code = Array.tabulate(cb.length) { mi =>
          var best = 0
          var bestD = Double.MaxValue
          var k = 0
          val book = cb(mi)
          while (k < book.length) {
            var d = 0.0
            var j = 0
            while (j < dsubV) { val t = res(mi * dsubV + j) - book(k)(j).toDouble; d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = k }
            k += 1
          }
          best
        }
        (code.toSeq, res.toSeq)
      }
      // EXACT fixed-point means (r17, was float avg — the ivfRefine
      // precedent): the per-(subspace, code, dim) sum is an integer, so
      // the mean is partition-order-proof and a SQL engine replays it
      // bit-for-bit. Quantization error ≤ 5·10⁻⁷ per entry — inside the
      // float32 grid the codebook entry lands in anyway.
      val means = graft.Tables
        .ensureParallelism(base)
        .select(trainScan(col(vecCol)).as("t"))
        .select(col("t._1").as("code"), posexplode(col("t._2")).as(Seq("dim", "x")))
        .select(
          (col("dim") / dsub).cast("int").as("sub"),
          element_at(col("code"), (col("dim") / dsub).cast("int") + 1).as("codeId"),
          (col("dim") % dsub).as("within"),
          col("x")
        )
        .groupBy("sub", "codeId", "within")
        .agg(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("s"), count(col("x")).as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      means.foreach { r =>
        val n = r.getLong(4)
        if (n > 0)
          next(r.getInt(0))(r.getInt(1))(r.getAs[Int]("within")) = (r.getLong(3).toDouble / (n.toDouble * 1e6)).toFloat
      }
      books = next
    }
    val codes = graft.Tables
      .ensureParallelism(emb.select(col(idCol), col(vecCol)))
      .select(col(idCol), encodeUdf(cents, books)(col(vecCol)).as("pq"))
      .select(col(idCol), col("pq.cell").as("cell"), col("pq.code").as("code"))
    PqIndex(cents, books, codes, base)
  }

  // ── OPQ: optimized product quantization (Ge/He/Ke/Sun, CVPR 2013) ────
  // Learns an orthonormal rotation R of the residual space so the m
  // subspaces share the variance evenly before PQ coding — the
  // non-parametric alternation: fix R → refit codebooks; fix codes →
  // refit R by orthogonal Procrustes (SVD). All training runs on a
  // deterministic driver-side SAMPLE (bounded, like the centroid fetch);
  // the corpus-scale work stays a pure encode projection.

  /** Driver-side Lloyd on the sample: one codebook per subspace. Seeds =
    * first `k` sample rows (deterministic); empty clusters keep their
    * previous entry.
    */
  private def fitBooks(xr: Array[Array[Double]], m: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    val dsub = xr(0).length / m
    Array.tabulate(m) { mi =>
      val pts = xr.map(_.slice(mi * dsub, (mi + 1) * dsub))
      var cents = Array.tabulate(math.min(ksub, pts.length))(i => pts(i).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val ns = new Array[Int](cents.length)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var k = 0
          while (k < cents.length) {
            var d = 0.0; var j = 0
            while (j < dsub) { val t = p(j) - cents(k)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = k }
            k += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += p(j); j += 1 }
          ns(best) += 1
        }
        cents = Array.tabulate(cents.length) { k =>
          if (ns(k) == 0) cents(k) else Array.tabulate(dsub)(j => sums(k)(j) / ns(k))
        }
      }
      cents
    }
  }

  /** Per-sample quantization: nearest codebook entry per subspace;
    * returns (reconstruction, squared error).
    */
  private def quantize(xr: Array[Double], books: Array[Array[Array[Double]]]): (Array[Double], Double) = {
    val m = books.length
    val dsub = xr.length / m
    val y = new Array[Double](xr.length)
    var err = 0.0
    var mi = 0
    while (mi < m) {
      val book = books(mi)
      var best = 0; var bestD = Double.MaxValue
      var k = 0
      while (k < book.length) {
        var d = 0.0; var j = 0
        while (j < dsub) { val t = xr(mi * dsub + j) - book(k)(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      var j = 0
      while (j < dsub) { y(mi * dsub + j) = book(best)(j); j += 1 }
      err += bestD
      mi += 1
    }
    (y, err)
  }

  private def rotateAll(x: Array[Array[Double]], r: Array[Array[Double]]): Array[Array[Double]] =
    x.map { v =>
      Array.tabulate(v.length) { a =>
        var acc = 0.0; var b = 0
        while (b < v.length) { acc += r(a)(b) * v(b); b += 1 }
        acc
      }
    }

  private def meanSqErr(xr: Array[Array[Double]], books: Array[Array[Array[Double]]]): Double =
    xr.map(quantize(_, books)._2).sum / xr.length

  /** Orthogonal Procrustes step: the R maximizing tr(R·M) with
    * M = Σᵢ xᵢ yᵢᵀ, via one-sided Jacobi SVD of M (dim×dim, driver
    * math). Returns None on numerical degeneracy (near-zero singular
    * value) — the caller then keeps its previous rotation.
    */
  private def procrustes(x: Array[Array[Double]], y: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val dim = x(0).length
    // M = X·Yᵀ: M[a][b] = Σ_i x_i[a]·y_i[b]
    val mMat = Array.fill(dim)(new Array[Double](dim))
    var i = 0
    while (i < x.length) {
      val xi = x(i); val yi = y(i)
      var a = 0
      while (a < dim) {
        val xa = xi(a); var b = 0
        while (b < dim) { mMat(a)(b) += xa * yi(b); b += 1 }
        a += 1
      }
      i += 1
    }
    rotationFromM(mMat)
  }

  /** The R maximizing tr(R·M) for a given cross-covariance M (dim×dim,
    * driver math) — the Procrustes solve shared by the sample-trained
    * path (which builds M on the driver) and the distributed path
    * (which accumulates M with the native outer-product aggregate).
    * Returns None on numerical degeneracy (near-zero singular value).
    */
  private def rotationFromM(mMat: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val dim = mMat.length
    // One-sided Jacobi: right-rotate columns of B until orthogonal,
    // accumulating V; then U = column-normalized B, and R = V·Uᵀ.
    val bMat = mMat.map(_.clone())
    val vMat = Array.tabulate(dim, dim)((a, b) => if (a == b) 1.0 else 0.0)
    def colDot(m: Array[Array[Double]], p: Int, q: Int): Double = {
      var s = 0.0; var r = 0
      while (r < dim) { s += m(r)(p) * m(r)(q); r += 1 }
      s
    }
    var sweep = 0
    var rotated = true
    while (rotated && sweep < 30) {
      rotated = false
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          val alpha = colDot(bMat, p, p); val beta = colDot(bMat, q, q); val gamma = colDot(bMat, p, q)
          if (math.abs(gamma) > 1e-12 * math.sqrt(alpha * beta)) {
            rotated = true
            val zeta = (beta - alpha) / (2.0 * gamma)
            val t = math.signum(zeta) / (math.abs(zeta) + math.sqrt(1.0 + zeta * zeta))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = c * t
            var r = 0
            while (r < dim) {
              val bp = bMat(r)(p); val bq = bMat(r)(q)
              bMat(r)(p) = c * bp - s * bq; bMat(r)(q) = s * bp + c * bq
              val vp = vMat(r)(p); val vq = vMat(r)(q)
              vMat(r)(p) = c * vp - s * vq; vMat(r)(q) = s * vp + c * vq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val norms = Array.tabulate(dim)(c => math.sqrt(colDot(bMat, c, c)))
    if (norms.exists(_ < 1e-9)) None
    else {
      // R = V·Uᵀ with U's columns = B's normalized: R[a][b] = Σ_c V[a][c]·B[b][c]/σ_c
      Some(Array.tabulate(dim, dim) { (a, b) =>
        var acc = 0.0; var c = 0
        while (c < dim) { acc += vMat(a)(c) * bMat(b)(c) / norms(c); c += 1 }
        acc
      })
    }
  }

  /** Build an OPQ index: PQ over an IVF coarse quantizer with a learned
    * residual-space rotation. Training alternates codebook refit and a
    * Procrustes rotation update on a deterministic `sampleN`-row sample
    * (driver-resident — same class as the centroid fetch), keeping the
    * best (rotation, codebooks) by sample MSE, so the trained rotation
    * NEVER quantizes worse than identity (the plain-PQ baseline —
    * `trainMse` carries both numbers as evidence). The corpus-scale
    * encode is one rotated-projection scan, identical shape to
    * [[pqIndex]]'s; scoring reuses the ADC path with the query residual
    * rotated through the same R.
    */
  def opqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      sampleN: Int = 256,
      opqIters: Int = 4
  ): PqIndex = {
    val ivf = ivfIndex(emb, idCol, vecCol, nLists)
    val cents = ivf.centroids
    val dim = cents(0).length
    require(dim % m == 0, s"embedding dim $dim must divide into $m subspaces")
    // Deterministic sample of residuals, driver-resident (sampleN × dim).
    val sample: Array[Array[Double]] = emb
      .select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(pmod(hash(col(idCol), lit(29)), lit(1 << 30)).asc, col(idCol))
      .limit(sampleN)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        val c = cents(nearestCell(cents, v))
        Array.tabulate(v.length)(j => v(j).toDouble - (if (j < c.length) c(j).toDouble else 0.0))
      }
    val identity = Array.tabulate(dim, dim)((a, b) => if (a == b) 1.0 else 0.0)
    val lloydIters = 4
    var rot = identity
    var books = fitBooks(sample, m, ksub, lloydIters)
    val mse0 = meanSqErr(sample, books)
    var best = (rot, books, mse0)
    for (_ <- 0 until opqIters) {
      val xr = rotateAll(sample, rot)
      val ys = xr.map(quantize(_, books)._1)
      rot = procrustes(sample, ys).getOrElse(rot)
      books = fitBooks(rotateAll(sample, rot), m, ksub, lloydIters)
      val mse = meanSqErr(rotateAll(sample, rot), books)
      if (mse < best._3) best = (rot, books, mse)
    }
    val (bestRot, bestBooks, bestMse) = best
    val rotF = bestRot.map(_.map(_.toFloat))
    val booksF = bestBooks.map(_.map(_.map(_.toFloat)))
    val useRot = if (bestMse < mse0) Some(rotF) else None
    val codes = graft.Tables
      .ensureParallelism(emb.select(col(idCol), col(vecCol)))
      .select(col(idCol), encodeUdf(cents, booksF, useRot)(col(vecCol)).as("pq"))
      .select(col(idCol), col("pq.cell").as("cell"), col("pq.code").as("code"))
    val base = emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
    PqIndex(cents, booksF, codes, base, useRot, Some((mse0, bestMse)))
  }

  /** Distributed OPQ: the Ge'13 alternation of [[opqIndex]] trained on
    * the FULL corpus instead of a driver-side sample. Each iteration is
    * two corpus scans: (1) the Procrustes cross-covariance M = Σ x·yᵀ
    * accumulated by the native outer-product aggregate
    * (functions.OuterProductSumAgg — the shuffle carries dim² doubles
    * per partition, never vectors), with only the dim×dim SVD on the
    * driver; (2) the per-(subspace, code, dim) codebook-mean refit
    * [[pqIndex]] already uses, over rotated residuals. Keeps the best
    * (R, codebooks) by CORPUS quantization MSE against the identity /
    * plain-PQ start, so the shipped rotation never quantizes worse than
    * plain PQ — `trainMse` carries (identity, trained) corpus MSE as
    * evidence.
    */
  def opqIndexFull(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      opqIters: Int = 2
  ): PqIndex = {
    // The seed-row fetch is INDEPENDENT of the centroid TakeOrdered (the
    // residual math below is driver-side, after both jobs land), so the
    // two driver actions run concurrently (r19; guide §2.6 overlap
    // independent jobs) instead of back-to-back.
    val (ivf, seedRows) = Overlap(emb.sparkSession)(ivfIndex(emb, idCol, vecCol, nLists)) {
      emb
        .select(col(idCol), col(vecCol))
        .filter(col(vecCol).isNotNull)
        .orderBy(pmod(hash(col(idCol), lit(17)), lit(1 << 30)).asc, col(idCol))
        .limit(ksub)
        .collect()
    }
    val cents = ivf.centroids
    val dim = cents(0).length
    require(dim % m == 0, s"embedding dim $dim must divide into $m subspaces")
    val dsub = dim / m
    // Persisted RESIDUALS (r19; r18 persisted the raw (id, vec) frame):
    // every training scan (refit / cross-covariance / MSE) starts by
    // recomputing coarse-assign + residual per row — an nLists-distance
    // argmin repeated opqIters·2 + 2 times over identical input. The
    // float residual is a pure function of (vec, cents); computing it
    // ONCE into the cache removes that recompute from every scan (guide
    // §2.4), and the downstream UDFs read the exact same float values,
    // so the training trajectory is bit-identical. ensureParallelism
    // still runs over the same (id, vec) frame as before, so the
    // partition layout feeding the aggregates is unchanged. The suite's
    // cache lifecycle clears the persist between queries.
    val residUdf = udf { (v: Seq[Float]) =>
      val c = cents(nearestCell(cents, v))
      Seq.tabulate(v.length)(j => v(j) - (if (j < c.length) c(j) else 0f))
    }
    val base = graft.Tables
      .ensureParallelism(emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull))
      .select(residUdf(col(vecCol)).as("_res"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Seed codebooks: ksub deterministic id-hash-ordered residuals.
    // Murmur ordering is fine here (unlike pqIndex's md5-salted order):
    // the OPQ rotation training below is driver-side iterative float
    // math, so this path stays replica-tier regardless of the seed's
    // SQL-replayability. Every refinement below is corpus-scale.
    val seed = seedRows.map { r =>
      val v = r.getSeq[Float](1)
      val c = cents(nearestCell(cents, v))
      Array.tabulate(v.length)(j => v(j).toDouble - (if (j < c.length) c(j).toDouble else 0.0))
    }
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(mi => seed.map(_.slice(mi * dsub, (mi + 1) * dsub)))
    val identity = Array.tabulate(dim, dim)((a, b) => if (a == b) 1.0 else 0.0)
    var rot = identity

    // One corpus scan: per-(sub, code, within) means of the ROTATED
    // residuals under the current assignment (the Lloyd M-step at scale;
    // aggregate output is m × ksub × dsub rows — driver-scale).
    def refit(rotD: Array[Array[Double]], cur: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
      val rotF = rotD.map(_.map(_.toFloat))
      val booksD = cur
      // One evaluation per row over the CACHED residual: rotate + code,
      // emitting (per-subspace code, rotated residual) for the mean refit.
      val assignUdf = udf { (res0s: Seq[Float]) =>
        val res0 = res0s.toArray
        val res = rotateVec(rotF, res0).map(_.toDouble)
        val code = Array.tabulate(m) { mi =>
          val book = booksD(mi)
          var best = 0; var bestD = Double.MaxValue
          var k = 0
          while (k < book.length) {
            var d = 0.0; var j = 0
            while (j < dsub) { val t = res(mi * dsub + j) - book(k)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = k }
            k += 1
          }
          best
        }
        (code.toSeq, res.toSeq)
      }
      val means = base
        .select(assignUdf(col("_res")).as("t"))
        .select(col("t._1").as("code"), posexplode(col("t._2")).as(Seq("dim", "x")))
        .select(
          (col("dim") / dsub).cast("int").as("sub"),
          element_at(col("code"), (col("dim") / dsub).cast("int") + 1).as("codeId"),
          (col("dim") % dsub).as("within"),
          col("x")
        )
        .groupBy("sub", "codeId", "within")
        .agg(avg("x").as("mean"))
        .collect()
      val next = cur.map(_.map(_.clone()))
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getAs[Int]("within")) = r.getDouble(3))
      next
    }

    // One corpus scan: mean squared quantization error under (R, books).
    def corpusMse(rotD: Array[Array[Double]], cur: Array[Array[Array[Double]]]): Double = {
      val rotF = rotD.map(_.map(_.toFloat))
      val errUdf = udf { (res0s: Seq[Float]) =>
        quantize(rotateVec(rotF, res0s.toArray).map(_.toDouble), cur)._2
      }
      base.select(avg(errUdf(col("_res"))).as("mse")).head().getDouble(0)
    }

    // Identity start = plain PQ trained at corpus scale (the baseline).
    // Each iteration's cross-covariance scan ALSO evaluates the current
    // (R, books) corpus MSE — one pass does Procrustes statistics and
    // candidate scoring together, so the whole train is
    // opqIters·2 + 2 corpus scans instead of opqIters·3 + 2.
    books = refit(identity, books)
    var mse0 = Double.NaN
    var best: (Array[Array[Double]], Array[Array[Array[Double]]], Double) = null
    for (_ <- 0 until opqIters) {
      val rotF = rot.map(_.map(_.toFloat))
      val booksD = books
      // ONE evaluation per row over the CACHED residual: rotate +
      // quantize once, emitting (unrotated residual, reconstruction,
      // squared error) — separate UDFs would redo the work per column.
      val trainUdf = udf { (res0s: Seq[Float]) =>
        val res0 = res0s.toArray
        val (y, err) = quantize(rotateVec(rotF, res0).map(_.toDouble), booksD)
        (res0.map(_.toDouble).toSeq, y.toSeq, err)
      }
      val row = base
        .select(trainUdf(col("_res")).as("t"))
        .select(
          graft.functions.OuterProductSumAgg
            .outerProductSum(col("t._1"), col("t._2"), dim)
            .as("m"),
          avg(col("t._3")).as("mse")
        )
        .head()
      val mFlat = row.getSeq[Double](0)
      val mse = row.getDouble(1)
      if (mse0.isNaN) mse0 = mse
      if (best == null || mse < best._3) best = (rot, books, mse)
      val mMat = Array.tabulate(dim, dim)((a, b) => mFlat(a * dim + b))
      rot = rotationFromM(mMat).getOrElse(rot)
      books = refit(rot, books)
    }
    val lastMse = corpusMse(rot, books)
    if (best == null || lastMse < best._3) best = (rot, books, lastMse)
    val (bestRot, bestBooks, bestMse) = best
    val rotF = bestRot.map(_.map(_.toFloat))
    val booksF = bestBooks.map(_.map(_.map(_.toFloat)))
    val useRot = if (bestMse < mse0) Some(rotF) else None
    val codes = graft.Tables
      .ensureParallelism(emb.select(col(idCol), col(vecCol)))
      .select(col(idCol), encodeUdf(cents, booksF, useRot)(col(vecCol)).as("pq"))
      .select(col(idCol), col("pq.cell").as("cell"), col("pq.code").as("code"))
    PqIndex(
      cents,
      booksF,
      codes,
      emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull),
      useRot,
      Some((mse0, bestMse))
    )
  }

  final case class SqIndex(lo: Array[Float], hi: Array[Float], codes: DataFrame, base: DataFrame)

  /** Scalar quantization (SQ8): every dimension linearly coded to one
    * unsigned byte against the corpus per-dim (min, max) — dim BYTES per
    * vector (4× under float32), stored as a single binary column. The
    * build is one posexplode min/max aggregate (2·dim driver values) +
    * one encode scan; the complementary quantization family to PQ
    * (per-dim grid vs per-subspace codebook — better when variance is
    * spread evenly, no codebook training).
    */
  def sqIndex(emb: DataFrame, idCol: String, vecCol: String): SqIndex = {
    val base = emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
    val mm = base
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min("x").as("lo"), max("x").as("hi"))
      .collect()
    val dim = mm.length
    val lo = new Array[Float](dim)
    val hi = new Array[Float](dim)
    mm.foreach(r => { lo(r.getInt(0)) = r.getFloat(1); hi(r.getInt(0)) = r.getFloat(2) })
    // Encode arithmetic runs in DOUBLE (r17, was float32): the grid math
    // is then the literal IEEE754 expression a SQL engine evaluates, so
    // the whole code table is DuckDB-recomputable — the promotion that
    // takes ann_sq8_* from rows-only to fully oracle-checked. (float32
    // intermediates differed from the replay by one code step at
    // round-to-half boundaries.)
    val encode = udf { (v: Seq[Float]) =>
      val out = new Array[Byte](v.length)
      var j = 0
      while (j < v.length) {
        val span = hi(j).toDouble - lo(j).toDouble
        val q = if (span <= 0d) 0L else math.round(255.0 * (v(j).toDouble - lo(j).toDouble) / span)
        out(j) = (math.max(0L, math.min(255L, q)) - 128).toByte // stored signed, +128 on decode
        j += 1
      }
      out
    }
    val codes = graft.Tables
      .ensureParallelism(base)
      .select(col(idCol), encode(col(vecCol)).as("code"))
    SqIndex(lo, hi, codes, base)
  }

  /** Score a query against the SQ8 index: approximate cosine against the
    * DEQUANTIZED codes in one scan of the byte table (no float vectors
    * read for ranking), then exact-cosine rescore of the top `rerank`
    * ids — the same contract as the PQ/LSH/IVF paths: emitted scores are
    * exact, the approximation lives only in recall.
    */
  def scoreAgainstSq(
      index: SqIndex,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      rerank: Int = 50
  ): DataFrame = {
    val lo = index.lo
    val hi = index.hi
    val q = query.toArray
    // Dequantization in DOUBLE to mirror the encode (r17): x' is the
    // exact expression lo + q·span/255 the oracle recomputes; ranking
    // drift vs the replay is then only summation order (ulps), which the
    // exact top-k rescore absorbs away from the rerank boundary.
    val approx = udf { (code: Array[Byte]) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < code.length) {
        val span = hi(j).toDouble - lo(j).toDouble
        val x = lo(j).toDouble + (code(j) + 128).toDouble * span / 255.0
        val y = q(j).toDouble
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      if (na == 0 || nb == 0) -1.0 else dot / math.sqrt(na * nb)
    }
    val cand = index.codes
      .select(col(idCol), approx(col("code")).as("acos"))
      .orderBy(col("acos").desc, col(idCol).asc)
      .limit(math.max(rerank, k))
      .select(col(idCol))
    index.base
      .join(cand, Seq(idCol))
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  final case class BqIndex(means: Array[Double], codes: DataFrame, base: DataFrame)

  /** Binary quantization (BQ): every dimension → ONE BIT (above/below the
    * corpus per-dim mean), so a 64-dim float vector packs into a single
    * 64-bit word — 32× under float32, the quantization OpenSearch's
    * binary-vector mode (and faiss's IndexBinaryFlat) runs when even SQ8
    * is too big. Build = one posexplode mean aggregate (dim driver
    * doubles) + one encode scan; the sign test runs in DOUBLE so an
    * independent reimplementation (the DuckDB oracle) lands on identical
    * bits.
    */
  def bqIndex(emb: DataFrame, idCol: String, vecCol: String): BqIndex = {
    val base = emb.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
    val mm = base
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d")
      .agg(avg("x").as("m"))
      .collect()
    val means = new Array[Double](mm.length)
    mm.foreach(r => means(r.getInt(0)) = r.getDouble(1))
    val encode = udf { (v: Seq[Float]) =>
      val words = new Array[Long]((v.length + 63) / 64)
      var j = 0
      while (j < v.length) {
        if (v(j).toDouble > means(j)) words(j >> 6) |= 1L << (j & 63)
        j += 1
      }
      words
    }
    val codes = graft.Tables
      .ensureParallelism(base)
      .select(col(idCol), encode(col(vecCol)).as("code"))
    BqIndex(means, codes, base)
  }

  /** Score a query against the BQ index: Hamming distance via
    * bit_count(xor) over the packed words — pure integer expression work,
    * one scan of the 8-bytes-per-vector code table, no floats read for
    * ranking — then exact-cosine rescore of the best `rerank` ids (ties
    * broken by id, so the candidate set is deterministic and the DuckDB
    * oracle reproduces it bit-for-bit). Emitted scores are exact; the
    * approximation lives only in recall — the family contract.
    */
  def scoreAgainstBq(
      index: BqIndex,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      rerank: Int = 50
  ): DataFrame = {
    val qWords = new Array[Long]((query.length + 63) / 64)
    query.indices.foreach { j =>
      if (query(j).toDouble > index.means(j)) qWords(j >> 6) |= 1L << (j & 63)
    }
    val qLit = array(qWords.map(w => lit(w)): _*)
    val ham = aggregate(
      zip_with(col("code"), qLit, (a, b) => bit_count(a.bitwiseXOR(b))),
      lit(0),
      (acc, x) => acc + x
    )
    val cand = index.codes
      .select(col(idCol), ham.as("_ham"))
      .orderBy(col("_ham").asc, col(idCol).asc)
      .limit(math.max(rerank, k))
      .select(col(idCol))
    index.base
      .join(cand, Seq(idCol))
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Fold new vectors into a PQ index WITHOUT retraining: encode the
    * delta against the FROZEN coarse centroids + codebooks (+ OPQ
    * rotation if present) in one delta-sized scan and union the code
    * table — the faiss add() contract for quantized indexes, completing
    * the add() family (BM25 / MinHash / IVF / graph / PQ). Documented
    * trade: codebooks reflect train-time residual statistics, so
    * quantization error for the delta grows only as the distribution
    * shifts (periodic retrain is the remedy). SimilaritySpec asserts the
    * folded codes equal a from-scratch re-encode and that ADC search
    * finds delta vectors.
    */
  def addToPq(index: PqIndex, delta: DataFrame, idCol: String, vecCol: String): PqIndex = {
    val enc = encodeUdf(index.centroids, index.codebooks, index.rotation)
    val newCodes = graft.Tables
      .ensureParallelism(delta.select(col(idCol), col(vecCol)))
      .select(col(idCol), enc(col(vecCol)).as("pq"))
      .select(col(idCol), col("pq.cell").as("cell"), col("pq.code").as("code"))
    val newBase = delta.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
    index.copy(codes = index.codes.unionByName(newCodes), base = index.base.unionByName(newBase))
  }

  /** Score a query against the PQ index by asymmetric distance (ADC):
    * per probed cell, a (m × ksub) lookup table of squared distances
    * between the query's residual subvectors and the codebook entries is
    * computed on the driver (tiny) and shipped in the scoring closure;
    * a stored code's approximate distance is then m table lookups — no
    * vectors are read for candidate ranking. The best `rerank` ids by
    * ADC are joined back to the base for exact cosine, so emitted scores
    * are exact and the approximation lives only in recall (the same
    * contract as the LSH/IVF paths).
    */
  def scoreAgainstPq(
      index: PqIndex,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nProbe: Int,
      rerank: Int = 50
  ): DataFrame = {
    val cents = index.centroids
    val books = index.codebooks
    val dsub = cents(0).length / books.length
    val cells = index.centroids.zipWithIndex
      .map { case (c, i) => (sqDist(c, query, 0, c.length), i) }
      .sortBy(identity)
      .take(nProbe)
      .map(_._2)
    // LUT per probed cell: [m][ksub] squared distances of the query
    // residual to each codebook entry — nProbe × m × ksub doubles.
    val luts: Map[Int, Array[Array[Double]]] = cells.map { cell =>
      val c = cents(cell)
      val res0 = Array.tabulate(query.length)(j => query(j).toDouble - (if (j < c.length) c(j).toDouble else 0.0))
      // The stored codes quantize ROTATED residuals (OPQ), so the query
      // residual rotates through the same R before the LUT is built.
      val res = index.rotation.map(rotateVecD(_, res0)).getOrElse(res0)
      cell -> Array.tabulate(books.length) { mi =>
        books(mi).map { entry =>
          var d = 0.0
          var j = 0
          while (j < dsub) { val t = res(mi * dsub + j) - entry(j).toDouble; d += t * t; j += 1 }
          d
        }
      }
    }.toMap
    val adcUdf = udf { (cell: Int, code: Seq[Int]) =>
      val lut = luts(cell)
      var d = 0.0
      var mi = 0
      while (mi < code.length) { d += lut(mi)(code(mi)); mi += 1 }
      d
    }
    val cand = index.codes
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col(idCol), adcUdf(col("cell"), col("code")).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(math.max(rerank, k))
      .select(col(idCol))
    index.base
      .join(cand, Seq(idCol))
      .select(col(idCol), round(VectorFns.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  // ── Graph ANN: NSW-style neighbor graph + bounded beam search ─────────

  /** An NSW-class neighbor graph (the index family OpenSearch's default
    * knn engine builds): `neighbors` is the (id, nbr, cos) top-m
    * adjacency table; `entryPoints` are one vector id per coarse cell —
    * bounded index metadata, the same class as the IVF centroid array.
    */
  final case class GraphIndex(neighbors: DataFrame, entryPoints: Seq[Long]) {
    def persist(): GraphIndex = {
      neighbors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      this
    }
    def unpersist(): Unit = { neighbors.unpersist(); () }
  }

  /** Build the neighbor graph (Malkov/Yashunin NSW's flat layer): each
    * vector keeps its top-`m` in-cell neighbors by exact cosine, with
    * SemDeDup-style multi-assignment cell blocking (Lloyd-refined k-means
    * cells; a Voronoi-boundary neighbor pair still meets in the runner-up
    * cell) — the quadratic candidate step stays confined to cells, never
    * corpus all-pairs, and cell count scales with the corpus so per-cell
    * work is bounded at any SF. Per-vector truncation runs through the
    * bounded-heap TopKPerKey operator; every shuffle carries (id, nbr,
    * cos) triples, never vectors. Entry points are the min-id vector of
    * each cell — nLists seeds spread across the space, one O(nLists)
    * driver fetch. A skewed cell larger than `maxCell` is hash-split so
    * its candidate work stays ~s·maxCell, never s² — see
    * [[graphCandidatePairs]].
    */
  def graphIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      nLists: Int = 16,
      nAssign: Int = 2,
      maxCell: Int = 4096
  ): GraphIndex = {
    val idx = ivfIndexKMeans(emb, idCol, vecCol, nLists, iters = 2)
    val cents = idx.centroids
    // Persisted: the frame feeds the cell census AND both sides of the
    // candidate self-join — without the cache each consumer re-runs the
    // nLists-distance assignment over the whole corpus (3 passes). The
    // assignment itself is the native [[VectorFns.nearestCells]] codegen
    // expression (bit-identical ordering to the retired boxed UDF).
    val cells = graft.Tables
      .ensureParallelism(emb.select(col(idCol).as("id"), col(vecCol).as("vec")).filter(col("vec").isNotNull))
      .withColumn("cells", VectorFns.nearestCells(col("vec"), cents, nAssign)) // full assignment rides along for row-local pair dedup
      .select(col("id"), col("vec"), col("cells"), explode(col("cells")).as("cell"))
      .persist()
    // ONE collect does the skew census AND the entry-point election (r19;
    // guide §2.4/§1.2 — was two sequential full-corpus jobs, the second
    // re-running the nLists-distance assignment over idx.assigned). Both
    // read the SAME persisted frame: per exploded cell, its population
    // (the sub-bucket census) and the min id among PRIMARY members —
    // cells(0) is the strict nearest cell (distance asc, index asc), so
    // `cells(0) = cell` selects exactly the rows idx.assigned held, and
    // cells with no primary members yield a NULL seed (they had no row in
    // the old aggregate). Values of both outputs are bit-identical.
    val censusRows = cells
      .groupBy("cell")
      .agg(
        count(lit(1)).as("_csz"),
        min(when(element_at(col("cells"), 1) === col("cell"), col("id"))).as("_seed")
      )
      .collect()
    val nsub: Map[Int, Int] = censusRows
      .map(r => r.getInt(0) -> math.max(1L, math.ceil(r.getLong(1).toDouble / maxCell).toLong).toInt)
      .toMap
    val half = graphCandidatePairs(cells, maxCell, Some(nsub))
    val scored = half.unionByName(half.select(col("nbr").as("id"), col("id").as("nbr"), col("cos")))
    val neighbors = graft.plans.TopKPerKey
      .perKey(scored, Seq("id"), Seq("cos" -> false, "nbr" -> true), m)
      .select("id", "nbr", "cos")
    val entry = censusRows.filter(!_.isNullAt(2)).map(_.getLong(2)).toSeq.sorted
    GraphIndex(neighbors, entry)
  }

  /** In-cell candidate pairs for the graph build, with the per-cell
    * quadratic CAPPED at `maxCell`: a cell of size s > maxCell splits
    * into ceil(s/maxCell) hash sub-buckets — candidate enumeration and
    * cosine work drop from s² to ~s·maxCell, the skewed-cell straggler
    * bound. The sub-bucket hash is keyed on (cell, id), so a pair split
    * apart in one shared cell gets an independent second chance in its
    * runner-up cell (the nAssign=2 multi-assignment); the measured
    * recall floor under deliberate skew lives in SimilaritySpec. Cells
    * at or under maxCell keep nsub = 1 — bit-identical to the uncapped
    * build. Each unordered pair scores ONCE (a < b): of the cells both
    * endpoints share AND meet in (same sub-bucket), only the smallest
    * cell emits the pair — a row-local ownership test replacing the old
    * global `.distinct()` over every (id, nbr, cos) triple, which was a
    * full extra shuffle of the candidate set (the round-8 10×-scale
    * outlier). The duplicate cosine kernel work disappears with the
    * duplicate rows, since ownership is decided BEFORE the kernel runs.
    */
  private[graft] def graphCandidatePairs(
      cells: DataFrame,
      maxCell: Int,
      precomputedNsub: Option[Map[Int, Int]] = None
  ): DataFrame = {
    require(maxCell > 0, s"maxCell must be positive: $maxCell")
    // Callers without multi-assignment (spec fixtures) omit the `cells`
    // array; a single-cell assignment makes the ownership test trivial.
    val assigned =
      if (cells.columns.contains("cells")) cells
      else cells.withColumn("cells", array(col("cell")))
    // Cell census: ≤ nLists rows — bounded index metadata, driver-safe —
    // turned into a closure map so the sub-bucket of ANY (cell, id) pair
    // is computable row-locally on both sides of the ownership test.
    // graphIndex passes the census it already collected with the
    // entry-point election (one job instead of two — r19); direct spec
    // callers still compute it here.
    val nsub: Map[Int, Int] = precomputedNsub.getOrElse(
      assigned
        .groupBy("cell")
        .agg(count(lit(1)).as("_csz"))
        .collect()
        .map(r => r.getInt(0) -> math.max(1L, math.ceil(r.getLong(1).toDouble / maxCell).toLong).toInt)
        .toMap
    )
    // md5-derived sub-bucket (r17, was MurmurHash3.mix): SQL spells it
    // ('0x'||substr(md5(cell||':'||id),1,15))::BIGINT % nsub, so the
    // skew-split pair-ownership rule is oracle-replayable at ANY cell
    // census — the last non-portable piece of the graph build's
    // candidate generation. md5 cost is per (cell, id) probe, the same
    // class the MinHash/SimHash kernels pay per shingle.
    def bucket(cell: Int, id: Long): Int =
      (graft.functions.OracleHash.md5Int60(s"$cell:$id") % nsub.getOrElse(cell, 1)).toInt
    val bucketUdf = udf((cell: Int, id: Long) => bucket(cell, id))
    val ownerUdf = udf { (cell: Int, ca: Seq[Int], cb: Seq[Int], id: Long, nbr: Long) =>
      val meet = ca.intersect(cb).filter(c => bucket(c, id) == bucket(c, nbr))
      meet.nonEmpty && cell == meet.min
    }
    val sub = assigned.withColumn("_g", bucketUdf(col("cell"), col("id")))
    val l = sub.select(col("cell"), col("_g"), col("id"), col("vec").as("va"), col("cells").as("ca"))
    val r = sub.select(col("cell"), col("_g"), col("id").as("nbr"), col("vec").as("vb"), col("cells").as("cb"))
    l.join(r, Seq("cell", "_g"))
      .filter(col("id") < col("nbr"))
      .filter(ownerUdf(col("cell"), col("ca"), col("cb"), col("id"), col("nbr")))
      .select(col("id"), col("nbr"), round(VectorFns.cosine(col("va"), col("vb")), 6).as("cos"))
  }

  /** Beam search over the neighbor graph — HNSW's greedy descent
    * expressed as a FIXED number of expand/score/prune rounds (the
    * bounded-iteration Spark shape: no data-dependent convergence loop,
    * so the job count is known before the query runs). Since round 10
    * this DELEGATES to the fully set-based [[graphSearchBatch]] with a
    * one-probe frame: the per-round driver `.collect()`s of the old
    * scalar loop (frontier adjacency fetch + fresh-candidate re-score —
    * ~6 serialized tiny jobs per query, the measured 1.7-vs-7.3 QPS gap
    * in ANN_QPS_r9.json) are gone; beam state lives in a ≤beam-row
    * frame and each round is one candidate join + one bounded-heap
    * truncation. Emitted scores are exact cosines; recall vs brute
    * force is pinned in ReplicaSpec. For ONLINE single-probe latency
    * use [[graphSearchServe]] against the bucketed [[GraphServing]]
    * handle (r15) — this DataFrame form stays the plan-shaped entry
    * the registry and the batch paths share.
    */
  def graphSearch(
      index: GraphIndex,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      beam: Int = 16,
      rounds: Int = 3
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val probe = Seq((-1L, query)).toDF("_probe_id", "_probe_v")
      .select(col("_probe_id").as(idCol), col("_probe_v").cast("array<float>").as(vecCol))
    graphSearchBatch(index, emb, idCol, vecCol, probe, k, beam, rounds)
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** The ONLINE serving handle for the neighbor graph: adjacency and
    * vectors re-keyed into id-HASH-BUCKETED cached RDDs (the deployment
    * layout the index docs promise — "at scale the neighbor table is
    * bucketed by id"). A probe's per-round reads then run as
    * PARTITION-PRUNED jobs: `sc.runJob` on exactly the buckets the
    * frontier ids hash to, no SQL planning, no shuffle, no codegen —
    * the per-query analyzer/planner pass was the measured majority of
    * graph_seq latency once the per-round materializations were gone
    * (ANN_QPS_r14: 1.18 QPS). This is the sanctioned RDD case (genuine
    * per-partition imperative logic: a keyed point-read). Build once,
    * serve many — the Bm25 build/score-split precedent.
    */
  final case class GraphServing(
      nbrs: org.apache.spark.rdd.RDD[(Long, Array[Long])],
      vecs: org.apache.spark.rdd.RDD[(Long, Array[Float])],
      entryPoints: Seq[Long]
  ) {
    def unpersist(): Unit = { nbrs.unpersist(); vecs.unpersist(); () }
  }

  def graphServing(
      index: GraphIndex,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      buckets: Int = 0
  ): GraphServing = {
    val sc = emb.sparkSession.sparkContext
    val p = new org.apache.spark.HashPartitioner(if (buckets > 0) buckets else sc.defaultParallelism)
    val nbrs = index.neighbors
      .select(col("id"), col("nbr"))
      .rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .aggregateByKey(List.empty[Long], p)((acc, n) => n :: acc, _ ::: _)
      .mapValues(_.toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = emb
      .select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .partitionBy(p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nbrs.count()
    vecs.count()
    GraphServing(nbrs, vecs, index.entryPoints)
  }

  /** Keyed point-read on a bucketed serving RDD: one job over ONLY the
    * partitions the keys hash to (`sc.runJob` with an explicit partition
    * list), each task filtering its bucket by the bounded key set.
    * Generic in the key (graph tiers key by id, the LSH tier by
    * (table, sig)); multi-row keys return every matching row.
    */
  private def fetchByKey[K, V](rdd: org.apache.spark.rdd.RDD[(K, V)], keys: Seq[K])(
      implicit ct: scala.reflect.ClassTag[V]
  ): Seq[(K, V)] = {
    if (keys.isEmpty) return Nil
    val part = rdd.partitioner.get
    val keySet = keys.toSet
    val parts = keySet.map(k => part.getPartition(k)).toArray.sorted.distinct
    rdd.sparkContext
      .runJob(rdd, (it: Iterator[(K, V)]) => it.filter(kv => keySet.contains(kv._1)).toArray, parts.toSeq)
      .flatten
      .toSeq
  }

  /** Single-probe beam search against the [[GraphServing]] handle — the
    * same expansion policy as [[graphSearch]]/[[graphSearchBatch]]
    * (top-beam not-yet-expanded by cos desc / id asc, only never-seen
    * candidates score, every scored node retained), with every data
    * touch a partition-pruned point-read and the cosine computed with
    * the EXACT [[graft.functions.CosineSim]] fold + HALF_UP 6dp round,
    * so emitted (id, score) pairs are bit-identical to the DataFrame
    * paths (GraphServingSpec pins the equality). 1 + 2·rounds pruned
    * jobs per query; driver state bounded by entry + rounds·beam·m
    * (id, cos) pairs.
    */
  /** The CosineSim fold verbatim: left = corpus vector, right = query,
    * strict sequential accumulation, then Spark round()'s HALF_UP 6dp —
    * the serving tiers' driver-side cosine, bit-identical to the
    * DataFrame paths (GraphServingSpec pins it).
    */
  private def servingCos(v: Array[Float], q: Array[Float]): Double = {
    val n = math.min(v.length, q.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = v(i).toDouble
      val y = q(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    BigDecimal.decimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def graphSearchServe(
      serving: GraphServing,
      query: Seq[Float],
      k: Int,
      beam: Int = 16,
      rounds: Int = 3
  ): Seq[(Long, Double)] =
    graphSearchServeBatch(serving, Seq((-1L, query)), k, beam, rounds).map {
      case (_, id, cos) => (id, cos)
    }

  /** Batched serving search: EVERY probe advances through the bucketed
    * point-read tier TOGETHER — per round, ONE partition-pruned
    * adjacency fetch over the union of all probes' frontiers and ONE
    * vector fetch over the union of all probes' unseen candidates
    * (each id read once however many probes want it), so the whole
    * batch costs 1 + 2·rounds pruned jobs — the per-probe loop's cost
    * for ONE query (r16: this is what re-wins graph_batch over
    * graph_seq; the DataFrame [[graphSearchBatch]] stays the unbounded
    * probe-set path, this tier is the ONLINE bounded-batch server).
    * Per-probe expansion policy is exactly the scalar one (top-beam
    * not-yet-expanded by cos desc / id asc, only never-seen candidates
    * score, every scored node retained), so emitted (probe, id, score)
    * rows are bit-identical to [[graphSearchServe]] and the DataFrame
    * beam. Driver state: probes × (entry + rounds·beam·m) (id, cos)
    * pairs — the scalar loop's bound times the (bounded) batch size.
    */
  def graphSearchServeBatch(
      serving: GraphServing,
      probes: Seq[(Long, Seq[Float])],
      k: Int,
      beam: Int = 16,
      rounds: Int = 3
  ): Seq[(Long, Long, Double)] = {
    if (probes.isEmpty) return Nil
    // internal state (scored/expanded/byProbe) is keyed by probe id, so a
    // duplicated id would silently share state between probes (last vector
    // wins) — reject up front rather than emit wrong rows; the LSH serving
    // tier handles duplicate ids per-row, so callers batching the same id
    // twice should dedup (or re-key) before calling this tier
    require(
      probes.map(_._1).distinct.size == probes.size,
      "graphSearchServeBatch: probe ids must be distinct"
    )
    val qs: Seq[(Long, Array[Float])] = probes.map { case (pid, v) => (pid, v.toArray) }
    val scored =
      qs.map { case (pid, _) => pid -> scala.collection.mutable.Map.empty[Long, Double] }.toMap
    val expanded =
      qs.map { case (pid, _) => pid -> scala.collection.mutable.Set.empty[Long] }.toMap
    // one vector fetch serves every probe: score the fetched ids against
    // each probe that asked for them
    def scoreIds(wants: Seq[(Long, Seq[Long])]): Unit = {
      val need = wants.flatMap(_._2).distinct
      if (need.isEmpty) return
      val vecs = fetchByKey(serving.vecs, need).toMap
      val byProbe = qs.toMap
      wants.foreach { case (pid, ids) =>
        val q = byProbe(pid)
        val tgt = scored(pid)
        ids.foreach { id =>
          vecs.get(id).foreach(v => tgt(id) = servingCos(v, q))
        }
      }
    }
    val entries = serving.entryPoints.distinct
    scoreIds(qs.map { case (pid, _) => pid -> entries })
    for (_ <- 0 until rounds) {
      val frontiers: Seq[(Long, Seq[Long])] = qs.map { case (pid, _) =>
        val f = scored(pid).toSeq
          .filterNot { case (id, _) => expanded(pid)(id) }
          .sortBy { case (id, c) => (-c, id) }
          .take(beam)
          .map(_._1)
        expanded(pid) ++= f
        pid -> f
      }
      val frontierIds = frontiers.flatMap(_._2).distinct
      if (frontierIds.nonEmpty) {
        val adj = fetchByKey(serving.nbrs, frontierIds).toMap
        scoreIds(frontiers.map { case (pid, f) =>
          pid -> f.flatMap(id => adj.getOrElse(id, Array.empty[Long]).toSeq)
            .distinct
            .filterNot(scored(pid).contains)
        })
      }
    }
    qs.flatMap { case (pid, _) =>
      scored(pid).toSeq
        .sortBy { case (id, c) => (-c, id) }
        .take(k)
        .map { case (id, c) => (pid, id, c) }
    }
  }

  /** The ONLINE serving handle for the LSH index (r16 — the lsh_seq
    * path was the slowest serving tier left, ANN_QPS: one full SQL plan
    * per probe): the signature table re-keyed into (table, sig)-HASH-
    * BUCKETED cached RDDs plus an id-bucketed vector store. A probe
    * costs exactly TWO partition-pruned jobs — one bucket fetch over
    * all its (table, sig) keys (radius expansion included), one vector
    * fetch over the deduped candidate ids — with the signature computed
    * DRIVER-side through the very same kernel the index build ran
    * ([[VectorFns.hyperplaneSigLocal]]), so candidate sets and scores
    * are bit-identical to [[scoreAgainstLsh]] (LshServingSpec pins it;
    * the registry key shares ann_lsh_topk's DuckDB oracle verbatim —
    * a FULLY oracle-checked serving tier).
    */
  final case class LshServing(
      nBits: Int,
      tables: Int,
      buckets: org.apache.spark.rdd.RDD[((Int, Long), Long)],
      vecs: org.apache.spark.rdd.RDD[(Long, Array[Float])]
  ) {
    def unpersist(): Unit = { buckets.unpersist(); vecs.unpersist(); () }
  }

  def lshServing(index: LshIndex, idCol: String, vecCol: String, nBuckets: Int = 0): LshServing = {
    val sc = index.sigs.sparkSession.sparkContext
    val p = new org.apache.spark.HashPartitioner(if (nBuckets > 0) nBuckets else sc.defaultParallelism)
    val buckets = index.sigs
      .select(col("table"), col("sig"), col(idCol))
      .rdd
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .partitionBy(p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = index.base
      .select(col(idCol), col(vecCol))
      .rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .partitionBy(new org.apache.spark.HashPartitioner(p.numPartitions))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    buckets.count()
    vecs.count()
    LshServing(index.nBits, index.tables, buckets, vecs)
  }

  def lshSearchServe(
      serving: LshServing,
      query: Seq[Float],
      k: Int,
      probeRadius: Int = 0
  ): Seq[(Long, Double)] =
    lshSearchServeBatch(serving, Seq((-1L, query)), k, probeRadius).map { case (_, id, c) => (id, c) }

  /** Batched LSH serving: the whole probe set shares the two pruned
    * jobs — ONE bucket fetch over the union of every probe's (table,
    * sig) keys, ONE vector fetch over the union of candidate ids (each
    * id read once however many probes want it). Per-probe semantics are
    * exactly [[scoreAgainstLsh]]'s: radius-0/1 bucket expansion, id-
    * deduped candidates, exact cosine (corpus-left fold, HALF_UP 6dp),
    * ordered (cos desc, id asc), top-k.
    */
  def lshSearchServeBatch(
      serving: LshServing,
      probes: Seq[(Long, Seq[Float])],
      k: Int,
      probeRadius: Int = 0
  ): Seq[(Long, Long, Double)] = {
    if (probes.isEmpty) return Nil
    val masks: Seq[Long] =
      if (probeRadius <= 0) Seq(0L) else 0L +: (0 until serving.nBits).map(b => 1L << b)
    val wants: Seq[(Long, Array[Float], Seq[(Int, Long)])] = probes.map { case (pid, v) =>
      val q = v.toArray
      val dq = q.map(_.toDouble)
      val keys = (0 until serving.tables).flatMap { t =>
        val s = graft.functions.VectorFns.hyperplaneSigLocal(dq, serving.nBits, lshSeed(t))
        masks.map(m => (t, s ^ m))
      }.distinct
      (pid, q, keys)
    }
    val hits = fetchByKey(serving.buckets, wants.flatMap(_._3).distinct)
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2))
      .toMap
    val cands: Seq[(Long, Array[Float], Seq[Long])] = wants.map { case (pid, q, keys) =>
      (pid, q, keys.flatMap(key => hits.getOrElse(key, Nil)).distinct)
    }
    val vmap = fetchByKey(serving.vecs, cands.flatMap(_._3).distinct).toMap
    cands.flatMap { case (pid, q, ids) =>
      ids
        .flatMap(id => vmap.get(id).map(v => (id, servingCos(v, q))))
        .sortBy { case (id, c) => (-c, id) }
        .take(k)
        .map { case (id, c) => (pid, id, c) }
    }
  }

  /** The ONLINE serving handle for the IVF index (r17, closing the
    * serving-tier set: graph r15, LSH r16, IVF here — ivf_seq was the
    * slowest path left at 12.3 QPS in ANN_QPS_r16). The assignment table
    * is re-keyed into a cell-HASH-BUCKETED cached RDD — IVF cells are
    * the natural bucketing unit, exactly the layout the scoreAgainstIvf
    * doc promises ("partition-prunable when `assigned` is stored
    * partitioned/bucketed by cell"). Unlike the graph/LSH tiers, a CELL
    * is not driver-bounded (at 100 TB a cell holds corpus/nLists
    * vectors), so the probe job does NOT fetch rows to the driver: each
    * pruned task scores its cell rows against every probe locally and
    * returns only a per-probe top-k heap — driver state is
    * parts × probes × k (id, cos) pairs, never vectors. One
    * partition-pruned job per batch, zero per-query SQL planning.
    */
  final case class IvfServing(
      centroids: Array[Array[Float]],
      cells: org.apache.spark.rdd.RDD[(Int, (Long, Array[Float]))]
  ) {
    def unpersist(): Unit = { cells.unpersist(); () }
  }

  def ivfServing(index: IvfIndex, idCol: String, vecCol: String, nBuckets: Int = 0): IvfServing = {
    val sc = index.assigned.sparkSession.sparkContext
    val p = new org.apache.spark.HashPartitioner(if (nBuckets > 0) nBuckets else sc.defaultParallelism)
    val cells = index.assigned
      .filter(col(vecCol).isNotNull && col("cell") >= 0)
      .select(col("cell"), col(idCol), col(vecCol))
      .rdd
      .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
      .partitionBy(p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cells.count()
    IvfServing(index.centroids, cells)
  }

  def ivfSearchServe(
      serving: IvfServing,
      query: Seq[Float],
      k: Int,
      nProbe: Int
  ): Seq[(Long, Double)] =
    ivfSearchServeBatch(serving, Seq((-1L, query)), k, nProbe).map { case (_, id, c) => (id, c) }

  /** Batched IVF serving search: the whole probe set shares ONE
    * partition-pruned job over the union of every probe's `nProbe`
    * nearest cells (driver-side argmin over the O(nLists) centroid
    * array, the [[probeCells]] rule). Each task streams its bucket once,
    * scoring a row against exactly the probes that probed its cell, and
    * keeps a bounded k-heap per probe — the exact-cosine fold + HALF_UP
    * 6dp round ([[servingCos]]) and the (cos desc, id asc) order make
    * emitted rows bit-identical to [[scoreAgainstIvf]] (IvfServingSpec
    * pins the equality; the ann_ivf_serving key shares ann_ivf_topk's
    * DuckDB oracle verbatim). Closure state probes × (dim + nProbe),
    * driver merge parts × probes × k — both bounded.
    */
  def ivfSearchServeBatch(
      serving: IvfServing,
      probes: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int
  ): Seq[(Long, Long, Double)] = {
    if (probes.isEmpty || k <= 0) return Nil
    // per-probe state below is positional (arrays indexed by probe), so
    // duplicate ids are handled naturally — but emitted rows repeat the
    // id, matching the LSH batch tier's per-row contract
    val qs: Array[(Long, Array[Float])] = probes.map { case (pid, v) => (pid, v.toArray) }.toArray
    val cellsPer: Array[Array[Int]] =
      qs.map { case (_, q) => probeCellsOf(serving.centroids, q.toSeq, nProbe).toArray }
    val wanted = cellsPer.flatten.distinct
    if (wanted.isEmpty) return Nil
    val part = serving.cells.partitioner.get
    val parts = wanted.map(c => part.getPartition(c)).distinct.sorted
    val nP = qs.length
    val qVecs: Array[Array[Float]] = qs.map(_._2)
    val cellSets: Array[Set[Int]] = cellsPer.map(_.toSet)
    val kk = k
    // worst element at the heap head under (cos desc, id asc): the max of
    // (-cos, id) is the lowest cos, ties broken toward the HIGHER id
    val heapOrd: Ordering[(Double, Long)] = Ordering.by { case (c, id) => (-c, id) }
    val perPart: Array[Array[Array[(Double, Long)]]] = serving.cells.sparkContext.runJob(
      serving.cells,
      (it: Iterator[(Int, (Long, Array[Float]))]) => {
        val heaps = Array.fill(nP)(new scala.collection.mutable.PriorityQueue[(Double, Long)]()(heapOrd))
        it.foreach { case (cell, (id, v)) =>
          var i = 0
          while (i < nP) {
            if (cellSets(i).contains(cell)) {
              val c = servingCos(v, qVecs(i))
              val h = heaps(i)
              if (h.size < kk) h.enqueue((c, id))
              else {
                val (wc, wid) = h.head
                if (c > wc || (c == wc && id < wid)) { h.dequeue(); h.enqueue((c, id)); () }
              }
            }
            i += 1
          }
        }
        heaps.map(_.toArray)
      },
      parts.toSeq
    )
    qs.zipWithIndex.toSeq.flatMap { case ((pid, _), i) =>
      perPart
        .flatMap(_(i))
        .sortBy { case (c, id) => (-c, id) }
        .take(k)
        .map { case (c, id) => (pid, id, c) }
        .toSeq
    }
  }

  /** A two-layer neighbor graph — HNSW's hierarchy cut to its Spark-
    * shaped essence: a deterministic ~1/`topFraction` id-hash sample
    * forms the TOP layer with its own (small) neighbor table; the bottom
    * layer is the full corpus graph. Search descends: a short beam pass
    * over the top layer picks entry points CLOSE to the query, so the
    * bottom pass starts warm instead of from fixed train-time seeds —
    * the same recall at fewer bottom rounds, or more recall at the same
    * rounds (measured in ReplicaSpec). Both layers are the existing
    * bounded-iteration [[GraphIndex]] machinery; no new execution shape.
    */
  final case class Graph2Index(top: GraphIndex, bottom: GraphIndex)

  def graphIndex2(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      nLists: Int = 16,
      topFraction: Int = 8
  ): Graph2Index = {
    // md5-derived sample (r18, was Spark murmur3 `hash`): the top layer is
    // the ids with md5Int60(id) % topFraction == 0, which DuckDB spells
    // ('0x'||substr(md5(id::text),1,15))::BIGINT % f = 0 — the same swap
    // the IVF centroid sample (r16) and the graph sub-bucket (r17) made,
    // so the WHOLE two-layer build+search becomes oracle-replayable. The
    // sample is still a uniform deterministic 1/f id-hash thinning.
    val topNodes = emb.filter(
      graft.functions.Md5PrefixLong.md5PrefixLong(col(idCol).cast("string"), 15) % topFraction === 0
    )
    // The two layers are INDEPENDENT builds over different row sets — run
    // them concurrently (r19; guide §2.6): each is a chain of sequential
    // driver actions (Lloyd collects, census, candidate join) whose tails
    // the other's jobs back-fill. Values are unchanged — each build's own
    // job trajectory is untouched.
    val (bottom, top) =
      Overlap(emb.sparkSession)(graphIndex(emb, idCol, vecCol, m, nLists))(graphIndex(topNodes, idCol, vecCol, m, nLists))
    Graph2Index(top, bottom)
  }

  /** Descend the two-layer graph: beam the top layer briefly, hand its
    * beam (a bounded O(beam) id list — the entry-point metadata class)
    * to the bottom layer as entry points, then run the standard bounded
    * beam search. Emitted scores exact, rounds fixed — the whole-query
    * job count is still known before it runs.
    */
  def graphSearch2(
      index: Graph2Index,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      beam: Int = 16,
      topRounds: Int = 2,
      rounds: Int = 2
  ): DataFrame = {
    val seeds = graphSearch(index.top, emb, idCol, vecCol, query, k = beam, beam, topRounds)
      .select(col("id"))
      .collect()
      .map(_.getLong(0))
      .toSeq
    val entry = if (seeds.nonEmpty) seeds else index.bottom.entryPoints
    graphSearch(index.bottom.copy(entryPoints = entry), emb, idCol, vecCol, query, k, beam, rounds)
  }

  /** Fold new vectors into the neighbor graph WITHOUT a rebuild — the
    * NSW insert: each new node beam-searches the EXISTING graph for its
    * m nearest neighbors ([[graphSearchBatch]] — delta-sized probe
    * work), links forward AND reverse, and only the TOUCHED adjacency
    * lists re-prune to their best m (untouched rows pass through an
    * anti join; at deployment scale the neighbor table is bucketed by
    * id, so probe reads and the touched-row rewrite stay bucket-local).
    * Two documented trades, both standard for online graph indexes:
    * entry points stay train-time (the IVF centroid-drift class), and
    * batch-internal edges are not formed (new↔new links appear only via
    * later re-pruning rounds or periodic rebuild) — ReplicaSpec measures
    * the post-insert recall these trades actually cost.
    */
  def addToGraph(
      index: GraphIndex,
      existing: DataFrame,
      idCol: String,
      vecCol: String,
      delta: DataFrame,
      m: Int = 8,
      beam: Int = 16,
      rounds: Int = 3
  ): GraphIndex = {
    val found = graphSearchBatch(index, existing, idCol, vecCol, delta, k = m, beam, rounds)
    val fwd = found.select(col("probe_id").as("id"), col("id").as("nbr"), col("cos"))
    val rev = found.select(col("id"), col("probe_id").as("nbr"), col("cos"))
    val newEdges = fwd.unionByName(rev)
    val touched = newEdges.select("id").distinct()
    val untouched = index.neighbors.join(touched, Seq("id"), "left_anti")
    val pruned = graft.plans.TopKPerKey
      .perKey(
        index.neighbors.join(touched, Seq("id"), "left_semi").unionByName(newEdges),
        Seq("id"),
        Seq("cos" -> false, "nbr" -> true),
        m
      )
      .select("id", "nbr", "cos")
    index.copy(neighbors = untouched.unionByName(pruned))
  }

  /** Batch beam search over the neighbor graph — the fully SET-BASED
    * form of the HNSW-style descent, and since round 10 the ONLY
    * implementation (scalar [[graphSearch]] is a 1-probe delegation).
    * The expansion policy is exactly the proven scalar one, expressed
    * over frames: per round, the top-`beam` NOT-YET-EXPANDED nodes per
    * probe form the frontier (a bounded-heap truncation), their
    * adjacency rows join in (IN-filter class pushdown; at deployment
    * scale the neighbor table is bucketed by id), only never-seen
    * candidates score (an anti join replaces the scalar's driver-side
    * seen-set), and EVERY scored node is retained for the final top-k
    * — so recall is identical to the scalar loop, while the job count
    * stays constant no matter how many probes ride the batch and
    * NOTHING is collected to the driver (entry points are bounded index
    * metadata). Per-probe state is bounded by entry + rounds·beam·m
    * rows — the same O(beam·m·rounds) the scalar loop held in driver
    * memory, now distributed. Recall floors and the exact-score
    * contract are pinned in ReplicaSpec.
    */
  def graphSearchBatch(
      index: GraphIndex,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probes: DataFrame,
      k: Int,
      beam: Int = 16,
      rounds: Int = 3
  ): DataFrame = {
    val spark = emb.sparkSession
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec")).filter(col("vec").isNotNull)
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val entryDf = spark.createDataFrame(index.entryPoints.map(Tuple1(_))).toDF("id")
    // No forced broadcast on the probe frame: a bounded probe batch gets
    // broadcast by AQE anyway (runtime size stats), while an unbounded
    // one (the knn-join use) must be free to shuffle instead of being
    // driver-collected by the hint — the ann_lsh_batch_topk precedent.
    // ReplicaSpec asserts the plan carries no ResolvedHint.
    def score(cands: DataFrame): DataFrame =
      cands
        .join(base, "id")
        .join(p, "probe_id")
        .select(col("probe_id"), col("id"), round(VectorFns.cosine(col("vec"), col("probe_vec")), 6).as("cos"))
    // The beam state is referenced THREE times per round (frontier
    // truncation, seen-set anti join, expanded-marker join), so it is
    // re-rooted eagerly each round (localCheckpoint): without the
    // truncation each reference would recompute every earlier round's
    // lineage — 3^rounds work (a fused lazy variant was measured 6×
    // SLOWER even for one probe: the deep multi-reference plan pays
    // more in replanning than the per-round jobs cost). The state is
    // bounded (≤ probes × (entries + rounds·beam·m) rows of
    // (probe_id, id, cos, flag)), executor-resident, never
    // driver-collected; one materialization job per round keeps the
    // fixed-job-count contract.
    var scored = score(p.select("probe_id").crossJoin(broadcast(entryDf)))
      .withColumn("_exp", lit(false))
      .localCheckpoint(true)
    for (_ <- 0 until rounds) {
      val frontier = graft.plans.TopKPerKey
        .perKey(scored.filter(!col("_exp")), Seq("probe_id"), Seq("cos" -> false, "id" -> true), beam)
        .select("probe_id", "id")
      val fresh = frontier
        .join(index.neighbors.select(col("id"), col("nbr")), "id")
        .select(col("probe_id"), col("nbr").as("id"))
        .distinct()
        .join(scored.select("probe_id", "id"), Seq("probe_id", "id"), "left_anti")
      scored = scored
        .join(frontier.withColumn("_f", lit(true)), Seq("probe_id", "id"), "left_outer")
        .withColumn("_exp", col("_exp") || coalesce(col("_f"), lit(false)))
        .drop("_f")
        .unionByName(score(fresh).withColumn("_exp", lit(false)))
        .localCheckpoint(true)
    }
    graft.plans.TopKPerKey
      .perKey(scored.select("probe_id", "id", "cos"), Seq("probe_id"), Seq("cos" -> false, "id" -> true), k)
      .select(col("probe_id"), col("id"), col("cos"), col("rank"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): block by k-means cluster (the Lloyd-refined IVF
    * coarse quantizer), pair WITHIN each cluster (a < b), verify exact
    * cosine ≥ threshold. Precision is 1.0 by construction (every emitted
    * pair re-verified on raw vectors); recall loss is exactly the
    * cross-cluster boundary pairs, measured in ReplicaSpec. The pairing
    * shuffles (cell, id) rows and id pairs only — vectors join back by
    * id for the verify, mirroring [[embeddingNearDupPairs]]. At 100 TB
    * this is the standard semantic-dedup shape: cluster count scales with
    * corpus so per-cell work stays bounded, and the quadratic step never
    * leaves a cell.
    */
  /** Cluster count for a corpus of `n` vectors so the per-cell
    * population (×nAssign multi-assignment) stays ~`targetCell`: the
    * in-cell quadratic is then n·targetCell, never n²/nLists with a
    * FIXED list count. 16 at the gate SFs (2 k vectors — unchanged
    * results, since the ≥16 floor dominates up to n·nAssign = 4 k,
    * i.e. exactly through the gate corpora), ~1 563 at 200 k, always
    * ≥16. The 100× disk blow-up this fixes: 200 k vectors in 16 fixed
    * cells ⇒ ~5 G candidate pairs through the distinct shuffle
    * (~150 GB spill); scaled cells keep the candidate volume linear in
    * n (n·targetCell/2 pairs — ~26 M at 200 k). targetCell = 256
    * matches the ~250-vector cells the gate-SF corpus actually
    * operates at under the floor, so the base→10×→100× series measures
    * ONE operating point (a larger targetCell makes the first decade
    * look superlinear purely because cells are still growing toward
    * it). On a cluster the per-cell work is embarrassingly parallel
    * either way.
    */
  def semanticAutoLists(n: Long, nAssign: Int = 2, targetCell: Int = 256): Int =
    math.max(16L, math.ceil(n.toDouble * nAssign / targetCell).toLong).toInt

  def semanticNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 0,
      iters: Int = 2,
      nAssign: Int = 2
  ): DataFrame = {
    // nLists = 0 (the default) = AUTO: scale the cluster count with the
    // corpus (one cheap count) so "cluster count scales with corpus"
    // holds in the implementation, not just the docstring. Explicit
    // nLists remains for the spec fixtures.
    val lists =
      if (nLists > 0) nLists
      else semanticAutoLists(emb.filter(col(vecCol).isNotNull).count(), nAssign)
    val idx = ivfIndexKMeans(emb, idCol, vecCol, lists, iters)
    // Multi-assignment: index each vector under its nAssign nearest
    // cells — a boundary pair split by the Voronoi edge still meets in
    // the runner-up cell. Storage grows ×nAssign (ids only, not
    // vectors); candidate dedup collapses the double-finds.
    val cents = idx.centroids
    // Native nearest-cells expression (nAssign runner-up cells); a null
    // vector yields a null array and explode drops it — the same
    // zero-rows contract the boxed UDF's empty Seq produced.
    val cells = emb
      .select(
        col(idCol).as("id"),
        col(vecCol).as("vec"),
        explode(VectorFns.nearestCells(col(vecCol), cents, nAssign)).as("cell")
      )
    // Vectors RIDE the cell self-join and the exact-cosine verify runs
    // INLINE on the join output (pipelined — candidate pairs are never
    // materialized through an exchange). The old shape shuffled the
    // ~targetCell·nAssign·n candidate id-pair volume THREE times at 100×
    // (the candidate distinct + two vector join-backs — the r14 sf10
    // re-cut measured it super-linear on the last decade from exactly
    // that spill); here the only exchange is the cell-keyed sort of
    // n·nAssign (id, vec) rows, and the final distinct runs on the
    // (output-sized) verified pairs — a multi-assign double-find of the
    // same pair yields identical rows either way.
    val l = cells.select(col("cell"), col("id").as("a"), col("vec").as("va"))
    val r = cells.select(col("cell"), col("id").as("b"), col("vec").as("vb"))
    l.join(r, Seq("cell"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(VectorFns.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Signature width that keeps expected bucket occupancy ~`targetBucket`
    * as the corpus grows: nBits = ceil(log2(n / targetBucket)). With
    * FIXED bits the per-table candidate volume is n²/2^bits — quadratic;
    * occupancy-scaled bits keep it n·targetBucket. The LSH theory cost
    * is explicit and honest: wider signatures lower per-table recall at
    * the threshold boundary, so a corpus-scale deployment holding a
    * recall floor adds OR-ed tables as it adds bits (L grows ~n^ρ) —
    * there is no free constant-recall constant-candidate operating
    * point. The dedup_embedding entry passes nBits = 0 (auto): at its
    * gate-SF operating point (2 k vectors) auto resolves to the same
    * 6 bits its recall contract was measured at, and past that the
    * signature widens with the corpus so candidate volume stays
    * n·targetBucket·tables/2 instead of quadratic. Specs that need an
    * exact replica contract pin (nBits, tables) explicitly.
    *
    * EXACT integer arithmetic (r16, was a float ln-ratio): the smallest
    * b with 2^b·targetBucket ≥ n — the same ceil(log2(n/target)) value
    * at every non-boundary n, and DETERMINISTIC at exact powers of two
    * where the float form sat one ulp from a ceil flip. This is what
    * lets the DuckDB oracle recompute the width from its own count and
    * agree bit-for-bit (dedup_embedding's r16 promotion).
    */
  def embeddingAutoBits(n: Long, targetBucket: Int = 32): Int = {
    var b = 0
    while ((1L << b) * targetBucket < n && b < 40) b += 1
    math.max(4, b)
  }

  /** Embedding-cosine near-duplicate pairs: bucket by one hyperplane
    * signature, pair within buckets (a < b), verify exact cosine >=
    * threshold. Same banding shape as MinHash — quadratic work confined to
    * buckets (size the signature via [[embeddingAutoBits]] when scaling
    * the corpus; see its scaling-law note).
    */
  def embeddingNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 8,
      tables: Int = 4
  ): DataFrame = {
    // nBits = 0 = AUTO: occupancy-scaled signature width (one cheap
    // count), mirroring semanticNearDupPairs' auto cluster count.
    val bits =
      if (nBits > 0) nBits
      else embeddingAutoBits(emb.filter(col(vecCol).isNotNull).count())
    // ONE batched signature kernel per row (all tables at once,
    // VectorFns.hyperplaneSigs): per-table values identical, but the
    // 32-table build previously paid 32 casts + boxed-Seq unboxings per
    // vector — measured as the dominant constant of the 100× run (r15:
    // 52.6 → 35.5 s at 100× from this alone).
    val sigd = graft.Tables
      .ensureParallelism(
        emb.filter(col(vecCol).isNotNull).select(col(idCol).as("id"), col(vecCol).as("vec"))
      )
      .select(
        col("id"),
        col("vec"),
        posexplode(
          VectorFns.hyperplaneSigs(col("vec"), bits, (0 until tables).map(t => t * 104729 + 13))
        ).as(Seq("table", "sig"))
      )
    // Vectors RIDE the (table, sig) self-join and the exact-cosine
    // verify runs INLINE on the join output — candidate pairs are never
    // materialized through an exchange. The old shape shuffled the
    // ~targetBucket·tables·n/2 candidate id-pair volume three times
    // (candidate distinct + two vector join-backs): ~100 M rows at the
    // 100× point, measured super-linear on the last decade from the
    // spill (r14 sf10 re-cut). Here the only exchange is the
    // (table, sig)-keyed sort of n·tables (id, vec) rows; a multi-table
    // double-find verifies cosine once per colliding table but produces
    // IDENTICAL (a, b, cos) rows, so the final distinct — now on the
    // output-sized verified pairs — collapses them exactly as before.
    // (r15 measured-and-rejected: a first-collision ownership test that
    // retires this distinct — carrying both sides' 32-long signature
    // arrays through the exchange doubled the sort payload and cost 2×
    // MORE than the duplicate verifies it saved on the constant-dup-
    // density corpus, even with the test as a native codegen prefix
    // loop; 35.5 s → 65.4 s at 100×.)
    val l = sigd.select(col("table"), col("sig"), col("id").as("a"), col("vec").as("va"))
    val r = sigd.select(col("table"), col("sig"), col("id").as("b"), col("vec").as("vb"))
    l.join(r, Seq("table", "sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(VectorFns.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }
}
