package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus cartography: k-means topic clusters over the embedding space,
  * labeled with each cluster's most discriminative terms — the corpus
  * map a training-data curator reads before deciding mixing weights
  * (the clustering step SemDeDup and Nomic-Atlas-style tooling run,
  * exposed as its own operator instead of an internal).
  *
  * Pipeline: deterministic k-means (the shared IVF coarse-quantizer
  * trainer — id-hash sample seeds Lloyd, native codegen'd assignment,
  * zero RNG state) assigns every embedded document to a cell; term
  * scoring is cluster-TF × corpus-IDF over per-document DISTINCT
  * tokens; the top `topTerms` labels per cluster come off the
  * bounded-heap TopKPerKey operator, never a windowed sort.
  *
  * Scale shape: assignment is a pure projection over the embedding
  * scan; term stats are two hash aggregates whose shuffles carry
  * (cell, term, count) triples — never text or vectors; the per-cell
  * term table joins corpus df AQE-sized. The one driver scalar is the
  * corpus doc count (1 row). At 100 TB everything is linear scans +
  * map-side-partial aggregates; k rides the closure as the centroid
  * array exactly like every IVF build.
  */
object ClusterTopics {

  /** (cell, n_docs, rank, term, cf, score) — `topTerms` rows per cell,
    * score = (cf / n_docs_in_cell) · ln(N / df), 6-dp rounded; ties
    * break on term asc.
    */
  def clusterTopics(
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      docs: DataFrame,
      docIdCol: String,
      textCol: String,
      k: Int,
      iters: Int = 2,
      topTerms: Int = 3
  ): DataFrame = {
    // The corpus doc count is independent of the k-means training jobs —
    // run it concurrently with the Lloyd collects (r19; guide §2.6
    // overlap independent jobs) instead of as one more serial action.
    val (idx, nDocs) =
      Overlap(emb.sparkSession)(Similarity.ivfIndexKMeans(emb, embIdCol, vecCol, k, iters))(docs.count().toDouble)
    val assigned = idx.assigned.select(col(embIdCol).as("_cid"), col("cell"))
    val docTerms = graft.Tables
      .ensureParallelism(docs.select(col(docIdCol).as("_cid"), col(textCol).as("_t")))
      .select(col("_cid"), explode(array_distinct(TextFns.tokens(col("_t")))).as("term"))
    val corpusDf = docTerms.groupBy("term").agg(count(lit(1)).as("df"))
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("n_docs"))
    val cellTerm = docTerms.join(assigned, "_cid").groupBy("cell", "term").agg(count(lit(1)).as("cf"))
    val scored = cellTerm
      .join(corpusDf, "term")
      .join(sizes, "cell")
      .withColumn("score", round(col("cf").cast("double") / col("n_docs") * log(lit(nDocs) / col("df")), 6))
    graft.plans.TopKPerKey
      .perKey(
        scored.select(col("cell"), col("n_docs"), col("term"), col("cf"), col("score")),
        Seq("cell"),
        Seq(("score", false), ("term", true)),
        topTerms
      )
      .select(col("cell"), col("n_docs"), col("rank"), col("term"), col("cf"), col("score"))
  }
}
