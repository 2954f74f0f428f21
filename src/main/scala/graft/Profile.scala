package graft

import org.apache.spark.sql.functions._

/** Dev tool: ad-hoc operator profiling at a given SF dir.
  * Usage: runMain graft.Profile <sfDir> [section]
  */
object Profile {
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val section = if (args.length > 1) args(1) else "all"
    val spark = DevSession()

    // `query:<name>` — time one SparkEntry query (warm, like Bench: the
    // first run pays JIT/codegen/memo build, the second is steady-state).
    if (section.startsWith("query:")) {
      val name = section.stripPrefix("query:")
      val fn = SparkEntry.queries(name)
      time(s"$name (cold)")(fn(spark, sfDir).count())
      spark.catalog.clearCache()
      time(s"$name (warm)")(fn(spark, sfDir).count())
      spark.catalog.clearCache()
      spark.stop()
      return
    }

    if (section == "all" || section == "ngram") {
      val docs = Tables.documents(spark, sfDir)
      import graft.functions.TextFns
      val threshold = 0.4
      val base = Tables
        .ensureParallelism(docs.select(col("doc_id").as("id"), col("text").as("_text")))
        .select(col("id"), TextFns.tokens(col("_text")).as("_toks"))
        .select(col("id"), array_distinct(TextFns.ngramsFromTokens(col("_toks"), 3)).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("id"), col("sh"), size(col("sh")).as("sz"))
        .persist()
      time("base")(println("base rows " + base.count()))
      val exploded = base.select(col("id"), col("sz"), explode(col("sh")).as("p"))
      val docFreq = exploded.groupBy(col("p")).agg(count(lit(1)).as("_df"))
      val rankW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
        .orderBy(col("_df").asc, col("p").asc)
      val prefix = exploded
        .join(docFreq, "p")
        .withColumn("_rk", row_number().over(rankW))
        .filter(col("_rk") <= floor(col("sz") * (1 - threshold)) + 1)
        .select(col("id"), col("sz"), col("p"))
        .persist()
      time("prefix")(println("prefix rows " + prefix.count()))
      val l = prefix.as("l")
      val r = prefix.as("r")
      val cands = l
        .join(
          r,
          col("l.p") === col("r.p") && col("l.id") < col("r.id") &&
            col("l.sz") >= col("r.sz") * threshold && col("r.sz") >= col("l.sz") * threshold
        )
        .select(col("l.id").as("a"), col("r.id").as("b"))
      time("cands_distinct")(println("distinct cands " + cands.distinct().count()))
      time("full_op")(println("pairs " + operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4).count()))
    }

    if (section == "graphseq") {
      // single-probe graph serving latency (the ANN_QPS graph_seq shape)
      import graft.operators.Similarity
      val emb = Tables.embeddings(spark, sfDir).persist()
      emb.count()
      val graph = Similarity.graphIndex(emb, "vec_id", "embedding").persist()
      graph.neighbors.count()
      val serving = Similarity.graphServing(graph, emb, "vec_id", "embedding")
      val probes = emb
        .filter(col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq)
        .toSeq
      probes.foreach { case (_, v) => Similarity.graphSearchServe(serving, v, 10) }
      val t0 = System.nanoTime()
      probes.foreach { case (_, v) => Similarity.graphSearchServe(serving, v, 10) }
      val per = (System.nanoTime() - t0) / 1e9 / probes.size
      println(f"[profile] graph_serve per-query: $per%.3f s (${1.0 / per}%.2f QPS)")
      probes.foreach { case (_, v) => Similarity.graphSearch(graph, emb, "vec_id", "embedding", v, 10).count() }
      val t1 = System.nanoTime()
      probes.foreach { case (_, v) => Similarity.graphSearch(graph, emb, "vec_id", "embedding", v, 10).count() }
      val per1 = (System.nanoTime() - t1) / 1e9 / probes.size
      println(f"[profile] graph_seq (DataFrame) per-query: $per1%.3f s (${1.0 / per1}%.2f QPS)")
    }

    if (section == "dedupemb") {
      // cost split of embeddingNearDupPairs at the given SF
      import graft.functions.VectorFns
      val emb = Tables.embeddings(spark, sfDir)
      val n = emb.filter(col("embedding").isNotNull).count()
      val bits = operators.Similarity.embeddingAutoBits(n)
      println(s"[profile] n=$n bits=$bits")
      val sigd = Tables
        .ensureParallelism(emb.select(col("vec_id").as("id"), col("embedding").as("vec")))
        .select(
          col("id"),
          col("vec"),
          posexplode(VectorFns.hyperplaneSigs(col("vec"), bits, (0 until 32).map(t => t * 104729 + 13)))
            .as(Seq("table", "sig"))
        )
      time("sig_build")(println("  sig rows " + sigd.count()))
      val l = sigd.select(col("table"), col("sig"), col("id").as("a"), col("vec").as("va"))
      val r = sigd.select(col("table"), col("sig"), col("id").as("b"), col("vec").as("vb"))
      val joined = l.join(r, Seq("table", "sig")).filter(col("a") < col("b"))
      time("join_pairs")(println("  candidate rows " + joined.count()))
      val verified = joined
        .select(col("a"), col("b"), round(VectorFns.cosine(col("va"), col("vb")), 6).as("cos"))
        .filter(col("cos") >= 0.35)
      time("join+verify")(println("  verified rows " + verified.count()))
      time("full_op")(println("  pairs " + verified.distinct().count()))
      time("full_op_2nd")(println("  pairs " + operators.Similarity
        .embeddingNearDupPairs(emb, "vec_id", "embedding", 0.35, nBits = 0, tables = 32).count()))
    }

    if (section == "all" || section == "minhash") {
      val docs = Tables.documents(spark, sfDir)
      val sh = operators.MinHashLSH.shingles(docs, "doc_id", "text", 3)
      time("mh_shingles")(sh.count())
      val sigs = operators.MinHashLSH.signatures(docs, "doc_id", "text", 3, 128)
      time("mh_sigs")(sigs.count())
      time("mh_full")(println("pairs " + operators.MinHashLSH.nearDupPairs(docs, "doc_id", "text").count()))
    }
    spark.stop()
  }
}
