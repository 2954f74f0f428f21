package graftbench

import java.nio.file.Files

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** `registry`: a closed loop with one client over a fixed mix of query
  * registry keys: the next request is sent when the previous one
  * completes. A request is the registry call plus
  * `queryExecution.toRdd.count()` (the forcing `graft.Bench` uses) and a
  * cache clear. Keys run in a seeded order per pass over generated tables.
  *
  * The mix has two families, kept fixed so every seed times the same
  * requests (the seed changes the data and the order):
  *  - wire search bodies (`search_dsl_json_*`, every 42nd key in name
  *    order): short requests where fixed per-query cost (compile,
  *    Catalyst, job scheduling) dominates;
  *  - operator pipelines: `ann_ivf_build` (an iterative build: k-means
  *    rounds of small jobs run from the driver), `dedup_simhash` and
  *    `sample_dsir_weights`, the load on `operators/` and the
  *    `functions/` kernels.
  * No CDC.
  */
object Registry {
  val PipelineKeys = Seq("ann_ivf_build", "dedup_simhash", "sample_dsir_weights")
  val WarmPasses = 2
  val MinPasses = 3
  // One measured pass per this many seconds of --seconds: a pass takes
  // about 2.5 s on a 4-vCPU machine.
  val PassSeconds = 2.5

  def keys: Seq[String] = {
    val wire = SparkEntry.queries.keys.filter(_.startsWith("search_dsl_json_")).toSeq.sorted
    wire.zipWithIndex.collect { case (k, i) if i % 42 == 21 => k } ++ PipelineKeys
  }

  final case class Request(key: String, pass: Int, start: Double, end: Double, rows: Long, gcMs: Double) {
    def ms: Double = end - start
  }

  def run(spark: SparkSession, tr: Tracer, o: Opts): Outcome = {
    val dir = o.data.getOrElse(throw new IllegalArgumentException("--data is required"))
    val dump = o.work.resolve("dump")
    Files.createDirectories(dump)
    val failures = Seq.newBuilder[(String, String)]
    var attempted = 0L
    def order(pass: Int): Seq[String] = new scala.util.Random(o.seed * 1000003L + pass).shuffle(keys)

    // Set-up, first a dump pass: each result is written once as parquet
    // for the oracle check (outside the timed loop), which also warms each
    // plan.
    val setupT = System.nanoTime()
    val warmMs = order(-1).map { k =>
      val t = System.nanoTime()
      spark.sparkContext.setJobDescription(s"${o.workload}:$k:dump")
      try SparkEntry.queries(k)(spark, dir).coalesce(1).write.mode("overwrite").parquet(dump.resolve(k).toString)
      catch { case e: Throwable => failures += k -> s"warm-up: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      spark.catalog.clearCache()
      k -> (System.nanoTime() - t) / 1e6
    }.toMap
    spark.sparkContext.setJobDescription(null)
    val oracle = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Files.write(dump.resolve("oracle_sql.json"), Json.render(oracle).getBytes("UTF-8"))

    // One request: the registry call, the forcing count and a cache clear.
    def request(k: String, pass: Int): Request = {
      val req = s"${o.workload}:$k"
      spark.sparkContext.setJobDescription(req)
      val g = Main.gcMs()
      val start = tr.now()
      val rows =
        try tr.span("bench", "bench.op", req) {
            val df = tr.span("entry", "entry.build", req)(SparkEntry.queries(k)(spark, dir))
            val n = tr.span("spark", "spark.exec", req)(df.queryExecution.toRdd.count())
            tr.span("spark", "spark.clear_cache", req)(spark.catalog.clearCache())
            phases(tr, req, df)
            n
          }
        catch {
          case e: Throwable =>
            failures += k -> s"pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
            spark.catalog.clearCache()
            -1L
        }
      val end = tr.now()
      attempted += 1
      Request(k, pass, start, end, rows, (Main.gcMs() - g).toDouble)
    }
    // The dump pass writes instead of counting, so one more pass of the
    // timed requests finishes the warm-up.
    val warmPasses = (1 to WarmPasses).flatMap(p => order(-1 - p).map(request(_, -1 - p)))
    val setupS = (System.nanoTime() - setupT) / 1e9
    if (tr.enabled) Main.sampleLiveHeap()

    // Measured: whole passes in a seeded order. Their number is fixed by
    // --seconds, not by how many fit in it, so every run, and every
    // commit, times the same requests at the same point of the JIT's
    // warm-up, however fast the host is.
    val requests = ArrayBuffer.empty[Request]
    val passWalls = ArrayBuffer.empty[Double]
    (0 until math.max(MinPasses, math.ceil(o.seconds / PassSeconds).toInt)).foreach { pass =>
      val passStart = System.nanoTime()
      order(pass).foreach(k => requests += request(k, pass))
      passWalls += (System.nanoTime() - passStart) / 1e9
    }
    spark.sparkContext.setJobDescription(null)
    val rows = (warmPasses ++ requests).filter(_.rows >= 0).groupBy(_.key).map { case (k, rs) => k -> rs.map(_.rows).distinct.toSeq }
    Files.write(dump.resolve("rows.json"), Json.render(rows).getBytes("UTF-8"))

    val lat = requests.map(_.ms).toSeq
    val tail = Stats.tail(lat)
    // Per family: the mean over its keys of each key's median request
    // wall, so every key weighs the same whatever its share of the run.
    val perKey = requests.groupBy(_.key).map { case (k, rs) => k -> Stats.median(rs.map(_.ms).toSeq) }
    def family(pipeline: Boolean): Double =
      Layers.mean(perKey.collect { case (k, v) if PipelineKeys.contains(k) == pipeline => v })
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "build_ms" -> (family(pipeline = true), "ms"),
      "query_ms" -> (family(pipeline = false), "ms")
    )
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.drain()
        val tree = tr.tree()
        def spanMs(name: String, req: Request): Double =
          tree.collect { case (s, _) if s.name == name && s.req == s"${o.workload}:${req.key}" && s.start >= req.start - 1 && s.end <= req.end + 1 => s.ms }.sum
        val perReq = requests.toSeq.map { r =>
          val build = tree.collect {
            case (s, _) if s.name == "entry.build" && s.start >= r.start - 1 && s.end <= r.end + 1 => (s.start, s.end)
          }
          Map(
            "entry.build_ms" -> spanMs("entry.build", r),
            "entry.build_jobs" -> build.map { case (a, b) => Layers.jobsIn(tr, a, b).size.toDouble }.sum,
            "spark.analysis_ms" -> spanMs("spark.analysis", r),
            "spark.optimization_ms" -> spanMs("spark.optimization", r),
            "spark.planning_ms" -> spanMs("spark.planning", r),
            "spark.exec_ms" -> spanMs("spark.exec", r)
          )
        }
        Layers.common(tr, requests.toSeq.map(r => Layers.Op(r.start, r.end, r.gcMs))) ++
          perReq.head.keys.map(k => k -> Layers.mean(perReq.map(_(k))))
      }
    Outcome(
      attempted,
      failures.result(),
      e2e,
      layers,
      Map(
        "keys" -> keys,
        "requests" -> requests.size,
        "passes" -> passWalls.size,
        "pass_s" -> passWalls.toSeq,
        "latency_p50_ms" -> Stats.median(lat),
        "latency_samples" -> lat.size,
        "latency_tail_ms" -> tail.map(_._1).getOrElse(lat.max),
        "latency_tail_percentile" -> tail.map(_._2).getOrElse(100.0),
        "events_per_s" -> requests.size / (lat.sum / 1000),
        "key_median_ms" -> perKey,
        "key_ms" -> requests.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.ms).toSeq },
        "warmup_ms" -> warmMs
      )
    )
  }

  /** The query's analysis, optimization and planning phases, from its
    * `QueryExecution.tracker`, as spans.
    */
  private def phases(tr: Tracer, req: String, df: DataFrame): Unit = if (tr.enabled) {
    df.queryExecution.tracker.phases.foreach { case (name, p) =>
      tr.external("spark", s"spark.$name", req, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }
}
