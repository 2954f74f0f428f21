package graft

import graft.search.Percolate
import graft.streaming.PercolateStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-percolator load benchmark: the indexed tier's stream-static
  * claim (zero state operators, candidate-bound work) measured under a
  * rate-source document stream against registries up to 10⁶ rules.
  *
  * The question it answers for a 100 TB alerting deployment: does
  * per-batch cost track the CANDIDATE volume (live rules whose posting
  * terms actually arrive) rather than the registry size — i.e. are
  * dormant rules free on the streaming path, as the batch 10⁵ bound
  * already shows? Three configs on the same doc stream:
  *   - live1M:    10⁴ live + 990 000 dormant rules (the realistic mix);
  *   - dormant1M: 10⁶ all-dormant (pure registry-size overhead probe);
  *   - live10k:   the SAME 10⁴ live slice alone (candidate-bound
  *                floor — if live1M ≈ live10k, the 990 000 dormant
  *                rules cost nothing).
  * Prints one JSON line per config plus a summary; the driver never
  * runs this (SURVEY §5 evidence generator, like AnnBench).
  */
object PercolateBench {
  def main(args: Array[String]): Unit = {
    val rps = sys.env.getOrElse("SPARK_GRAFT_PERC_RPS", "20000").toInt
    val secs = sys.env.getOrElse("SPARK_GRAFT_PERC_SECS", "45").toInt
    val spark = DevSession()
    import spark.implicits._

    val vocab = Seq(
      "spark", "scan", "join", "hash", "merge", "filter", "vector", "column",
      "batch", "window", "query", "table", "row", "sort", "group", "shuffle")

    // All-AND rules (both terms must appear among the doc's three vocab
    // words): ~tens of matching rules per doc instead of the thousands a
    // 2-term OR registry over a 16-word vocabulary would fire — the
    // realistic "most rules are selective" alerting mix. Range bounds
    // (value % 1000 as the numeric column) thin it further.
    def liveRules(n: Int): Seq[(Long, Seq[String], Boolean, Option[Double], Option[Double])] =
      (0 until n).map { i =>
        (i.toLong, Seq(vocab(i % 16), vocab((i / 16) % 16)), true,
          if (i % 3 == 0) Option(200.0) else Option.empty[Double],
          if (i % 5 == 0) Option(800.0) else Option.empty[Double])
      }
    def dormantRules(n: Int): Seq[(Long, Seq[String], Boolean, Option[Double], Option[Double])] =
      (0 until n).map { i =>
        (1000000L + i, Seq(s"zz_rule_$i", "zz_never_in_corpus"), true,
          Option.empty[Double], Option.empty[Double])
      }

    // The rate-source document side: three vocab words + a unique tail
    // token per row, and a numeric column for the range bounds — the
    // same shape as the E2E drill's CDC doc stream, at controlled rows/s.
    def docStream: DataFrame = {
      val w = (e: org.apache.spark.sql.Column) =>
        element_at(array(vocab.map(lit): _*), (e % 16).cast("int") + 1)
      spark.readStream
        .format("rate")
        .option("rowsPerSecond", rps)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
          col("value").as("doc_id"),
          concat_ws(" ",
            w(col("value")), w(col("value") / 16), w(col("value") / 256),
            concat(lit("doc"), col("value"))).as("text"),
          (col("value") % 1000).cast("double").as("n")
        )
    }

    def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)

    def run(name: String, rules: Seq[(Long, Seq[String], Boolean, Option[Double], Option[Double])]): (String, Double) = {
      val specs = rules.toDF("query_id", "terms", "conj", "rgt", "rlte")
      val index = Percolate.buildIndex(specs)
      val posting = index.posting.persist()
      val nPosting = posting.count()
      index.specs.persist().count()
      val warm = Percolate.PercolateIndex(index.specs, posting)
      val q = PercolateStream
        .alertsIndexed(warm, docStream, "doc_id", "text", "n")
        .writeStream
        .format("noop")
        .outputMode("append")
        .start()
      Thread.sleep(secs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      val nonEmpty = progress.filter(_.numInputRows > 0)
      // drop the first (cold codegen + persist materialization + rate-
      // source backlog) batch when there are enough batches to spare
      val steady = if (nonEmpty.size > 2) nonEmpty.drop(1) else nonEmpty
      val inRows = steady.map(_.numInputRows).sum
      val outRows = steady.map(p => Option(p.sink).map(_.numOutputRows).getOrElse(0L)).sum
      val trigMs = steady.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
      val totalSec = trigMs.sum / 1e3
      val rows_s = if (totalSec > 0) inRows / totalSec else 0.0
      val stateOps = progress.lastOption.map(_.stateOperators.length).getOrElse(-1)
      index.specs.unpersist(); posting.unpersist()
      val line =
        s"""{"config":"$name","rules":${rules.size},"posting_rows":$nPosting,""" +
          s""""batches":${steady.size},"input_rows":$inRows,"alert_rows":$outRows,""" +
          s""""rows_per_sec":${f1(rows_s)},"avg_batch_ms":${if (steady.nonEmpty) trigMs.sum / steady.size else 0},""" +
          s""""max_batch_ms":${if (trigMs.nonEmpty) trigMs.max else 0},"state_operators":$stateOps}"""
      println(line)
      (line, rows_s)
    }

    val live = liveRules(10000)
    val r1 = run("live1M", live ++ dormantRules(990000))
    val r2 = run("dormant1M", dormantRules(1000000))
    val r3 = run("live10k", live)
    println(
      s"""{"metric":"percolate_stream","rps_offered":$rps,"secs_per_config":$secs,""" +
        s""""configs":[${r1._1},${r2._1},${r3._1}],""" +
        s""""dormant_overhead_ratio":${f1(r3._2 / math.max(r1._2, 1e-9))}}"""
    )
    spark.stop()
  }
}
