package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options; `perfbench/run.py` passes them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    data: Option[String],
    genSeconds: Double
)

/** What a workload run reports. `e2e` holds the end-to-end metrics
  * (value, unit), `layers` the per-layer values it measured (traced runs
  * only; names from [[Layers.All]]) and `detail` anything a reader of the
  * record needs to interpret them.
  */
final case class Outcome(
    attempted: Long,
    failures: Seq[(String, String)],
    e2e: Map[String, (Double, String)],
    layers: Map[String, Double],
    detail: Map[String, Any]
)

object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val opts = Opts(
      kv("workload"),
      kv("seed").toLong,
      kv("seconds").toDouble,
      kv.get("trace").contains("1"),
      Paths.get(kv("work")).toAbsolutePath,
      kv.get("data"),
      kv.get("gen-seconds").map(_.toDouble).getOrElse(0.0)
    )
    val workload: (SparkSession, Tracer, Opts) => Outcome = opts.workload match {
      case "cdc_stream"   => CdcStreamLoad.run
      case "registry"     => Registry.run
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = session(opts.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, opts.trace)
    val out =
      try workload(spark, tracer, opts)
      finally tracer.stop()
    tracer.write(opts.work.resolve("trace.jsonl"))
    val e2e = out.e2e.map { case (k, (v, u)) =>
      if (k == "setup_s") k -> (v + sessionS + opts.genSeconds, u) else k -> (v, u)
    }
    val layers = Layers.complete(out.layers + ("jvm.live_heap_mb" -> liveHeapMb))
    val record = Map(
      "attempted" -> out.attempted,
      "failed" -> out.failures.size.toLong,
      "failures" -> out.failures.map { case (k, why) => Map("key" -> k, "why" -> why) },
      "metrics" -> (if (opts.trace) layers else e2e).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      },
      "detail" -> (out.detail ++ Map(
        "session_s" -> sessionS,
        "gen_s" -> opts.genSeconds,
        "jvm_run_s" -> (System.nanoTime() - t0) / 1e9
      ))
    )
    Files.write(opts.work.resolve("record.json"), Json.render(record).getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }

  /** The session `graft.Bench` builds: local[nproc], nproc shuffle
    * partitions, UTC, nanosecond parquet timestamps as longs and a codegen
    * cache sized for the whole registry. Scratch space stays in the run's
    * work directory.
    */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private var liveHeapMb = 0.0

  /** Record the heap the program holds live once set up: heap use right
    * after a full collection, taken when the workload's fixed warm-up
    * sequence ends. Heap use between collections would measure the
    * collector's sizing, and a sample at the end of the run would grow
    * with the number of operations that fit in it.
    */
  def sampleLiveHeap(): Unit = {
    System.gc()
    liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Cumulative GC time of the JVM, all collectors. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Names of the entries of a directory, hidden ones skipped; empty if
    * it does not exist.
    */
  def listNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString).filterNot(_.startsWith(".")).sorted
      finally s.close()
    }

  /** (file count, total bytes) of the regular files under `p`, skipping
    * hidden and checksum files.
    */
  def filesUnder(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        var b = 0L
        s.filter(Files.isRegularFile(_)).forEach { f =>
          val name = f.getFileName.toString
          if (!name.startsWith(".") && !name.startsWith("_")) { n += 1; b += Files.size(f) }
        }
        (n, b)
      } finally s.close()
    }
}
