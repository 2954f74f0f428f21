package graftbench

import java.nio.file.{Files, Path}

import graft.cdc.IndexPipeline
import graft.search.JsonDsl
import graft.sinks.IndexFileSink
import graft.sources.FileEnvelopeTransport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable.ArrayBuffer

/** `cdc_stream`: streaming apply into the live per-document index, and
  * read-after-write over it.
  *
  * Every call into graft is `IndexPipeline.runStream` (file transport,
  * AvailableNow trigger) plus `awaitTermination()` on one checkpoint, so
  * keyed state carries over from call to call. Phases:
  *  - rounds (closed loop): land a fixed backlog of `user_state` envelopes,
  *    apply it with one call (an index build), then a `_count` request over
  *    the live index (`IndexFileSink.readIndex` then `JsonDsl.countOnly`)
  *    that must see every write. The warm-up is rounds too.
  *  - open loop: one generator thread lands small files on a fixed
  *    schedule while the main thread applies back to back; a seeded share
  *    of envelopes lands one file late, behind newer changes to its key,
  *    for the stream's stale-seq fence. Freshness is the time from an
  *    envelope's creation stamp (its file's scheduled landing time) to the
  *    return of the call that applied it.
  *  - one more call on the drained checkpoint must apply nothing.
  * The only workload on the file source, the state store, the
  * per-document writer and streaming query start.
  */
object CdcStreamLoad {
  val Keys = 200
  val IntervalMs = 250L
  val PerFile = 50
  val LateShare = 0.05
  val OpenFiles = 12
  val BacklogFiles = 4
  val BacklogPerFile = 500
  val WarmRounds = 4
  // A `_count` varies more from call to call than an apply, so a measured
  // round reads the index back this many times.
  val MeasuredQueries = 2
  val MinRounds = 3
  // One measured round per this many seconds of --seconds: a round takes
  // about 2 s on a 4-vCPU machine.
  val RoundSeconds = 2.0

  final case class Call(
      start: Double,
      end: Double,
      runId: String,
      rows: Long,
      files: Seq[String],
      backlog: Int,
      gcMs: Double
  ) {
    def ms: Double = end - start
  }

  /** One `_count` request: its interval and the `readIndex` part of it. */
  final case class Query(start: Double, end: Double, readMs: Double, gcMs: Double) {
    def ms: Double = end - start
  }

  final case class Schedules(
      rounds: Vector[Vector[Changelog.LandingFile]],
      open: Vector[Changelog.LandingFile]
  )

  /** Every landing file of a run with `rounds` backlog rounds, from the
    * seed. Backlog rounds and the open loop continue one seq clock, so the
    * expected index is last-write-wins over whatever has landed.
    */
  def schedules(seed: Long, rounds: Int): Schedules = {
    val backlogs = (0 until rounds).map { i =>
      Changelog.stream(seed + 2 + i, f"round$i%02d", BacklogFiles, BacklogPerFile, 0L, Keys, LateShare, 1000000L * (i + 2))
    }.toVector
    Schedules(backlogs, Changelog.stream(seed + 1, "open", OpenFiles, PerFile, IntervalMs, Keys, LateShare, 1000000L))
  }

  def run(spark: SparkSession, tr: Tracer, o: Opts): Outcome = {
    val base = o.work.resolve("stream")
    val landing = base.resolve("landing")
    val root = base.resolve("index")
    val ckpt = base.resolve("checkpoint")
    Files.createDirectories(landing)

    // The measured work is fixed by --seconds, not by how many rounds fit
    // in it: every run, and every commit, then times the same rounds at the
    // same point of the JIT's warm-up, however fast the host is.
    val measuredRounds = math.max(MinRounds, math.ceil(o.seconds / RoundSeconds).toInt)
    // Set-up: generate the schedules three times (same seed, so the same
    // envelopes) and keep the median time.
    val gens = (0 until 3).map { _ =>
      val t = System.nanoTime()
      val s = schedules(o.seed, WarmRounds + measuredRounds)
      ((System.nanoTime() - t) / 1e9, s)
    }
    val sched = gens.head._2
    val failures = Seq.newBuilder[(String, String)]
    if (gens.exists(_._2 != sched)) failures += "generator" -> "the same seed gave different schedules"
    var attempted = 0L

    val landed = ArrayBuffer.empty[Changelog.LandingFile]
    val applied = scala.collection.mutable.HashSet.empty[String]
    val landedAt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    var n = 0
    // One apply: a runStream call to completion. Returns the files it
    // applied, read from the file source's log in the checkpoint.
    def apply(measured: Boolean): Call = {
      n += 1
      val backlog = landedAt.size - applied.size
      val req = s"cdc_stream:apply-$n"
      spark.sparkContext.setJobDescription(req)
      val g = Main.gcMs()
      val start = tr.now()
      def call() = {
        val q = IndexPipeline.runStream(spark, FileEnvelopeTransport(landing.toString), root.toString, "user_state", ckpt.toString, "id")
        q.awaitTermination()
        q
      }
      val q =
        if (measured) tr.span("bench", "bench.op", req)(tr.span("streaming", "streaming.run_stream", req)(call()))
        else call()
      val end = tr.now()
      spark.sparkContext.setJobDescription(null)
      attempted += 1
      val files = sourceLog(ckpt).filterNot(applied)
      applied ++= files
      Call(start, end, q.runId.toString, q.recentProgress.map(_.numInputRows).sum, files.toSeq, backlog, (Main.gcMs() - g).toDouble)
    }
    def landNow(f: Changelog.LandingFile): Unit = {
      Changelog.land(landing, f.name, f.envelopes.map(_.json))
      landed.synchronized(landed += f)
      landedAt.put(f.name, tr.now())
    }
    def expectedNow(): Expected.TableState =
      Expected.state(landed.synchronized(landed.toVector).flatMap(_.envelopes)).getOrElse("user_state", Expected.TableState(0, 0))
    // Read-after-write: a `_count` over the live index must count every
    // live document landed so far.
    def count(measured: Boolean): Query = {
      n += 1
      val req = s"cdc_stream:_count-$n"
      spark.sparkContext.setJobDescription(req)
      val g = Main.gcMs()
      val start = tr.now()
      def call(): (Long, Double) = {
        val r0 = tr.now()
        val df = tr.span("sinks", "sinks.read_index", req)(IndexFileSink.readIndex(spark, root.toString, "user_state"))
        val readMs = tr.now() - r0
        val got = tr.span("search", "search.count", req) {
          JsonDsl.countOnly(df, """{"query":{"match_all":{}}}""").collect().head.getLong(0)
        }
        (got, readMs)
      }
      val (got, readMs) = if (measured) tr.span("bench", "bench.op", req)(call()) else call()
      val end = tr.now()
      spark.sparkContext.setJobDescription(null)
      attempted += 1
      val want = expectedNow().live
      if (got != want) failures += s"_count-$n" -> s"count $got, expected $want live docs"
      Query(start, end, readMs, (Main.gcMs() - g).toDouble)
    }
    // One round: land a backlog at once, apply it with one call, then read
    // it back.
    def round(files: Vector[Changelog.LandingFile], measured: Boolean): (Call, Seq[Query]) = {
      files.foreach(landNow)
      val c = apply(measured)
      if (c.files.size != files.size) failures += s"apply-$n" -> s"applied ${c.files.size} of ${files.size} backlog files"
      (c, (1 to (if (measured) MeasuredQueries else 1)).map(_ => count(measured)))
    }

    // Set-up: generation (median of three) and warm-up rounds.
    val setupT = System.nanoTime()
    val warm = sched.rounds.take(WarmRounds).map(round(_, measured = false))
    val warmS = (System.nanoTime() - setupT) / 1e9
    if (tr.enabled) Main.sampleLiveHeap()

    // Open loop: the generator lands file i at t0 + i * interval whatever
    // the apply loop is doing; the loop applies back to back until every
    // scheduled file has landed and been applied.
    val open = sched.open
    val t0 = tr.now() + IntervalMs
    val lateness = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val generator = new Thread(() => {
      open.foreach { f =>
        val wait = t0 + f.dueMs - tr.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        landNow(f)
        lateness.add(landedAt.get(f.name) - (t0 + f.dueMs))
      }
    }, "graftbench-generator")
    generator.start()
    // A landed file no call picks up within a minute of the schedule's end
    // is a failure, not a hang.
    val giveUp = t0 + open.last.dueMs + 60000
    val openCalls = ArrayBuffer.empty[Call]
    while (generator.isAlive || (open.exists(f => !applied(f.name)) && tr.now() < giveUp)) {
      if (landedAt.size == applied.size) Thread.sleep(1) else openCalls += apply(true)
    }
    generator.join()
    open.filterNot(f => applied(f.name)).foreach(f => failures += f.name -> "landed but never applied")
    val byFile = open.map(f => f.name -> f).toMap
    val freshness = openCalls.toVector.flatMap { c =>
      c.files.flatMap(byFile.get).flatMap(_.envelopes.map(e => c.end - (t0 + e.createdMs)))
    }

    // Measured rounds.
    val rounds = sched.rounds.drop(WarmRounds).map(round(_, measured = true))
    val applies = rounds.map(_._1).toVector
    val queries = rounds.flatMap(_._2).toVector

    // The whole index against the expected state, read from its files.
    val expected = expectedNow()
    val before = indexState(root)
    Expected.compare("user_state", before, expected).foreach(why => failures += "index" -> why)

    // Replay converges: one more call on the drained checkpoint applies
    // nothing and leaves the index as it was.
    val again = apply(false)
    if (again.files.nonEmpty || again.rows != 0)
      failures += "replay" -> s"drained checkpoint applied ${again.files.size} files, ${again.rows} rows"
    if (indexState(root) != before) failures += "replay" -> "index changed on a call with no new input"

    val backlogEnvelopes = BacklogFiles * BacklogPerFile
    val fresh = Stats.tail(freshness)
    val e2e = Map(
      "setup_s" -> (Stats.median(gens.map(_._1)) + warmS, "s"),
      "build_ms" -> (Stats.median(applies.map(_.ms)), "ms"),
      "query_ms" -> (Stats.median(queries.map(_.ms)), "ms")
    )
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.drain()
        val progress = tr.streams.synchronized(tr.streams.progress.toVector)
        val calls = openCalls.toVector ++ applies
        def phase(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val perCall = calls.map { c =>
          val ps = progress.filter(_.runId.toString == c.runId)
          val st = ps.flatMap(_.stateOperators.headOption)
          // A micro-batch runs two stages: the first scans the landed files,
          // parses the envelopes (cdc) and writes the shuffle by key; the
          // second applies them to the keyed state and the index.
          val stages = Layers.stagesOf(tr, Layers.jobsIn(tr, c.start, c.end))
          val parse = stages.filter(_.shuffleRead == 0)
          Map(
            "sources.latest_offset_ms" -> ps.map(phase(_, "latestOffset")).sum,
            "sources.get_batch_ms" -> ps.map(phase(_, "getBatch")).sum,
            "sources.backlog_files" -> c.backlog.toDouble,
            "cdc.parse_ms" -> parse.map(s => (s.completed - s.submitted).toDouble).sum,
            "cdc.shuffle_write_bytes" -> parse.map(_.shuffleWrite.toDouble).sum,
            "streaming.query_planning_ms" -> ps.map(phase(_, "queryPlanning")).sum,
            "streaming.add_batch_ms" -> ps.map(phase(_, "addBatch")).sum,
            "streaming.wal_commit_ms" -> ps.map(phase(_, "walCommit")).sum,
            "streaming.commit_offsets_ms" -> ps.map(phase(_, "commitOffsets")).sum,
            "streaming.trigger_ms" -> ps.map(phase(_, "triggerExecution")).sum,
            "streaming.start_ms" -> (c.ms - ps.map(phase(_, "triggerExecution")).sum),
            "streaming.state_rows" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            "streaming.state_memory_bytes" -> st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
            "streaming.state_commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
            "sinks.docs_written" -> ps.map(p => math.max(0L, p.sink.numOutputRows).toDouble).sum
          )
        }
        val ops = calls.map(c => Layers.Op(c.start, c.end, c.gcMs)) ++ queries.map(q => Layers.Op(q.start, q.end, q.gcMs))
        Layers.common(tr, ops) ++
          perCall.head.keys.map(k => k -> Layers.mean(perCall.map(_(k)))) ++
          Map(
            "cdc.live_docs" -> expected.live.toDouble,
            "sinks.read_index_ms" -> Layers.mean(queries.map(_.readMs)),
            "sinks.index_files" -> Main.filesUnder(root)._1.toDouble
          )
      }
    Outcome(
      attempted,
      failures.result(),
      e2e,
      layers,
      Map(
        "rounds" -> rounds.size,
        "backlog_envelopes" -> backlogEnvelopes,
        "apply_ms" -> applies.map(_.ms),
        "query_ms" -> queries.map(_.ms),
        "events_per_s" -> backlogEnvelopes / Stats.median(applies.map(_.ms / 1000)),
        "offered_per_s" -> PerFile * 1000.0 / IntervalMs,
        "open_loop_files" -> open.size,
        "open_loop_calls" -> openCalls.size,
        "freshness_p50_ms" -> Stats.median(freshness),
        "freshness_samples" -> freshness.size,
        "freshness_tail_ms" -> fresh.map(_._1).getOrElse(freshness.max),
        "freshness_tail_percentile" -> fresh.map(_._2).getOrElse(100.0),
        "generator_lateness_ms_max" -> (0.0 +: lateness.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue)).max,
        "generator_lateness_ms_mean" -> Layers.mean(lateness.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue)),
        "live_docs" -> expected.live,
        "warmup_s" -> warm.map { case (c, qs) => (c.ms + qs.map(_.ms).sum) / 1000 }
      )
    )
  }

  /** Names of the landing files the file source has recorded in the
    * checkpoint's source log (`sources/0`, one JSON line per file).
    */
  def sourceLog(ckpt: Path): Set[String] = {
    val dir = ckpt.resolve("sources").resolve("0")
    Main.listNames(dir).flatMap { f =>
      Files.readAllLines(dir.resolve(f)).toArray.toSeq.map(_.toString).filter(_.startsWith("{")).map { line =>
        val p = Json.mapper.readTree(line).get("path").asText()
        p.substring(p.lastIndexOf('/') + 1)
      }
    }.toSet
  }

  /** Count and digest of the live per-document index, read from its files
    * directly.
    */
  def indexState(root: Path): Expected.TableState = {
    val dir = root.resolve("user_state")
    Expected.of(Main.listNames(dir).filter(_.endsWith(".json")).map { f =>
      val row = Json.mapper.readTree(Files.readString(dir.resolve(f)))
      row.get("_id").asText() -> Json.fields(Json.mapper.readTree(row.get("payload").asText()))
    })
  }
}
