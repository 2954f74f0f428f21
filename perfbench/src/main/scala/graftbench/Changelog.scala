package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

/** One Debezium change envelope as the generator emits it. `seq` is the
  * envelope's `ts_ms` (the order graft applies changes in) and
  * `createdMs` its creation stamp, as an offset from the start of the
  * landing schedule.
  */
final case class Envelope(
    table: String,
    key: String,
    seq: Long,
    op: String,
    before: Option[Seq[(String, String)]],
    after: Option[Seq[(String, String)]],
    createdMs: Long
) {

  /** The envelope as one line of Debezium JSON. Every after-image value is
    * a JSON string, so the image reads back without type inference.
    */
  def json: String = {
    def image(img: Option[Seq[(String, String)]]): String =
      img.fold("null")(_.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))
    s"""{"before":${image(before)},"after":${image(after)},"op":"$op","ts_ms":$seq,""" +
      s""""source":{"table":${Json.str(table)},"created_ms":"$createdMs"}}"""
  }
}

/** Seeded changelog generator for the CDC workload. The same seed gives
  * the same envelopes, files and bytes.
  */
object Changelog {
  val Statuses = Vector("active", "idle", "away", "busy")

  /** One landing file of the streaming workload: its name, its scheduled
    * landing time (offset from the schedule start) and its envelopes.
    */
  final case class LandingFile(name: String, dueMs: Long, envelopes: Vector[Envelope])

  /** Streaming landing schedule for table `user_state`: `files` files of
    * `perFile` envelopes, one every `intervalMs`. Each envelope is created
    * at its file's due time; a `lateShare` of them is held back and lands
    * with the next file, behind newer changes to the same key, so the
    * stream's stale-seq fence has work. Keys are drawn from `keys` ids;
    * 1 in 10 changes is a delete. `firstSeq` continues the seq clock
    * across schedules landed on one checkpoint.
    */
  def stream(
      seed: Long,
      prefix: String,
      files: Int,
      perFile: Int,
      intervalMs: Long,
      keys: Int,
      lateShare: Double,
      firstSeq: Long
  ): Vector[LandingFile] = {
    val r = new SplittableRandom(seed)
    var seq = firstSeq
    val created = (0 until files).map { f =>
      val due = f * intervalMs
      (0 until perFile).map { _ =>
        seq += 1
        val key = r.nextInt(keys).toString
        if (r.nextInt(10) == 0)
          Envelope("user_state", key, seq, "d", Some(Seq("id" -> key)), None, due)
        else {
          val img = Seq(
            "id" -> key,
            "status" -> Statuses(r.nextInt(Statuses.size)),
            "score" -> r.nextInt(100000).toString,
            "seq" -> seq.toString
          )
          Envelope("user_state", key, seq, "u", None, Some(img), due)
        }
      }.toVector
    }.toVector
    // Hold back a share of each file's envelopes to the next file; the
    // last file keeps its own.
    val late = created.indices.map { f =>
      if (f == files - 1) Vector.empty[Envelope]
      else created(f).filter(_ => r.nextDouble() < lateShare)
    }
    created.indices.map { f =>
      val held = late(f).map(_.seq).toSet
      val own = created(f).filterNot(e => held(e.seq))
      val carried = if (f == 0) Vector.empty else late(f - 1)
      LandingFile(f"$prefix-$f%05d.json", f * intervalMs, own ++ carried)
    }.toVector
  }

  /** Write `lines` to `dir/name` atomically: staged under a hidden name
    * (the file source skips names starting with '.'), then renamed in, so a
    * stream never lists a half-written file.
    */
  def land(dir: Path, name: String, lines: Iterable[String]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The index graft should hold after applying a changelog, computed in
  * plain Scala: per (table, key) the envelope with the highest seq wins,
  * whatever order the envelopes arrived in, and a winning delete removes
  * the key.
  */
object Expected {

  /** Per table: the number of live keys and an order-free digest of their
    * after-images.
    */
  final case class TableState(live: Long, digest: Long)

  def latest(envelopes: Iterable[Envelope]): Map[(String, String), Envelope] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Envelope]
    envelopes.foreach { e =>
      val k = (e.table, e.key)
      if (m.get(k).forall(_.seq < e.seq)) m(k) = e
    }
    m.toMap
  }

  def state(envelopes: Iterable[Envelope]): Map[String, TableState] =
    latest(envelopes).values
      .filter(_.op != "d")
      .groupBy(_.table)
      .map { case (t, es) => t -> of(es.map(e => e.key -> e.after.get)) }

  /** The mismatch between an index's state and the expected one, if any. */
  def compare(table: String, got: TableState, want: TableState): Seq[String] =
    if (got.live != want.live) Seq(s"$table: parity ${got.live} docs, expected ${want.live}")
    else if (got.digest != want.digest) Seq(s"$table: digest mismatch over ${got.live} docs")
    else Nil

  /** Count and digest of a set of (key, image) documents. */
  def of(docs: Iterable[(String, Iterable[(String, String)])]): TableState =
    TableState(docs.size.toLong, docs.iterator.map { case (k, img) => docDigest(k, img) }.sum)

  /** A 64-bit digest of one document, independent of field order. */
  def docDigest(key: String, image: Iterable[(String, String)]): Long = {
    val md = MessageDigest.getInstance("MD5")
    md.update(key.getBytes(StandardCharsets.UTF_8))
    image.toSeq.sorted.foreach { case (k, v) =>
      md.update(0: Byte)
      md.update(k.getBytes(StandardCharsets.UTF_8))
      md.update(1: Byte)
      md.update(v.getBytes(StandardCharsets.UTF_8))
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }
}

/** JSON for the benchmark's own records, and for reading index files. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The (name, text) fields of a JSON object; nulls skipped. */
  def fields(node: com.fasterxml.jackson.databind.JsonNode): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    node.fields().asScala.filterNot(_.getValue.isNull).map(e => e.getKey -> e.getValue.asText()).toSeq
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Render a value: String, Double/Int/Long, Boolean, Seq or Map. */
  def render(v: Any): String = v match {
    case null          => "null"
    case s: String     => str(s)
    case d: Double     => num(d)
    case i: Int        => i.toString
    case l: Long       => l.toString
    case b: Boolean    => b.toString
    case m: Map[_, _]  => m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o             => str(o.toString)
  }
}
