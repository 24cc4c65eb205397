package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Deterministic input generators. Every value is a pure function of
  * (seed, index), so a run can re-derive any generated row to check an
  * output without keeping the input in driver memory, and the same
  * seed always yields byte-identical files.
  *
  * The SHAPE of each corpus (its leaf paths and union paths) is fixed
  * by the generator, not by the seed: the first [[Gen.FullDocs]]
  * documents walk every event type through every optional field and
  * every conflicting variant, and the rest are drawn at random. So two
  * seeds give different bytes but the same shape counts. */
object Gen {

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pos(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt

  // ---------------------------------------------------------------
  // discover: a githubarchive-like event corpus
  // ---------------------------------------------------------------

  val EventTypes: Int = 40
  /** Documents at the head of every corpus that cover each type's full
    * shape (all optional fields, every number bucket, each conflict). */
  val FullDocs: Int = EventTypes * 6

  private val typeNames: Vector[String] = {
    val base = Vector("Push", "PullRequest", "Issues", "IssueComment",
      "Watch", "Fork", "Create", "Delete", "Release", "Member", "Public",
      "Gollum", "CommitComment", "PullRequestReview",
      "PullRequestReviewComment", "Sponsorship", "Discussion",
      "CheckRun", "CheckSuite", "Deployment")
    (0 until EventTypes).map(t =>
      base(t % base.size) + (if (t < base.size) "" else "V2") + "Event").toVector
  }

  /** Field kinds of a payload slot; a type's slot kinds are fixed. */
  private sealed trait Kind
  private case object KNum extends Kind     // crosses tinyint..decimal
  private case object KStr extends Kind
  private case object KTs extends Kind      // timestamp, sometimes a plain string
  private case object KHex extends Kind     // binary, sometimes a plain string
  private case object KBool extends Kind
  private case object KNumList extends Kind
  private case object KConflict extends Kind // number in some docs, struct in others

  private def slotKind(t: Int, k: Int): Kind = {
    val h = mix(7L, t * 64L + k)
    if (k == 0 && t % 8 == 3) KConflict
    else pos(h, 10) match {
      case 0 | 1 | 2 => KNum
      case 3 | 4     => KStr
      case 5         => KTs
      case 6         => KHex
      case 7         => KBool
      case 8         => KNumList
      case _         => KStr
    }
  }
  private def slots(t: Int): Int = 1 + t % 3
  private def hasSub(t: Int): Boolean = t % 5 == 0
  private def hasItems(t: Int): Boolean = t % 8 == 1

  /** Counters the generator keeps while writing, used as the expected
    * values of the discover workload's checks. */
  final case class CorpusStats(docs: Long, bytes: Long, cells: Long,
                               cellBytes: Long, actorIdSum: Long,
                               repoIdSum: Long, numberBuckets: Set[String])

  /** One generated event and what the shredder must make of it. */
  final case class Event(text: String, cells: Long, cellBytes: Long,
                       actorId: Long, repoId: Long, bucketMask: Int)

  private val buckets = Vector("tinyint", "smallint", "int", "bigint", "decimal")

  /** A number literal in bucket `b` (0..4), drawn from `h`. */
  private def numberIn(b: Int, h: Long): String = {
    val a = math.abs(h >>> 1)
    b match {
      case 0 => (a % 120).toString
      case 1 => (200 + a % 30000).toString
      case 2 => (40000 + a % 2000000000L).toString
      case 3 => (3000000000L + a % 4000000000000L).toString
      case _ => s"${a % 100000}.${"%02d".format(a % 97)}"
    }
  }

  private def hex(h: Long, bytes: Int): String = {
    val sb = new StringBuilder
    var x = h
    (0 until bytes).foreach { _ =>
      sb.append(f"${(x & 0xff).toInt}%02x"); x = (x >>> 8) | (x << 56)
    }
    sb.toString
  }

  private def ts(h: Long): String = {
    val a = math.abs(h >>> 3)
    f"2015-${1 + a % 12}%02d-${1 + (a / 12) % 28}%02d" +
      f"T${(a / 400) % 24}%02d:${(a / 9600) % 60}%02d:${(a / 7) % 60}%02dZ"
  }

  /** One event document. `full` forces every optional field, and
    * `variant` picks the number bucket and the conflicting branch, so
    * the head of the corpus covers the whole shape. Also returns the
    * count of non-null primitive leaves (the shredder's cells) and the
    * bytes of their one-per-line text. */
  def eventDoc(seed: Long, i: Long): Event = {
    val full = i < FullDocs
    val h0 = mix(seed, i)
    val t = if (full) (i % EventTypes).toInt else {
      // skewed type mix: a few types dominate, as in real event logs
      val u = pos(h0, 1000)
      if (u < 300) 0 else if (u < 450) 1 else if (u < 550) 2 else pos(h0 >>> 20, EventTypes)
    }
    val variant = if (full) (i / EventTypes).toInt else pos(h0 >>> 12, 6)
    var cells, cellBytes = 0L
    var bucketMask = 0
    val sb = new java.lang.StringBuilder(512)
    def lit(v: String): Unit = { sb.append(v); cells += 1; cellBytes += v.length + 1 }
    def num(b: Int, h: Long): Unit = { lit(numberIn(b, h)); bucketMask |= 1 << b }
    def str(s: String): Unit = {
      sb.append('"').append(s).append('"'); cells += 1; cellBytes += s.length + 1
    }
    val actorId = 1000L + pos(h0 >>> 5, 5000000)
    val repoId = 10L + pos(mix(seed ^ 0x5bd1L, i), 90000000)
    sb.append("{\"id\":"); lit((2489651045L + i).toString)
    sb.append(",\"type\":"); str(typeNames(t))
    sb.append(",\"actor\":{\"id\":"); lit(actorId.toString)
    sb.append(",\"login\":"); str("user" + actorId % 100000)
    sb.append(",\"gravatar_id\":")
    if (variant == 5) str("") else str(hex(h0, 10))
    sb.append(",\"url\":"); str("https://api.example.com/users/u" + actorId)
    sb.append("},\"repo\":{\"id\":"); lit(repoId.toString)
    sb.append(",\"name\":"); str(s"org${repoId % 977}/repo$repoId")
    sb.append("},\"public\":"); lit(if ((h0 & 3) != 0) "true" else "false")
    sb.append(",\"created_at\":"); str(ts(h0 >>> 9))
    sb.append(",\"payload\":{")
    var first = true
    def field(name: String): Unit = {
      if (!first) sb.append(',') else first = false
      sb.append('"').append(name).append("\":")
    }
    (0 until slots(t)).foreach { k =>
      val h = mix(seed + 31L * k, i)
      // optional slots: present in every full doc, ~80% of the rest
      if (full || k < 2 || pos(h >>> 40, 10) < 8) {
        field(s"p${t}_$k")
        slotKind(t, k) match {
          case KNum =>
            val b = if (full) variant % 5 else {
              val u = pos(h >>> 8, 100)
              if (u < 40) 0 else if (u < 70) 1 else if (u < 90) 2 else if (u < 97) 3 else 4
            }
            num(b, h)
          case KStr => str("v" + (h >>> 20) % 100000)
          case KTs => if (variant == 4) str("unknown") else str(ts(h))
          case KHex => if (variant == 3) str("n/a") else str(hex(h, 4))
          case KBool => lit(if ((h & 1) == 0) "true" else "false")
          case KNumList =>
            val n = 1 + pos(h >>> 4, 4)
            sb.append('[')
            (0 until n).foreach { j =>
              if (j > 0) sb.append(',')
              num(if (full) (variant + j) % 5 else pos(h >>> (8 + j), 3), h + j)
            }
            sb.append(']')
          case KConflict =>
            if (variant % 2 == 0) num(1, h)
            else {
              sb.append("{\"state\":"); str("open"); sb.append(",\"n\":"); num(0, h); sb.append('}')
            }
        }
      }
    }
    if (hasSub(t)) {
      field("head")
      val h = mix(seed + 977L, i)
      sb.append("{\"sha\":"); str(hex(h, 20))
      sb.append(",\"size\":"); num(if (full) variant % 3 else 0, h)
      sb.append(",\"ref\":"); str("refs/heads/b" + pos(h >>> 7, 50))
      sb.append('}')
    }
    if (hasItems(t)) {
      field("items")
      val h = mix(seed + 1979L, i)
      val n = if (full) 2 else pos(h >>> 3, 4)
      sb.append('[')
      (0 until n).foreach { j =>
        if (j > 0) sb.append(',')
        sb.append("{\"name\":"); str("item" + j)
        sb.append(",\"qty\":"); num(if (full) (variant + j) % 4 else 0, h + j)
        sb.append('}')
      }
      sb.append(']')
    }
    sb.append("}}")
    Event(sb.toString, cells, cellBytes, actorId, repoId, bucketMask)
  }

  /** Stream `targetBytes` of event NDJSON into `file`. */
  def writeCorpus(seed: Long, file: Path, targetBytes: Long): CorpusStats = {
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    var docs, bytes, cells, cellBytes, aSum, rSum = 0L
    var mask = 0
    try {
      while (bytes < targetBytes || docs < FullDocs) {
        val d = eventDoc(seed, docs)
        w.write(d.text); w.write('\n')
        docs += 1; bytes += d.text.length + 1; cells += d.cells
        cellBytes += d.cellBytes; aSum += d.actorId; rSum += d.repoId
        mask |= d.bucketMask
      }
    } finally w.close()
    CorpusStats(docs, bytes, cells, cellBytes, aSum, rSum,
      buckets.indices.filter(b => (mask & (1 << b)) != 0).map(buckets).toSet)
  }

  // ---------------------------------------------------------------
  // ingest / query: narrow rows keyed by id
  // ---------------------------------------------------------------

  val Kinds: Vector[String] = Vector("click", "view", "buy", "share", "error")

  /** Field values of row `id`; the expected content of a lookup. */
  final case class Row(id: Long, user: String, kind: String, qty: Long,
                       price: Double, ts: String, tags: Seq[String],
                       nestedQty: Long, nestedNote: String)

  def row(seed: Long, id: Long): Row = {
    val h = mix(seed ^ 0x2545F4914F6CDD1DL, id)
    Row(id, "u" + pos(h, 5000), Kinds(pos(h >>> 13, Kinds.size)),
      pos(h >>> 17, 100).toLong, pos(h >>> 25, 100000) / 100.0,
      ts(h >>> 29), (0 until pos(h >>> 41, 3)).map(j => "t" + pos(h >>> (44 + j), 20)),
      pos(h >>> 50, 1000).toLong, "n" + pos(h >>> 7, 97))
  }

  def rowJson(r: Row): String = {
    val sb = new java.lang.StringBuilder(200)
    sb.append("{\"id\":").append(r.id)
      .append(",\"user\":\"").append(r.user)
      .append("\",\"kind\":\"").append(r.kind)
      .append("\",\"qty\":").append(r.qty)
      .append(",\"price\":").append(r.price)
      .append(",\"ts\":\"").append(r.ts)
      .append("\",\"tags\":[")
    r.tags.zipWithIndex.foreach { case (t, j) =>
      if (j > 0) sb.append(','); sb.append('"').append(t).append('"')
    }
    sb.append("],\"nested\":{\"qty\":").append(r.nestedQty)
      .append(",\"note\":\"").append(r.nestedNote).append("\"}}")
    sb.toString
  }

  /** Rows [lo, hi) as NDJSON lines. */
  def rowsJson(seed: Long, lo: Long, hi: Long): Seq[String] =
    (lo until hi).map(i => rowJson(row(seed, i)))
}
