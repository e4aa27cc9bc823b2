package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.{SplittableRandom, UUID}

/** The benchmark's own seeded event generator. It does not use
  * `graft.gen`, so a change to the program cannot change the inputs.
  *
  * Rows follow the reference traffic shape (FIXTURES.md §A.1): UUID
  * event ids, user ids "1".."500", the four event types at
  * .25/.45/.20/.10, ISO-8601 `Z` timestamps inside the day, and a
  * two-decimal amount on purchases only. Null users and duplicate ids
  * are placed at exact counts, so every DQ counter of a generated file
  * is known without reading it back. */
object Gen {
  val Types: Array[String] = Array("login", "view_item", "add_to_cart", "purchase")
  private val TypeCdf = Array(0.25, 0.70, 0.90, 1.0)

  /** One event in memory; `userId` 0 means null. */
  final case class Ev(id: UUID, userId: Int, eventType: Int, tsSec: Long,
      amountCents: Long)

  /** What a generated file is known to contain. */
  final case class Truth(rows: Long, nullUser: Long, dupExtra: Long) {
    def +(o: Truth): Truth = Truth(rows + o.rows, nullUser + o.nullUser,
      dupExtra + o.dupExtra)
  }
  val NoRows: Truth = Truth(0, 0, 0)

  def mix(x: Long): Long = { // splitmix64 finaliser
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(mix(seed))((a, p) => mix(a ^ p)))

  /** `n` distinct events for one (day, file) plus `nDup` duplicated ids
    * (copies of non-null-user rows, shifted 1..120 s) and exactly
    * `nNullUser` null users among the originals. Ids are unique by
    * construction: (seed, day, file, index). `types` restricts the
    * event types (late-arriving files use three of the four). */
  def events(seed: Long, day: LocalDate, file: Int, n: Int, nDup: Int,
      nNullUser: Int, types: Array[Int] = Array(0, 1, 2, 3)): Array[Ev] = {
    require(nDup + nNullUser <= n, "too many special rows for the file")
    val r = rng(seed, day.toEpochDay, file)
    val msb = mix(seed ^ (day.toEpochDay << 8) ^ file)
    val dayStart = day.toEpochDay * 86400L
    val base = Array.tabulate(n) { i =>
      val u = r.nextDouble()
      val t0 = TypeCdf.indexWhere(u < _)
      val t = if (types.contains(t0)) t0 else types(r.nextInt(types.length))
      val amount = if (t == 3) 500L + r.nextLong(19501L) else -1L
      Ev(new UUID(msb, (file.toLong << 40) | i), 1 + r.nextInt(500), t,
        dayStart + r.nextLong(86400L), amount)
    }
    // exact counts: a shuffled index order, the first nNullUser get a
    // null user, the next nDup are the rows that get a duplicate
    val order = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    (0 until nNullUser).foreach { k =>
      base(order(k)) = base(order(k)).copy(userId = 0)
    }
    val dups = (nNullUser until nNullUser + nDup).map { k =>
      val e = base(order(k))
      e.copy(tsSec = e.tsSec + 1 + r.nextInt(120))
    }
    val all = base ++ dups
    // interleave the copies with the originals
    i = all.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
      i -= 1
    }
    all
  }

  private def ndjsonLine(e: Ev, sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"event_id\":\"").append(e.id.toString).append("\",\"user_id\":")
    if (e.userId == 0) sb.append("null")
    else sb.append('"').append(e.userId).append('"')
    sb.append(",\"event_type\":\"").append(Types(e.eventType))
      .append("\",\"event_ts\":\"")
      .append(java.time.Instant.ofEpochSecond(e.tsSec).toString)
      .append("\",\"amount\":")
    if (e.amountCents < 0) sb.append("null")
    else sb.append(e.amountCents / 100).append('.')
      .append(f"${e.amountCents % 100}%02d")
    sb.append("}\n")
  }

  /** Write one NDJSON file; returns its truth record. */
  def writeNdjson(path: Path, evs: Array[Ev], nDup: Int,
      nNullUser: Int): Truth = {
    Files.createDirectories(path.getParent)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 20)
    val sb = new java.lang.StringBuilder(256)
    try evs.foreach { e =>
      sb.setLength(0)
      ndjsonLine(e, sb)
      out.append(sb)
    } finally out.close()
    Truth(evs.length, nNullUser, nDup)
  }
}
