package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded, order-independent input generator. Every random choice is a
  * pure hash of (seed, coordinates), so the same seed yields
  * byte-identical inputs no matter which thread, partition or order
  * asks, and the truth used by the output checks is computed from the
  * same functions without Spark.
  */
object Gen {

  // ---- hashing -------------------------------------------------------

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed ^ 0x5eed5eedL))((h, p) => mix(h ^ p))

  /** Uniform double in [0, 1). */
  def unit(seed: Long, parts: Long*): Double =
    (hash(seed, parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  def below(n: Int, seed: Long, parts: Long*): Int =
    (unit(seed, parts: _*) * n).toInt

  /** A fixed-point decimal as JSON text and as the double a JSON
    * parser reads back from it (both correctly rounded, so equal).
    */
  def fixed(scaled: Long, decimals: Int): String = {
    val p = math.pow(10, decimals).toLong
    val sign = if (scaled < 0) "-" else ""
    val a = math.abs(scaled)
    s"$sign${a / p}.${(a % p).toString.reverse.padTo(decimals, '0').reverse}"
  }

  def fixedValue(scaled: Long, decimals: Int): Double =
    scaled.toDouble / math.pow(10, decimals)

  // ---- air-quality extractions ----------------------------------------

  val parameters: Seq[String] = Seq("pm25", "pm10", "no2", "so2", "o3", "co", "bc")
  private val cities = Seq("Hanoi", "Ho Chi Minh City", "Da Nang", "Hai Phong",
    "Can Tho", "Hue", "Nha Trang", "Vinh")

  /** Epoch hour of 2024-01-01T00:00Z; hours are counted from here. */
  val epochHour0: Long = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond / 3600

  /** A sensor: its id, the parameter it reports, and whether it is a
    * co-located second sensor (same key, occasionally another value).
    */
  case class Sensor(id: Long, param: String, secondary: Boolean)

  /** One monitoring station; `meta` is None for stations whose feed
    * carries null city/country/coordinates.
    */
  case class Location(id: Long, name: String, offsetHours: Int,
                      timezone: String, sensors: Seq[Sensor],
                      meta: Option[(String, String, Long, Long)])

  /** `n` stations. Which pollutants a station reports and where it
    * stands are seeded; how many sensors, which stations carry a second
    * pm25 sensor, a +08:00 offset or null metadata depend on the index
    * only, so every seed lands the same volume.
    */
  def locations(seed: Long, n: Int): Seq[Location] = (0 until n).map { i =>
    val id = 1000L + i
    val others = (1 until parameters.size).sortBy(pi => hash(seed, 1, id, pi)).take(2).sorted
    val primaries = (0 +: others).map(pi => Sensor(id * 10 + pi, parameters(pi), secondary = false))
    // a second pm25 sensor on some stations: same key, different value
    val second = if (i % 4 == 1) Seq(Sensor(id * 10 + 8, "pm25", secondary = true)) else Nil
    val plus8 = i % 3 == 2
    val meta =
      if (i % 10 == 9) None
      else Some((cities(below(cities.size, seed, 5, id)), "VN",
        200000L + below(30000, seed, 6, id), 1020000L + below(60000, seed, 7, id)))
    Location(id, s"Station $id", if (plus8) 8 else 7,
      if (plus8) "Asia/Singapore" else "Asia/Bangkok", primaries ++ second, meta)
  }

  /** Hour of first appearance after the reading's own hour (most
    * readings arrive in the next extraction; a few lag by hours).
    */
  def delay(seed: Long, s: Sensor, t: Long): Int = {
    val u = unit(seed, 10, s.id, t)
    if (u < 0.9) 0 else 1 + below(3, seed, 11, s.id, t)
  }

  /** Does sensor `s` report hour `t` at all? */
  def present(seed: Long, s: Sensor, t: Long): Boolean =
    if (s.secondary) unit(seed, 12, s.id, t) < 0.15
    else unit(seed, 12, s.id, t) >= 0.03

  /** Reading value in tenths, as first extracted and after a
    * correction (if any) that later extractions carry from hour
    * `t + lag` onwards.
    */
  def tenths(seed: Long, s: Sensor, t: Long): Long = {
    val base = s.param match {
      case "pm25" | "bc" => 600
      case "pm10" => 900
      case "co" => 80
      case _ => 700
    }
    val diurnal = math.sin((t % 24) / 24.0 * 2 * math.Pi) * base * 0.3
    val v = (base * (0.3 + 1.4 * unit(seed, 13, s.id, t)) + diurnal).toLong
    if (unit(seed, 14, s.id, t) < 0.01) -v / 10 - 1 else v // a few negative readings
  }

  def correctionLag(seed: Long, s: Sensor, t: Long): Option[Int] =
    if (unit(seed, 15, s.id, t) < 0.03) Some(2 + below(18, seed, 16, s.id, t)) else None

  def tenthsAt(seed: Long, s: Sensor, t: Long, extraction: Long): Long = {
    val v = tenths(seed, s, t)
    correctionLag(seed, s, t) match {
      case Some(lag) if extraction >= t + lag => v + 1 + below(50, seed, 17, s.id, t)
      case _ => v
    }
  }

  /** Readings re-extracted hourly over a 24 h window: extraction `e`
    * carries hours `e-23 .. e`.
    */
  val overlapHours = 24

  def inExtraction(seed: Long, s: Sensor, t: Long, e: Long): Boolean =
    t <= e && t > e - overlapHours && t + delay(seed, s, t) <= e && present(seed, s, t)

  private val localFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  def utcString(hour: Long): String =
    LocalDateTime.ofEpochSecond((epochHour0 + hour) * 3600, 0, ZoneOffset.UTC).format(localFmt)

  def localString(hour: Long, offsetHours: Int): String =
    LocalDateTime.ofEpochSecond((epochHour0 + hour) * 3600, 0, ZoneOffset.ofHours(offsetHours))
      .format(localFmt) + f"+$offsetHours%02d:00"

  /** First hour of a UTC calendar day given as yyyy-MM-dd. */
  def epochHourOfDay(d: String): Long =
    Instant.parse(d + "T00:00:00Z").getEpochSecond / 3600 - epochHour0

  /** UTC calendar day (yyyy-MM-dd) of an hour. */
  def day(hour: Long): String = utcString(hour).substring(0, 10)

  private def q(s: String): String = "\"" + s + "\""

  def line(loc: Location, s: Sensor, datetime: String, valueTenths: Long,
           extractedHour: Long): String = {
    val (city, country, lat, lon) = loc.meta match {
      case Some((c, k, la, lo)) => (q(c), q(k), fixed(la, 4), fixed(lo, 4))
      case None => ("null", "null", "null", "null")
    }
    s"""{"location_id":${loc.id},"sensor_id":${s.id},"datetime":${q(datetime)},""" +
      s""""parameter":${q(s.param)},"value":${fixed(valueTenths, 1)},"unit":"µg/m³",""" +
      s""""extracted_at":${q(utcString(extractedHour))},"location_name":${q(loc.name)},""" +
      s""""city":$city,"timezone":${q(loc.timezone)},"country":$country,""" +
      s""""latitude":$lat,"longitude":$lon}"""
  }

  private val junkDatetimes = Seq("2024-13-45T99:00:00+07:00", "not-a-date", "")

  /** The NDJSON extraction landed at hour `e`: every station's sensors
    * over the overlap window, plus exact duplicate lines and lines with
    * unparseable datetimes (FIXTURES edge cases).
    */
  def extraction(seed: Long, locs: Seq[Location], e: Long): Array[String] = {
    val out = Array.newBuilder[String]
    for (loc <- locs; t <- (e - overlapHours + 1) to e; s <- loc.sensors
         if inExtraction(seed, s, t, e)) {
      val l = line(loc, s, localString(t, loc.offsetHours), tenthsAt(seed, s, t, e), e)
      out += l
      if (unit(seed, 20, s.id, t, e) < 0.005) out += l
    }
    for (loc <- locs if unit(seed, 21, loc.id, e) < 0.05) {
      val s = loc.sensors.head
      out += line(loc, s, junkDatetimes(below(junkDatetimes.size, seed, 22, loc.id, e)),
        tenths(seed, s, e), e)
    }
    out.result()
  }

  def bytes(lines: Array[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(lines.length * 320)
    lines.foreach(l => sb.append(l).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  /** Days of readings (valid datetimes) an extraction carries. */
  def touchedDays(e: Long): Seq[String] =
    ((e - overlapHours + 1) to e).map(day).distinct

  // ---- truth for the mart ---------------------------------------------

  /** One expected mart row: pollutant values (tenths) and metadata. */
  case class MartRow(values: Map[String, Long], meta: Option[(String, String, Long, Long)])

  /** Batch truth as of extraction `now`: for each (location, hour) in
    * the given days, the freshest extraction carrying the key wins;
    * inside one extraction the smallest sensor id wins.
    */
  def batchTruth(seed: Long, locs: Seq[Location], now: Long,
                 hours: Seq[Long]): Map[(Long, Long), MartRow] = {
    val rows = for (loc <- locs; t <- hours) yield {
      val values = loc.sensors.groupBy(_.param).flatMap { case (p, ss) =>
        // latest extraction that carries any of this key's sensors
        val latest = math.min(now, t + overlapHours - 1)
        ss.filter(s => inExtraction(seed, s, t, latest)).sortBy(_.id).headOption
          .map(s => p -> tenthsAt(seed, s, t, latest))
      }
      (loc.id, t) -> MartRow(values, loc.meta)
    }
    rows.filter(_._2.values.nonEmpty).toMap
  }

  /** Streaming truth: the FIRST extraction carrying a key decides; a
    * key reported by two sensors in that extraction may keep either.
    */
  def firstArrivalCandidates(seed: Long, locs: Seq[Location], firstLanded: Long,
                             lastLanded: Long): Map[(Long, Long, String), Set[Long]] = {
    val out = Map.newBuilder[(Long, Long, String), Set[Long]]
    for (loc <- locs; t <- (firstLanded - overlapHours + 1) to lastLanded;
         (p, ss) <- loc.sensors.groupBy(_.param)) {
      val arrivals = ss.filter(s => present(seed, s, t))
        .map(s => math.max(t + delay(seed, s, t), firstLanded) -> s)
        .filter { case (e, _) => e <= lastLanded && e < t + overlapHours }
      if (arrivals.nonEmpty) {
        val first = arrivals.map(_._1).min
        out += (loc.id, t, p) ->
          arrivals.filter(_._1 == first).map { case (e, s) => tenthsAt(seed, s, t, e) }.toSet
      }
    }
    out.result()
  }

  // ---- documents corpus --------------------------------------------------

  case class Doc(id: Long, text: String, lang: String, source: String)

  /** Planted structure of the corpus, known before curation runs. */
  case class CorpusTruth(docs: Seq[Doc], gatedIds: Set[Long],
                         exactGroups: Seq[Seq[Long]], nearClusters: Seq[Seq[Long]])

  private val syllables = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "va",
    "de", "gu", "ho", "ji", "ze", "bo", "fu")
  private val stopwords = Seq("the", "of", "and", "to", "in", "a")

  private def word(w: Int): String =
    (0 until 3).map(i => syllables((w >> (4 * i)) & 15)).mkString

  /** Word `w`, or the next one if that is `old`: a replaced word must
    * change the text, or the near duplicate is an exact copy.
    */
  private def otherWord(old: String, w: Int): String =
    if (word(w) == old) word((w + 1) % 4096) else word(w)

  private def words(seed: Long, doc: Long, n: Int): Seq[String] = (0 until n).map { i =>
    if (unit(seed, 30, doc, i) < 0.08) stopwords(below(stopwords.size, seed, 31, doc, i))
    else word(below(4096, seed, 32, doc, i))
  }

  /** `n` documents: unique articles, exact copies, near-duplicate
    * clusters (one word replaced or appended), and low-quality docs
    * (too short, or one repeated token) that the gates must drop. The
    * mix repeats every 25 groups, so every seed has the same shape;
    * words, lengths and ids are seeded.
    */
  def corpus(seed: Long, n: Int): CorpusTruth = {
    val docs = Vector.newBuilder[Doc]
    var gated = Set.empty[Long]
    val exact = Vector.newBuilder[Seq[Long]]
    val near = Vector.newBuilder[Seq[Long]]
    // ids are a seeded permutation so survivors are not always first
    val ids = (0 until n).map(i => (hash(seed, 40, i), i.toLong)).sortBy(_._1).map(_._2 + 1)
    var next = 0
    def take(): Long = { val id = ids(next); next += 1; id }
    val sources = Seq("web", "news", "forum", "wiki")
    def add(text: String, k: Long): Long = {
      val id = take()
      docs += Doc(id, text, if (k % 5 == 0) "und" else "en", sources((k % 4).toInt))
      id
    }
    var k = 0L
    while (next < n) {
      val remaining = n - next
      val body = words(seed, k, 100 + below(40, seed, 42, k))
      (k % 25).toInt match {
        case 0 => gated += add(words(seed, k, 5).mkString(" "), k)
        case 1 =>
          gated += add(Seq.fill(30 + below(20, seed, 43, k))(word(below(4096, seed, 44, k))).mkString(" "), k)
        case 2 | 3 if remaining >= 3 =>
          exact += (0 until 2 + (k / 25 % 2).toInt).map(_ => add(body.mkString(" "), k))
        case 4 | 5 | 6 | 7 if remaining >= 3 =>
          val base = add(body.mkString(" "), k)
          val vs = (1 to 1 + (k % 2).toInt).map { v =>
            val edited =
              if (v == 1) body.init :+ otherWord(body.last, below(4096, seed, 47, k, v))
              else body :+ word(below(4096, seed, 48, k, v))
            add(edited.mkString(" "), k)
          }
          near += base +: vs
        case _ => add(body.mkString(" "), k)
      }
      k += 1
    }
    CorpusTruth(docs.result(), gated, exact.result(), near.result())
  }

  /** Audit counts `CurationPipeline.audit` must report for the corpus:
    * (n_docs, n_train, n_test, n_neardup_clusters, n_neardup_removed).
    */
  def curationTruth(c: CorpusTruth): (Long, Long, Long, Long, Long) = {
    val byId = c.docs.map(d => d.id -> d).toMap
    val dropped = c.gatedIds ++ c.exactGroups.flatMap(g => g.filterNot(_ == g.min)) ++
      c.nearClusters.flatMap(g => g.filterNot(_ == g.min))
    val kept = c.docs.filterNot(d => dropped(d.id))
    val train = kept.count(d => "0123456789ab".contains(md5Hex(byId(d.id).text).charAt(1)))
    (kept.size.toLong, train.toLong, (kept.size - train).toLong,
      c.nearClusters.size.toLong, c.nearClusters.map(_.size - 1L).sum)
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
