package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One row of the Kafka source schema (`graft.ingest.Parse.KafkaSourceSchema`):
  * the wire shape every weather workload feeds the engine. */
case class KafkaFrame(key: Array[Byte], value: Array[Byte], topic: String,
                      partition: Int, offset: Long, timestamp: Timestamp,
                      timestampType: Int)

/** A generated document: id and whitespace-tokenized text. */
case class Doc(doc_id: Long, text: String)

/** Seeded, stateless mixing: every generated value is a pure function of
  * (seed, coordinates), so generation can run in parallel tasks and the
  * output checks can recompute any value without storing the input. */
object Mix {
  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def apply(seed: Long, a: Long, b: Long, c: Long): Long =
    splitmix(seed ^ splitmix(a ^ splitmix(b ^ splitmix(c))))
  /** Uniform in [0, 1). */
  def unit(seed: Long, a: Long, b: Long, c: Long): Double =
    (apply(seed, a, b, c) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, a: Long, b: Long, c: Long, n: Int): Int =
    java.lang.Math.floorMod(apply(seed, a, b, c), n.toLong).toInt
}

/** Weather feed: `locations` stations, each reporting every `stepMinutes`
  * for `steps` readings from `startSec`. Shares are per reading:
  * `errorShare` of readings arrive as crawler error payloads (dropped by the
  * parse layer), `redeliveryShare` arrive twice (at-least-once delivery),
  * `outOfOrderShare` arrive up to an hour late. `zipfS` is the exponent of
  * the location popularity the serve workload samples requests from. */
case class WeatherSpec(seed: Long, locations: Int, steps: Int,
                       stepMinutes: Int = 5, startSec: Long = 1704067200L,
                       errorShare: Double = 0.0, redeliveryShare: Double = 0.0,
                       outOfOrderShare: Double = 0.0, zipfS: Double = 1.1) {

  def location(l: Int): String = f"loc-$l%04d"
  def eventSec(i: Int): Long = startSec + i.toLong * stepMinutes * 60
  def eventId(l: Int, i: Int): Long = l.toLong * steps + i

  // Per-station temperature is exactly linear in the reading index, so the
  // forecast drift and every average have a closed form.
  def base(l: Int): Double = 10.0 + Mix.below(seed, l, 0, 1, 2000) / 100.0
  def slope(l: Int): Double = (Mix.below(seed, l, 0, 2, 201) - 100) / 100000.0
  def temperature(l: Int, i: Int): Double = base(l) + slope(l) * i
  def humidity(l: Int, i: Int): Int = 40 + Mix.below(seed, l, i, 3, 50)
  def weathercode(l: Int, i: Int): Int = Mix.below(seed, l, i, 4, 100) match {
    case u if u < 50 => 0
    case u if u < 75 => 1
    case u if u < 90 => 3
    case _           => 61
  }
  def isError(l: Int, i: Int): Boolean = Mix.unit(seed, l, i, 5) < errorShare
  def isRedelivered(l: Int, i: Int): Boolean = Mix.unit(seed, l, i, 6) < redeliveryShare
  def isLate(l: Int, i: Int): Boolean = Mix.unit(seed, l, i, 7) < outOfOrderShare

  /** Readings of station `l` that survive the parse layer. */
  def validCount(l: Int): Int = (0 until steps).count(i => !isError(l, i))

  /** The crawler's JSON payload for one reading; `createdMs` rides along
    * when the reading is generated live. */
  def payload(l: Int, i: Int, createdMs: Long = -1L): String = {
    val sb = new StringBuilder(200)
    sb.append("{\"location_name\":\"").append(location(l))
      .append("\",\"time\":\"").append(Instant.ofEpochSecond(eventSec(i)))
      .append("\",\"event_id\":").append(eventId(l, i))
    if (isError(l, i))
      sb.append(",\"message\":\"lỗi khi gọi API: upstream timeout\"")
    else
      sb.append(",\"temperature\":").append(temperature(l, i))
        .append(",\"humidity\":").append(humidity(l, i))
        .append(",\"windspeed\":").append(Mix.below(seed, l, i, 8, 300) / 10.0)
        .append(",\"pressure\":").append(1000 + Mix.below(seed, l, i, 9, 40))
        .append(",\"weathercode\":").append(weathercode(l, i))
        .append(",\"is_day\":").append(if ((eventSec(i) / 3600) % 24 >= 6) 1 else 0)
    if (createdMs >= 0) sb.append(",\"created_ms\":").append(createdMs)
    sb.append('}').toString
  }

  /** Kafka frames of reading (l, i): one, or two for a redelivery. The
    * broker stamp is the event time plus a few seconds, or up to an hour
    * for a late reading; the redelivered copy lands ten minutes later. */
  def frames(l: Int, i: Int, offset: Long, createdMs: Long = -1L): Seq[KafkaFrame] = {
    val key = location(l).getBytes(UTF_8)
    val value = payload(l, i, createdMs).getBytes(UTF_8)
    val delaySec = if (isLate(l, i)) 60 + Mix.below(seed, l, i, 10, 3540) else 2
    val ts = new Timestamp((eventSec(i) + delaySec) * 1000L)
    val first = KafkaFrame(key, value, "weather", l % 4, offset, ts, 0)
    if (isRedelivered(l, i))
      Seq(first, first.copy(offset = offset + 1,
        timestamp = new Timestamp(ts.getTime + 600000L)))
    else Seq(first)
  }

  /** Every frame of the feed as a Dataset, generated in parallel tasks, in
    * broker arrival order scrambled by the late readings. */
  def allFrames(spark: SparkSession, partitions: Int): Dataset[KafkaFrame] = {
    import spark.implicits._
    val spec = this
    spark.range(0L, locations.toLong * steps, 1L, partitions)
      .flatMap { idx =>
        val l = (idx / spec.steps).toInt
        val i = (idx % spec.steps).toInt
        spec.frames(l, i, idx * 2)
      }
  }

  /** Cumulative Zipf weights over locations (rank = location index). */
  lazy val zipfCdf: Array[Double] = {
    val w = (1 to locations).map(r => 1.0 / math.pow(r, zipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def zipfLocation(u: Double): Int = {
    val k = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(locations - 1, if (k >= 0) k else -k - 1)
  }

  def params: Seq[(String, Any)] = Seq(
    "seed" -> seed, "locations" -> locations, "steps_per_location" -> steps,
    "step_minutes" -> stepMinutes, "start_sec" -> startSec,
    "error_share" -> errorShare, "redelivery_share" -> redeliveryShare,
    "out_of_order_share" -> outOfOrderShare, "zipf_s" -> zipfS)
}

object WeatherSpec {
  /** The reference's crawl covers 169 locations (1 province, 168 wards). */
  val ReferenceLocations = 169
}

/** Document corpus with planted duplicates: `exactGroups` groups of
  * `exactCopies` byte-identical copies (up to letter case), and
  * `nearGroups` groups of one original plus `nearVariants` copies that each
  * replace `editTokens` tokens. Every other document is unique. Text uses a
  * synthetic alphabetic vocabulary plus the stopwords the gopher gate
  * counts, so ordinary documents pass the rule battery. */
case class DocSpec(seed: Long, docs: Int, minTokens: Int = 60,
                   maxTokens: Int = 120, vocab: Int = 4000,
                   exactGroups: Int = 200, exactCopies: Int = 3,
                   nearGroups: Int = 200, nearVariants: Int = 2,
                   editTokens: Int = 3) {
  require(exactGroups * exactCopies + nearGroups * (nearVariants + 1) <= docs,
    "planted groups exceed the corpus")

  private val syllables = Array("ka", "lo", "mi", "ren", "ta", "su", "vel",
    "or", "an", "pe", "dri", "mo", "sal", "ni", "qua", "ber")
  def word(k: Int): String =
    if (k % 7 == 0) "the" else if (k % 11 == 0) "a"
    else {
      var x = k; val sb = new StringBuilder
      while (sb.length < 3 || x > 0) { sb.append(syllables(x % 16)); x /= 16 }
      sb.toString
    }
  // Zipf-like word choice: squaring a uniform skews toward low ranks.
  private def pick(u: Double): Int = (u * u * vocab).toInt

  private def tokensOf(origin: Long): Array[String] = {
    val n = minTokens + Mix.below(seed, origin, 0, 20, maxTokens - minTokens + 1)
    Array.tabulate(n)(j => word(pick(Mix.unit(seed, origin, j, 21))))
  }

  // Layout: [exact groups][near groups][unique docs].
  private val exactEnd = exactGroups.toLong * exactCopies
  private val nearSize = nearVariants + 1
  private val nearEnd = exactEnd + nearGroups.toLong * nearSize

  def exactGroupOf(id: Long): Option[Int] =
    if (id < exactEnd) Some((id / exactCopies).toInt) else None
  def nearGroupOf(id: Long): Option[Int] =
    if (id >= exactEnd && id < nearEnd) Some(((id - exactEnd) / nearSize).toInt) else None
  def nearOriginal(g: Int): Long = exactEnd + g.toLong * nearSize
  /** Whether two docs are the same doc or lie in one planted group. */
  def samePlantedGroup(a: Long, b: Long): Boolean =
    a == b || (exactGroupOf(a).isDefined && exactGroupOf(a) == exactGroupOf(b)) ||
      (nearGroupOf(a).isDefined && nearGroupOf(a) == nearGroupOf(b))

  def text(id: Long): String = exactGroupOf(id) match {
    case Some(g) =>
      val t = tokensOf(-1L - g).mkString(" ")
      if (id % exactCopies == 1) t.toUpperCase else t // normalized equal
    case None => nearGroupOf(id) match {
      case Some(g) =>
        val toks = tokensOf(-1000000L - g)
        val v = (id - nearOriginal(g)).toInt
        if (v > 0) (0 until editTokens).foreach { e =>
          val pos = Mix.below(seed, id, e, 22, toks.length)
          toks(pos) = word(vocab + Mix.below(seed, id, e, 23, vocab))
        }
        toks.mkString(" ")
      case None => tokensOf(id).mkString(" ")
    }
  }

  def corpus(spark: SparkSession, partitions: Int, idOffset: Long = 0L): Dataset[Doc] = {
    import spark.implicits._
    val spec = this
    spark.range(0L, docs.toLong, 1L, partitions).map(id => Doc(id + idOffset, spec.text(id)))
  }

  def params: Seq[(String, Any)] = Seq(
    "seed" -> seed, "docs" -> docs, "min_tokens" -> minTokens,
    "max_tokens" -> maxTokens, "vocab" -> vocab, "exact_groups" -> exactGroups,
    "exact_copies" -> exactCopies, "near_groups" -> nearGroups,
    "near_variants" -> nearVariants, "edit_tokens" -> editTokens)
}

object Gen {
  /** Parsed weather frame → the observation shape the engine's serve
    * operators read (the same adapter role `Parse.eventsAsObservations`
    * plays for the events corpus): the crawler's event id, weather code as
    * the modal `code`, temperature as the forecast `value`. */
  def observations(parsed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    parsed.select(col("location"), col("event_timestamp"), col("kafka_timestamp"),
      col("payload").getItem("event_id").cast("long").as("event_id"),
      col("weathercode").cast("string").as("code"),
      col("temperature").as("value"), col("humidity"))
  }
}
