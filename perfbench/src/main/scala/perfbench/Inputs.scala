package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Everything a run derives from its seed: the order queries run in and the
  * Kafka-like messages the ingest workload stages. Pure functions of
  * (seed, position), so the same seed gives byte-identical inputs and the
  * program under test sees only the generated data, never the seed. */
object Inputs {

  /** One staged message. `value` is the wire payload (snappy-compressed
    * JSON for a valid message); `malformed` says where it must end up:
    * the topic's table when false, its dead letters when true. */
  final case class Msg(seq: Long, topic: String, value: Array[Byte], malformed: Boolean)

  /** Two topics → two tables, shaped like `config/config-example.json`,
    * with a `seq` column so every row can be traced back to its message. */
  val Users = "events.users"
  val Metrics = "events.metrics"

  def engineConfigJson(tableRoot: String, deadRoot: String, checkpointRoot: String): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{
       |  "topics": [
       |    {"topic": "$Users", "table": "users",
       |     "describeTsv": "seq\\tInt64\\t\\t\\nuid\\tInt64\\t\\t\\nname\\tString\\t\\t\\nsignup\\tDateTime\\t\\t",
       |     "flushCount": 1000},
       |    {"topic": "$Metrics", "table": "metrics",
       |     "describeTsv": "seq\\tInt64\\t\\t\\nsensor\\tString\\t\\t\\ncelsius\\tFloat64\\t\\t\\nts\\tDateTime64(3)\\t\\t",
       |     "flushCount": 10}
       |  ],
       |  "consumerOptions": {"group.id": "perfbench", "auto.offset.reset": "earliest"},
       |  "tableRoot": "${esc(tableRoot)}",
       |  "deadLetterRoot": "${esc(deadRoot)}",
       |  "checkpointRoot": "${esc(checkpointRoot)}",
       |  "jdbcUrl": null,
       |  "metricsPort": 0
       |}""".stripMargin
  }

  /** Malformed messages per thousand: chosen, not observed, since the
    * reference publishes no error share. The count per file is exact; only
    * the positions are drawn from the seed. */
  val MalformedPerMille = 30

  /** Seeded permutation of the query list (Fisher–Yates over the sorted
    * names, so the input order of `names` does not matter). */
  def queryOrder(names: Seq[String], seed: Long): IndexedSeq[String] = {
    val a = names.sorted.toArray
    val rnd = new SplittableRandom(mix(seed, -1L))
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** Positions (within a file of `n` messages) that are malformed. */
  def malformedPositions(seed: Long, file: Int, n: Int): Set[Int] = {
    val k = n * MalformedPerMille / 1000
    val idx = Array.tabulate(n)(identity)
    val rnd = new SplittableRandom(mix(seed, 2L * file + 1))
    var i = 0
    while (i < k) {
      val j = i + rnd.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    idx.take(k).toSet
  }

  /** The `n` messages of staged file number `file`, with sequence numbers
    * `firstSeq until firstSeq + n`. */
  def file(seed: Long, file: Int, firstSeq: Long, n: Int): IndexedSeq[Msg] = {
    val bad = malformedPositions(seed, file, n)
    val rnd = new SplittableRandom(mix(seed, 2L * file))
    (0 until n).map { i =>
      val seq = firstSeq + i
      val topic = if (rnd.nextInt(3) == 0) Metrics else Users // chosen 1:2 mix
      val json = if (topic == Users) userJson(rnd, seq) else metricJson(rnd, seq)
      if (bad(i)) Msg(seq, topic, corrupt(rnd, seq, json), malformed = true)
      else Msg(seq, topic, snappy(json), malformed = false)
    }
  }

  private def snappy(s: String): Array[Byte] = org.xerial.snappy.Snappy.compress(s.getBytes(UTF_8))

  private def stamp(rnd: SplittableRandom, millis: Boolean): String = {
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val t = base.plusSeconds(rnd.nextLong(366L * 86400))
    val s = t.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    if (millis) f"$s.${rnd.nextInt(1000)}%03d" else s
  }

  private def userJson(rnd: SplittableRandom, seq: Long): String =
    s"""{"seq": $seq, "uid": ${rnd.nextLong(1L, 10000000L)}, "name": "user-${rnd.nextInt(100000)}", """ +
      s""""signup": "${stamp(rnd, millis = false)}", "plan": "p${rnd.nextInt(4)}"}"""

  private def metricJson(rnd: SplittableRandom, seq: Long): String = {
    val celsius = (rnd.nextInt(12000) - 2000) / 100.0
    s"""{"seq": $seq, "sensor": "s-${rnd.nextInt(500)}", "celsius": $celsius, """ +
      s""""ts": "${stamp(rnd, millis = true)}"}"""
  }

  /** Three kinds of bad payload, each unique to its message so the raw
    * bytes in the dead letters identify it: valid snappy of truncated JSON,
    * valid snappy of text that is not JSON, and a snappy block cut short
    * (undecodable). */
  private def corrupt(rnd: SplittableRandom, seq: Long, json: String): Array[Byte] =
    rnd.nextInt(3) match {
      case 0 => snappy(json.substring(0, json.length / 2))
      case 1 => snappy(s"seq=$seq not json")
      case _ =>
        val ok = snappy(json)
        java.util.Arrays.copyOf(ok, ok.length - 3)
    }

  private def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
