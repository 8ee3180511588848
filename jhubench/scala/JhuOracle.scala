package jhubench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** Independent oracle for the daily job's output (`parser2` records, FIXTURES
  * A4), computed in plain Scala from the generated values.
  *
  * Semantics, as the rebuild defines them (SURVEY §2.10-B3): confirmed drives;
  * deaths and recovered are each looked up on (country, province)
  * independently, and a missing row or a missing date column gives 0; iso2 is
  * the first lookup row in file order and the key is absent on a miss;
  * `"province/state": ""` is kept.
  *
  * The comparison is semantic: same key order, equal strings, numbers equal by
  * value (Spark prints `1.0E-4` where the input says `0.0001`), records
  * matched as a multiset on (country, province).
  */
object JhuOracle {

  private val nodes = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()
  private val dateOut = DateTimeFormatter.ofPattern("yyyy-MM-dd 00:00:00")

  def parser2(in: JhuInputs): IndexedSeq[ObjectNode] = {
    val deaths = in.deaths.byKey
    val recovered = in.recovered.byKey
    val deathIdx = in.confirmed.dates.map(d => in.deaths.dates.indexOf(d))
    val recIdx = in.confirmed.dates.map(d => in.recovered.dates.indexOf(d))
    in.confirmed.rows.map { case (loc, conf) =>
      val rec = nodes.objectNode()
      val ts = rec.putArray("time_series")
      val dv = deaths.get(loc.key)
      val rv = recovered.get(loc.key)
      in.confirmed.dates.indices.foreach { i =>
        val e = ts.addObject()
        e.put("date", in.confirmed.dates(i).format(dateOut))
        e.put("confirmed", conf(i))
        e.put("deaths", dv.filter(_ => deathIdx(i) >= 0).map(_(deathIdx(i))).getOrElse(0))
        e.put("recovered", rv.filter(_ => recIdx(i) >= 0).map(_(recIdx(i))).getOrElse(0))
      }
      rec.put("province/state", loc.province)
      rec.put("country/region", loc.country)
      rec.put("lat", java.lang.Double.parseDouble(loc.lat))
      rec.put("long", java.lang.Double.parseDouble(loc.long))
      in.firstIso2.get(loc.country).foreach(rec.put("iso2", _))
      rec
    }
  }

  /** Outcome of one comparison: expected records with no equal actual one
    * (`missing`), actual records left over (`unexpected`), a few examples.
    */
  final case class Outcome(expected: Int, actual: Int, missing: Int, unexpected: Int, examples: Seq[String]) {
    def mismatches: Int = missing + unexpected
    def ok: Boolean = mismatches == 0
  }

  def parse(line: String): JsonNode = mapper.readTree(line)

  private def keyOf(n: JsonNode): (String, String) = {
    def s(f: String) = Option(n.get(f)).filter(_.isTextual).map(_.asText).orNull
    (s("country/region"), s("province/state"))
  }

  /** First difference between two JSON values, or None when they are equal
    * by the rules above.
    */
  def diff(want: JsonNode, got: JsonNode, path: String = "$"): Option[String] =
    if (want.isNumber && got.isNumber) {
      if (want.decimalValue.compareTo(got.decimalValue) == 0) None else Some(s"$path: $want != $got")
    } else if (want.isObject && got.isObject) {
      val wk = want.fieldNames.asScala.toList
      val gk = got.fieldNames.asScala.toList
      if (wk != gk) Some(s"$path: keys ${wk.mkString(",")} != ${gk.mkString(",")}")
      else wk.iterator.map(k => diff(want.get(k), got.get(k), s"$path.$k")).collectFirst { case Some(d) => d }
    } else if (want.isArray && got.isArray) {
      if (want.size != got.size) Some(s"$path: ${want.size} elements != ${got.size}")
      else (0 until want.size).iterator.map(i => diff(want.get(i), got.get(i), s"$path[$i]")).collectFirst {
        case Some(d) => d
      }
    } else if (want.isTextual && got.isTextual) {
      if (want.asText == got.asText) None else Some(s"$path: '${want.asText}' != '${got.asText}'")
    } else if (want.getNodeType == got.getNodeType && want == got) None
    else Some(s"$path: $want != $got")

  def compare(expected: Seq[JsonNode], actual: Seq[JsonNode]): Outcome = {
    val byKey = actual.groupBy(keyOf).map { case (k, v) => k -> v.toBuffer }
    var missing, unexpected = 0
    val examples = Seq.newBuilder[String]
    def note(s: String): Unit = if (missing + unexpected <= 3) examples += s.take(300)
    expected.foreach { w =>
      val k = keyOf(w)
      val pool = byKey.getOrElse(k, scala.collection.mutable.Buffer.empty[JsonNode])
      val hit = pool.indexWhere(g => diff(w, g).isEmpty)
      if (hit >= 0) pool.remove(hit)
      else {
        missing += 1
        note(s"$k: " + pool.headOption.flatMap(g => diff(w, g)).getOrElse("no record with this key"))
      }
    }
    byKey.foreach { case (k, rest) => rest.foreach { _ => unexpected += 1; note(s"$k: unexpected record") } }
    Outcome(expected.size, actual.size, missing, unexpected, examples.result())
  }

  /** The JSON lines of every part file a Spark JSON write left in `dir`. */
  def readLines(dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles).getOrElse(Array.empty[java.io.File])
    files.toSeq
      .filter(f => f.getName.startsWith("part-"))
      .sortBy(_.getName)
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath, java.nio.charset.StandardCharsets.UTF_8).asScala)
      .filter(_.nonEmpty)
  }

  /** Planted-mismatch self-test on a correct record set: the unmodified set
    * must pass, and each planted fault — one changed value, a dropped key,
    * two records swapped — must be caught. Returns the failures (empty =
    * the oracle can tell right from wrong on this data).
    */
  def selfTest(expected: IndexedSeq[JsonNode], correct: IndexedSeq[JsonNode]): Seq[String] = {
    def copy(xs: IndexedSeq[JsonNode]): IndexedSeq[ObjectNode] = xs.map(_.deepCopy[JsonNode]().asInstanceOf[ObjectNode])
    val i = correct.indexWhere(_.get("time_series").size > 0)
    val j = correct.indices.find(k => k != i && keyOf(correct(k))._1 != keyOf(correct(i))._1).getOrElse(i)
    val changed = copy(correct)
    val e = changed(i).get("time_series").get(changed(i).get("time_series").size - 1).asInstanceOf[ObjectNode]
    e.put("deaths", e.get("deaths").asInt + 1)
    val dropped = copy(correct)
    dropped(j).remove("province/state")
    val swapped = copy(correct)
    val ts = swapped(i).get("time_series")
    swapped(i).set[JsonNode]("time_series", swapped(j).get("time_series"))
    swapped(j).set[JsonNode]("time_series", ts)
    val cases = Seq(
      ("unmodified output", correct, true),
      ("one changed value", changed, false),
      ("a dropped key", dropped, false),
      ("two swapped records", swapped, false),
    )
    cases.flatMap { case (name, recs, shouldPass) =>
      val ok = compare(expected, recs).ok
      if (ok == shouldPass) None
      else Some(if (shouldPass) s"self-test: $name was rejected" else s"self-test: $name was not caught")
    }
  }
}
