package jhubench

import org.apache.spark.sql.Row

import java.time.format.DateTimeFormatter

/** The Athena-style query mix run over the `type=` lake, and its expected
  * answers computed from the generated values. Every answer is a set of rows
  * rendered as `a|b|c` strings (all columns are strings or integers).
  */
object LakeMix {

  final case class Query(name: String, sql: String, expected: Seq[String])

  private val dateOut = DateTimeFormatter.ofPattern("yyyy-MM-dd 00:00:00")

  def render(r: Row): String = r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")

  /** A location present in every category, with a lookup hit and a name
    * that needs no SQL quoting.
    */
  private def probe(in: JhuInputs): Location = {
    val keys = in.measures.map(_._2.byKey.keySet)
    val ok = in.confirmed.rows.map(_._1).filter { l =>
      keys.forall(_(l.key)) && in.firstIso2.contains(l.country) && l.province.nonEmpty &&
      !(l.country + l.province).contains('\'')
    }
    ok(ok.size / 2)
  }

  def queries(in: JhuInputs, table: String): Seq[Query] = {
    val c = in.confirmed
    val last = (v: Array[Int]) => v.last.toLong
    val dates = c.dates.map(_.format(dateOut))

    val prunedAgg = in.deaths.rows
      .groupBy(_._1.country)
      .map { case (k, rs) => s"$k|${rs.size}|${rs.map(r => last(r._2)).sum}" }
      .toSeq

    val byDate = dates.indices.map(i => s"${dates(i)}|${c.rows.map(_._2(i).toLong).sum}")

    val lag7 = dates.indices.map { i =>
      val v = if (i < 7) "null" else c.rows.map(r => (r._2(i) - r._2(i - 7)).toLong).sum.toString
      s"${dates(i)}|$v"
    }

    val p = probe(in)
    val point = in.measures.map { case (t, w) => s"$t|${in.firstIso2(p.country)}|${last(w.byKey(p.key))}" }

    val deaths = in.deaths.byKey
    val selfJoin = c.rows
      .filter(r => deaths.contains(r._1.key))
      .groupBy(_._1.country)
      .map { case (k, rs) => s"$k|${rs.map(r => last(r._2)).sum}|${rs.map(r => last(deaths(r._1.key))).sum}" }
      .toSeq

    val misses = in.measures.flatMap { case (t, w) =>
      val n = w.rows.count(r => !in.firstIso2.contains(r._1.country))
      if (n > 0) Some(s"$t|$n") else None
    }

    val explode = s"FROM $table LATERAL VIEW explode(time_series) e AS ts"
    Seq(
      Query(
        "pruned_agg",
        s"""SELECT `country/region`, COUNT(*), SUM(element_at(time_series, -1).value)
            FROM $table WHERE type = 'deaths' GROUP BY `country/region`""",
        prunedAgg,
      ),
      Query(
        "explode_by_date",
        s"SELECT ts.date, SUM(ts.value) $explode WHERE type = 'confirmed' GROUP BY ts.date",
        byDate,
      ),
      Query(
        "lag7_window",
        s"""SELECT date, SUM(wk) FROM (
              SELECT ts.date AS date, ts.value - lag(ts.value, 7) OVER (
                PARTITION BY `country/region`, `province/state` ORDER BY ts.date) AS wk
              $explode WHERE type = 'confirmed') GROUP BY date""",
        lag7,
      ),
      Query(
        "point_lookup",
        s"""SELECT type, `country-iso2`, element_at(time_series, -1).value FROM $table
            WHERE `country/region` = '${p.country}' AND `province/state` = '${p.province}'""",
        point,
      ),
      Query(
        "confirmed_deaths_join",
        s"""SELECT c.`country/region`, SUM(element_at(c.time_series, -1).value),
                   SUM(element_at(d.time_series, -1).value)
            FROM $table c JOIN $table d
              ON c.`country/region` = d.`country/region` AND c.`province/state` = d.`province/state`
            WHERE c.type = 'confirmed' AND d.type = 'deaths' GROUP BY c.`country/region`""",
        selfJoin,
      ),
      Query(
        "lookup_miss_count",
        s"SELECT type, COUNT(*) FROM $table WHERE `country-iso2` IS NULL GROUP BY type",
        misses,
      ),
    )
  }

  /** Rows of `got` not in `want` plus rows of `want` not in `got`, as multisets. */
  def mismatches(want: Seq[String], got: Seq[String]): Int = {
    def counts(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val (w, g) = (counts(want), counts(got))
    (w.keySet ++ g.keySet).toSeq.map(k => math.abs(w.getOrElse(k, 0) - g.getOrElse(k, 0))).sum
  }
}
