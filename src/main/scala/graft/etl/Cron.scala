package graft.etl

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

/** 5-field cron expression — the schedule surface the reference validates
  * and registers (index.js:30-37 `cron.validate(pattern)`, index.js:75-86
  * `cron.schedule`). Standard cron semantics:
  * fields are `minute hour day-of-month month day-of-week`; each field is
  * a comma list of `*`, `a`, `a-b`, with an optional `/step` (on a single
  * value, `a/step` expands vixie-style to `a-max/step`); day-of-week
  * 0/7 = Sunday; when BOTH day-of-month and day-of-week are restricted
  * (star-with-step still counts as unrestricted), a time matches if
  * EITHER does (the classic vixie-cron OR rule).
  */
final case class Cron(minutes: Set[Int], hours: Set[Int], doms: Set[Int],
                      months: Set[Int], dows: Set[Int],
                      domRestricted: Boolean, dowRestricted: Boolean) {

  def dayMatches(d: java.time.LocalDate): Boolean = {
    val dayOk =
      if (domRestricted && dowRestricted)
        doms(d.getDayOfMonth) || dows(d.getDayOfWeek.getValue % 7)
      else
        doms(d.getDayOfMonth) && dows(d.getDayOfWeek.getValue % 7)
    months(d.getMonthValue) && dayOk
  }

  def matches(t: LocalDateTime): Boolean =
    minutes(t.getMinute) && hours(t.getHour) && dayMatches(t.toLocalDate)

  /** First fire time STRICTLY after `from`, minute granularity. Day-first
    * scan (dates first, minutes only within matching days), bounded at 50
    * years — enough for the rarest satisfiable patterns (a Feb-29 Sunday
    * recurs within at most ~40 years) at ~18k cheap date checks. */
  def next(from: LocalDateTime): LocalDateTime = {
    val start = from.truncatedTo(ChronoUnit.MINUTES).plusMinutes(1)
    var day = start.toLocalDate
    val bound = day.plusYears(50)
    while (!day.isAfter(bound)) {
      if (dayMatches(day)) {
        var t = if (day == start.toLocalDate) start else day.atStartOfDay
        val dayEnd = day.plusDays(1).atStartOfDay
        while (t.isBefore(dayEnd)) {
          if (minutes(t.getMinute) && hours(t.getHour)) return t
          t = t.plusMinutes(1)
        }
      }
      day = day.plusDays(1)
    }
    throw new IllegalArgumentException(s"cron pattern never fires: $this")
  }
}

object Cron {

  private case class FieldSpec(lo: Int, hi: Int,
                               names: Map[String, Int] = Map.empty)
  private val monthNames = Seq("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec").zipWithIndex
    .map { case (n, i) => n -> (i + 1) }.toMap
  private val dowNames = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
    .zipWithIndex.toMap
  private val specs = Seq(
    FieldSpec(0, 59),                 // minute
    FieldSpec(0, 23),                 // hour
    FieldSpec(1, 31),                 // day of month
    FieldSpec(1, 12, monthNames),     // month (JAN-DEC accepted)
    FieldSpec(0, 7, dowNames))        // day of week (7 ≡ 0 ≡ Sunday, SUN-SAT accepted)

  /** Parse + validate (the reference rejects invalid patterns with a 400,
    * index.js:30-37); Left is the validation error. node-cron also accepts
    * a 6-field form with a leading seconds field — the runner fires at
    * minute granularity, so a 6th field is validated for range and then
    * floored (dropped), matching the reference's accept-don't-reject
    * behavior. */
  def parse(expr: String): Either[String, Cron] = {
    val raw = expr.trim.split("\\s+")
    if (raw.length != 5 && raw.length != 6)
      return Left(s"expected 5 fields (minute hour dom month dow) or 6 with leading seconds, got ${raw.length}")
    val fields =
      if (raw.length == 6) {
        parseField(raw(0), FieldSpec(0, 59)) match {
          case Left(e)  => return Left(s"field 1 (seconds) '${raw(0)}': $e")
          case Right(_) => raw.drop(1)
        }
      } else raw
    val parsed = fields.zip(specs).zipWithIndex.map { case ((f, spec), i) =>
      parseField(f, spec).left.map(e => s"field ${i + 1} '$f': $e")
    }
    parsed.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None =>
        val Seq(mi, h, dom, mo, dowRaw) = parsed.map(_.toOption.get).toSeq
        // normalize dow 7 → 0 (both mean Sunday)
        val dow = dowRaw.map(d => if (d == 7) 0 else d)
        // vixie keys the day-OR rule off the leading '*': "*/2" is still a
        // star field (unrestricted), only explicit values/ranges restrict
        Right(Cron(mi, h, dom, mo, dow,
          domRestricted = !fields(2).startsWith("*"),
          dowRestricted = !fields(4).startsWith("*")))
    }
  }

  private def parseField(f: String, spec: FieldSpec): Either[String, Set[Int]] = {
    val parts = f.split(",", -1).toSeq
    if (parts.exists(_.isEmpty)) return Left("empty list element")
    val sets = parts.map(parsePart(_, spec))
    sets.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None => Right(sets.flatMap(_.toOption.get).toSet)
    }
  }

  private def parsePart(p: String, spec: FieldSpec): Either[String, Seq[Int]] = {
    val (rangePart, step) = p.split("/", -1) match {
      case Array(r) => (r, 1)
      case Array(r, s) =>
        if (s.matches("[0-9]+") && s.toInt > 0) (r, s.toInt)
        else return Left(s"bad step '$s'")
      case _ => return Left("more than one '/'")
    }
    val hasStep = p.contains("/")
    // translate 3-letter month/day names (JAN, MON — node-cron accepts
    // them in values and range endpoints) to numbers before matching
    val named = rangePart.split("-", -1).map { t =>
      spec.names.get(t.toLowerCase).map(_.toString).getOrElse(t)
    }.mkString("-")
    val bounds = named match {
      case "*" => Right((spec.lo, spec.hi))
      case r if r.matches("[0-9]+") =>
        // vixie/node-cron expand "a/step" as "a-max/step", not the single
        // value a — "5/15 * * * *" fires :05 :20 :35 :50, not once an hour
        if (hasStep) Right((r.toInt, spec.hi)) else Right((r.toInt, r.toInt))
      case r if r.matches("[0-9]+-[0-9]+") =>
        val Array(a, b) = r.split("-").map(_.toInt)
        Right((a, b))
      case other => Left(s"unparseable '$other'")
    }
    bounds.flatMap { case (a, b) =>
      if (a < spec.lo || b > spec.hi) Left(s"out of range ${spec.lo}-${spec.hi}")
      else if (a > b) Left(s"inverted range $a-$b")
      else Right(a.to(b, step))
    }
  }
}
