package graft.dimension

import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.time.{LocalDate, LocalDateTime}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** Strftime formats: translation to java.time, and the compiled-once
  * formatter cache behind DateValue and parseDateTime. Every cached result
  * is compared with a formatter compiled fresh from the same pattern. */
class DimFormatSuite extends AnyFunSuite {

  private val formats = List(
    "%Y-%m-%d", "%Y%m%d%H", "%Y-%m-%d %H", "%Y-%m-%d-%H", "%j", "%H", "%m",
    "%d", "%%%Y", "dt=%Y-%m-%d", "%Y-%m-%dT%H:%M:%S",
    "%Y[%m]", "%Y'%m", "%Y#%m", "%Y{%m}")

  private val dates = (0 until 400).map(i =>
    LocalDateTime.of(2023, 12, 30, 0, 0).plusHours(i.toLong * 7))

  private def dv(d: LocalDateTime, f: String) =
    DateValue(d, params = Map("format" -> f))

  /** parseDateTime's declared-format step, compiled afresh on every call. */
  private def freshViaFormat(s: String, f: String): Option[LocalDateTime] = {
    val jf = DimValue.strftimeToJava(f)
    val lenient = new DateTimeFormatterBuilder().appendPattern(jf)
      .parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter
    Try(LocalDateTime.parse(s, lenient)).toOption
      .orElse(Try(LocalDate.parse(s, DateTimeFormatter.ofPattern(jf)).atStartOfDay()).toOption)
      .orElse(
        if (f == "%H") Try(LocalDateTime.of(1900, 1, 1, s.toInt, 0)).toOption
        else if (f == "%m") Try(LocalDateTime.of(1900, s.toInt, 1, 0, 0)).toOption
        else if (f == "%d") Try(LocalDateTime.of(1900, 1, s.toInt, 0, 0)).toOption
        else None)
  }

  test("non-directive characters are literals, reserved java.time syntax included") {
    val d = LocalDateTime.of(2024, 1, 5, 7, 0)
    List("%Y[%m]" -> "2024[01]", "%Y'%m" -> "2024'01", "%Y#%m" -> "2024#01",
      "%Y{%m}" -> "2024{01}", "dt=%Y-%m-%d" -> "dt=2024-01-05", "%%%Y" -> "%2024")
      .foreach { case (f, v) => assert(dv(d, f).value == v, s"format $f") }
    // month-only formats do not parse (no day), so the re-parse runs on
    // the same literals with a day added
    List("%Y[%m]%d" -> "2024[01]05", "%Y'%m'%d" -> "2024'01'05",
      "%Y#%m#%d" -> "2024#01#05", "%Y{%m}%d" -> "2024{01}05",
      "dt=%Y-%m-%d %H" -> "dt=2024-01-05 07").foreach { case (f, v) =>
      assert(dv(d, f).value == v, s"format $f")
      val day = if (f.contains("%H")) d else d.withHour(0)
      assert(DimValue.parseDateTime(v, Some(f)).contains(day), s"re-parse of $v under $f")
      assert(DimValue.resolve(v, Dim(None, Some(DimType.DATETIME), Map("format" -> f)))
        .matchesValue(dv(day, f)), s"resolve of $v under $f")
    }
  }

  test("formatterFor compiles each format once") {
    formats.foreach(f => assert(DimValue.formatterFor(f) eq DimValue.formatterFor(f), f))
  }

  test("cached formatting and parsing equal a freshly compiled formatter") {
    formats.foreach { f =>
      val fresh = DateTimeFormatter.ofPattern(DimValue.strftimeToJava(f))
      dates.foreach { d =>
        val v = dv(d, f)
        assert(v.value == d.format(fresh), s"format $f, date $d")
        assert(v.matchesValue(dv(d, f)))
        assert(DimValue.parseDateTime(v.value, Some(f)) ==
          freshViaFormat(v.value, f).orElse(DimValue.parseDateTime(v.value, None)),
          s"parse of ${v.value} under $f")
      }
    }
  }

  test("cross-format matching equals a comparison under freshly compiled formats") {
    val fs = List("%Y-%m-%d", "%Y%m%d", "%Y-%m-%d %H", "%d-%m-%Y", "%j")
    val some = dates.take(60) ++ dates.take(60).map(_.withHour(0))
    for (f1 <- fs; f2 <- fs; d1 <- some; d2 <- some.take(12)) {
      val (a, b) = (dv(d1, f1), dv(d2, f2))
      val expect = a.value == b.value || d1 == d2 ||
        a.value == d2.format(DateTimeFormatter.ofPattern(DimValue.strftimeToJava(f1)))
      assert(a.matchesValue(b) == expect, s"$d1 under $f1 vs $d2 under $f2")
    }
  }

  test("eight threads resolving the same values agree with one thread") {
    // a format no other test uses, so the threads race to compile it
    val dim = Dim(Some("hour"), Some(DimType.DATETIME),
      Map("format" -> "%Y/%m/%d#%H"))
    val hours = (0 until 10000).map(i =>
      LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(i.toLong))
    val raws = hours.map(_.format(DateTimeFormatter.ofPattern("yyyy/MM/dd'#'HH")))
    def run(): Seq[(Any, Any)] = raws.map { r =>
      val v = DimValue.resolve(r, dim).asInstanceOf[DateValue]
      (v.value, v.date)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val concurrent = try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futs = (0 until 8).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[(Any, Any)]] {
        def call(): Seq[(Any, Any)] = { start.await(); run() }
      }))
      start.countDown()
      futs.map(_.get())
    } finally pool.shutdown()
    val single = run()
    assert(single == raws.zip(hours))
    concurrent.foreach(r => assert(r == single))
  }

  test("a format java.time rejects still fails at DateValue construction") {
    // adjacent equal directives merge into one over-long field ("dddd")
    val d = LocalDateTime.of(2024, 1, 5, 0, 0)
    assertThrows[IllegalArgumentException](dv(d, "%d%d"))
    // nothing was cached by the failed compile: it fails again
    assertThrows[IllegalArgumentException](dv(d, "%d%d"))
    assertThrows[IllegalArgumentException](DimValue.formatterFor("%d%d"))
  }
}
