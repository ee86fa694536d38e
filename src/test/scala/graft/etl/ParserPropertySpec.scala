package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests (FIXTURES.md §1): parsers are total and invert the
  * line-builders for arbitrary well-formed inputs. Uses raw ScalaCheck
  * (the scalatestplus bridge is not in the offline cache). */
class ParserPropertySpec extends AnyFunSuite {

  private def check[A](g: Gen[A])(f: A => Boolean): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(g)(f))
    assert(res.passed, res.status.toString)
  }

  private val key = for {
    c <- Gen.alphaChar
    s <- Gen.listOfN(4, Gen.alphaChar)
  } yield (c :: s).mkString
  private val value = Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString)
  private val kvMap = Gen.choose(0, 8)
    .flatMap(n => Gen.mapOfN(n, Gen.zip(key, value)))

  test("strToMap inverts pair building for arbitrary k/v sets") {
    check(kvMap) { m =>
      val line = m.map { case (k, v) => s"$k:$v" }.mkString(", ")
      LogParsers.strToMap(line, ",", ":") == m
    }
  }

  test("parseRunLogLine inverts the line builder") {
    val gen = for {
      id <- Gen.choose(0L, 1000000L)
      user <- Gen.choose(1L, 99999999L)
      plays <- Gen.choose(0L, 100000L)
    } yield (id, user, plays)
    check(gen) { case (id, user, plays) =>
      val line = s"[$id]2024-01-15 10:30:00:123 - VideoPlayFinish - " +
        s"DA:$user, PlayS:$plays, URI:/x?a:b"
      val r = LogParsers.parseRunLogLine(line).get
      r.userId == user.toString &&
        r.reportTime == "2024-01-15 10:30:00" &&
        r.logMap("PlayS") == plays.toString &&
        r.logMap("URI") == "/x?a:b"
    }
  }

  test("parseArateLine inverts the line builder for any device id") {
    check(Gen.zip(Gen.choose(0L, 5000000000L), Gen.choose(0L, 99999999L))) {
      case (dev, user) =>
        val line = s"<?><[0101,1537951414577,$user,3,$dev]><|><(T,live)>"
        val r = LogParsers.parseArateLine(line).get
        r.deviceId == dev &&
          r.deviceType == LogParsers.deviceTypeFromId(dev) &&
          r.userId == user.toString
    }
  }

  // The regex splits the indexOf splits replaced, kept as the reference:
  // `split(Pattern.quote(sep), -1)` in strToMap and `split("<&>", -1)`
  // in parseArateLine's ext section.
  private def regexFields(s: String, sep: String): Seq[String] =
    s.split(java.util.regex.Pattern.quote(sep), -1).toSeq

  private def regexStrToMap(s: String, pairSep: String,
      kvSep: String): Map[String, String] =
    if (s == null || s.isEmpty) Map.empty
    else regexFields(s, pairSep).iterator.flatMap { pair =>
      val i = pair.indexOf(kvSep)
      if (i <= 0) None
      else {
        val k = pair.substring(0, i).trim
        val v = pair.substring(i + kvSep.length).trim
        if (k.isEmpty) None else Some(k -> v)
      }
    }.toMap

  private def regexArateExt(ext: String): Map[String, String] =
    regexFields(ext, "<&>").iterator
      .map(_.trim.stripPrefix("<").stripSuffix(">"))
      .filter(p => p.startsWith("(") && p.endsWith(")"))
      .map(p => p.substring(1, p.length - 1))
      .flatMap { kv =>
        val i = kv.indexOf(',')
        if (i <= 0) None else Some(kv.substring(0, i).trim -> kv.substring(i + 1).trim)
      }.toMap

  // strings dense in separator characters: empty pairs, leading and
  // trailing separators, runs of them and separators inside values
  private val sepHeavy = Gen.listOf(Gen.oneOf(
    Gen.oneOf("a", "b", " ", ",", ":", "<", "&", ">", "(", ")", "."),
    Gen.oneOf("<&>", "<(k,v)>", ",,", "::", "a:b")))
    .map(_.mkString)
  private val separator = Gen.oneOf(",", ":", "<&>", "&", "aa", ", ", ".")

  test("splitFields matches String.split(Pattern.quote(sep), -1)") {
    check(Gen.zip(sepHeavy, separator)) { case (s, sep) =>
      LogParsers.splitFields(s, sep).toSeq == regexFields(s, sep)
    }
    assert(LogParsers.splitFields("", ",").toSeq == Seq(""))
    assert(LogParsers.splitFields(",a,,b,", ",").toSeq == Seq("", "a", "", "b", ""))
  }

  test("strToMap matches its regex-split form, empty pairSep included") {
    check(Gen.zip(sepHeavy, Gen.oneOf(separator, Gen.const("")), separator)) {
      case (s, pairSep, kvSep) =>
        LogParsers.strToMap(s, pairSep, kvSep) == regexStrToMap(s, pairSep, kvSep)
    }
  }

  test("parseArateLine ext matches its regex-split form") {
    check(sepHeavy) { ext =>
      val line = s"<?><[0101,1537951414577,7,3,1005358791]><|>$ext"
      LogParsers.parseArateLine(line).map(_.ext) == Some(regexArateExt(ext))
    }
  }

  test("parsers never throw on arbitrary garbage") {
    check(Gen.asciiPrintableStr) { s =>
      LogParsers.parseRunLogLine(s)
      LogParsers.parseArateLine(s)
      LogParsers.parseToken(s)
      LogParsers.strToMap(s, ",", ":")
      true
    }
  }

  test("heartbeat gap rule: session count = gaps over threshold + 1") {
    check(Gen.nonEmptyListOf(Gen.choose(0L, 100000L))) { raw =>
      val ts = raw.distinct.sorted
      val gaps = ts.zip(ts.drop(1)).count { case (a, b) => b - a > 600 }
      val sessions = ts.foldLeft(List.empty[List[Long]]) {
        case (Nil, t) => List(List(t))
        case (h :: rest, t) if t - h.head <= 600 => (t :: h) :: rest
        case (acc, t) => List(t) :: acc
      }
      sessions.length == gaps + 1
    }
  }
}
