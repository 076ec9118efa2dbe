package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract invariants on the driver surface itself — a registration slip
  * here silently weakens the external gate (a query without an oracle is
  * only rows-checked; an oracle without a query is dead SQL), so the
  * suite fails before the driver ever sees it.
  */
class EntrySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphan oracle SQL: ${(o -- q).toSeq.sorted}")
  }

  test("query names follow the qNN_snake convention with unique numbers") {
    val names = SparkEntry.queries.keySet.toSeq
    val pat = "^q(\\d+)_[a-z0-9_]+$".r
    val nums = names.map {
      case pat(n) => n.toInt
      case other => fail(s"malformed query name: $other")
    }
    assert(nums.distinct.size == nums.size,
      s"duplicate query numbers: ${nums.groupBy(identity).filter(_._2.size > 1).keys}")
    // contiguous numbering from 1 — a gap means a row the SURVEY table
    // and the driver gate disagree about
    assert(nums.sorted == (1 to nums.max),
      s"non-contiguous query numbers: ${(1 to nums.max).diff(nums.sorted)} missing")
  }

  test("bench summary escaping survives a hostile env-derived path (r11 verdict item 4)") {
    // SPARK_GRAFT_SF_DIR / SPARK_GRAFT_BENCH_OUT are interpolated into
    // the bench's final stdout JSON line; quotes, backslashes, and
    // control chars in them must come out as a parseable JSON string
    val hostile = "/tmp/we\"ird\\dir\n\twith\rctrl" + 1.toChar + "chars"
    val escaped = Bench.jstr(hostile)
    assert(escaped == "/tmp/we\\\"ird\\\\dir\\n\\twith\\rctrl\\u0001chars")
    // and the full wrapped literal round-trips through a JSON parser
    // (spray/jackson aren't on the classpath; a hand parser over the
    // escape set IS the contract — same set as Verify's oracle_sql)
    val lit = "\"" + escaped + "\""
    def unescape(s: String): String = {
      val b = new StringBuilder; var i = 1 // skip opening quote
      while (i < s.length - 1) {
        if (s(i) == '\\') s(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c   => b += c; i += 2
        } else { b += s(i); i += 1 }
      }
      b.toString
    }
    assert(unescape(lit) == hostile, "escape set does not round-trip")
    assert(!escaped.exists(c => c < ' '), "control char leaked unescaped")
  }

  test("SPARK_GRAFT_CPUS must be a positive integer, and the error names it") {
    assert(SparkEntry.parseCpus(None, default = 32) == 32)
    assert(SparkEntry.parseCpus(Some("8"), default = 32) == 8)
    Seq("0", "-4", "eight", "", " 8", "8.0", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](SparkEntry.parseCpus(Some(bad), default = 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$bad': ${e.getMessage}")
    }
  }

  test("oracle SQL never references the absolute testdata paths") {
    // oracles run against DuckDB views the driver creates per sf dir; a
    // hardcoded path would silently pin one scale factor
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("/root/testdata") && !sql.contains("/root/repo"),
        s"$name oracle hardcodes a data path")
    }
  }
}
