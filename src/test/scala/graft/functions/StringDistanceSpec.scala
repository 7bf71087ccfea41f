package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StringDistanceSpec extends SparkTestBase {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    StringDistanceAlgos.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  test("jaro_winkler matches the published reference values") {
    // canonical examples (Winkler 1990 / common test vectors), values
    // cross-checked bit-exactly against DuckDB jaro_winkler_similarity
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-15)
    assert(math.abs(jw("kitten", "sitting") - 0.7460317460317459) < 1e-12)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("abc", "xyz") == 0.0)
    assert(jw("ab", "ba") == 0.0) // window 0: no cross-position match
  }

  test("empty-string rule and boost threshold match DuckDB semantics") {
    // DuckDB returns 0 when either side is empty — even for ("","")
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    assert(jw("", "a") == 0.0)
    // jaro 0.4667 <= 0.7: NO Winkler boost despite 2-char shared prefix
    assert(math.abs(jw("aaxxxxxxxx", "aayyyyyyyy") - 0.4666666666666666) < 1e-15)
    // jaro 0.7111 > 0.7: boost applies (prefix 2, capped at 4)
    assert(math.abs(jw("ab", "abcdefghijklmno") - 0.768888888888889) < 1e-12)
  }

  test("codegen and interpreted paths agree through the SQL surface") {
    val pairs = Seq(("martha", "marhta"), ("crate", "trace"), ("", ""),
      ("hello", "hallo"), ("aa", "aaaa"), ("prefix", "prefabricate"))
      .toDF("a", "b")
    val viaSql = pairs
      .select(call_function("jaro_winkler", $"a", $"b")).as[Double]
      .collect()
    val direct = Seq("martha" -> "marhta", "crate" -> "trace", "" -> "",
      "hello" -> "hallo", "aa" -> "aaaa", "prefix" -> "prefabricate")
      .map { case (a, b) => jw(a, b) }
    assert(viaSql.toSeq == direct)
    // null propagation
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(call_function("jaro_winkler", $"a", $"b"))
    assert(withNull.collect().head.isNullAt(0))
  }
}
