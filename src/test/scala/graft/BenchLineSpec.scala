package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench stdout line is the driver's ONLY reliable channel (its
  * collector keeps a ~2000-char tail window) — these pin the curated
  * headline's hard budget and its content contract at suite sizes well
  * past the current query count. r19: admitted entries carry
  * [min, med, max] and the line carries a run-level dispersion block,
  * so a consumer can separate host noise from regression without the
  * sidecar. A query that fails is reported as failed, never timed.
  */
class BenchLineSpec extends AnyFunSuite {

  private def fakeSuite(n: Int): Map[String, Bench.QStat] =
    (1 to n).map { i =>
      val m = i * 0.037
      f"q_some_operator_with_a_long_name_$i%03d" ->
        Bench.QStat(m, m * 1.1, m * 1.3, 0.1, 0L, 1L)
    }.toMap

  test("headline stays under budget at 200 and 2000 queries, slowest entries survive") {
    for (n <- Seq(5, 132, 200, 2000)) {
      val stats = fakeSuite(n)
      val line = Bench.headline(stats, "/root/testdata/sf0.1", suspect = n % 2 == 0)
      assert(line.length < 1700, s"n=$n line is ${line.length} chars")
      // the most expensive query always survives curation, as the
      // contract's scalar min (an exact-shape driver parser must not
      // break on the r19 dispersion additions)
      val top = stats.maxBy(_._2.min)._1
      val topMin = BigDecimal(stats(top).min)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      assert(line.contains("\"" + top + "\":" + topMin),
        s"n=$n slowest query missing from line")
      // r22 contract order: the documented fields lead, in the
      // documented order — metric, value, unit, queries, sf — and
      // every diagnostic extra comes strictly after sf
      assert(line.matches(
        """^\{"metric":"total","value":[0-9.]+,"unit":"sec","queries":\{.*\},"sf":"[^"]*","n_queries":\d+,"elided":\d+.*\}$"""),
        line.take(120) + " ... " + line.takeRight(120))
      assert(line.contains(s""""n_queries":$n,"""))
      // dispersion block present with the synthetic 1.3 ratio everywhere
      assert(line.contains(""""disp":{"p50":1.30,"p90":1.30,"max":1.30}"""), line)
      // elided + admitted == full suite (curation is explicit)
      val elided = """"elided":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
      val admitted = """"q_some_operator""".r.findAllIn(line).length
      assert(elided + admitted == n, s"n=$n elided=$elided admitted=$admitted")
    }
  }

  test("headline is valid JSON with value == rounded sum of mins over the full suite") {
    val stats = fakeSuite(137)
    val line = Bench.headline(stats, "/root/testdata/sf0.1", suspect = true)
    // minimal JSON sanity without a parser dependency: balanced braces
    // (outer + queries map + disp block), suspect flag present, total
    // equals the rounded sum of the MINS
    assert(line.count(_ == '{') == 3 && line.count(_ == '}') == 3)
    assert(line.contains(""","suspect":true}"""))
    val expected = stats.values
      .map(s => BigDecimal(s.min).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble).sum
    val got = """"value":([0-9.]+),"unit"""".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(got - expected) < 0.011, s"$got vs $expected")
    // empty suite never divides by zero or emits a malformed map
    val empty = Bench.headline(Map.empty, "/x", suspect = false)
    assert(empty.contains(""""queries":{},""") && empty.startsWith("""{"metric":"total","value":0.00,"""))
  }

  test("measure reports a failing query as failed, never as a fast sample") {
    val spark = SparkSpec.spark
    var calls = 0
    val broken: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => { calls += 1; s.sql("SELECT raise_error('deliberate bench failure') AS x") }
    val res = Bench.measure("broken", broken, spark, "/unused", iters = 2)
    res match {
      case Left(f) =>
        assert(f.attempts == 2 && f.error.contains("deliberate bench failure"), f)
      case Right(s) => fail(s"a failing query was timed: $s")
    }
    assert(calls == 3, s"warmup + `iters` failed attempts, then stop; ran $calls")
    // a query failing on every other run keeps only its successful samples
    var n = 0
    val flaky: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => {
        n += 1
        if (n % 2 == 0) throw new IllegalStateException("flaky")
        s.range(1000).toDF()
      }
    Bench.measure("flaky", flaky, spark, "/unused", iters = 2) match {
      case Right(s) => assert(s.failures == 2 && s.min > 0.0, s)
      case Left(f) => fail(s"a query with successful samples was reported failed: $f")
    }
    // the headline keeps the failed query out of `queries` and `value`
    // and names it after `sf`; the sidecar records its status
    val ok = Map("q_ok" -> Bench.QStat(1.0, 1.1, 1.3, 0.1, 0L, 1L))
    val line = Bench.headline(ok, "/x", suspect = false, failed = Seq("broken"))
    assert(!line.contains("\"broken\":"), line)
    assert(line.startsWith("""{"metric":"total","value":1.00,"unit":"sec","queries":{"q_ok":1.00},"sf":"/x",""" +
      """"n_queries":2,"elided":0,"failed":["broken"],"""), line)
    val side = Bench.sidecarStats(Seq("broken" -> res, "q_ok" -> Right(ok("q_ok"))))
    assert(side.contains(""""broken":{"status":"failed","attempts":2,"error":"""), side)
    assert(side.contains(""""q_ok":{"min":1.0,""") && side.contains(""""status":"ok"}"""), side)
  }
}
