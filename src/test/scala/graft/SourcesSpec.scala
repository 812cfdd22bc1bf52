package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{FormatConnector, ParquetConnector}

/** File-format connectors: csv/json round trips under a declared schema,
  * non-local roots, and the bulk write's row count.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv and json round-trip region through the parquet on-ramp") {
    val region = Tables.region(spark, sf)
    for (fmt <- Seq("csv", "json")) {
      val raw = new FormatConnector(
        Files.createTempDirectory(s"graft_src_$fmt").toString, fmt, Some(region.schema))
      assert(raw.bulk(region, "region") == region.count())
      val scanned = raw.scan(spark, "region")
      assert(scanned.schema == region.schema, s"$fmt schema drift: ${scanned.schema}")
      // the on-ramp: the text table bulked into the parquet layout
      val pq = new ParquetConnector(Files.createTempDirectory(s"graft_src_$fmt").toString)
      assert(pq.bulk(scanned, "region") == region.count(), s"$fmt round trip lost rows")
      val back = pq.scan(spark, "region")
      assert(back.schema == region.schema, s"$fmt schema drift: ${back.schema}")
      assert(back.select("r_name").as[String].collect().sorted.toSeq ==
        region.select("r_name").as[String].collect().sorted.toSeq)
    }
  }

  test("unsupported format rejected by name") {
    val conn = new FormatConnector(Files.createTempDirectory("graft_src_avro").toString, "avro")
    val e = intercept[org.apache.spark.sql.AnalysisException](conn.scan(spark, "x"))
    assert(e.getMessage.contains("avro"), e.getMessage)
  }

  test("ParquetConnector works on a non-local-FS root (file: URI scheme)") {
    val dir = Files.createTempDirectory("graft_conn_uri").toString
    // seed the driver-testdata layout: <root>/<table>.parquet FILE
    Tables.region(spark, sf).write.parquet(s"$dir/region.parquet")
    // a scheme-qualified root exercises the Hadoop FileSystem path — the
    // old java.io.File probe can't see through "file:" and would fall
    // back to the wrong path for scan and return nothing for listTables
    val conn = new ParquetConnector(s"file:$dir")
    assert(conn.listTables("*") == Seq("region"))
    assert(conn.scan(spark, "region").count() == Tables.region(spark, sf).count())
    // engine write layout: <root>/<table> DIRECTORY, scanned back
    val n = conn.bulk(conn.scan(spark, "region").filter(col("r_regionkey") < 2), "regionSlice")
    assert(n == 2L)
    assert(conn.scan(spark, "regionSlice").count() == 2L)
    assert(conn.listTables("*").contains("regionSlice"))
  }

  test("bulk counts rows via the write job's observe metric, no second read job") {
    val dir = Files.createTempDirectory("graft_conn_jobs").toString
    val conn = new ParquetConnector(dir)
    val df = spark.range(100).toDF("id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(conn.bulk(df, "ids") == 100L)
      // listener delivery is async: wait until the count is stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      assert(jobs.get() == 1,
        s"bulk must cost exactly the write job; saw ${jobs.get()} jobs (read-back regression)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
