package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.engine.{Bounds, Catalog, Transfer}
import graft.model._
import graft.sources.ParquetConnector
import graft.transform._

/** Engine modules: bounds planner invariants (mirroring the golden
  * expectations of `subtasks.bounds.spec.js`), catalog DDL semantics,
  * and the reindex path (`Graft.addTask`/`runTask` over parquet
  * connectors) with idempotent re-run.
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def prop(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  // -- Bounds planner ----------------------------------------------------

  test("bounds: buckets partition the domain, counts sum to total") {
    val li = Tables.lineitem(spark, sf)
    val plan = Bounds.plan(li, "lineitem", "l_extendedprice", buckets = 3)
    assert(plan.size == 3)
    assert(plan.map(_.count).sum == li.count())
    // contiguous coverage: each bucket's max is the next one's min
    plan.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxSize == b.minSize)
      case _         =>
    }
    assert(plan.head.minSize.isNegInfinity && plan.last.maxSize == Double.MaxValue)
    // equi-depth-ish: no bucket more than 2x the ideal share
    val ideal = li.count() / 3.0
    plan.foreach(b => assert(b.count < 2 * ideal, s"skewed bucket: $b"))
  }

  test("bounds: null-heavy size column plans without crashing (nulls land in bucket 0)") {
    import spark.implicits._
    // constant non-null value + nulls: quantile cuts collapse to one
    // value, bucket 0 holds ONLY nulls -> its max(size) is null
    val df = Seq[java.lang.Double](5.0, 5.0, 5.0, null, null)
      .toDF("sz")
    val plan = Bounds.plan(df, "t", "sz", buckets = 3)
    assert(plan.map(_.count).sum == 5L)
    assert(plan.head.minSize.isNegInfinity)
    // fully-null column: still a valid (single-bucket-shaped) plan
    val allNull = Seq[java.lang.Double](null, null).toDF("sz")
    val p2 = Bounds.plan(allNull, "t", "sz", buckets = 3)
    assert(p2.map(_.count).sum == 2L)
  }

  test("global rank: matches window row_number/ntile without a single-partition sort") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val sortCols = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val (ranked, total) = graft.engine.GlobalRank.withRowNumber(df, sortCols, "rn")
    assert(total == df.count())
    val got = ranked
      .withColumn("bucket", graft.engine.GlobalRank.ntileFromRank(col("rn"), 7, total))
      .select(col("l_orderkey"), col("l_linenumber"), col("rn"), col("bucket"))
    val w = Window.orderBy(sortCols: _*)
    val want = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bucket", ntile(7).over(w).cast("long"))
      .select(col("l_orderkey"), col("l_linenumber"), col("rn"), col("bucket"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the scalable plan must not contain an unpartitioned window
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition") || !plan.contains("Window"),
      "global rank plan fell back to a single-partition window")
  }

  test("grouped cum-sum: matches the per-group running-sum window exactly") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("v"))
    val got = graft.engine.GlobalRank.withGroupedCumSumBefore(
      df, Seq("g"), Seq(col("l_orderkey"), col("l_linenumber")), col("v"), "cum")
    val w = Window.partitionBy("g").orderBy(col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // empty input must not blow up (offset side has zero rows)
    val empty = graft.engine.GlobalRank.withGroupedCumSumBefore(
      df.limit(0), Seq("g"), Seq(col("l_orderkey")), col("v"), "cum")
    assert(empty.count() == 0L)
  }

  test("global rank: ntile formula edge cases (total < n, exact multiples)") {
    import graft.engine.GlobalRank.ntileFromRank
    def buckets(total: Long, n: Int): Seq[Long] = {
      val df = spark.range(1, total + 1).toDF("rn")
      df.select(ntileFromRank(col("rn"), n, total).as("b"))
        .collect().map(_.getLong(0)).toSeq
    }
    assert(buckets(3, 7) == Seq(1L, 2L, 3L))          // total < n: one row each
    assert(buckets(6, 3) == Seq(1L, 1L, 2L, 2L, 3L, 3L)) // exact multiple
    assert(buckets(7, 3) == Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L)) // remainder first
    // closed-form cuts must partition [1, total] into exactly the
    // window formula's buckets, for any (total, n)
    import org.scalacheck.{Gen, Prop}
    prop(Prop.forAll(Gen.choose(0L, 500L), Gen.choose(1, 12)) { (total, n) =>
      val cuts = graft.engine.GlobalRank.ntileCuts(total, n)
      val viaCuts = cuts.flatMap { case (b, s, e) => (s to e).map(r => r -> b) }.toMap
      val viaFormula = if (total == 0) Map.empty[Long, Long] else buckets(total, n).zipWithIndex
        .map { case (b, i) => (i + 1).toLong -> b }.toMap
      cuts.map(_._1) == (1L to n.toLong) && viaCuts == viaFormula
    })
  }

  test("rowsAtRanks: random ranks equal a driver-side sort (boundary ranks included)") {
    import org.scalacheck.{Gen, Prop}
    prop(Prop.forAll(
      Gen.listOf(Gen.zip(Gen.choose(-1000.0, 1000.0), Gen.choose(0L, 1000L))),
      Gen.listOf(Gen.choose(-2L, 40L)) // deliberately includes out-of-range ranks
    ) { (rows, ranks) =>
      val df = spark.createDataFrame(rows.zipWithIndex.map { case ((v, t), i) => (v, t, i.toLong) })
        .toDF("v", "t", "u")
      val (picked, total) = graft.engine.GlobalRank.rowsAtRanks(
        df, Seq(org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("t"),
          org.apache.spark.sql.functions.col("u")), _ => ranks)
      val got = picked.select("__grank", "v", "t", "u")
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
      spark.catalog.clearCache() // release the ranged stage
      val sorted = rows.zipWithIndex.map { case ((v, t), i) => (v, t, i.toLong) }
        .sortBy(x => (x._1, x._2, x._3))
      val want = ranks.distinct.filter(r => r >= 1 && r <= sorted.length)
        .map(r => r -> sorted(r.toInt - 1)).toMap
      total == rows.length && got == want
    })
  }

  test("exact percentiles equal a driver-side sort (quantile_disc pick)") {
    import spark.implicits._
    val got = graft.operators.Relational.qPercentilesQuery(spark, sf)
      .as[(Double, Double)].collect().toMap
    val sorted = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .as[(Double, Long, Long)].collect()
      .sortBy(t => (t._1, t._2, t._3)).map(_._1)
    Seq(0.5, 0.95, 0.99).foreach { p =>
      val want = sorted(math.max(1, math.ceil(p * sorted.length).toLong).toInt - 1)
      assert(got(p) == want, s"p=$p: got ${got(p)}, want $want")
    }
  }

  test("stratified sample: content-determined, per-stratum rates honored") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val a = TextAnalysis.stratifiedSampleQuery(spark, sf).as[(Long, String)].collect().toSeq
    val b = TextAnalysis.stratifiedSampleQuery(spark, sf).as[(Long, String)].collect().toSeq
    assert(a == b, "sample must be deterministic")
    val perSource = a.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    // upweighted sources keep ~75%, others ~25% (loose bounds: 25 docs/stratum)
    Seq("src0", "src1", "src2").foreach { s =>
      val rate = perSource.getOrElse(s, 0.0) / totals(s)
      assert(rate > 0.4, s"$s rate $rate should be ~0.75")
    }
    val restRate = perSource.filterKeys(k => !Set("src0", "src1", "src2")(k)).values.sum /
      totals.filterKeys(k => !Set("src0", "src1", "src2")(k)).values.sum
    assert(restRate < 0.5, s"rest rate $restRate should be ~0.25")
  }

  test("plan audit: range predicate reaches the parquet scan, dims broadcast") {
    val f5 = graft.operators.Relational.f5SizeRange(spark, sf)
      .queryExecution.executedPlan.toString
    assert(f5.contains("PushedFilters:") && f5.contains("GreaterThanOrEqual(l_quantity"),
      s"F5 predicate not pushed to the scan:\n$f5")
    val q3 = graft.operators.Relational.q3Join(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q3.contains("BroadcastHashJoin"), "q3 dim join must broadcast")
  }

  test("plan audit: grouped-index near-dup plans carry no rank window") {
    // winnowPairs and the n-gram prefix stage both used count/row_number
    // windows (a full sort of the exchanged rows); the grouped-posting-
    // list rewrites must keep Window out of these plans for good
    val wp = graft.operators.TextAnalysis
      .winnowPairs(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!wp.contains("Window"), s"winnowPairs regained a window stage:\n$wp")
    val ng = graft.operators.Dedup
      .ngramJaccardPairs(Tables.documents(spark, sf), k = 3, threshold = 0.2)
      .queryExecution.executedPlan.toString
    assert(!ng.contains("Window"), s"ngram prefix regained a window stage:\n$ng")
    spark.catalog.clearCache() // both operators handoff-persist their pairs
  }

  test("plan audit: projection prunes the parquet read schema") {
    val plan = graft.operators.TextAnalysis.textTokens(spark, sf)
      .queryExecution.executedPlan.toString
    // only doc_id and text should be read, not source/lang/n_chars
    assert(plan.contains("ReadSchema") && !plan.contains("n_chars"),
      s"column pruning failed:\n$plan")
  }

  test("bounds: flush size formula clamps to [1, 10000] (subtasks.js:15,267)") {
    prop(Prop.forAll(Gen.choose(0.0, 1e9), Gen.choose(1, 64)) { (maxDoc, shards) =>
      val f = Bounds.flushSize(maxDoc, shards)
      f >= 1 && f <= 10000
    })
    assert(Bounds.flushSize(50.0 * 1000 * 1000, 1) == 1)    // 1 doc fills the batch
    assert(Bounds.flushSize(5000, 1) == 10000)              // clamp high
    assert(Bounds.flushSize(0, 1) == 10000)                 // degenerate
  }

  test("subtask identity is content-addressed minus count (subtask.js:20-25)") {
    val a = SubtaskSpec("t", 0, 100, 50, count = 10)
    val b = SubtaskSpec("t", 0, 100, 50, count = 99)
    assert(a.subtaskId == b.subtaskId)
    assert(a.subtaskId != SubtaskSpec("t", 0, 101, 50, 10).subtaskId)
  }

  // -- Catalog -----------------------------------------------------------

  test("catalog: createIndex drops system settings (transfer.js:235-243)") {
    val c = new Catalog
    val created = c.createIndex(IndexConfig(
      "idx1",
      settings = Map(
        "index.uuid" -> "abc", "index.creation_date" -> "123",
        "index.provided_name" -> "idx1", "index.version.created" -> "7",
        "index.number_of_shards" -> "5"
      )
    ))
    assert(created.settings == Map("index.number_of_shards" -> "5"))
  }

  test("catalog: getTemplates drops dot-templates, errors when none (transfer.js:383-406)") {
    val c = new Catalog
    c.putTemplateRaw(Template(".system", Seq(".sys-*")))
    c.putTemplateRaw(Template("user1", Seq("u-*")))
    assert(c.getTemplates("*").map(_.name) == Seq("user1"))
    intercept[NoSuchElementException](c.getTemplates("nomatch*"))
  }

  test("catalog: glob patterns (transfer.js:364-372)") {
    val c = new Catalog
    Seq("data-2024.01", "data-2024.02", "other").foreach(n => c.putIndexRaw(IndexConfig(n)))
    assert(c.getIndices("data-*").map(_.name) == Seq("data-2024.01", "data-2024.02"))
    assert(c.getIndices("*").size == 3)
  }

  // -- Transfer pipeline -------------------------------------------------

  /** Plan and drain `tables` of `src` through the facade into `dest`
    * (parquet connectors on both sides), with `mutators` registered and
    * referenced by the task. Returns the planned backlog and the results.
    */
  private def reindex(
      name: String,
      src: String,
      tables: Seq[String],
      mutators: Seq[ColumnMutator] = Seq.empty,
      sizeCols: Map[String, String] = Map.empty,
      indexFilters: Seq[MetadataFilters.IndexPred] = Seq.empty,
      dest: String = Files.createTempDirectory("graft_reindex").toString
  ): (Seq[SubtaskSpec], Seq[Transfer.SubtaskResult]) = {
    val g = new Graft(spark)
    mutators.foreach(m => g.mutators.add(m.id, m))
    val spec = TaskSpec(name, src, dest, tables, mutators = mutators.map(m => ActionRef(m.id)))
    val backlog = g.addTask(spec, sizeCols, indexFilters)
    val results = g.runTask(name)
    assert(g.errors.getErrors(name).isEmpty, s"subtask errors: ${g.errors.getErrors(name)}")
    (backlog, results)
  }

  test("reindex: mutate+drop+route, idempotent on re-run") {
    val out = Files.createTempDirectory("graft_transfer").toString
    val mutators = Seq(
      WithColumnMutator(ObjectId("tst", "route"), "_index",
        concat(lit("r-"), col("r_name"))),
      DropMutator(ObjectId("tst", "drop"), col("r_regionkey") === 0)
    )
    val (_, res1) = reindex("route", sf, Seq("region"), mutators, dest = out)
    val (_, res2) = reindex("route", sf, Seq("region"), mutators, dest = out)
    assert(res1.map(_.rowsWritten) == res2.map(_.rowsWritten), "overwrite must be idempotent")
    val written = spark.read.parquet(res2.map(_.outputPath): _*)
    assert(written.count() == res2.map(_.rowsWritten).sum)
    assert(written.columns.contains("_index"))
    assert(written.filter(col("r_regionkey") === 0).count() == 0)
    assert(res1.map(_.rowsWritten).sum ==
      Tables.region(spark, sf).filter(col("r_regionkey") =!= 0).count())
    // M2: each row lands under its computed destination index
    val routed = res2.flatMap(r => new java.io.File(r.outputPath).list().toSeq)
      .filter(_.startsWith("_index="))
    assert(routed.size == 4, s"expected one directory per destination index, got $routed")
  }

  test("runTask: index filters prune tables before read (F1, README.md:209)") {
    val (_, results) = reindex("t1", sf, Seq("region", "nation"),
      indexFilters = Seq(_.name == "nation"))
    assert(results.size == 1 && results.head.subtaskId.contains("nation"))
  }

  test("transferMetadata applies index mutators before DDL (M3, transfer.js:290-292)") {
    val src = new Catalog
    val dst = new Catalog
    src.putIndexRaw(IndexConfig("logs-v1", settings = Map("index.number_of_shards" -> "1")))
    val pipeline = Transfer.Pipeline(indexMutators = Seq(
      ic => ic.copy(name = ic.name.replace("v1", "v2")),
      ic => ic.copy(settings = ic.settings + ("index.number_of_shards" -> "8"))
    ))
    val (ics, _) =
      Transfer.transferMetadata(src, dst, pipeline, tolerateMissingTemplates = true)
    assert(ics.map(_.name) == Seq("logs-v2"))
    assert(dst.getIndices("logs-v2").head.settings("index.number_of_shards") == "8")
  }

  test("transferMetadata surfaces S4's error-if-none for templates (transfer.js:402-405)") {
    val src = new Catalog
    src.putIndexRaw(IndexConfig("logs-v1"))
    // no template matches: the reference FAILS here; the opt-in flag is
    // the only way to get empty-is-fine
    intercept[NoSuchElementException](
      Transfer.transferMetadata(src, new Catalog, Transfer.Pipeline()))
    val (_, tps) = Transfer.transferMetadata(
      src, new Catalog, Transfer.Pipeline(), tolerateMissingTemplates = true)
    assert(tps.isEmpty)
    // a pattern matching ONLY system (dot) templates is as typo'd as one
    // matching nothing: error-if-none runs after the dot filter
    src.createTemplate(graft.model.Template(".monitoring", Seq(".mon-*")))
    intercept[NoSuchElementException](src.getTemplates("*"))
    // the mutator tolerance scope: a NoSuchElementException thrown by a
    // template MUTATOR must propagate even with tolerance on
    src.createTemplate(graft.model.Template("real", Seq("r-*")))
    val boom = Transfer.Pipeline(templateMutators =
      Seq(t => { t.settings("missing.key"); t }))
    intercept[NoSuchElementException](
      Transfer.transferMetadata(src, new Catalog, boom, tolerateMissingTemplates = true))
  }

  test("planner: empty catalog keeps every task table (no silent zero-subtask plan)") {
    val task = TaskSpec("planEmpty", sf, "/tmp/unused", tables = Seq("region", "nation"))
    val potential = new Graft(spark).addTask(task)
    assert(potential.map(_.table).toSet == Set("region", "nation"))
  }

  test("planner: expand x buckets, resume diff skips completed (P1/P5, subtasks.js:369-396)") {
    val task = TaskSpec("plan1", sf, "/tmp/unused", tables = Seq("lineitem", "region", "nation"))
    val potential = graft.engine.Planner.expand(
      spark, task, new ParquetConnector(sf),
      sizeCols = Map("lineitem" -> "l_extendedprice"),
      indexFilters = Seq(ic => ic.name != "nation") // F1 prunes nation pre-read
    ).subtasks
    // 3 buckets for lineitem + 1 whole-table subtask for region; nation pruned
    assert(potential.count(_.table == "lineitem") == 3)
    assert(potential.count(_.table == "region") == 1)
    assert(!potential.exists(_.table == "nation"))

    // resume: complete the first lineitem bucket (with a different count
    // to prove identity excludes count), re-plan, only it is skipped
    val done = potential.head.copy(count = -1)
    val backlog = graft.engine.Planner.buildBacklog(potential, Set(done.subtaskId))
    assert(backlog.size == potential.size - 1)
    assert(!backlog.exists(_.subtaskId == done.subtaskId))
  }

  test("type filters OR-combine over mapping types (F2, subtasks.js:165)") {
    val types = Seq("doc", "event", "metric")
    assert(MetadataFilters.applyTypeFilters(types, Seq.empty) == types)
    val kept = MetadataFilters.applyTypeFilters(
      types, Seq(_ == "doc", _.startsWith("m")))
    assert(kept == Seq("doc", "metric"))
  }

  test("subtask execution: union of planned slices equals whole-table transfer (P1+S1+F5)") {
    val li = Tables.lineitem(spark, sf)
    val drop = DropMutator(ObjectId("tst", "dropQ"), col("l_quantity") > 45)
    val (plan, results) = reindex("slices", sf, Seq("lineitem"), Seq(drop),
      sizeCols = Map("lineitem" -> "l_extendedprice"))
    plan.foreach(st => info(s"planned: $st"))
    results.foreach(r => info(s"written: $r"))
    // every subtask wrote its own dir; union == single whole-table run
    assert(results.map(_.outputPath).distinct.size == 3)
    val unionCount = results.map(_.rowsWritten).sum
    val whole = MutatorPipeline.applyColumnar(li, Seq(drop)).count()
    assert(unionCount == whole, s"subtask union $unionCount != whole $whole")
    // no row lands in two slices: the size ranges are disjoint by
    // construction, so the physical union must match the whole count too
    // (note: (l_orderkey, l_linenumber) is NOT unique in this synthetic
    // corpus, so a distinct-key check would undercount)
    val unionRead = spark.read.parquet(results.map(_.outputPath): _*).count()
    assert(unionRead == whole)
  }

  /** Reindex one table of `(id, sz)` rows bucketed on `sz` (3 buckets);
    * returns the plan and the ids written, sorted.
    */
  private def reindexSizes(sizes: Seq[Option[Double]]): (Seq[SubtaskSpec], Seq[Long]) = {
    val src = Files.createTempDirectory("graft_sizes").toString
    sizes.zipWithIndex.map { case (sz, i) => (i.toLong, sz) }.toDF("id", "sz")
      .write.parquet(s"$src/t.parquet")
    val (plan, results) = reindex("sizes", src, Seq("t"), sizeCols = Map("t" -> "sz"))
    val ids = spark.read.parquet(results.map(_.outputPath): _*).select("id").as[Long]
      .collect().sorted.toSeq
    (plan, ids)
  }

  test("subtask union invariant holds for null, NaN, and infinite sizes") {
    val finite = Seq(100.0, 200.0, 300.0, 900.0, 1000.0, 1100.0, 1200.0, 1300.0).map(Some(_))
    val cases = Seq(
      "mixed" -> Seq(Some(5.0), Some(500.0), Some(50000.0), None, Some(Double.NaN),
        Some(Double.PositiveInfinity), Some(Double.NegativeInfinity), Some(0.0)),
      // a quantile equal to a bucket sentinel: at -Infinity buckets 0 and
      // 1 both started there, at Double.MaxValue the last two were both
      // open above
      "-Infinity cut" ->
        (Seq.fill(4)(Some(Double.NegativeInfinity)) ++ Seq(None) ++ finite.take(7)),
      "Double.MaxValue cut" -> (Seq.fill(4)(Some(Double.MaxValue)) ++ finite),
      "+Infinity cut" -> (Seq.fill(4)(Some(Double.PositiveInfinity)) ++ finite),
      "NaN cut" -> (Seq.fill(4)(Some(Double.NaN)) ++ finite),
      "all -Infinity" -> Seq.fill(6)(Some(Double.NegativeInfinity)),
      "all Double.MaxValue" -> Seq.fill(6)(Some(Double.MaxValue))
    )
    cases.foreach { case (label, sizes) =>
      val (plan, ids) = reindexSizes(sizes)
      assert(ids == sizes.indices.map(_.toLong),
        s"$label: union lost or repeated rows: $ids (plan: $plan)")
      // and the planner's per-bucket counts agree with what was written
      assert(plan.map(_.count).sum == sizes.size, s"$label planner counts: $plan")
    }
  }

  /** Spark jobs launched under job group `group` while `body` runs,
    * counted after a sentinel job has flushed the listener bus.
    */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        else if (g == s"$group-flush") flushed.countDown()
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(s"$group-flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** `addTask` on this thread under its own job group; the backlog and
    * the Spark jobs planning launched (planning workers inherit the group).
    */
  private def addTaskJobs(g: Graft, spec: TaskSpec, sizeCols: Map[String, String]): (Seq[SubtaskSpec], Int) = {
    val group = s"plan-${java.util.UUID.randomUUID()}"
    var backlog = Seq.empty[SubtaskSpec]
    val jobs = jobsIn(group) {
      spark.sparkContext.setJobGroup(group, "planning")
      try backlog = g.addTask(spec, sizeCols) finally spark.sparkContext.clearJobGroup()
    }
    (backlog, jobs)
  }

  /** A multi-file parquet table `t` of `(id, sz)` rows under a fresh root. */
  private def multiFileSource(rows: Int): String = {
    val src = Files.createTempDirectory("graft_multifile").toString
    (0 until rows).map(i => (i.toLong, (i % 97).toDouble)).toDF("id", "sz")
      .repartition(3).write.parquet(s"$src/t")
    src
  }

  test("reindex: each subtask over a parquet source runs exactly one Spark job") {
    val src = multiFileSource(300)
    val g = new Graft(spark)
    val spec = TaskSpec("onejob", src, Files.createTempDirectory("graft_onejob").toString, Seq("t"))
    val backlog = g.addTask(spec, Map("t" -> "sz"))
    var results = Seq.empty[Transfer.SubtaskResult]
    val jobs = jobsIn("graft-task-onejob") { results = g.runTask("onejob") }
    assert(g.errors.getErrors("onejob").isEmpty, s"subtask errors: ${g.errors.getErrors("onejob")}")
    assert(backlog.size == 3 && results.map(_.rowsWritten).sum == 300L)
    // the bulk write is the only job: the subtask scans its planned frame
    assert(jobs == backlog.size, s"$jobs jobs for ${backlog.size} subtasks")
  }

  test("addTask: re-adding an unchanged parquet task reuses its plan and runs no Spark job") {
    val src = multiFileSource(200)
    val g = new Graft(spark)
    val spec = TaskSpec("reuse", src, Files.createTempDirectory("graft_reuse").toString, Seq("t"))
    g.addTask(spec, Map("t" -> "sz"))
    assert(g.runTask("reuse").map(_.rowsWritten).sum == 200L)
    val (again, jobs) = addTaskJobs(g, spec, Map("t" -> "sz"))
    assert(again.isEmpty, s"a finished task must resume to an empty backlog: $again")
    assert(jobs == 0, s"an unchanged source must not be re-planned ($jobs jobs)")
  }

  test("addTask: a new file in a source table forces a re-plan whose counts include it") {
    val src = multiFileSource(200)
    val g = new Graft(spark)
    val spec = TaskSpec("replan", src, Files.createTempDirectory("graft_replan").toString, Seq("t"))
    val first = g.addTask(spec, Map("t" -> "sz"))
    assert(first.map(_.count).sum == 200L)
    val (same, reuseJobs) = addTaskJobs(g, spec, Map("t" -> "sz"))
    assert(same == first && reuseJobs == 0)
    (200 until 250).map(i => (i.toLong, (i % 97).toDouble)).toDF("id", "sz")
      .coalesce(1).write.mode("append").parquet(s"$src/t")
    val (replanned, replanJobs) = addTaskJobs(g, spec, Map("t" -> "sz"))
    assert(replanJobs > 0, "a changed listing must re-plan")
    assert(replanned.map(_.count).sum == 250L, s"re-plan counts miss the new file: $replanned")
    // every subtask reads the listing its plan counted
    assert(g.runTask("replan").map(_.rowsWritten).sum == 250L)
  }

  test("addTask: a drained table that gains a file reruns its subtasks; the destination holds every row") {
    val src = Files.createTempDirectory("graft_resume_append").toString
    val dest = Files.createTempDirectory("graft_resume_append_out").toString
    def rows(ids: Range) = ids.map(i => (i.toLong, s"r$i", (i * i).toDouble)).toDF("id", "v", "sz")
    // `t` is sized: the appended file's larger sizes move its cuts, so
    // every subtask id changes. `u` has no size column: it plans as one
    // subtask whose id does not move when rows are added
    Seq("t", "u").foreach(tbl => rows(0 until 100).coalesce(1).write.parquet(s"$src/$tbl"))
    val g = new Graft(spark)
    val spec = TaskSpec("resumeappend", src, dest, Seq("t", "u"))
    val first = g.addTask(spec, Map("t" -> "sz"))
    assert(g.runTask("resumeappend").map(_.rowsWritten).sum == 200L)
    Seq("t", "u").foreach(tbl =>
      rows(100 until 150).coalesce(1).write.mode("append").parquet(s"$src/$tbl"))
    val backlog = g.addTask(spec, Map("t" -> "sz"))
    assert(backlog.map(_.count).sum == 300L, s"the changed tables must rerun: $backlog")
    val firstT = first.filter(_.table == "t").map(_.subtaskId).toSet
    assert(backlog.filter(_.table == "t").forall(st => !firstT(st.subtaskId)),
      s"fixture: the appended file must move t's cuts: $first -> $backlog")
    g.runTask("resumeappend")
    assert(g.errors.getErrors("resumeappend").isEmpty, s"${g.errors.getErrors("resumeappend")}")
    Seq("t", "u").foreach { tbl =>
      val landed = spark.read.option("recursiveFileLookup", "true").parquet(s"$dest/$tbl")
      assert(landed.count() == 150L && landed.select("id").distinct().count() == 150L,
        s"destination $tbl holds ${landed.count()} rows")
    }
  }

  test("addTask: re-planning a drained task with more buckets leaves each source row in the destination once") {
    val src = multiFileSource(300)
    val dest = Files.createTempDirectory("graft_rebucket_out").toString
    val g = new Graft(spark)
    val spec = TaskSpec("rebucket", src, dest, Seq("t"))
    val first = g.addTask(spec, Map("t" -> "sz"))
    assert(first.size == 3 && g.runTask("rebucket").map(_.rowsWritten).sum == 300L)
    // the table is unchanged: only the bucket count re-plans it
    val again = g.addTask(spec, Map("t" -> "sz"), buckets = 4)
    assert(again.size == 4 && again.map(_.subtaskId).intersect(first.map(_.subtaskId)).isEmpty,
      s"fixture: four new slices must replace three: $again")
    g.runTask("rebucket")
    assert(g.errors.getErrors("rebucket").isEmpty, s"${g.errors.getErrors("rebucket")}")
    val landed = spark.read.option("recursiveFileLookup", "true").parquet(s"$dest/t")
    assert(landed.count() == 300L && landed.select("id").distinct().count() == 300L,
      s"destination holds ${landed.count()} rows")
    assert(new java.io.File(s"$dest/t").list().sorted.toSeq ==
      again.map(Transfer.subtaskDirName).sorted, "only the new plan's slices remain")
  }

  test("bucketed tables join without a shuffle (co-located join at scale)") {
    val s = spark.newSession() // isolated runtime conf; default warehouse dir
    // a fresh in-memory catalog can't overwrite locations it doesn't know:
    // clear leftovers from prior runs
    Seq("orders_b", "customer_b").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dir)
      }
    }
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    Tables.orders(s, sf).write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.customer(s, sf).write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    val joined = s.table("orders_b")
      .join(s.table("customer_b"), col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("upsertLatest: last write wins by version, deterministic tiebreak (K1)") {
    val df = Seq(
      ("k1", 1L, "old"), ("k1", 2L, "new"), ("k2", 5L, "only"),
      ("k3", 7L, "a"), ("k3", 7L, "b") // tie on version
    ).toDF("k", "v", "payload")
    val out = graft.operators.Relational
      .upsertLatest(df, Seq("k"), Seq(col("v").desc, col("payload").desc))
      .orderBy("k").as[(String, Long, String)].collect()
    assert(out.toSeq == Seq(("k1", 2L, "new"), ("k2", 5L, "only"), ("k3", 7L, "b")))
  }

  test("BoundedMemo: access-order LRU cap — insert N+1 evicts the least-recently-used; eviction only re-computes (r18)") {
    val computes = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val memo = new graft.engine.BoundedMemo[Int, String](3)
    def get(k: Int): String = memo.getOrElseUpdate(k) { computes(k) += 1; s"v$k" }
    (1 to 3).foreach(get)
    assert(memo.size == 3)
    get(1) // touch: LRU order now 2, 3, 1
    get(4) // cap hit: evicts 2, the least recently used
    assert(memo.size == 3 && !memo.contains(2) &&
      memo.contains(1) && memo.contains(3) && memo.contains(4))
    assert(get(2) == "v2" && computes(2) == 2, "an evicted key re-computes, identically")
    assert(get(1) == "v1" && computes(1) == 1, "a cached key never re-computes")
    // a builder that re-enters the memo must not deadlock (compute runs
    // outside the lock — the CHM recursive-update trap, closed by design)
    val reentrant = memo.getOrElseUpdate(10) { get(3); "outer" }
    assert(reentrant == "outer")
  }
}
