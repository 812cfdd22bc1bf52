package graft

import org.apache.spark.sql.functions._

/** Smoke coverage of the whole driver contract at sf0.001: every
  * registered query runs and returns rows; entry() is non-empty; every
  * oracle key points at a registered query; multimodal plumbing keeps
  * its schema and determinism.
  */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  test("every SparkEntry query executes and returns rows at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with empty results: $empties")
  }

  test("entry() returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle (no silent rows-only fallbacks)") {
    // the driver downgrades oracle-less queries to a weaker rows>0
    // check; this repo's whole declared surface is SQL-expressible, so
    // a missing oracle is a forgotten entry, not a design choice
    val missing = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }

  test("the five Bloom-named dedup queries return their exact twin's rows and plan no Bloom probe") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val twins = Seq(
      "dedup_bloom" -> "dedup_incremental",
      "dedup_bloom_sharded" -> "dedup_incremental",
      "dedup_bloom_sharded_disk" -> "dedup_incremental",
      "dedup_cdc_incremental_bloom" -> "dedup_cdc_incremental",
      "dedup_cdc_incremental_bloom_disk" -> "dedup_cdc_incremental")
    twins.foreach { case (name, twin) =>
      val want = SparkEntry.queries(twin)(spark, sf).collect().toSeq
      val df = SparkEntry.queries(name)(spark, sf)
      assert(df.collect().toSeq == want, s"$name rows differ from $twin")
      val probes = nodes(df.queryExecution.executedPlan)
        .flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
        .filter(c => c.endsWith("MightContain") || c.endsWith("BloomProbe"))
      assert(probes.isEmpty, s"$name plans a Bloom probe: ${probes.distinct}")
      assert(want.nonEmpty, s"$twin returned no rows")
    }
    spark.catalog.clearCache()
  }

  test("split_assign: total coverage, content-hash determinism (dups share a split)") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val split = TextAnalysis.splitAssign(docs)
    assert(split.count() == docs.count())
    val dist = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(dist.keySet.subsetOf(Set("train", "val", "test")))
    assert(dist("train") > dist.getOrElse("val", 0L), "train must dominate")
    // identical text => identical split, regardless of doc_id
    val dup = Seq((1L, "same content here"), (999L, "same content here"))
      .toDF("doc_id", "text")
    val splits = TextAnalysis.splitAssign(dup).select("split").as[String].collect()
    assert(splits.distinct.length == 1)
  }

  test("shard_manifest: partition-order-invariant fingerprints, total coverage, dup co-sharding") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val m1 = TextAnalysis.shardManifest(docs, nShards = 8).collect()
    assert(m1.map(_.getLong(1)).sum == docs.count(), "every doc lands in a shard")
    assert(m1.map(_.getLong(0)).toSet.subsetOf((0L until 8L).toSet))
    // same corpus, different physical layout => identical manifest
    val m2 = TextAnalysis.shardManifest(docs.repartition(13), nShards = 8)
      .collect()
    assert(m1.sameElements(m2), "manifest must not depend on partitioning")
    // identical text co-shards (content hash, not doc_id)
    val dup = Seq((1L, "same content here", 17L), (999L, "same content here", 17L))
      .toDF("doc_id", "text", "n_chars")
    assert(TextAnalysis.shardManifest(dup, nShards = 8).count() == 1)
  }

  test("top_ngrams: document frequency counts distinct docs, not occurrences") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"), // repeats "a b" many times: df contribution 1
      (2L, "a b c d"),
      (3L, "x y z w")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(docs, k = 2, topK = 3)
      .as[(String, Long)].collect().toMap
    assert(top("a b") == 2, s"df of 'a b' should be 2, got ${top.get("a b")}")
  }

  test("contamination: reported docs genuinely share an 8-gram with the eval set") {
    import graft.operators.TextAnalysis
    import graft.functions.{sketch, text}
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.contaminationQuery(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty, "expected planted overlaps")
    val grams = docs
      .select(col("doc_id"), sketch.shingleSet(text.tokens(col("text")), 8).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    val evalGrams = grams.filter(_._1 < 25).values.flatten.toSet
    out.foreach { case (id, nEval, shared) =>
      assert(id >= 25 && nEval > 0 && shared > 0)
      assert(grams(id).toSet.intersect(evalGrams).nonEmpty, s"doc $id has no real shared gram")
    }
  }

  test("doc_repetition: exact stats on a constructed document") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),   // 4 tokens, 2 distinct, max freq 3, 3-grams: "a a a","a a b" -> rep3 = 1 - 2/2 = 0
      (2L, "a a a a")    // 4 tokens, 1 distinct, max freq 4, 3-grams distinct: "a a a" -> rep3 = 1 - 1/2 = 0.5
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(docs)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 4L, 2L, 3L, 0.0)))
    assert(got(1) == ((2L, 4L, 1L, 4L, 0.5)))
  }

  test("multimodal: feature extraction is deterministic and schema-stable") {
    import graft.operators.Multimodal
    val a = Multimodal.extractFeatures(Multimodal.assets(spark, sf), Multimodal.FakeDecoder)
    assert(a.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "n_bytes", "width", "height", "features"))
    val r1 = a.orderBy("media_id").limit(5).collect()
    val r2 = a.orderBy("media_id").limit(5).collect()
    assert(r1.map(_.features.toSeq).toSeq == r2.map(_.features.toSeq).toSeq)
    assert(r1.forall(_.features.length == 8))
  }

  test("multimodal: frame sampling emits rows only for video assets") {
    import graft.operators.Multimodal
    val frames = Multimodal.sampleFrames(Multimodal.assets(spark, sf))
    assert(frames.count() > 0)
    assert(frames.select("media_id").distinct().count() ==
      Multimodal.assets(spark, sf).filter(col("modality") === "video").count())
  }

  test("pii scrub: counts and redaction on boundary-crafted inputs") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      // two emails, dotted subdomain + plus-tag
      (1L, "mail a.b+tag@sub.example.org and c@d.io please"),
      // phone with dots, phone with dashes, and an IP — the phone regex
      // must not eat the IP (an IPv4 has three dots, a phone two seps)
      (2L, "call 555.123.4567 or 555-123-4567 from 10.0.0.1"),
      // @ without a TLD and digits without separators: no matches
      (3L, "not-an-email a@b and 5551234567 stay put"),
      // boundary: email at string start, IP at string end
      (4L, "x@y.zz then 192.168.100.200")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.piiScrub(docs)
      .orderBy("doc_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 2L, 0L, 0L), (2L, 0L, 2L, 1L), (3L, 0L, 0L, 0L), (4L, 1L, 0L, 1L)))
    // redaction is total: no raw match survives in the fingerprinted text
    val cleaned = docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>").as("clean"))
    val redacted = cleaned.filter(col("clean").rlike("@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count()
    assert(redacted == 0, "no email-shaped text may survive redaction")
  }

  test("pack_sequences: budget respected modulo last-doc overflow; coverage total") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val capacity = 256L
    val packed = TextAnalysis.packSequences(docs, capacity = capacity, groups = 8)
      .as[(Long, Int, Long, Long)].collect()
    // every doc packed exactly once
    assert(packed.length == docs.count())
    // per (grp, seq): the sequence's tokens minus its LAST doc must fit
    // the budget (streaming packing overflows by at most one document),
    // and sequence ids within a group are contiguous from 0
    packed.groupBy(p => (p._2, p._3)).foreach { case ((g, s), ds) =>
      val toks = ds.sortBy(_._1).map(_._4)
      assert(toks.init.sum < capacity,
        s"grp=$g seq=$s holds ${toks.sum} tokens with room before its last doc")
    }
    packed.groupBy(_._2).foreach { case (g, ds) =>
      val seqs = ds.map(_._3).distinct.sorted
      assert(seqs.head == 0L && seqs.toSeq == (0L to seqs.last).toSeq,
        s"grp=$g sequence ids must be contiguous: ${seqs.toSeq}")
    }
  }

  test("plan shapes: as-of joins nothing, substring dedup never nested-loops") {
    import graft.operators.{Dedup, Relational, TextAnalysis}
    // the as-of is a carry-forward window: NO join node of any kind may
    // appear, and exactly one hash exchange (the user_id shuffle)
    val ev = Seq(
      (1L, 1L, "click", 10L), (2L, 1L, "purchase", 20L), (3L, 2L, "purchase", 5L)
    ).toDF("event_id", "user_id", "event_type", "tus")
    val asofPlan = Relational.asofLastBefore(ev, "click", "purchase")
      .queryExecution.executedPlan.toString
    assert(!asofPlan.contains("Join"), s"as-of must not plan a join:\n$asofPlan")
    assert(asofPlan.contains("Window"))
    assert("Exchange hashpartitioning".r.findAllMatchIn(asofPlan).size == 1, asofPlan)
    // substring dedup joins only on hash/doc keys: a nested-loop or
    // cartesian node would mean the pair-free design regressed
    val spanPlan = Dedup.substringSpans(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!spanPlan.contains("CartesianProduct") && !spanPlan.contains("NestedLoop"),
      s"substring dedup must stay equi-join only:\n$spanPlan")
    // token budget's shuffle shape moved to the ranged GlobalRank form:
    // see "plan shapes: mix/budget/pack windows..." below
  }

  /** Every `WindowExec` in the plan must either ride the GlobalRank
    * ranged shape (partitioned by `__pid`, so each task ranks only its
    * own slice) or consume an aggregate's output (the tiny
    * per-(partition, group) offset rows). A window partitioned by a raw
    * low-cardinality column (source, grp) over unaggregated data is one
    * task per key at 100 TB — the r8 scale-killer this guards against.
    */
  private def assertScalableWindows(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"$name: expected the ranged-window shape, got\n$plan")
    windows.foreach { w =>
      val byPid = w.partitionSpec.exists(_.references.exists(_.name == "__pid"))
      lazy val overAggregate =
        w.child.find { case _: BaseAggregateExec => true; case _ => false }.isDefined
      assert(byPid || overAggregate,
        s"$name: window partitioned by [${w.partitionSpec.mkString(", ")}] rides raw data " +
          s"— one task per key at scale:\n$plan")
    }
  }

  test("plan shapes: mix/budget/pack windows never single-task a source or group") {
    import graft.operators.{Curation, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    assertScalableWindows("mix_sources", TextAnalysis.mixSources(docs))
    assertScalableWindows("token_budget",
      TextAnalysis.tokenBudget(docs, Map("src0" -> 4000L), defaultBudget = 2000L))
    assertScalableWindows("pack_sequences", TextAnalysis.packSequences(docs))
    assertScalableWindows("pipeline_mix",
      Curation.mixPipeline(docs, Map("src0" -> 4000L), defaultBudget = 2000L, minTokens = 12))
  }

  test("asofLastBefore: latest at-or-before match, ties and no-match pinned") {
    import graft.operators.Relational
    // user 1: clicks at t=10 (id 1), t=20 (ids 2 and 3 SIMULTANEOUS),
    //         purchase at t=20 (id 4: same-instant click visible, max id
    //         wins), purchase at t=15 (id 5 -> click 1), purchase at t=5
    //         (id 6 -> NO prior click: null match)
    // user 2: purchase only (id 7) -> null match
    val ev = Seq(
      (1L, 1L, "click", 10L), (2L, 1L, "click", 20L), (3L, 1L, "click", 20L),
      (4L, 1L, "purchase", 20L), (5L, 1L, "purchase", 15L), (6L, 1L, "purchase", 5L),
      (7L, 2L, "purchase", 30L), (8L, 1L, "error", 12L) // other types ignored
    ).toDF("event_id", "user_id", "event_type", "tus")
    val got = Relational.asofLastBefore(ev, "click", "purchase")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got == Map(
      4L -> ((Some(3L), Some(0L))),
      5L -> ((Some(1L), Some(5L))),
      6L -> ((None, None)),
      7L -> ((None, None))))
  }

  test("mix_temperature: integer-exact n^alpha quotas, clamped and deterministic") {
    import graft.operators.TextAnalysis
    val docs = ((1 to 16).map(i => (i.toLong, "a", s"text a $i")) ++
      (17 to 20).map(i => (i.toLong, "b", s"text b $i")))
      .toDF("doc_id", "source", "text")
    // alpha 0.5: w = (4000, 2000), W = 6000; target 6 -> quotas (4, 2)
    val half = TextAnalysis.mixTemperature(docs, alpha = 0.5, totalTarget = 6)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(half == Map("a" -> 4L, "b" -> 2L), s"alpha=0.5 quotas: $half")
    // alpha 1: w = (16000, 4000), W = 20000; target 6 -> floor(4.8)=4, floor(1.2)=1
    val prop = TextAnalysis.mixTemperature(docs, alpha = 1.0, totalTarget = 6)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(prop == Map("a" -> 4L, "b" -> 1L), s"alpha=1 quotas: $prop")
    // quotas clamp at the source size; quota-0 sources drop
    val all = TextAnalysis.mixTemperature(docs, alpha = 0.5, totalTarget = 1000)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(all == Map("a" -> 16L, "b" -> 4L), s"clamped quotas: $all")
    val r1 = TextAnalysis.mixTemperature(docs, 0.5, 6).as[(Long, String)].collect().sortBy(_._1)
    val r2 = TextAnalysis.mixTemperature(docs, 0.5, 6).as[(Long, String)].collect().sortBy(_._1)
    assert(r1.toSeq == r2.toSeq, "content-hash selection must be a pure function")
  }

  test("text_gopher: exact rule signals on a constructed document") {
    import graft.operators.TextAnalysis
    val good = "the cat and the hat went to town with a bag of tricks that have been seen" +
      "\n- bullet\nplain line\nend..."
    val bad = "#### x! ###"
    val got = TextAnalysis.gopherQuality(
      Seq((1L, good), (2L, bad)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val g = got(1L)
    assert(g.getLong(1) == 22L, s"n_tokens: ${g.getLong(1)}")           // tokens
    assert(g.getLong(2) == 4L && g.getLong(3) == 1L && g.getLong(4) == 1L) // lines/bullet/ellipsis
    assert(g.getLong(5) == 21L, s"alpha tokens: ${g.getLong(5)}")       // all but "-"
    assert(g.getLong(6) == 1L, s"symbols: ${g.getLong(6)}")             // one "..."
    assert(g.getLong(7) == 7L, s"stop hits: ${g.getLong(7)}")           // all but "be"
    val nonWs = good.replaceAll("\\s", "").length
    assert(g.getDouble(8) == nonWs.toDouble / 22, "mean_word_len")
    assert(g.getBoolean(13), "constructed good doc must pass")
    val b = got(2L)
    assert(!b.getBoolean(13), "symbol-ridden 3-token doc must fail")
    assert(b.getLong(7) == 0L && b.getLong(6) >= 7L)
  }

  test("chunk_documents: exact boundaries, overlap, and contained-tail drop") {
    import graft.operators.TextAnalysis
    val toks = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, toks), (2L, "a b c"), (3L, "   "), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, chunkTokens = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    // doc 1 (50 tokens): chunk 0 = tokens 1..32, chunk 1 = 25..50 (26 tokens);
    // start i=2 would begin at 49 but (2-1)*24+32=56 >= 50 -> contained, dropped
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq == Seq((0L, 0L, 32L), (1L, 24L, 26L)))
    assert(d1(0)._5 == (1 to 32).map(i => s"w$i").mkString(" "))
    assert(d1(1)._5 == (25 to 50).map(i => s"w$i").mkString(" "))
    // overlap region: chunk 1 re-carries chunk 0's last 8 tokens
    assert(d1(1)._5.split(" ").take(8).toSeq == (25 to 32).map(i => s"w$i").toSeq)
    // short doc: one chunk, whole text; blank/null docs: no chunks
    assert(got.filter(_._1 == 2L).map(c => (c._2, c._4, c._5)).toSeq == Seq((0L, 3L, "a b c")))
    assert(!got.exists(c => c._1 == 3L || c._1 == 4L))
    // mid-doc containment: stride 8, chunk 32 over 20 tokens -> only chunk 0 survives
    val short = TextAnalysis.chunkDocuments(
      Seq((9L, (1 to 20).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
      chunkTokens = 32, stride = 8).collect()
    assert(short.length == 1 && short.head.getLong(3) == 20L)
  }

  test("chunk_documents plan: narrow fan-out, no shuffle") {
    import graft.operators.TextAnalysis
    val p = TextAnalysis.chunkDocuments(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("text_strip_markup: exact rewrites per rule, chain order, no-op path") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      (2L, "see [the docs](http://x.y/z) please"),
      (3L, "# Head\nbody **bold** and *ital* text"),
      (4L, "plain text stays untouched"),
      (5L, "<div># now-a-header after strip</div>"),
      (6L, "```\ncode\n``` done"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.stripMarkup(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("hello world", 14L)))
    assert(got(2L) == (("see the docs please", 16L)))
    assert(got(3L) == (("Head\nbody bold and ital text", 8L)))
    assert(got(4L) == (("plain text stays untouched", 0L)))
    // chain order: the '#' only becomes line-leading AFTER the tag drops
    assert(got(5L) == (("now-a-header after strip", 13L)))
    assert(got(6L) == (("\ncode\n done", 6L)))
  }

  test("text_entropy: exact quantized char entropy, ordering of extremes") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "aab"), (2L, "aaaa"), (3L, "abcd"), (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.textEntropy(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def q(num: Long, den: Long): Long =
      math.floor(StrictMath.log(num.toDouble / den.toDouble) * 10000 + 0.5).toLong
    val e1 = -(2 * q(2, 3) + q(1, 3))
    assert(got(1L) == ((3L, e1, e1.toDouble / 3)), s"aab: ${got(1L)}")
    assert(got(2L) == ((4L, 0L, 0.0)), "single-char run has zero entropy")
    val e3 = -(4 * q(1, 4))
    assert(got(3L) == ((4L, e3, e3.toDouble / 4)), "uniform 4-char doc")
    assert(got(3L)._3 > got(1L)._3 && got(1L)._3 > got(2L)._3, "entropy ordering")
    assert(!got.contains(4L) && !got.contains(5L), "empty/null text drops")
  }

  test("text_entropy: fused kernel equals the composed HOF twin (randomized, incl. astral)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.operators.TextAnalysis
    val ch = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "\t", "#", ".", "!"),
      1 -> Gen.oneOf("é", "ß", "中", "文"),
      1 -> Gen.oneOf("😀", "🤖")) // astral: 😀 🤖
    val txt = Gen.listOf(ch).map(_.mkString)
    def prop(p: Prop): Unit = {
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), p)
      assert(r.passed, r.status.toString)
    }
    prop(Prop.forAll(Gen.listOfN(8, txt)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def run(kernel: Boolean) =
        TextAnalysis.textEntropy(docs, kernel)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
      run(kernel = true) == run(kernel = false)
    })
  }

  test("corpus_stats: exact per-source rollup including blank and null text") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "one two three", "en", "a"), (2L, "x", "fr", "a"),
      (3L, "  ", "en", "a"), (4L, null.asInstanceOf[String], "de", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.corpusStats(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got("a") == ((3L, 4L, 0L, 3L, 2L, 4.0 / 3)), s"a: ${got("a")}")
    assert(got("b") == ((1L, 0L, 0L, 0L, 1L, 0.0)), s"b: ${got("b")}")
  }

  test("chunk_documents: exhaustive model equivalence — full coverage, no dead chunks") {
    import graft.operators.TextAnalysis
    // pure-Scala reference for the chunk contract
    def model(n: Int, c: Int, s: Int): Seq[(Long, Long, Long)] =
      (0 to (n - 1) / s)
        .filter(i => i == 0 || (i - 1) * s + c < n)
        .map(i => (i.toLong, (i.toLong * s), math.min(c, n - i * s).toLong))
    val docs = (1 to 60).map(n => (n.toLong, (1 to n).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    for ((c, s) <- Seq((32, 24), (32, 8), (5, 5), (1, 1), (7, 3))) {
      // model sanity: chunks tile [0, n) — start at 0, no gap, end at n
      for (n <- 1 to 60) {
        val m = model(n, c, s)
        assert(m.head._2 == 0L && m.last._2 + m.last._3 == n.toLong)
        m.sliding(2).foreach {
          case Seq((_, s0, l0), (_, s1, _)) =>
            assert(s1 <= s0 + l0, s"gap at n=$n c=$c s=$s")
            assert(s1 + math.min(c, n - s1) > s0 + l0, s"dead chunk at n=$n c=$c s=$s")
          case _ =>
        }
      }
      val got = TextAnalysis.chunkDocuments(docs, c, s)
        .select("doc_id", "chunk_id", "start_tok", "n_chunk_tokens")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq).toMap
      for (n <- 1 to 60)
        assert(got(n.toLong) == model(n, c, s), s"engine != model at n=$n c=$c s=$s")
    }
  }

  test("text_perplexity: exact quantized bigram NLL on a hand-computed corpus") {
    import graft.operators.TextAnalysis
    // corpus: "a b a b" and "a c" -> bigrams: a b (x2), b a (x1), a c (x1)
    // contexts: a -> 3, b -> 1; vocab V = {a, b, c} = 3
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.perplexity(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def q(num: Long, den: Long): Long =
      math.floor(StrictMath.log(num.toDouble / den.toDouble) * 10000 + 0.5).toLong
    // P(b|a) = (2+1)/(3+4), P(a|b) = (1+1)/(1+4), P(c|a) = (1+1)/(3+4)
    // vocab includes "solo" -> V = 4
    val d1 = -(2 * q(3, 7) + q(2, 5))
    val d2 = -q(2, 7)
    assert(got(1L) == ((3L, d1, d1.toDouble / 3)), s"doc 1: ${got(1L)} vs $d1")
    assert(got(2L) == ((1L, d2, d2.toDouble)), s"doc 2: ${got(2L)} vs $d2")
    assert(!got.contains(3L), "single-token doc has no bigrams")
    // the common bigram scores more likely than the rare one
    assert(got(1L)._3 < got(2L)._3)
  }

  test("mix_epochs: integer-exact fractional repetition, zero-epoch drop, identity at 1.0") {
    import graft.operators.TextAnalysis
    val docs = (1 to 40).map(i => (i.toLong, if (i <= 20) "a" else "b", s"text num $i"))
      .toDF("doc_id", "source", "text")
    val counts = TextAnalysis.mixEpochs(docs, Map("a" -> 2.5, "b" -> 0.0))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet.forall(_ <= 20), "zero-epoch source must vanish")
    assert(counts.values.forall(c => c == 2L || c == 3L), s"2.5 epochs -> 2 or 3 copies: $counts")
    assert(counts.values.exists(_ == 2L) && counts.values.exists(_ == 3L),
      "the fractional half-copy must split the source both ways")
    // identity epochs: every doc exactly once, copy_id = 1
    val one = TextAnalysis.mixEpochs(docs, Map.empty, defaultEpochs = 1.0)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(one.length == 40 && one.forall(_._3 == 1L))
    // determinism: same copy set across runs
    val again = TextAnalysis.mixEpochs(docs, Map("a" -> 2.5, "b" -> 0.0))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(again == counts)
  }

  test("mix boundary cut equals the naive window twin (randomized, multibyte sources)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    // source names chosen to make utf8Lt diverge from String.compareTo
    // risks: multibyte UTF-8, supplementary plane, case boundaries
    val srcGen = Gen.oneOf("a", "B", "zz", "é", "中", "😀src", "0")
    def prop(p: Prop): Unit = {
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
      assert(r.passed, r.status.toString)
    }
    prop(Prop.forAll(
      Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, srcGen)),
      Gen.choose(1L, 2000L)
    ) { (sources, target) =>
      val docs = sources.zipWithIndex
        .map { case (s, i) => (i.toLong, s, s"doc body $i of $s") }
        .toDF("doc_id", "source", "text")
      // naive twin: per-source row_number window over (md5(text), doc_id)
      val w = Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
      val counts = docs.groupBy("source").count().as[(String, Long)].collect().toMap
      val wantMix = docs
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= counts.values.min)
        .select("doc_id", "source")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val gotMix = TextAnalysis.mixSources(docs)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val quota = TextAnalysis.mixTemperature(docs, alpha = 0.5, totalTarget = target)
        .groupBy("source").count().as[(String, Long)].collect().toMap
      val wantQuota = {
        def milli(n: Long) = math.floor(math.sqrt(n.toDouble) * 1000 + 0.5).toLong
        val tw = counts.values.map(milli).sum
        counts.map { case (s, n) =>
          s -> math.min(n, (BigInt(target) * milli(n) / tw).toLong)
        }.filter(_._2 > 0)
      }
      gotMix == wantMix && quota == wantQuota
    })
  }

  test("mix_sources: every source contributes exactly the min-source quota, deterministically") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val perSource = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val quota = perSource.values.min
    val mixed = TextAnalysis.mixSources(docs).as[(Long, String)].collect()
    val got = mixed.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(got.keySet == perSource.keySet, "every source must appear in the mix")
    assert(got.values.forall(_ == quota), s"unbalanced mix: $got (quota $quota)")
    // pure function of content: a second run picks the same docs
    val again = TextAnalysis.mixSources(docs).as[(Long, String)].collect()
    assert(mixed.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("sample_reservoir: exactly min(k, group size) rows per group, equal to the window twin") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val k = 7
    val got = TextAnalysis.reservoirSample(docs, k)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // the aggregate must match the naive (skew-unsafe) window formulation
    val h = conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("__h"), col("doc_id"))
    val want = docs.select(col("source"), col("doc_id"), h.as("__h"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select("source", "sample_rank", "doc_id")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want, "TopK aggregate disagrees with the window twin")
    val sizes = got.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val groupN = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(sizes == groupN.view.mapValues(n => math.min(n, k.toLong)).toMap)
    // ranks are contiguous 1..size within each group
    got.groupBy(_._1).foreach { case (s, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong),
        s"non-contiguous sample ranks in group $s")
    }
  }

  test("vocab_coverage: monotone cumulative share, correct head, bounded by 1") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val rows = TextAnalysis.vocabCoverage(docs, topK = 50)
      .as[(Long, String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == (1L to rows.length.toLong), "ranks must be 1..topK")
    assert(rows.map(_._3) == rows.map(_._3).sorted.reverse, "freq must be non-increasing")
    val shares = rows.map(_._4)
    assert(shares == shares.sorted, "cum_share must be non-decreasing")
    assert(shares.last <= 1.0 + 1e-12 && shares.head > 0.0)
    // head term = corpus argmax by (freq desc, term asc), share = freq/total
    val freqs = docs.select(explode(graft.functions.text.tokens(col("text"))).as("t"))
      .groupBy("t").count().as[(String, Long)].collect()
    val total = freqs.map(_._2).sum.toDouble
    val (topTerm, topFreq) = freqs.minBy { case (t, f) => (-f, t) }
    assert(rows.head._2 == topTerm && rows.head._3 == topFreq)
    assert(math.abs(rows.head._4 - topFreq / total) < 1e-12)
  }

  test("mix_curriculum: rank is a bucket-monotone permutation matching the window twin") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
    val got = Curation.mixCurriculum(docs)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq
    assert(got.map(_._4) == (1L to got.length.toLong), "curriculum_rank must be a permutation")
    assert(got.map(_._1).distinct.length == got.length, "one rank per doc")
    assert(got.map(_._2) == got.map(_._2).sorted, "buckets must be non-decreasing along the rank")
    // GlobalRank's ranged exchange must equal the naive global window
    val h = conv(substring(md5(coalesce(col("text"), lit(""))), 1, 15), 16, 10).cast("long")
    val nTok = graft.functions.sketch.tokenCount(coalesce(col("text"), lit(""))).cast("long")
    val nCh = length(coalesce(col("text"), lit(""))).cast("long")
    val diff = when(nTok > 0, nCh.cast("double") / nTok).otherwise(0.0)
    val bucket = when(diff < 4.5, 0L).when(diff < 5.5, 1L).otherwise(2L)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"), col("__h"), col("doc_id"))
    val want = docs.select(col("doc_id"), bucket.as("bucket"), diff.as("difficulty"), h.as("__h"))
      .withColumn("curriculum_rank", row_number().over(w).cast("long"))
      .select("doc_id", "bucket", "difficulty", "curriculum_rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq
    assert(got == want, "GlobalRank order disagrees with the window twin")
  }

  test("text_c4: exact line-keep rules, reject tells, and clean fingerprint") {
    import graft.operators.TextAnalysis
    val kept1 = "This line has five good words."
    val kept2 = "Another proper sentence ends with a question mark?"
    val docs = Seq(
      (1L, s"$kept1\nno terminal punct here\nShort one.\n$kept2"), // 2 kept
      (2L, "word salad only no punctuation at all"),               // 0 kept
      (3L, s"$kept1\nLorem Ipsum dolor sit amet."),                // lorem reject
      (4L, s"$kept1\nif (x) { return; }"),                         // brace reject
      (5L, "")                                                     // empty
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Rules(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val d1 = got(1L)
    assert(d1.getLong(1) == 4L && d1.getLong(2) == 2L, "doc1 lines/kept")
    assert(!d1.getBoolean(4) && !d1.getBoolean(5) && d1.getBoolean(7), "doc1 passes")
    assert(d1.getString(6) == md5hex(s"$kept1\n$kept2"), "doc1 clean_fp = kept lines joined")
    val d2 = got(2L)
    assert(d2.getLong(2) == 0L && !d2.getBoolean(7), "doc2 keeps nothing, fails")
    assert(d2.getString(6) == md5hex(""), "empty kept set fingerprints ''")
    assert(got(3L).getBoolean(4) && !got(3L).getBoolean(7), "lorem ipsum rejects (case-insensitive)")
    assert(got(4L).getBoolean(5) && !got(4L).getBoolean(7), "curly brace rejects")
    assert(got(4L).getLong(2) == 1L, "brace doc still counts its kept line")
    assert(got(5L).getLong(2) == 0L && !got(5L).getBoolean(7), "empty doc fails")
  }

  test("mix_dsir: quantized log-weights equal the driver-side model, target-like docs win") {
    import graft.operators.TextAnalysis
    // target domain speaks vocabulary A; candidates: doc 10 speaks A
    // (should be pulled in), doc 11 speaks B (pushed out), doc 12 mixed
    val a = "alpha beta gamma delta"
    val b = "omega sigma tau upsilon"
    val docs = Seq(
      (1L, "t", a), (2L, "t", a + " " + a), (3L, "t", "alpha beta"),
      (10L, "c", a), (11L, "c", b), (12L, "c", "alpha omega")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.dsirSelect(docs, isTarget = col("source") === "t",
      nBuckets = 256, topK = 10)
      .orderBy("rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._2).sorted == Seq(10L, 11L, 12L), "every candidate scored")
    assert(got.map(_._1) == (1L to 3L), "rank is a permutation")
    // driver-side twin: same md5 bucket, same add-1 smoothed quantized weights
    def bucket(term: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8")).take(2)
      (((h(0) & 0xff) << 8) | (h(1) & 0xff)).toLong % 256
    }
    val toks = Seq((true, a), (true, a + " " + a), (true, "alpha beta"),
      (false, a), (false, b), (false, "alpha omega"))
      .flatMap { case (t, s) => s.split("\\s+").map(w => (t, bucket(w))) }
    val tt = toks.count(_._1).toDouble + 256
    val rt = toks.count(!_._1).toDouble + 256
    def lw(bk: Long): Long = {
      val tc = toks.count(x => x._1 && x._2 == bk) + 1
      val rc = toks.count(x => !x._1 && x._2 == bk) + 1
      math.floor((math.log(tc / tt) - math.log(rc / rt)) * 10000 + 0.5).toLong
    }
    val want = Seq(10L -> a, 11L -> b, 12L -> "alpha omega").map { case (id, s) =>
      id -> s.split("\\s+").map(w => lw(bucket(w))).sum
    }.toMap
    got.foreach { case (_, id, nTok, logw) =>
      assert(logw == want(id), s"doc $id weight: got $logw want ${want(id)}")
      assert(nTok == (if (id == 10L) 4L else if (id == 11L) 4L else 2L))
    }
    assert(want(10L) > want(11L), "pure-target candidate must outrank pure-background")
    val byId = got.map(g => g._2 -> g._1).toMap
    assert(byId(10L) < byId(11L), "doc 10 (target-like) ranks above doc 11")
  }

  test("plan shapes: new round-12 operators broadcast their small sides, shuffle skinny keys") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    // text_c4 is a pure narrow projection: zero exchanges of any kind
    val c4Plan = TextAnalysis.c4Rules(docs).queryExecution.sparkPlan.toString
    assert(!c4Plan.contains("Exchange"), s"text_c4 must be shuffle-free:\n$c4Plan")
    // mix_dsir: since round 14 the returned frame is the driver-ranked
    // bounded top-K (LocalTableScan — no partition-less WindowExec);
    // the broadcast of the 256-row weight table onto the scoring pass
    // is pinned in dsirSelect's own code (join(broadcast(weights))),
    // which ran eagerly to produce these rows
    val dsir = TextAnalysis.dsirSelect(docs, col("source") === "src0")
    val dsirPlan = dsir.queryExecution.sparkPlan.toString
    assert(dsirPlan.contains("LocalTableScan"),
      s"mix_dsir must return driver-ranked bounded rows:\n$dsirPlan")
    assert(!dsirPlan.contains("CartesianProduct"), dsirPlan)
    assert(dsir.count() <= 100L, "bounded by topK (default 100)")
    // vocab_encode: the K-row vocab broadcasts onto the token stream —
    // a sort-merge join there would shuffle the corpus by TERM
    val vePlan = TextAnalysis.vocabEncode(docs).queryExecution.sparkPlan.toString
    assert(vePlan.contains("BroadcastHashJoin"), s"vocab_encode vocab join must broadcast:\n$vePlan")
    assert(!vePlan.contains("SortMergeJoin"), s"vocab_encode must not merge-join the corpus:\n$vePlan")
    // corpus_diff: digest-keyed equi-joins only, and every exchange is
    // on the digest or the final source rollup — three hash exchanges
    // ceiling (rows-on-h, membership-on-h, source rollup)
    val cdPlan = TextAnalysis.corpusDiff(docs.filter(col("doc_id") < 25),
      docs.filter(col("doc_id") >= 25)).queryExecution.sparkPlan.toString
    assert(!cdPlan.contains("CartesianProduct") && !cdPlan.contains("NestedLoop"), cdPlan)
    val cdExchanges = "Exchange hashpartitioning".r.findAllMatchIn(cdPlan).size
    assert(cdExchanges <= 3, s"corpus_diff grew a 4th hash exchange:\n$cdPlan")
    // incremental ngram: equi-joins only (the pair-free prefix design)
    val incPlan = Dedup.ngramIncrementalQuery(spark, sf).queryExecution.sparkPlan.toString
    assert(!incPlan.contains("CartesianProduct") && !incPlan.contains("NestedLoop"),
      s"incremental ngram must stay equi-join only:\n$incPlan")
    // CDC family: digest equi-joins only — no pair emission anywhere
    Seq(Dedup.cdcQuery(spark, sf), Dedup.cdcIncrementalQuery(spark, sf)).foreach { q =>
      val p = q.queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"CDC dedup must stay digest-equi-join only:\n$p")
    }
    // medoids: the labels-sized centroid table must broadcast onto the
    // corpus scan (a shuffled join would key the corpus on `label`)
    val medPlan = graft.operators.Similarity.medoidsQuery(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(medPlan.contains("BroadcastHashJoin") && !medPlan.contains("SortMergeJoin"),
      s"embed_medoids centroid join must broadcast:\n$medPlan")
    // knn graph: equi-joins only (bucket bands + id join-backs). Assert
    // on the GRAPH-BUILDING plan — knnGraphQuery serves the materialized
    // asset, whose read plan is a FileScan and would pass vacuously.
    val knnPlan = graft.operators.Similarity.knnGraph(Tables.embeddings(spark, sf))
      .queryExecution.sparkPlan.toString
    assert(!knnPlan.contains("CartesianProduct") && !knnPlan.contains("NestedLoop"),
      s"knn graph must stay equi-join only:\n$knnPlan")
  }

  test("vocab_encode: exact ids, OOV mapping, and position-ordered fingerprint") {
    import graft.operators.TextAnalysis
    // freqs: a=2, b=2, c=1 -> vocab K=2 is {a->1, b->2}; c is OOV (0)
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "  ")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabEncode(docs, vocabK = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got.keySet == Set(1L, 2L), "blank doc contributes no row")
    assert(got(1L).getLong(1) == 3L && got(1L).getLong(2) == 0L, "doc1 counts")
    assert(got(1L).getString(3) == md5hex("1 2 1"), "doc1 id sequence")
    assert(got(2L).getLong(1) == 2L && got(2L).getLong(2) == 1L, "doc2 counts")
    assert(got(2L).getString(3) == md5hex("2 0"), "doc2 id sequence with OOV")
    assert(got(2L).getDouble(4) == 0.5, "doc2 oov_frac")
  }

  test("corpus_diff: added/carried/removed classify by content digest, per source") {
    import graft.operators.TextAnalysis
    val oldDocs = Seq((1L, "s1", "x x"), (2L, "s1", "y")).toDF("doc_id", "source", "text")
    val newDocs = Seq((3L, "s1", "y"), (4L, "s2", "z z z")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.corpusDiff(oldDocs, newDocs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map { case (s, a, c, r, ta, tr) => s -> ((a, c, r, ta, tr)) }.toMap
    assert(got("s1") == ((0L, 1L, 1L, 0L, 2L)),
      "s1: doc3 carried (y survives), doc1 removed (2 tokens), nothing added")
    assert(got("s2") == ((1L, 0L, 0L, 3L, 0L)),
      "s2: doc4 added with 3 tokens")
  }

  test("ann_recall: refine recall dominates raw ADC per query (shortlist containment)") {
    import graft.operators.Similarity
    val got = Similarity.annRecallQuery(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == (0L until 16L), "one row per query, ordered")
    got.foreach { case (qid, ha, hr, ra, rr) =>
      assert(ha >= 0 && ha <= 5 && hr >= 0 && hr <= 5, s"q$qid hit bounds")
      assert(ra == ha / 5.0 && rr == hr / 5.0, s"q$qid recall = hits/k")
      // adc_top5 is a subset of the rank<=20 shortlist, and the refine
      // re-rank uses the same total order as the ground truth, so every
      // exact hit the ADC path finds survives refinement
      assert(hr >= ha, s"q$qid: refine recall $hr < adc recall $ha")
    }
  }

  test("ann_recall_ivfpq: per-query recall bounded, same ground truth as the flat scorecard") {
    import graft.operators.Similarity
    val got = Similarity.annIvfPqRecallQuery(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == (0L until 16L), "one row per query, ordered")
    got.foreach { case (qid, h, r) =>
      assert(h >= 0 && h <= 5, s"q$qid hit bounds")
      assert(r == h / 5.0, s"q$qid recall = hits/k")
    }
    // the probe cut can only LOSE candidates vs scanning every cell, so
    // the suite-level mean must sit in [0, 1] and at least one query
    // should land a hit on the near-uniform test vectors (nprobe=4/16
    // scans a quarter of the corpus)
    assert(got.map(_._2).sum > 0, "IVFADC should find at least one true neighbor corpus-wide")
  }

  test("ann_knn_graph: ranks are dense and distance-monotone; top-1 matches brute force when buckets allow") {
    import graft.operators.Similarity
    import spark.implicits._
    val out = Similarity.knnGraphQuery(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val bySrc = out.groupBy(_._1)
    bySrc.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, "ranks must be dense from 1")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(identity).toSeq,
        "distance must be non-decreasing in rank")
      assert(!rs.exists(r => r._3 == r._1), "no self edges")
    }
    // brute-force check: any reported rank-1 neighbor must be a true
    // global nearest neighbor whenever the true NN shares a bucket —
    // verify the reported dist equals the true min over CANDIDATES by
    // recomputing distances for a few sources
    val emb = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def qd(a: Array[Float], b: Array[Float]): Long = {
      def q(x: Float) = math.floor(x.toDouble * 1000 + 0.5).toLong
      a.zip(b).map { case (x, y) => val d = q(x) - q(y); d * d }.sum
    }
    bySrc.take(5).foreach { case (src, rs) =>
      rs.foreach { case (_, _, nbr, dist) =>
        assert(qd(emb(src), emb(nbr)) == dist, s"reported dist must be the exact grid L2")
      }
    }
  }

  test("knn edge asset: built once, a cleared handle map loads from disk, contents equal the direct graph") {
    import graft.operators.Similarity
    val a = Similarity.knnGraphQuery(spark, sf).collect()
    val built = Similarity.knnAssetBuilds.get()
    val b = Similarity.knnGraphQuery(spark, sf).collect()
    assert(Similarity.knnAssetBuilds.get() == built, "second consumer must not rebuild")
    // fresh-JVM simulation: drop the handle map; the content address
    // resolves to the committed parquet, no rebuild
    Similarity.dropInMemoryIndexes()
    val c = Similarity.knnGraphQuery(spark, sf).collect()
    assert(Similarity.knnAssetBuilds.get() == built, "cleared handles must load, not rebuild")
    assert(a.sameElements(b) && a.sameElements(c))
    // and the asset contents are exactly the directly-computed graph
    val direct = Similarity.knnGraph(Tables.embeddings(spark, sf))
      .orderBy("vec_id", "rank").collect()
    assert(a.sameElements(direct), "asset must equal the direct computation")
  }

  test("graph_pagerank: floor-bounded, in-degree-sensitive, and deterministic") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val pr = Similarity.pageRankOnKnn(emb).as[(Long, Long)].collect().toMap
    assert(pr.nonEmpty && pr.values.forall(_ >= 150000L),
      "damping floor: every node keeps at least the teleport mass")
    assert(pr.values.toSet.size > 1, "degenerate: all ranks equal")
    // a node nobody links to sits exactly at the floor; the max in-degree
    // node must rank above it
    val indeg = Similarity.knnGraph(emb).groupBy("nbr_id").count()
      .as[(Long, Long)].collect().toMap
    val orphan = pr.keySet.diff(indeg.keySet)
    orphan.foreach(v => assert(pr(v) == 150000L, s"orphan $v must sit at the floor"))
    val hub = indeg.maxBy(_._2)._1
    assert(pr(hub) > 150000L)
    // exact integer arithmetic => bit-identical across runs
    val again = Similarity.pageRankOnKnn(emb).as[(Long, Long)].collect().toMap
    assert(again == pr)
  }

  test("bpe_pair_stats: pair frequencies weight by word frequency; single-symbol words drop") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "abab ab x"),   // abab: pairs ab,ba,ab ; ab: ab ; x: none
      (2L, "ab abab")      // ab ; ab,ba,ab
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairStats(TextAnalysis.wordFrequency(docs))
      .as[(String, String, Long)].collect().toList
    // ab occurs 2 per "abab" (freq 2) + 1 per "ab" (freq 2) = 6; ba = 2
    assert(got == List(("a", "b", 6L), ("b", "a", 2L)))
    // ranking is total: freq DESC then pair ASC — ties cannot reorder
    val tied = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val t = TextAnalysis.bpePairStats(TextAnalysis.wordFrequency(tied))
      .as[(String, String, Long)].collect().toList
    assert(t == List(("a", "b", 1L), ("c", "d", 1L)))
  }

  test("text_classifier: kernel scores equal a driver-side model application; narrow plan") {
    import graft.operators.TextAnalysis
    val weights = TextAnalysis.classifierWeights()
    val out = TextAnalysis.classifierQuery(spark, sf)
    // the scoring stage is a narrow projection — the model rides inside
    // the expression, so the ONLY exchange is the final presentation sort
    val plan = out.queryExecution.sparkPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).size <= 1,
      s"classifier scoring must not shuffle the corpus:\n$plan")
    val got = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // independent driver-side application of the same model: trim spaces,
    // split on \s runs, skip empties, poly-31 char hash, unsigned-mod
    // bucket, int64 weight sum
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(docs.length == got.size)
    docs.foreach { r =>
      val id = r.getLong(0)
      val s = r.getString(1).dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val score = s.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty).map { tok =>
        val h = tok.foldLeft(0L)((a, c) => a * 31L + c.toLong)
        weights(java.lang.Long.remainderUnsigned(h, weights.length.toLong).toInt)
      }.sum
      assert(got(id) == (score, score >= 0L), s"doc $id: got ${got(id)}, want $score")
    }
    // threshold 0 must exercise BOTH verdicts on the synthetic corpus
    val verdicts = got.values.map(_._2).toSet
    assert(verdicts == Set(true, false), s"degenerate verdict split: $verdicts")
  }

  test("ann_graph_expand: superset-of-direct recall, distance-monotone, never the query itself") {
    import graft.operators.Similarity
    val out = Similarity.annGraphExpand(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val direct = Similarity.knnGraphQuery(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.minBy(_._2)).toMap
    out.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, "dense ranks")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq, "distance-monotone")
      assert(!rs.exists(_._3 == q), "query never its own neighbor")
      // candidates include every direct edge, so the expanded rank-1
      // distance can only improve on the graph's own rank-1
      direct.get(q).foreach { case (_, _, _, d1) =>
        assert(sorted.head._4 <= d1, s"query $q: expand must not be worse than direct")
      }
    }
  }

  test("ann_graph_expand: non-default kTop expands k-matched edges on the matching grid") {
    import graft.operators.Similarity
    // kTop=3 must expand 3-NN edges (its own asset address), not the
    // default 5-NN asset — the r13-advice parameter pass-through
    val out = Similarity.annGraphExpand(spark, sf, kTop = 3)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 3, s"query $q: kTop=3 must cap results at 3, got ${rs.length}")
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // the candidate pool differs from the default run's (3-NN vs 5-NN
    // edges), so at least one query's result set must differ from a
    // plain truncation of the kTop=5 output on this corpus
    val k5 = Similarity.annGraphExpand(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).take(3).map(_._3).toSet).toMap
    val k3 = out.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(k3.keySet == k5.keySet)
  }

  test("dedup_cross_source: canonical pair order, mass conservation vs the pair table") {
    import graft.operators.Dedup
    val rows = Dedup.crossSourceDupQuery(spark, sf)
      .as[(String, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, n, jq) =>
      assert(a <= b, s"pair must be canonicalized: ($a, $b)")
      assert(n > 0 && jq >= n * 7000L && jq <= n * 10000L,
        s"quantized mass must sit in [0.7, 1.0] per pair: n=$n jq=$jq")
    }
    // conservation: the matrix partitions the pair table exactly
    val pairs = Dedup.minhashPairsOn(Dedup.corpusMinhashSignatures(spark, sf), threshold = 0.7)
      .collect()
    assert(rows.map(_._3).sum == pairs.length.toLong,
      "sum of per-cell pair counts must equal the total verified pair count")
  }

  test("mix_languages: cells partition the corpus; shares sum to 1") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.mixLanguagesQuery(spark, sf)
      .as[(String, String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum == nDocs, "every doc lands in exactly one cell")
    val shareSum = rows.map(_._5).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"token shares must sum to 1: $shareSum")
    assert(rows.map(_._1).distinct.length > 1, "multiple sources expected on the corpus")
  }

  test("vocab_overlap: bounded shared counts, jaccard formula, canonical order") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.vocabOverlapQuery(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty, "sources share common-English vocabulary on this corpus")
    rows.foreach { case (a, b, n, j) =>
      assert(a < b, s"canonical order: ($a, $b)")
      assert(n >= 1 && n <= 32, s"shared terms bounded by topK: $n")
      assert(j > 0.0 && j <= 1.0, s"jaccard in (0,1]: $j")
      // with both vocabs cut at k<=32, jaccard >= n/(32+32-n)
      assert(j >= n.toDouble / (64 - n) - 1e-12, s"formula bound violated: n=$n j=$j")
    }
  }

  test("embed_dimstats: one row per dimension, exact grid aggregates match a driver recomputation") {
    import graft.operators.Similarity
    val rows = Similarity.embedDimStatsQuery(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val vecs = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(rows.length == vecs.head.length, "one row per dimension")
    val d0 = vecs.map(v => math.floor(v(0).toDouble * 1000 + 0.5).toLong)
    val r0 = rows.find(_._1 == 0L).get
    assert(r0._2 == vecs.length.toLong)
    assert(r0._3 == d0.sum && r0._4 == d0.map(q => q * q).sum)
    assert(r0._5 == d0.min && r0._6 == d0.max)
    rows.foreach { r => assert(r._5 <= r._6 && r._2 == vecs.length.toLong) }
  }

  test("dedup_canonical: keeper is the longest member of its own cluster (min id on ties)") {
    import graft.operators.Clustering
    val rows = Clustering.dedupCanonicalQuery(spark, sf)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cid, members) =>
      val keepIds = members.map(_._4).distinct
      assert(keepIds.length == 1, s"cluster $cid: one keeper, got $keepIds")
      val keeper = keepIds.head
      assert(members.exists(_._2 == keeper), s"cluster $cid: keeper must be a member")
      val best = members.minBy(m => (-m._3, m._2)) // max tokens, min id
      assert(best._2 == keeper, s"cluster $cid: keeper $keeper vs expected ${best._2}")
      assert(members.count(_._5) == 1 && members.find(_._5).get._2 == keeper)
    }
    // the policy must actually diverge from min-id somewhere, or the
    // spec is vacuous on this corpus
    assert(rows.exists(r => r._5 && r._2 != r._1),
      "at least one cluster should keep a non-min-id member")
  }

  test("embed band asset: built once, loads after handle drop, probe equals the re-banding path") {
    import graft.operators.Similarity
    val viaAsset = Similarity.cosineIncrementalQuery(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val builds = Similarity.bandedAssetBuilds.get()
    Similarity.cosineIncrementalQuery(spark, sf).count()
    assert(Similarity.bandedAssetBuilds.get() == builds, "second probe must reuse the asset")
    Similarity.dropInMemoryIndexes()
    Similarity.cosineIncrementalQuery(spark, sf).count()
    assert(Similarity.bandedAssetBuilds.get() == builds, "cleared handles must load, not rebuild")
    // semantic pin: the asset path and the inline re-banding path agree
    val emb = Tables.embeddings(spark, sf)
    val split = emb.agg(expr("max(vec_id) div 2").cast("long")).head().getLong(0)
    val direct = Similarity.cosineIncremental(emb, split, threshold = 0.2, bits = 4, tables = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaAsset == direct, "banding is deterministic; the asset must change nothing")
    assert(viaAsset.nonEmpty)
  }

  test("round-13 plan pins: canonical never shuffles text; cdc/band driver queries scan their assets") {
    import org.apache.spark.sql.execution.FormattedMode
    import graft.operators.{Clustering, Dedup, Similarity}
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(FormattedMode)
    // dedup_canonical: the text column must only appear between the
    // documents scan and the broadcast join's stream side — never in a
    // shuffle exchange's output (the broadcast(labels) argument)
    val canonPlan = plan(Clustering.dedupCanonicalQuery(spark, sf))
    val shuffledText = "Exchange hashpartitioning[\\s\\S]{0,400}?text".r
      .findAllMatchIn(canonPlan).size
    assert(shuffledText == 0, s"text crossed a hash exchange:\n$canonPlan")
    // cdc driver queries run off the materialized digest asset: no
    // in-plan chunking kernel, and the documents table is never scanned
    val cdcPlan = plan(Dedup.cdcQuery(spark, sf))
    assert(!cdcPlan.contains("graft_cdc_chunks") && !cdcPlan.contains("cdcChunks")
      && !cdcPlan.contains("documents.parquet"),
      s"dedup_cdc must scan the digest asset, not re-chunk:\n$cdcPlan")
    val cdcIncPlan = plan(Dedup.cdcIncrementalQuery(spark, sf))
    assert(!cdcIncPlan.contains("documents.parquet"),
      s"dedup_cdc_incremental must slice the digest asset:\n$cdcIncPlan")
    // embed_neardup_incremental: both banded sides come from the band
    // asset — the LSH projection kernel must not appear in the plan
    val eniPlan = plan(Similarity.cosineIncrementalQuery(spark, sf))
    assert(eniPlan.contains("embbands_"),
      s"banded sides must scan the embbands_ asset:\n${eniPlan.take(2000)}")
    assert(!eniPlan.toLowerCase.contains("vecsignbucket") &&
      !eniPlan.contains("tableBuckets"),
      s"banding must come from the asset, not be recomputed:\n${eniPlan.take(2000)}")
    // and the cdc plans scan their asset address
    assert(cdcPlan.contains("cdcdigests_") && cdcIncPlan.contains("cdcdigests_"))
  }

  test("dedup_minhash_incremental: equals the cross-split argmax over the full minhash pair set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val split = docs.agg(expr("max(doc_id) div 2").cast("long")).head().getLong(0)
    val got = Dedup.minhashIncrementalQuery(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    // reference: full pair set (id_a < id_b), keep cross-split pairs in
    // either orientation, argmax jaccard (min match id on ties)
    val all = Dedup.minhashPairs(docs, threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    spark.catalog.clearCache()
    val cross = all.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j))
    }.filter { case (m, d, _) => m < split && d >= split }
    val want = cross.groupBy(_._2).map { case (d, ms) =>
      val best = ms.minBy(m => (-m._3, m._1))
      (d, best._1, best._3)
    }.toSeq.sortBy(_._1)
    assert(got == want, s"got $got\nwant $want")
    assert(got.nonEmpty, "corpus must exercise the operator")
  }

  // -- edge-asset graph diagnostics (mutual / triangles / SNN) ---------

  /** The directed edge set as (src -> dst) pairs, shared by the three
    * graph-diagnostic references below.
    */
  private def directedEdges(): Set[(Long, Long)] =
    graft.operators.Similarity.knnGraphQuery(spark, sf)
      .select("vec_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("graph_mutual_knn: exactly the reciprocated directed edges, ranks faithful, dist symmetric") {
    import graft.operators.Similarity
    val dir = Similarity.knnGraphQuery(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), (r.getLong(1), r.getLong(3)))).toMap
    val got = Similarity.mutualKnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = dir.keySet.filter { case (a, b) => a < b && dir.contains((b, a)) }
    assert(got.map(t => (t._1, t._2)).toSet == want, "pair set must be the reciprocated edges")
    got.foreach { case (a, b, rab, rba, d) =>
      assert(a < b, "canonical order")
      assert(dir((a, b))._1 == rab && dir((b, a))._1 == rba, "ranks must come from the edge asset")
      assert(dir((a, b))._2 == d && dir((b, a))._2 == d, "grid distance must be symmetric")
    }
    assert(got.nonEmpty, "corpus must exercise the operator")
  }

  test("graph_triangles: per-node counts equal a brute-force adjacency-set reference") {
    import graft.operators.Similarity
    val und = directedEdges().map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val refTri = adj.map { case (n, ns) =>
      n -> ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }.toLong
    }
    val got = Similarity.triangleStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet == adj.keySet, "one row per node with >=1 edge")
    got.foreach { case (n, deg, tri, lcc) =>
      assert(deg == adj(n).size.toLong, s"degree of $n")
      assert(tri == refTri(n), s"triangle count of $n")
      val expLcc = if (deg >= 2) (20000L * tri) / (deg * (deg - 1)) else 0L
      assert(lcc == expLcc, s"lcc_bp of $n")
    }
    assert(got.exists(_._3 > 0), "corpus must close at least one triangle")
  }

  test("graph_neighbor_jaccard: shared/union/jacc_bp equal the set-intersection reference") {
    import graft.operators.Similarity
    val und = directedEdges().map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val got = Similarity.neighborJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(t => (t._1, t._2)).toSet == und, "one row per undirected edge")
    got.foreach { case (a, b, shared, unionN, bp) =>
      val s = ((adj(a) - b) intersect (adj(b) - a)).size.toLong
      val u = (adj(a) - b).size.toLong + (adj(b) - a).size.toLong - s
      assert(shared == s, s"shared($a,$b)")
      assert(unionN == u, s"union($a,$b)")
      assert(bp == (if (u > 0) 10000L * s / u else 0L), s"jacc_bp($a,$b)")
    }
    assert(got.exists(_._3 > 0), "corpus must share at least one neighbor across an edge")
  }

  test("text_length_outliers: flags exactly the docs beyond 3 MAD of their source median") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val bySource = docs.groupBy(_._2)
    val expect = bySource.flatMap { case (src, rows) =>
      val med = medianOf(rows.map(_._3.toDouble).toSeq)
      val mad = medianOf(rows.map(r => math.abs(r._3 - med)).toSeq)
      if (mad <= 0) Seq.empty[(Long, String, Long, Double, Double)]
      else rows.toSeq.filter(r => math.abs(r._3 - med) > 3 * mad)
        .map(r => (r._1, src, r._3, med, mad))
    }.toSet
    val got = TextAnalysis.lengthOutliers(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(got == expect, s"got ${got.size} rows, expected ${expect.size}")
  }

  test("dedup_funnel: tier accounting equals a brute-force three-tier reference; flows conserve") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // tier 1: exact (min id per digest of coalesced text)
    val s1 = docs.groupBy { case (_, t, _) => md5hex(t.getOrElse("")) }
      .values.map(g => g.minBy(_._1)).toSeq
    // tier 2: 48-char prefix, keep longest (min id ties)
    val inPfx = s1.collect { case (id, Some(t), nc) if t.length >= 48 => (id, t.substring(0, 48), nc) }
    val rm2 = inPfx.groupBy(_._2).values.filter(_.size >= 2)
      .flatMap { g => val keep = g.minBy(r => (-r._3, r._1))._1; g.map(_._1).filter(_ != keep) }
      .toSet
    val s2 = s1.filterNot(r => rm2.contains(r._1))
    // tier 3: 3-shingle jaccard >= 0.7 components, keep min id
    def shingles(t: String): Set[String] = {
      val tok = t.trim.split("\\s+").toSeq
      if (t.trim.isEmpty || tok.length < 3) Set.empty
      else tok.sliding(3).map(_.mkString(" ")).toSet
    }
    val sh = s2.collect { case (id, Some(t), _) if shingles(t).nonEmpty => id -> shingles(t) }.toMap
    val ids = sh.keys.toSeq.sorted
    val edges = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (sh(a) intersect sh(b)).size
      if inter > 0 && inter.toDouble / (sh(a).size + sh(b).size - inter) >= 0.7
    } yield (a, ids(j))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rm3 = ids.count(i => find(i) != i).toLong
    val want = Seq(
      (1L, "exact", docs.length.toLong, (docs.length - s1.length).toLong, s1.length.toLong),
      (2L, "prefix", s1.length.toLong, rm2.size.toLong, s2.length.toLong),
      (3L, "near", s2.length.toLong, rm3, s2.length - rm3))
    val got = Curation.dedupFunnelQuery(spark, sf).orderBy("ord").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"got $got\nwant $want")
    // conservation: out_t == in_{t+1} and in - removed == out everywhere
    got.foreach { case (_, _, in, rm, out) => assert(in - rm == out) }
    assert(got(0)._5 == got(1)._3 && got(1)._5 == got(2)._3)
  }

  test("q_session_stats: histogram equals the rollup of the sessionize output; masses conserve") {
    import graft.operators.Relational
    val sess = graft.streaming.EventStream.sessionizeBatch(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(4) - r.getLong(3))) // (n_events, duration)
    val want = sess.groupBy(_._1).map { case (k, xs) =>
      (k, xs.length.toLong, xs.map(_._2).sum, xs.map(_._2).max)
    }.toSeq.sortBy(_._1)
    val got = Relational.qSessionStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.map(_._2).sum == sess.length.toLong, "buckets must conserve session count")
    assert(got.map(t => t._1 * t._2).sum ==
      Tables.events(spark, sf).count(), "length-weighted mass must conserve events")
  }

  test("q_decay_score: per-user shifted-cent sums equal a collected reference; monotone in recency") {
    import graft.operators.Relational
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id",
        "(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000 AS tus",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m = ev.map(_._2).max
    val want = ev.groupBy(_._1).map { case (uid, rows) =>
      val ages = rows.map(r => (m - r._2) / 86400000000L)
      val score = rows.zip(ages).map { case ((_, _, vc), a) =>
        if (a <= 62) vc >> a.toInt else 0L
      }.sum
      (uid, rows.length.toLong, ages.min, score)
    }.toSeq.sortBy(_._1)
    val got = Relational.qDecayScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    // decay can only shrink: score <= undecayed cent sum
    val raw = ev.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._3).sum }
    got.foreach { case (u, _, _, s) => assert(s <= raw(u), s"user $u decayed above raw") }
  }

  test("tokenizer_fertility: per-lang rollup equals the summed per-doc token counts; fertility >= 1 wherever words exist") {
    import graft.operators.TextAnalysis
    val words = TextAnalysis.textTokens(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val bpe = TextAnalysis.textTokensBpe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val langs = Tables.documents(spark, sf).select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = langs.groupBy(_._2).map { case (l, ds) =>
      val ids = ds.map(_._1)
      val tw = ids.map(words.getOrElse(_, 0L)).sum
      val tb = ids.map(bpe.getOrElse(_, 0L)).sum
      (l, ids.length.toLong, tw, tb, if (tw > 0) tb.toDouble / tw else 0.0)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.tokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == want, s"got $got\nwant $want")
    // a whitespace word yields at least one sub-word token
    got.filter(_._3 > 0).foreach { case (l, _, tw, tb, f) =>
      assert(tb >= tw && f >= 1.0, s"fertility of $l must be >= 1")
    }
  }

  test("dedup_funnel restriction lemma: asset pairs semi-joined to survivors equal recomputing pairs on the survivor subset") {
    // the capstone's scaladoc claims the pair-asset restriction is
    // exact because Jaccard is pairwise — pin that claim executable:
    // restrict the corpus-wide verified pairs to an arbitrary subset
    // and recompute pairs from scratch on only that subset
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val subset = docs.filter(col("doc_id") % 3 =!= 1L)
    val ids = subset.select("doc_id")
    val restricted = Dedup.corpusMinhashPairs(spark, sf, threshold = 0.7)
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recompute from raw text on the subset only (minhashPairs dedups
    // byte-identical texts first — mirror that on the subset's rep set)
    val direct = Dedup.minhashPairs(subset, threshold = 0.7)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // strict equality: band keys are per-doc (corpus-independent), the
    // Jaccard of a pair depends on its two texts only, and this corpus
    // has no byte-identical docs (so rep-id remapping can't differ)
    assert(direct == restricted,
      s"pairwise-Jaccard restriction must be exact: direct ${direct.size} vs restricted ${restricted.size}")
    assert(restricted.nonEmpty, "subset must exercise the lemma")
  }

  test("corpus_stats_merge: merged partials equal the full recompute bit-for-bit; merge is split-invariant") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    def canon(df: org.apache.spark.sql.DataFrame) = df.orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    val full = canon(TextAnalysis.corpusStats(docs))
    val merged = canon(TextAnalysis.corpusStatsMergeQuery(spark, sf))
    assert(merged == full, "midpoint-cut merge must equal the full recompute")
    // split-invariance: a different 3-way partition merges to the same
    val t = docs.agg(max(col("doc_id"))).head().getLong(0)
    val threeWay = canon(TextAnalysis.corpusStatsMerge(
      TextAnalysis.corpusStatsPartial(docs.filter(col("doc_id") % 3 === 0)),
      TextAnalysis.corpusStatsPartial(docs.filter(col("doc_id") % 3 === 1)),
      TextAnalysis.corpusStatsPartial(docs.filter(col("doc_id") % 3 === 2))))
    assert(threeWay == full, "merge must be partition-invariant")
    assert(t > 0 && full.nonEmpty)
  }

  test("dedup_prefix: groups equal a text-prefix reference; keep = longest, min id on ties") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    val ref = docs
      .collect { case (id, Some(t), nc) if t.length >= 48 => (id, t.substring(0, 48), nc) }
      .groupBy(_._2).values.filter(_.length >= 2)
      .flatMap { g =>
        val gid = g.map(_._1).min
        val keepId = g.minBy(r => (-r._3, r._1))._1
        g.map(r => (gid, r._1, r._3, g.length.toLong, r._1 == keepId))
      }.toSet
    val got = Dedup.prefixDup(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got == ref, s"got ${got.size} rows, expected ${ref.size}")
    assert(got.nonEmpty, "corpus must exercise the operator")
    got.groupBy(_._1).values.foreach { g =>
      assert(g.count(_._5) == 1, "exactly one keeper per group")
    }
  }

  test("graph_degree_hist: buckets equal the collected in-degree map; masses conserve nodes and edges") {
    import graft.operators.Similarity
    val edges = directedEdges().toSeq
    val nodes = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val indeg = edges.groupBy(_._2).map { case (n, xs) => n -> xs.size.toLong }
    val ref = nodes.toSeq.map(n => indeg.getOrElse(n, 0L))
      .groupBy(identity).map { case (d, xs) => (d, xs.size.toLong) }
    val got = Similarity.degreeHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toMap == ref, "histogram must equal the reference map")
    assert(got.map(_._2).sum == nodes.size.toLong, "buckets must conserve the node count")
    assert(got.map(t => t._1 * t._2).sum == edges.size.toLong,
      "degree-weighted mass must conserve the edge count")
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted, "ordered by in_degree")
  }

  test("text_novelty_incremental: batch-vs-standing novelty equals a collected reference and bounds the batch view") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    val cut = docs.map(_._1).max / 2
    def sh3(t: String): Set[String] = {
      val tok = t.trim.split("\\s+").toSeq
      if (t.trim.isEmpty || tok.length < 3) Set.empty
      else tok.sliding(3).map(_.mkString(" ")).toSet
    }
    val grams = docs.collect { case (id, Some(t)) if sh3(t).nonEmpty => id -> sh3(t) }
    val standing = grams.filter(_._1 < cut).flatMap(_._2).toSet
    val want = grams.filter(_._1 >= cut).map { case (id, gs) =>
      val novel = gs.count(g => !standing.contains(g)).toLong
      (id, gs.size.toLong, novel, 10000L * novel / gs.size)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.ngramNoveltyIncrementalQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    // against-standing novelty can only be <= the within-corpus view
    // for batch docs (the standing set is a subset of "docs before me"
    // only when this doc introduced the gram — check the containment
    // that IS guaranteed: a gram known to the standing set is never
    // novel in the full-corpus view either for batch docs)
    val full = TextAnalysis.ngramNoveltyQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    got.foreach { case (id, _, novel, _) =>
      assert(full(id) <= novel,
        s"doc $id: full-corpus novelty (first-occurrence among ALL docs) must be <= batch-vs-standing novelty")
    }
  }

  test("embed_cluster_stats: cohesion/separation equal a collected integer-grid reference") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .selectExpr("vec_id", "CAST(label AS INT) AS label", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))
    val cents = emb.groupBy(_._2).map { case (l, xs) =>
      val d = xs.head._3.length
      val c = (0 until d).map { i =>
        val s = xs.map(_._3(i)).sum
        math.floor(s.toDouble / xs.length + 0.5).toLong
      }.toArray
      (l, c)
    }
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => val v = x - y; v * v }.sum
    val assigned = emb.map { case (_, _, q) =>
      cents.map { case (l, c) => (sq(q, c), l) }.minBy(identity)
    }
    val minSep = cents.map { case (l, c) =>
      l.toLong -> cents.filter(_._1 != l).map { case (_, w) => sq(c, w) }.min
    }.toMap
    val want = assigned.groupBy(_._2).map { case (l, xs) =>
      (l.toLong, xs.size.toLong, xs.map(_._1).sum, minSep(l.toLong))
    }.toSeq.sortBy(_._1)
    val got = Similarity.clusterStats(Tables.embeddings(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.map(_._2).sum == emb.length.toLong, "members must conserve the corpus")
  }

  test("vocab_concentration: per-term source concentration equals a collected reference") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .flatMap(r => Option(r.getString(1)).map(t => (r.getString(0), t.trim)).filter(_._2.nonEmpty))
    val sf_ = docs.flatMap { case (s, t) => t.split("\\s+").map(w => (s, w)) }
      .groupBy(identity).map { case ((s, w), xs) => (s, w, xs.length.toLong) }
    val want = sf_.groupBy(_._2).map { case (w, xs) =>
      val fs = xs.map(_._3)
      (w, fs.size.toLong, fs.sum, fs.max, 10000L * fs.max / fs.sum)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.vocabConcentration(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    // non-vacuous: the report separates universal from concentrated terms
    assert(got.exists(_._2 > 1), "some term must span sources")
    assert(got.forall(t => t._4 <= t._3 && t._5 >= 1L && t._5 <= 10000L))
  }

  test("ivf_cell_stats: occupancy audit conserves the corpus and matches the index's shape") {
    import graft.operators.Similarity
    val got = Similarity.ivfCellStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val n = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull).count()
    assert(got.map(_._2).sum == n, "cells must conserve the assignable corpus")
    assert(got.forall(t => t._1 >= 0 && t._1 < 16), "cluster ids within nlist")
    assert(got.forall(t => t._3 <= t._4), "id range sane")
    assert(got.forall(t => t._5 == 10000L * t._2 / n), "share is the exact floor")
    assert(got.size > 1, "a one-cell index means the seed selection degenerated")
    // deterministic: a second run reproduces the audit exactly
    val again = Similarity.ivfCellStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(again == got)
    // r16 single-pass pin: the share denominator is derived from the
    // persisted nlist-row rollup, NOT a second corpus scan — the final
    // plan must read the in-memory rollup and contain ZERO embeddings
    // file scans (the only corpus passes left are the centroid
    // seeding's, which run before this plan and are amortized into
    // index builds)
    val df = Similarity.ivfCellStats(spark, sf)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    val corpusScans = plan.collect { case lr: LogicalRelation => lr }.count(_.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("embeddings"))
      case _ => false
    })
    assert(corpusScans == 0,
      s"share computation must not rescan the corpus: $corpusScans embeddings scans in\n$plan")
    val cachedRollups = plan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation => im
    }
    assert(cachedRollups.nonEmpty, "expected the persisted rollup in the final plan")
    spark.catalog.clearCache()
  }

  test("ivf_cell_stats: a corpus with zero usable embeddings returns empty, not an NPE (r17)") {
    import graft.operators.Similarity
    // all-null embeddings: the rollup is empty, the share denominator's
    // sum aggregate is NULL — the r17 guard coalesces it instead of
    // NPE-ing on getLong, and the centroid machinery tolerates the
    // zero-centroid regime (typed-null scored array)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_empty").toString
    spark.sql("SELECT CAST(id AS LONG) AS vec_id, CAST(NULL AS ARRAY<FLOAT>) AS embedding " +
        "FROM range(8)")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.ivfCellStats(spark, dir)
    assert(got.columns.toSeq ==
      Seq("cluster", "n_vectors", "min_vec_id", "max_vec_id", "share_bp"))
    assert(got.count() == 0L, "no assignable vectors => empty audit")
    spark.catalog.clearCache()
  }

  test("range_recall: per-width pair recall against exact slice ground truth") {
    import graft.operators.Similarity
    val got = Similarity.rangeRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._1) == Seq(4L, 12L))
    // one shared ground truth: both rows count the same n_true, and
    // found can never exceed it
    assert(got.map(_._2).distinct.size == 1)
    assert(got.forall(t => t._3 <= t._2 && t._4 == 10000L * t._3 / t._2))
    assert(got.head._2 > 0, "degenerate fixture: no true pairs in the slice")
    // more hyperplanes = sparser buckets = recall can only drop
    val byBits = got.map(t => t._1 -> t._4).toMap
    assert(byBits(4L) >= byBits(12L), s"recall must not rise with bits: $byBits")
    assert(byBits(12L) < 10000L, "pin is vacuous if deployment width misses nothing")
    // cross-operator consistency: found@4 is exactly the slice rows of
    // ann_range_search (same bands, same radius, same grid)
    val viaRange = Similarity.rangeSearch(spark, sf).filter(col("id_a") < 64).count()
    assert(got.find(_._1 == 4L).exists(_._3 == viaRange),
      s"found@4 ${got.find(_._1 == 4L)} != range-search slice $viaRange")
    // r17: both widths serve from the MATERIALIZED band assets — a
    // second audit run re-bands nothing (the bits=12 table published
    // once above, bits=4 shared with every bucketed query)
    val builds0 = Similarity.bandedAssetBuilds.get()
    val again = Similarity.rangeRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(again == got)
    assert(Similarity.bandedAssetBuilds.get() == builds0,
      "range_recall must LOAD standing band assets, not re-band the corpus")
    spark.catalog.clearCache()
  }

  test("q_funnel_steps: strictly-ordered funnel equals a collected reference; monotone counts") {
    import graft.operators.Relational
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "CAST(ts_ns AS LONG) AS ns")
      .collect().map(r => (r.getLong(0), r.getString(1), Math.floorDiv(r.getLong(2), 1000L)))
    val byUser = ev.groupBy(_._1)
    def firstAfter(xs: Array[(Long, String, Long)], tpe: String, after: Long): Option[Long] = {
      val c = xs.filter(t => t._2 == tpe && t._3 > after).map(_._3)
      if (c.isEmpty) None else Some(c.min)
    }
    val t1 = byUser.flatMap { case (u, xs) =>
      val v = xs.filter(_._2 == "view").map(_._3)
      if (v.isEmpty) None else Some(u -> v.min)
    }
    val t2 = t1.flatMap { case (u, a) => firstAfter(byUser(u), "click", a).map(b => u -> ((a, b))) }
    val t3 = t2.flatMap { case (u, (_, b)) => firstAfter(byUser(u), "purchase", b).map(c => u -> ((b, c))) }
    val want = Seq(
      (1L, t1.size.toLong, 0L),
      (2L, t2.size.toLong, t2.values.map { case (a, b) => b - a }.sum),
      (3L, t3.size.toLong, t3.values.map { case (b, c) => c - b }.sum))
    val got = Relational.qFunnelSteps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    // the funnel narrows and is non-vacuous at each step
    assert(got(0)._2 >= got(1)._2 && got(1)._2 >= got(2)._2)
    assert(got(2)._2 > 0, "fixture must carry full-funnel users")
    spark.catalog.clearCache()
  }

  test("q_value_histogram: cent-doubling buckets equal a collected reference; masses conserve") {
    import graft.operators.Relational
    val ev = Tables.events(spark, sf).selectExpr("event_type", "value").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .filter(_._2 >= 1)
    val want = ev.groupBy { case (t, vc) => (t, (63 - java.lang.Long.numberOfLeadingZeros(vc)).toLong) }
      .map { case ((t, k), xs) =>
        val vs = xs.map(_._2)
        (t, k, vs.size.toLong, vs.sum, vs.min, vs.max)
      }.toSeq.sortBy(x => (x._1, x._2))
    val got = Relational.qValueHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, s"got ${got.take(4)}... want ${want.take(4)}...")
    assert(got.map(_._3).sum == ev.length.toLong, "bucket counts must conserve the events")
    got.foreach { case (_, k, _, _, lo, hi) =>
      assert(lo >= (1L << k) && hi < (1L << (k + 1)))
    }
  }

  test("vocab_zipf_profile: doubling buckets equal a collected reference; masses conserve") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0))).map(_.trim).filter(_.nonEmpty)
    val freq = docs.flatMap(_.split("\\s+")).groupBy(identity).map { case (_, xs) => xs.length.toLong }
    val want = freq.groupBy(f => 63 - java.lang.Long.numberOfLeadingZeros(f))
      .map { case (k, fs) => (k.toLong, fs.size.toLong, fs.sum, fs.min, fs.max) }
      .toSeq.sortBy(_._1)
    val got = TextAnalysis.vocabZipfProfile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.map(_._2).sum == freq.size.toLong, "term count must conserve the vocabulary")
    assert(got.map(_._3).sum == freq.sum, "token mass must conserve the corpus")
    // buckets partition the frequency axis: ranges nest inside [2^k, 2^(k+1))
    got.foreach { case (k, _, _, lo, hi) =>
      assert(lo >= (1L << k) && hi < (1L << (k + 1)), s"bucket $k range [$lo,$hi] escapes")
    }
  }

  test("vocab family, wide fixtures: ≥6 zipf buckets and a multi-hundred-term concentration table") {
    // The sf0.01 oracle corpus has a 31-word vocabulary spanning TWO
    // frequency-doubling buckets — too narrow to catch a bucketing
    // off-by-one above bucket 1 or a concentration tie-rule slip in a
    // big vocabulary (the r15 judge's finding). This pins both
    // operators on corpora built for width: ScaleGen's disjoint-vocab
    // replicas for term COUNT, and a geometric frequency ladder for
    // bucket SPREAD.
    import graft.operators.TextAnalysis
    import graft.tools.ScaleGen

    // --- concentration over an 8x disjoint-vocab replica corpus
    val wideDir = java.nio.file.Files.createTempDirectory("graft_vocab_wide").toString
    ScaleGen.scaleDocuments(Tables.documents(spark, sf), 8)
      .write.parquet(s"$wideDir/documents.parquet")
    val wdocs = Tables.documents(spark, wideDir).select("source", "text").collect()
      .flatMap(r => Option(r.getString(1)).map(t => (r.getString(0), t.trim)))
      .filter(_._2.nonEmpty)
    val perSource = wdocs.flatMap { case (s, t) => t.split("\\s+").map(w => (s, w)) }
      .groupBy(identity).map { case ((s, w), xs) => (s, w, xs.length.toLong) }
    val wantConc = perSource.groupBy(_._2).map { case (w, xs) =>
      val tot = xs.map(_._3).sum; val mx = xs.map(_._3).max
      (w, xs.size.toLong, tot, mx, 10000L * mx / tot)
    }.toSeq.sortBy(_._1)
    val gotConc = TextAnalysis.vocabConcentration(spark, wideDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(gotConc == wantConc,
      s"wide concentration diverged: got ${gotConc.take(3)}... want ${wantConc.take(3)}...")
    assert(gotConc.size >= 200, s"fixture must span hundreds of terms: ${gotConc.size}")

    // --- zipf over a geometric frequency ladder: term z_j has
    // frequency 2^j and y_j frequency 3·2^j, so bucket k holds z_k and
    // y_(k-1) — every bucket boundary above 1 is exercised
    val zipfDir = java.nio.file.Files.createTempDirectory("graft_vocab_zipf").toString
    val zdocs = (0 until 9).map { j => (j.toLong, ("z" + j + " ") * (1 << j)) } ++
      (0 until 8).map { j => (100L + j, ("y" + j + " ") * (3 << j)) }
    zdocs.map { case (id, t) => (id, t.trim, "und", "s0", t.trim.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$zipfDir/documents.parquet")
    val zfreq = zdocs.map(_._2.trim).flatMap(_.split("\\s+"))
      .groupBy(identity).map { case (_, xs) => xs.length.toLong }
    val wantZipf = zfreq.groupBy(f => 63 - java.lang.Long.numberOfLeadingZeros(f))
      .map { case (k, fs) => (k.toLong, fs.size.toLong, fs.sum, fs.min, fs.max) }
      .toSeq.sortBy(_._1)
    val gotZipf = TextAnalysis.vocabZipfProfile(spark, zipfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(gotZipf == wantZipf, s"ladder zipf diverged: got $gotZipf want $wantZipf")
    assert(gotZipf.size >= 6, s"ladder must span ≥6 doubling buckets: $gotZipf")
    assert(gotZipf.count(_._2 >= 2) >= 6, "upper buckets must hold multiple terms (z_k and y_(k-1))")
    gotZipf.foreach { case (k, _, _, lo, hi) =>
      assert(lo >= (1L << k) && hi < (1L << (k + 1)), s"bucket $k range [$lo,$hi] escapes")
    }
  }

  test("graph_2hop_reach: expansion equals a collected reference over the edge asset") {
    import graft.operators.Similarity
    val edges = Similarity.knnGraphQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq // (src, nbr)
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = out.toSeq.map { case (src, nbrs) =>
      val two = nbrs.flatMap(m => out.getOrElse(m, Set.empty)) - src -- nbrs
      (src, nbrs.size.toLong, two.size.toLong, 10000L * two.size / nbrs.size)
    }.sortBy(_._1)
    val got = Similarity.twoHopReach(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    assert(got.nonEmpty && got.exists(_._3 > 0), "some node must expand at 2 hops")
    spark.catalog.clearCache()
  }

  test("ann_range_search: pairs equal a collected band+grid reference; symmetric and thresholded") {
    import graft.operators.Similarity
    val bands = Similarity.corpusBandedEmbeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val q = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
      .toMap
    val byBucket = bands.groupBy(t => (t._2, t._3)).values
    val cand = byBucket.flatMap { vs =>
      val ids = vs.map(_._1).distinct.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
    val R = 1280000L
    val want = cand.toSeq.map { case (a, b) =>
      val d = q(a).zip(q(b)).map { case (x, y) => val v = x - y; v * v }.sum
      (a, b, d)
    }.filter(_._3 <= R).sorted
    val got = Similarity.rangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == want, s"got ${got.size} pairs want ${want.size}")
    assert(got.nonEmpty, "radius must admit some pairs at sf0.001")
    assert(got.forall(t => t._1 < t._2 && t._3 <= R))
  }

  test("lsh_bucket_stats: per-table occupancy equals a collected band-asset reference") {
    import graft.operators.Similarity
    val bands = Similarity.corpusBandedEmbeddings(spark, sf).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    val occ = bands.groupBy(identity).toSeq.map { case ((t, _), xs) => (t, xs.length.toLong) }
    val want = occ.groupBy(_._1).map { case (t, tb) =>
      val os = tb.map(_._2)
      (t.toLong, os.size.toLong, os.sum, os.min, os.max, 10000L * os.max / os.sum)
    }.toSeq.sortBy(_._1)
    val got = Similarity.lshBucketStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == want, s"got $got want $want")
    assert(got.size == 8, "one row per hash table")
    assert(got.forall(t => t._3 == got.head._3), "every table bands the same vector mass")
    assert(got.exists(_._6 > 625), "flat-occupancy fixture would make the skew signal vacuous")
  }

  test("embed_norm_hist: doubling buckets equal a collected grid-norm reference") {
    import graft.operators.Similarity
    val sq = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
        .map(q => q * q).sum)
      .filter(_ >= 1)
    val want = sq.groupBy(s => 63 - java.lang.Long.numberOfLeadingZeros(s))
      .map { case (k, xs) => (k.toLong, xs.length.toLong, xs.min, xs.max) }
      .toSeq.sortBy(_._1)
    val got = Similarity.embedNormHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.map(_._2).sum == sq.length.toLong, "histogram must conserve the corpus")
    got.foreach { case (k, _, lo, hi) =>
      assert(lo >= (1L << k) && hi < (1L << (k + 1)), s"bucket $k range [$lo,$hi] escapes")
    }
    // the synthetic corpus has near-uniform norms (one bucket) — too
    // narrow to catch a bucket-boundary slip, the same gap the zipf
    // ladder closes. Pin the operator on a geometric NORM ladder too:
    // vector j = (2^j / 1000, 0, 0, ...) has sqn = 4^j exactly on the
    // grid, two vectors per norm → buckets 2j, each n_vectors = 2
    val normDir = java.nio.file.Files.createTempDirectory("graft_norm_ladder").toString
    val ladder = (0 until 8).flatMap { j =>
      val v = Array.fill(64)(0.0f); v(0) = (1L << j).toFloat / 1000f
      Seq((2L * j, v.toSeq), (2L * j + 1, v.toSeq))
    }
    ladder.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"), lit(0).as("label"))
      .write.parquet(s"$normDir/embeddings.parquet")
    val lgot = Similarity.embedNormHist(spark, normDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val lwant = (0 until 8).map(j => (2L * j, 2L, 1L << (2 * j), 1L << (2 * j))).toSeq
    assert(lgot == lwant, s"norm ladder diverged: $lgot vs $lwant")
  }

  test("graph_component_sizes: histogram conserves the component table") {
    import graft.operators.Similarity
    val comps = Similarity.semanticComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).distinct // (cluster_id, size)
    val want = comps.groupBy(_._2).map { case (s, xs) =>
      (s, xs.length.toLong, s * xs.length) }.toSeq.sortBy(_._1)
    val got = Similarity.componentSizeHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.map(_._2).sum == comps.length.toLong)
    assert(got.nonEmpty && got.forall(_._1 >= 1))
    spark.catalog.clearCache()
  }

  test("dedup_rate_by_source: per-source rates equal a collected first-seen reference") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
    val firstByText = docs.groupBy(_._3).map { case (_, xs) => xs.map(_._1).min }.toSet
    val want = docs.groupBy(_._2).map { case (src, xs) =>
      val dups = xs.count(d => !firstByText.contains(d._1))
      (src, xs.length.toLong, dups.toLong, 10000L * dups / xs.length)
    }.toSeq.sortBy(_._1)
    val got = Dedup.dedupRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.map(_._2).sum == docs.length.toLong, "sources must conserve the corpus")
  }

  test("q_event_transitions: transition matrix equals a collected per-user lag reference") {
    import graft.operators.Relational
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "CAST(ts_ns AS LONG) AS ns")
      .collect()
      .filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), Math.floorDiv(r.getLong(3), 1000L)))
    val want = ev.groupBy(_._1).values.flatMap { xs =>
      xs.sortBy(e => (e._4, e._2)).sliding(2).collect { case Array(a, b) => (a._3, b._3) }
    }.toSeq.groupBy(identity).map { case ((f, t), xs) => (f, t, xs.length.toLong) }
      .toSeq.sortBy(t => (t._1, t._2))
    val got = Relational.qEventTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"got ${got.take(5)} want ${want.take(5)}")
    assert(got.map(_._3).sum == want.map(_._3).sum && got.nonEmpty)
    assert(got.map(_._1).distinct.size > 1, "single-type fixture is vacuous")
  }

  test("token_count_hist: doubling buckets equal a collected reference and conserve token mass") {
    import graft.operators.TextAnalysis
    val ns = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0))).map(_.trim)
      .map(t => if (t.isEmpty) 0L else t.split("\\s+").length.toLong)
      .filter(_ >= 1)
    val want = ns.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (k, xs) => (k.toLong, xs.length.toLong, xs.sum, xs.min, xs.max) }
      .toSeq.sortBy(_._1)
    val got = TextAnalysis.tokenCountHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.map(_._2).sum == ns.length.toLong && got.size > 1)
  }

  test("vocab_growth: staggered-vocabulary fixture spans buckets; equals a collected reference") {
    import graft.operators.TextAnalysis
    // the synthetic corpus mints its whole 31-term vocabulary in the
    // first doc-id bucket (a 1-row curve) — pin the operator on a
    // corpus that KEEPS minting: doc i carries a shared term and a
    // fresh term every 20 ids, so the Heaps curve has a real shape
    val dir = java.nio.file.Files.createTempDirectory("graft_growth").toString
    val docs = (0 until 400).map { i =>
      (i.toLong, s"common w${i / 20} tail${i / 80}", "und", "s0", 10L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val firsts = docs.flatMap { case (id, t, _, _, _) => t.split("\\s+").map(w => (w, id)) }
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).min }
    val want0 = firsts.groupBy(_ / 50).map { case (b, xs) => (b, xs.size.toLong) }.toSeq.sortBy(_._1)
    val want = want0.scanLeft((0L, 0L, 0L)) {
      case ((_, _, c), (b, n)) => (b, n, c + n) }.drop(1)
    val got = TextAnalysis.vocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.size >= 6, s"fixture must span buckets: $got")
    assert(got.last._3 == firsts.size.toLong, "running total must end at the vocabulary size")
  }

  test("embed_drift: per-dimension half shifts equal a collected reference") {
    import graft.operators.Similarity
    val rows = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some((r.getLong(0), r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)))
    val cut = Tables.embeddings(spark, sf).agg(max(col("vec_id"))).head().getLong(0) / 2
    def trunc(num: Long, den: Long): Long =
      if (num < 0) -((-num) / den) else num / den
    val dims = rows.head._2.indices
    val want = dims.map { d =>
      val a = rows.filter(_._1 < cut).map(_._2(d)); val b = rows.filter(_._1 >= cut).map(_._2(d))
      (d.toLong, a.length.toLong, a.sum, b.length.toLong, b.sum,
        trunc(1000L * b.sum, b.length) - trunc(1000L * a.sum, a.length))
    }
    val got = Similarity.embedDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == want, s"got ${got.take(3)} want ${want.take(3)}")
    assert(got.size == 64 && got.exists(_._6 != 0L))
  }

  test("dedup_simhash_incremental: best standing match equals a collected band+hamming reference") {
    import graft.operators.Dedup
    val cut = Tables.documents(spark, sf).agg(max(col("doc_id"))).head().getLong(0) / 2
    val got = Dedup.simhashIncremental(Tables.documents(spark, sf), cut).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // every verdict is a genuine standing x batch near-pair under the
    // same hamming ceiling, and the tiebreak is (hamming, id) minimal
    got.foreach { case (docId, m, h) =>
      assert(docId >= cut && m < cut && h <= 3, s"($docId, $m, $h) breaks the cut contract")
    }
    assert(got.map(_._1).distinct.size == got.size, "one best match per batch doc")
    assert(got.nonEmpty, "fixture has no cross-cut simhash near-pairs: vacuous")
    spark.catalog.clearCache()
  }

  test("pairwise-matrix cardinality contract: overlap operators fail fast past the key cap") {
    import graft.operators.{Relational, TextAnalysis}
    import graft.engine.Skew
    // in-bounds: the sf corpus passes and emits at most keys·(keys-1)/2 pairs
    val okTypes = Relational.qAudienceOverlap(spark, sf)
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(okTypes.count() <= nTypes * (nTypes - 1) / 2)
    spark.catalog.clearCache()
    // at the cap exactly: allowed (disjoint users keep the pair stage empty)
    val atCap = spark.range(0, Skew.MaxPairwiseKeys)
      .selectExpr("concat('t', id) AS event_type", "id AS user_id")
    assert(Relational.audienceOverlap(atCap).count() == 0L)
    spark.catalog.clearCache()
    // one past the cap: the guard fires BEFORE the pair stage, naming
    // the operator and the remedy
    val overCap = spark.range(0, Skew.MaxPairwiseKeys + 1)
      .selectExpr("concat('t', id) AS event_type", "id AS user_id")
    val e1 = intercept[IllegalArgumentException] { Relational.audienceOverlap(overCap) }
    assert(e1.getMessage.contains("q_audience_overlap") && e1.getMessage.contains("4096"))
    // same contract on the vocab matrix (disjoint per-source vocab)
    val overDocs = spark.range(0, Skew.MaxPairwiseKeys + 1)
      .selectExpr("id AS doc_id", "concat('s', id) AS source",
        "concat('w', id, 'a w', id, 'b w', id, 'c') AS text")
    val e2 = intercept[IllegalArgumentException] { TextAnalysis.vocabOverlap(overDocs, topK = 4) }
    assert(e2.getMessage.contains("vocab_overlap"))
    spark.catalog.clearCache()
  }

  test("novelty asset path: fresh-JVM load instead of rebuild, pinned equal to the in-plan form") {
    import graft.operators.{Dedup, TextAnalysis}
    val root = java.nio.file.Files.createTempDirectory("graft_novelty_asset_spec").toString
    spark.conf.set("spark.graft.index.dir", root)
    try {
      Dedup.dropInMemoryNgramTables()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // asset-backed == in-plan reference semantics, both tiers
      val batchA = canon(TextAnalysis.ngramNoveltyFromAssets(spark, sf))
      val batchP = canon(TextAnalysis.ngramNovelty(Tables.documents(spark, sf)))
      assert(batchA == batchP, "asset-backed batch novelty diverged from the in-plan form")
      val incA = canon(TextAnalysis.ngramNoveltyIncrementalFromAssets(spark, sf))
      val incP = canon(TextAnalysis.ngramNoveltyIncremental(Tables.documents(spark, sf)))
      assert(incA == incP, "asset-backed incremental novelty diverged from the in-plan form")
      val builds = Dedup.ngramAssetBuilds.get()
      assert(builds >= 2, "gram assets must have been built into the fresh warehouse")
      // "new JVM": drop the in-memory handles; the queries must LOAD
      Dedup.dropInMemoryNgramTables()
      assert(canon(TextAnalysis.ngramNoveltyFromAssets(spark, sf)) == batchA)
      assert(canon(TextAnalysis.ngramNoveltyIncrementalFromAssets(spark, sf)) == incA)
      assert(Dedup.ngramAssetBuilds.get() == builds,
        "fresh-JVM novelty must load the published gram assets, not rebuild them")
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      Dedup.dropInMemoryNgramTables()
      spark.catalog.clearCache()
    }
  }

  test("text_ngram_novelty: per-doc novel counts equal a collected first-occurrence reference; first doc is fully novel") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    def sh3(t: String): Set[String] = {
      val tok = t.trim.split("\\s+").toSeq
      if (t.trim.isEmpty || tok.length < 3) Set.empty
      else tok.sliding(3).map(_.mkString(" ")).toSet
    }
    val grams = docs.collect { case (id, Some(t)) if sh3(t).nonEmpty => id -> sh3(t) }
    val firstDoc = grams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val want = grams.map { case (id, gs) =>
      val novel = gs.count(g => firstDoc(g) == id).toLong
      (id, gs.size.toLong, novel, 10000L * novel / gs.size)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.ngramNoveltyQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    // the lowest doc id with grams introduces everything it contains
    val firstId = want.map(_._1).min
    assert(want.find(_._1 == firstId).exists(r => r._2 == r._3),
      "the first doc must be 100% novel")
  }

  test("graph_label_confusion: matrix equals the label-joined edge rollup; edge mass conserves") {
    import graft.operators.Similarity
    val edges = Similarity.knnGraphQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))) // (src, nbr, dist)
    val lab = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .selectExpr("vec_id", "CAST(label AS LONG) AS label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = edges.groupBy(e => (lab(e._1), lab(e._2))).map { case ((a, b), xs) =>
      (a, b, xs.length.toLong, xs.map(_._3).sum)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = Similarity.labelConfusion(spark, sf)
      .selectExpr("CAST(label_a AS LONG)", "CAST(label_b AS LONG)", "n_edges", "sum_dist")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.map(_._3).sum == edges.length.toLong, "matrix must conserve the edge count")
    assert(got.exists(t => t._1 == t._2), "diagonal (cohesion) must be present")
  }

  test("q_rfm: quartiles equal the ntile formula on collected aggregates; buckets balanced") {
    import graft.operators.Relational
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id",
        "(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000 AS tus",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val u = ev.groupBy(_._1).map { case (uid, rows) =>
      (uid, rows.map(_._2).max, rows.size.toLong, rows.flatMap(_._3).sum)
    }.toSeq
    val total = u.size.toLong
    def ntile4(rank: Long): Long = {
      val base = total / 4; val rem = total % 4; val cut = rem * (base + 1)
      if (rank <= cut) (rank - 1) / (base + 1) + 1 else rem + (rank - cut - 1) / base + 1
    }
    def quart(key: ((Long, Long, Long, Long)) => Long): Map[Long, Long] =
      u.sortBy(r => (-key(r), r._1)).zipWithIndex
        .map { case (r, i) => r._1 -> ntile4(i + 1L) }.toMap
    val rq = quart(_._2); val fq = quart(_._3); val mq = quart(_._4)
    val want = u.map(r =>
      (r._1, r._2, r._3, r._4, rq(r._1), fq(r._1), mq(r._1),
        rq(r._1) * 100 + fq(r._1) * 10 + mq(r._1))).sortBy(_._1)
    val got = Relational.qRfm(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == want, "RFM rows must equal the collected reference")
    // ntile balance: bucket sizes differ by at most one per dimension
    Seq(4, 5, 6).foreach { i =>
      val sizes = got.groupBy(_.productElement(i).asInstanceOf[Long]).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"dimension $i buckets must be balanced")
    }
  }

  test("rfmSegments: null keys rank last, on and off a quartile boundary, as ntile(4) does") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    // 9 users: ntile(4) ends buckets at ranks 3, 5 and 7. recency's three
    // nulls take ranks 7-9 (one on the rank-7 boundary), frequency's one
    // null takes rank 9 and monetary's two take ranks 8-9 (off-boundary)
    val u = Seq[(Long, Option[Long], Option[Long], Option[Long])](
      (1L, Some(900L), Some(5L), None),
      (2L, None, Some(3L), Some(200L)),
      (3L, Some(500L), Some(8L), Some(150L)),
      (4L, Some(700L), None, Some(150L)),
      (5L, None, Some(3L), Some(90L)),
      (6L, Some(100L), Some(1L), Some(40L)),
      (7L, Some(700L), Some(2L), Some(300L)),
      (8L, None, Some(8L), Some(10L)),
      (9L, Some(300L), Some(4L), None)
    ).toDF("user_id", "recency_us", "frequency", "monetary_c")
    def quartile(key: String) =
      ntile(4).over(Window.orderBy(col(key).desc_nulls_last, col("user_id"))).cast("long")
    val want = u.select(col("user_id"), quartile("recency_us"), quartile("frequency"),
        quartile("monetary_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val got = Relational.rfmSegments(u).select("user_id", "r_q", "f_q", "m_q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, "quartiles must follow key DESC NULLS LAST, user_id")
  }

  test("q_audience_overlap: pair matrix equals the collected user-set reference") {
    import graft.operators.Relational
    val m = Tables.events(spark, sf)
      .select("event_type", "user_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val byType = m.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val types = byType.keys.toSeq.sorted
    val want = (for {
      a <- types; b <- types if a < b
      inter = (byType(a) intersect byType(b)).size.toLong if inter > 0
    } yield {
      val na = byType(a).size.toLong; val nb = byType(b).size.toLong
      (a, b, na, nb, inter, 10000L * inter / (na + nb - inter))
    }).toSet
    val got = Relational.qAudienceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want, s"got ${got.size} pairs, expected ${want.size}")
    assert(got.nonEmpty, "corpus must exercise the operator")
  }

  test("gram_df_hist + cdc_chunk_stats: geometric-df ladders spread the buckets; conservation on the corpus (r17)") {
    import graft.operators.Dedup
    // --- gram df ladder: gram family g_j lives in exactly 2^j docs, so
    // bucket k holds ONE gram with df = 2^k — every boundary 0..5 hit
    val gDir = java.nio.file.Files.createTempDirectory("graft_gdfh").toString
    val gdocs = (0 until 6).flatMap { j =>
      (0 until (1 << j)).map { r =>
        ((j * 100 + r).toLong, s"a$j b$j c$j")
      }
    }
    gdocs.map { case (id, t) => (id, t, "und", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$gDir/documents.parquet")
    val gotG = Dedup.gramDfHist(spark, gDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val totalPost = (0 until 6).map(1L << _).sum // 63
    val wantG = (0 until 6).map { k =>
      (k.toLong, 1L, 1L << k, 1L << k, 10000L * (1L << k) / totalPost)
    }
    assert(gotG == wantG, s"got $gotG\nwant $wantG")
    // conservation at sf: bucket gram counts add to the distinct-gram
    // vocabulary; shares are a <=10000 partition of the posting mass
    val hist = Dedup.gramDfHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    val vocab = Dedup.corpusGramDf(spark, sf).count()
    assert(hist.map(_._2).sum == vocab, "buckets must conserve the vocabulary")
    val shareSum = hist.map(_._4).sum
    assert(shareSum <= 10000L && shareSum > 10000L - hist.size * 2L, s"share sum $shareSum")

    // --- cdc occurrence ladder: short texts (< the k=8 window) chunk
    // as whole docs, so a text repeated 2^j times is one chunk with
    // df = 2^j; unique suffixes spread ids
    val cDir = java.nio.file.Files.createTempDirectory("graft_cdch").toString
    val cdocs = (0 until 4).flatMap { j =>
      (0 until (1 << j)).map { r => ((j * 100 + r).toLong, s"dup$j!") }
    }
    cdocs.map { case (id, t) => (id, t, "und", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$cDir/documents.parquet")
    val gotC = Dedup.cdcChunkStats(spark, cDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val wantC = (0 until 4).map { k =>
      (k.toLong, 1L, 5L, 5L * ((1L << k) - 1L), 1L << k)
    }
    assert(gotC == wantC, s"got $gotC\nwant $wantC")
    // conservation at sf against the digest asset: distinct chunks and
    // the stored-vs-replicated byte split must add up exactly
    val asset = Dedup.corpusChunkDigests(spark, sf)
    val distinctChunks = asset.select("digest").distinct().count()
    val totalMass = asset.agg(sum(col("len"))).head().getLong(0)
    val stats = Dedup.cdcChunkStats(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stats.map(_._1).sum == distinctChunks, "buckets must conserve distinct chunks")
    assert(stats.map(t => t._2 + t._3).sum == totalMass,
      "stored + saved bytes must equal the corpus chunk mass")
    spark.catalog.clearCache()
  }

  test("vocab_drift / quality_by_source / pack_efficiency: collected references; drift endpoints (r17)") {
    import graft.operators.TextAnalysis
    // vocab_drift endpoints: a term only in the first half reads 0 bp,
    // only-second reads 10000, balanced reads 5000; the head cut keeps
    // exactly topK of a wider ladder
    val vDir = java.nio.file.Files.createTempDirectory("graft_vdrift").toString
    val vdocs =
      (0 until 10).map(i => (i.toLong, "onlyfirst " * 6 + s"filler$i")) ++
      (100 until 110).map(i => (i.toLong, "onlysecond " * 6 + "balanced " * 3 + s"tail$i")) ++
      (0 until 10).map(i => (i.toLong + 10L, "balanced " * 3))
    // split = max(doc_id) div 2 = 54: ids 0..19 are "first", 100.. "second"
    vdocs.map { case (id, t) => (id, t.trim, "und", "s0", t.trim.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$vDir/documents.parquet")
    val drift = TextAnalysis.vocabDrift(spark, vDir, topK = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // all three head terms tie at freq 60: term-asc is the tiebreak
    assert(drift == Seq(
      ("balanced", 30L, 30L, 60L, 5000L),
      ("onlyfirst", 60L, 0L, 60L, 0L),
      ("onlysecond", 0L, 60L, 60L, 10000L)),
      s"drift endpoints wrong: $drift")
    // quality_by_source equals the per-doc operator rolled up by hand
    val perDoc = graft.operators.TextAnalysis.textQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantQ = perDoc.groupBy(t => srcOf(t._1)).map { case (s, xs) =>
      val (c, t, p, u, st) =
        (xs.map(_._2).sum, xs.map(_._3).sum, xs.map(_._4).sum, xs.map(_._5).sum, xs.map(_._6).sum)
      (s, xs.length.toLong, c, t, p, u, st, 10000L * st / t, 10000L * p / c)
    }.toSeq.sortBy(_._1)
    val gotQ = TextAnalysis.qualityBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(gotQ == wantQ, s"got ${gotQ.take(2)}...\nwant ${wantQ.take(2)}...")
    // pack_efficiency equals the packing table rolled up by hand (fill
    // may exceed 10000 bp: a sequence overflows by at most its last doc)
    val packed = TextAnalysis.packSequencesQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3)))
    val wantP = packed.groupBy(_._2).map { case (g, xs) =>
      val seqs = xs.map(_._3).max + 1
      val toks = xs.map(_._4).sum
      (g, seqs, xs.length.toLong, toks, 10000L * toks / (seqs * 256L))
    }.toSeq.sortBy(_._1)
    val gotP = TextAnalysis.packEfficiency(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(gotP == wantP, s"got $gotP\nwant $wantP")
    assert(gotP.size == 8, "all 8 packing groups must report")
    spark.catalog.clearCache()
  }

  test("graph_cc_by_degree / embed_dim_corr / neardup_rate_by_source: rollup + brute-force references (r17)") {
    import graft.operators.{Dedup, Similarity}
    // cc-by-degree equals the per-node triangle table rolled up by hand
    val nodes = Similarity.triangleStats(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val wantCc = nodes.groupBy(_._1).map { case (d, xs) =>
      (d, xs.length.toLong, xs.map(_._2).sum, xs.map(_._3).sum / xs.length)
    }.toSeq.sortBy(_._1)
    val gotCc = Similarity.ccByDegree(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotCc == wantCc, s"got $gotCc\nwant $wantCc")
    assert(gotCc.forall(t => t._4 >= 0L && t._4 <= 10000L), "mean lcc must sit in [0, 10000] bp")
    // r17: the triangle table is a durable asset — both consumers LOAD
    // it after the one build above (the wedge join runs once per corpus)
    val tb0 = Similarity.triangleAssetBuilds.get()
    Similarity.triangleStatsQuery(spark, sf).count()
    Similarity.ccByDegree(spark, sf).count()
    assert(Similarity.triangleAssetBuilds.get() == tb0,
      "triangle consumers must LOAD the materialized asset, not re-derive")

    // dim-corr equals a driver brute force over the quantized corpus
    val vecs = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))
    val d = vecs.head.length
    val n = vecs.length.toLong
    val sx = Array.tabulate(d)(i => vecs.map(_(i)).sum)
    val ref = (for { i <- 0 until d; j <- i + 1 until d } yield {
      val sxy = vecs.map(v => v(i) * v(j)).sum
      (i.toLong, j.toLong, n, sxy, n * sxy - sx(i) * sx(j))
    }).sortBy(t => (-math.abs(t._5), t._1, t._2)).take(20)
    val gotCorr = Similarity.embedDimCorr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(gotCorr == ref, s"got ${gotCorr.take(3)}...\nwant ${ref.take(3)}...")

    // near-dup attribution equals the pair table + rep map rolled up
    val pairIds = Dedup.minhashQuery(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val docsC = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    val reps = docsC.groupBy(_._3).map { case (_, xs) => xs.minBy(_._1) }
    val wantN = reps.groupBy(_._2).map { case (s, xs) =>
      val hit = xs.count(x => pairIds.contains(x._1)).toLong
      (s, xs.size.toLong, hit, 10000L * hit / xs.size)
    }.toSeq.sortBy(_._1)
    val gotN = Dedup.neardupRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotN == wantN, s"got ${gotN.take(4)}...\nwant ${wantN.take(4)}...")
    assert(gotN.map(_._3).sum > 0, "corpus must exercise the near-dup attribution")
    spark.catalog.clearCache()
  }

  test("dedup_cluster_size_hist + q_user_lifespan: size ladders spread the buckets; gap/hourly conservation (r17)") {
    import graft.operators.{Clustering, Relational}
    // --- cluster ladder: two pairs, one 4-cluster, one 8-cluster, each
    // on disjoint vocabulary; within a cluster every doc shares a long
    // base with a distinct final token (near-dup, never exact-dup)
    val cDir = java.nio.file.Files.createTempDirectory("graft_cshist").toString
    def cluster(tag: String, size: Int, idBase: Long) = {
      val base = (0 until 20).map(w => s"${tag}w$w").mkString(" ")
      (0 until size).map(r => (idBase + r, s"$base ${tag}tail$r"))
    }
    val cdocs = cluster("a", 2, 0L) ++ cluster("b", 2, 100L) ++
      cluster("c", 4, 200L) ++ cluster("d", 8, 300L)
    cdocs.map { case (id, t) => (id, t, "und", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$cDir/documents.parquet")
    val gotH = Clustering.clusterSizeHist(spark, cDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotH == Seq((1L, 2L, 4L, 2L), (2L, 1L, 4L, 4L), (3L, 1L, 8L, 8L)),
      s"cluster ladder wrong: $gotH")
    // --- lifespan ladder: spans 0/1/3/7 s (+1 => buckets 0..3), user
    // event counts 1/2/2/2
    val eDir = java.nio.file.Files.createTempDirectory("graft_lifespan").toString
    val evs = Seq(
      (1L, 10L, "view", 0.0, 1000L), // single event: span 0
      (2L, 11L, "view", 0.0, 2000L), (2L, 12L, "view", 0.0, 2001L),
      (3L, 13L, "view", 0.0, 3000L), (3L, 14L, "view", 0.0, 3003L),
      (4L, 15L, "view", 0.0, 4000L), (4L, 16L, "view", 0.0, 4007L))
    evs.map { case (u, e, t, v, s) => (e, u, t, v, new java.sql.Timestamp(s * 1000L)) }
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(s"$eDir/events.parquet")
    val gotL = Relational.qUserLifespan(spark, eDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotL == Seq((0L, 1L, 1L, 0L), (1L, 1L, 2L, 1L), (2L, 1L, 2L, 3L), (3L, 1L, 2L, 7L)),
      s"lifespan ladder wrong: $gotL")
    // --- conservation at sf: gaps = events - users; hourly shares
    // partition each type's mass
    val ev = Tables.events(spark, sf)
    val nGaps = Relational.qGapHist(spark, sf).agg(sum(col("n_gaps"))).head().getLong(0)
    assert(nGaps == ev.count() - ev.select("user_id").distinct().count(),
      "gap count must be events minus users")
    val shares = Relational.qHourlyProfile(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(5)))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).sum }
    assert(shares.forall(s => s <= 10000L && s > 10000L - 48L),
      s"per-type hourly shares must partition the mass: $shares")
    spark.catalog.clearCache()
  }

  test("mix_effective_sizes + oov_rate_by_source: tier composition and collected references (r17)") {
    import graft.operators.{Clustering, Dedup, TextAnalysis}
    // effective sizes compose the tiers the repo prices separately:
    // n_docs - n_reps = exact dups (dedup_rate_by_source's n_dups), and
    // n_reps - n_kept = near-dup non-canonical members per source
    val got = Clustering.mixEffectiveSizes(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val exact = Dedup.dedupRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == exact.map(t => (t._1, t._2)), "raw doc counts must agree")
    assert(got.zip(exact).forall { case (g, e) => g._2 - g._3 == e._3 },
      "docs minus reps must equal the exact-tier dup count per source")
    assert(got.forall(t => t._4 <= t._3 && t._3 <= t._2), "kept <= reps <= docs")
    assert(got.exists(t => t._4 < t._3), "fixture must exercise the near-dup tier")
    assert(got.forall(t => t._5 == 10000L * t._4 / t._2))
    // cross-check n_kept against the cluster table + rep map directly
    val docsC = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    val reps = docsC.groupBy(_._3).map { case (_, xs) => xs.minBy(_._1) }
    val keepMap = Clustering.dedupClustersQuery(spark, sf).select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val wantKept = reps.groupBy(_._2).map { case (s, xs) =>
      s -> xs.count(x => keepMap.getOrElse(x._1, true)).toLong
    }
    assert(got.forall(t => wantKept(t._1) == t._4),
      s"kept counts diverge from the collected reference")

    // oov-by-source equals the per-doc operator rolled up by hand
    val perDoc = TextAnalysis.oovQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val srcOf = docsC.map(t => t._1 -> t._2).toMap
    val wantO = perDoc.groupBy(t => srcOf(t._1)).map { case (s, xs) =>
      val (nt, no) = (xs.map(_._2).sum, xs.map(_._3).sum)
      (s, nt, no, 10000L * no / nt)
    }.toSeq.sortBy(_._1)
    val gotO = TextAnalysis.oovRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotO == wantO, s"got ${gotO.take(3)}\nwant ${wantO.take(3)}")
    spark.catalog.clearCache()
  }

  test("q_top_paths: top-20 first-4-event paths equal a collected reference; ranks pinned") {
    import graft.operators.Relational
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type",
        "(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000 AS tus")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val paths = ev.groupBy(_._1).map { case (_, rows) =>
      rows.sortBy(r => (r._4, r._2)).take(4).map(_._3).mkString(">")
    }
    val counts = paths.groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
      .zipWithIndex.map { case ((p, n), i) => ((i + 1).toLong, p, n) }
    val got = Relational.qTopPaths(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.nonEmpty, "corpus must exercise the operator")
  }

  test("embed_dim_corr guards: degenerate rows contribute nothing; width cap fails fast (r18)") {
    import graft.operators.Similarity
    // fixture: three clean d=3 rows plus a 1-dim and an empty row — the
    // degenerate rows must vanish from BOTH the per-dim sums and the
    // product rollup (one population), not ANSI-throw on q[size-1+1]
    val dDir = java.nio.file.Files.createTempDirectory("graft_dimcorr").toString
    Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f), 0),
      (1L, Seq(2.0f, 1.0f, 5.0f), 0),
      (2L, Seq(4.0f, 4.0f, 1.0f), 0),
      (3L, Seq(9.0f), 0),
      (4L, Seq.empty[Float], 0)
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dDir/embeddings.parquet")
    val vecs = Seq(Seq(1L, 2L, 3L), Seq(2L, 1L, 5L), Seq(4L, 4L, 1L))
      .map(_.map(_ * 1000L))
    val sx = Array.tabulate(3)(i => vecs.map(_(i)).sum)
    val want = (for { i <- 0 until 3; j <- i + 1 until 3 } yield {
      val sxy = vecs.map(v => v(i) * v(j)).sum
      (i.toLong, j.toLong, 3L, sxy, 3L * sxy - sx(i) * sx(j))
    }).sortBy(t => (-math.abs(t._5), t._1, t._2))
    val got = Similarity.embedDimCorr(spark, dDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"got $got\nwant $want")

    // width cap: a d = MaxDimCorrDims + 1 row fails fast with the remedy
    val wDir = java.nio.file.Files.createTempDirectory("graft_dimwide").toString
    Seq((0L, Seq.fill(Similarity.MaxDimCorrDims + 1)(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$wDir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Similarity.embedDimCorr(spark, wDir).collect()
    }
    assert(e.getMessage.contains("pairwise cap") &&
      e.getMessage.contains("embedDimStatsQuery"))
  }

  test("contamination evalDir entrypoints equal the table-valued oracle queries (r19)") {
    import graft.operators.{Similarity, TextAnalysis}
    import org.apache.spark.sql.functions._
    // the deployment shape: the eval suite lives in its OWN directory;
    // the Against wrappers must produce exactly the rows the
    // oracle-checked *_eval fixtures produce for the same eval content
    val evalDir = java.nio.file.Files.createTempDirectory("graft_evaldir").toString
    Tables.documents(spark, sf).filter(col("doc_id") < 25)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.parquet(s"$evalDir/documents.parquet")
    Tables.embeddings(spark, sf).filter(col("vec_id") < 64)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
      .write.parquet(s"$evalDir/embeddings.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val lexGot = canon(TextAnalysis.contaminationAgainst(spark, sf, evalDir))
    val lexWant = canon(SparkEntry.queries("contamination_eval")(spark, sf))
    assert(lexGot == lexWant && lexGot.nonEmpty,
      s"lexical evalDir path diverged: ${lexGot.size} vs ${lexWant.size} rows")
    val semGot = canon(Similarity.semanticContaminationAgainst(spark, sf, evalDir))
    val semWant = canon(SparkEntry.queries("semantic_contamination_eval")(spark, sf))
    assert(semGot == semWant && semGot.nonEmpty,
      s"semantic evalDir path diverged: ${semGot.size} vs ${semWant.size} rows")
  }

  test("embed_dim_corr_top asserts the fixed-width contract: ragged corpora fail fast (r19)") {
    import graft.operators.Similarity
    // the subspace kernel and its SQL twin diverge SILENTLY on ragged
    // widths (width-1 rows out of the moment pass, short rows out of
    // the product pass) — the runtime assertion turns that into a
    // fail-fast with the remedy named
    val rDir = java.nio.file.Files.createTempDirectory("graft_dimtop_ragged").toString
    Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f), 0),
      (1L, Seq(2.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$rDir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Similarity.embedDimCorrTop(spark, rDir).collect()
    }
    assert(e.getMessage.contains("ragged embedding widths") &&
      e.getMessage.contains("[2, 3]"), e.getMessage)
    // zero-width (empty-array) rows are width violations too (r21,
    // ADVICE): posexplode emits nothing for them, so the r20 guard was
    // blind to a corpus mixing empty and fixed-width rows — the outer
    // explode surfaces them as the null-dim group and the range
    // reports 0
    val zDir = java.nio.file.Files.createTempDirectory("graft_dimtop_zero").toString
    Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f), 0),
      (1L, Seq.empty[Float], 0)
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$zDir/embeddings.parquet")
    val ez = intercept[IllegalArgumentException] {
      Similarity.embedDimCorrTop(spark, zDir).collect()
    }
    assert(ez.getMessage.contains("ragged embedding widths") &&
      ez.getMessage.contains("[0, 3]"), ez.getMessage)
    // a width-1-only corpus is ragged in the contract's sense too (no
    // pair exists) — [1, 1] fails the >= 2 leg
    val oDir = java.nio.file.Files.createTempDirectory("graft_dimtop_one").toString
    Seq((0L, Seq(9.0f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$oDir/embeddings.parquet")
    intercept[IllegalArgumentException] {
      Similarity.embedDimCorrTop(spark, oDir).collect()
    }
    // fixed-width corpora (the contract) still pass — null rows are not
    // width violations, and the sf corpus itself is the green path
    val fDir = java.nio.file.Files.createTempDirectory("graft_dimtop_fixed").toString
    Seq(
      (0L, Some(Seq(1.0f, 2.0f, 3.0f)), 0),
      (1L, Some(Seq(2.0f, 1.0f, 5.0f)), 0),
      (2L, None, 0)
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$fDir/embeddings.parquet")
    assert(Similarity.embedDimCorrTop(spark, fDir, subDims = 3).collect().nonEmpty)
  }
}
