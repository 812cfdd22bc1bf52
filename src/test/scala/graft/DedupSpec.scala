package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.functions.{sketch, text, vec}

/** Dedup + similarity machinery on planted duplicates (the test corpus
  * contains genuine near-dup pairs) and synthetic edge cases.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental: dup_of_old, dup_of_new and kept verdicts; null text; an empty seen set marks nothing old") {
    // old half 1..9, new half 10..19 with: a dup of old (14), an
    // intra-new dup pair (15, 16), a null-text doc (17) and fresh docs
    val docs = ((1 to 9).map(i => (i.toLong, s"old doc $i")) ++
      Seq((10L, "fresh ten"), (14L, "old doc 4"), (15L, "twin"), (16L, "twin"),
        (17L, null.asInstanceOf[String]), (19L, "fresh nineteen")))
      .toDF("doc_id", "text")
    def verdicts(split: Long) =
      Dedup.incremental(docs, split).as[(Long, String)].collect().toMap
    // a null text dedups as empty content: tagged, never dropped
    assert(verdicts(10L) == Map(10L -> "kept", 14L -> "dup_of_old", 15L -> "kept",
      16L -> "dup_of_new", 17L -> "kept", 19L -> "kept"))
    // empty seen set: every doc is new, so nothing is old
    val cold = verdicts(0L)
    assert(cold.size == 15 && cold(14L) == "dup_of_new" && cold(16L) == "dup_of_new")
    assert(cold.values.forall(v => v == "kept" || v == "dup_of_new"))
    spark.catalog.clearCache()
  }

  test("cdcIncremental: a batch doc wholly in the standing half is all known, a fresh doc all novel") {
    val span = "the quick brown fox jumps over the lazy dog again and again"
    // 18 distinct characters, none lower-case: no chunk can repeat
    // inside it or occur in the standing half
    val fresh = "ZQXJ0123456789KVWY"
    val docs = Seq((1L, span), (2L, "wholly unrelated content here today"), (3L, "tiny"),
      (10L, span), (12L, fresh), (13L, "tiny")).toDF("doc_id", "text")
    val got = Dedup.cdcIncremental(docs, 10L)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == Set(10L, 12L, 13L))
    val (n10, known10, novel10) = got(10L)
    assert(n10 >= 1 && known10 == n10 && novel10 == 0L, got(10L))
    val (n12, known12, novel12) = got(12L)
    assert(n12 >= 1 && known12 == 0L && novel12 == fresh.length.toLong, got(12L))
    // a text shorter than the window is one chunk
    assert(got(13L) == ((1L, 1L, 0L)))
    spark.catalog.clearCache()
  }

  test("n-gram corpus assets are durable: a fresh JVM loads instead of rebuilding") {
    val root = java.nio.file.Files.createTempDirectory("graft_ngram_asset_spec").toString
    spark.conf.set("spark.graft.index.dir", root)
    try {
      Dedup.dropInMemoryNgramTables()
      val idx1 = Dedup.corpusNgramIndex(spark, sf).orderBy("doc_id")
        .select("doc_id", "n").as[(Long, Int)].collect().toSeq
      val df1 = Dedup.corpusGramDf(spark, sf).count()
      val builds = Dedup.ngramAssetBuilds.get()
      assert(builds >= 2, "both assets must have been built into the fresh warehouse")
      // "new JVM": drop the in-memory paths; resolution must LOAD
      Dedup.dropInMemoryNgramTables()
      val idx2 = Dedup.corpusNgramIndex(spark, sf).orderBy("doc_id")
        .select("doc_id", "n").as[(Long, Int)].collect().toSeq
      val df2 = Dedup.corpusGramDf(spark, sf).count()
      assert(Dedup.ngramAssetBuilds.get() == builds,
        "fresh-JVM resolution must load the published asset, not rebuild")
      assert(idx2 == idx1 && df2 == df1, "loaded assets must be identical")
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      Dedup.dropInMemoryNgramTables()
    }
  }

  test("exact dedup keeps one row per duplicated content, min id wins") {
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "other"), (4L, "same text")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, Seq(col("text")), col("doc_id"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "same text"), (3L, "other")))
  }

  test("exact dedup drops rows with null ids, never emits an all-null row") {
    // a digest group whose ids are ALL null must vanish (not surface as
    // a null struct expanded to an all-null row), and a null-id row must
    // never beat a real id as the kept representative
    val df = Seq(
      (Some(5L), "kept"), (None: Option[Long], "kept"),
      (None: Option[Long], "ghost"), (None: Option[Long], "ghost")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, Seq(col("text")), col("doc_id"))
      .as[(Option[Long], String)].collect().toSeq
    assert(out == Seq((Some(5L), "kept")))
  }

  test("minhash LSH finds the near-identical pair, not the disjoint one") {
    // 1 and 2 differ by one trailing word (near-dup, not byte-identical —
    // byte-identical clones collapse to a representative before banding)
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, shingleK = 2, numHashes = 64, bands = 16)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.7 })
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("minhash collapses exact dups before banding (no quadratic self-bucket)") {
    // 8 copies of every doc: without representative-collapse this yields
    // >= 8*7/2 candidate pairs per doc; with it, exact clones contribute
    // exactly one representative and ZERO intra-clone pairs
    val docs = Tables.documents(spark, sf)
    val cloned = (0 until 8).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text"))
    ).reduce(_ unionByName _)
    val pairs = Dedup.minhashPairs(cloned, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val basePairs = Dedup.minhashPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == basePairs.length,
      s"clone blowup: ${pairs.length} vs ${basePairs.length} pairs")
    // every reported pair is between representatives (min-id copies)
    assert(pairs.forall { case (a, b, _) => a < 1000000L && b < 1000000L })
  }

  test("minhash finds the corpus's planted near-duplicates with high jaccard") {
    val pairs = Dedup.minhashPairs(Tables.documents(spark, sf), threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "expected planted near-dups at sf0.001")
    assert(pairs.forall(_._3 >= 0.5))
  }

  test("ngram pairs identical with a precomputed SUPERSET corpus df table") {
    // the amortization path: curation runs the exact join over the
    // exact-dedup survivors but reuses the corpus-wide df table — the
    // prefix lemma needs only a consistent shingle order, so the
    // verified pair set must be bit-identical to the self-computed one
    val full = Tables.documents(spark, sf)
    val subset = full.filter(col("doc_id") % 2 === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val self = Dedup.ngramJaccardPairs(subset, k = 3, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val amortized = Dedup
      .ngramJaccardPairs(subset, 3, 0.2, Some(Dedup.gramDf(full, 3)))
      .as[(Long, Long, Double)].collect().toSet
    assert(amortized == self)
    // the indexed path curation uses: corpus-wide index semi-joined to
    // the subset's ids must verify to the same pair set
    val indexed = Dedup
      .ngramJaccardPairsIndexed(
        Dedup.ngramIndex(full, 3).join(subset.select("doc_id"), Seq("doc_id"), "left_semi"),
        0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == self)
    subset.unpersist()
  }

  test("corpusGramDf materializes once per (dir, k) and re-reads the same table") {
    val a = Dedup.corpusGramDf(spark, sf, 3)
    val b = Dedup.corpusGramDf(spark, sf, 3)
    assert(a.inputFiles.nonEmpty && a.inputFiles.toSeq == b.inputFiles.toSeq,
      "same key must read the same materialized files")
    assert(Dedup.corpusGramDf(spark, sf, 4).inputFiles.toSeq != a.inputFiles.toSeq,
      "different k is a different table")
    // content equals a fresh computation — df AND first_doc columns
    val fresh = Dedup.gramDf(Tables.documents(spark, sf), 3)
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(a.as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap == fresh)
    // first_doc is internally consistent: it is one of the docs the
    // gram occurs in, and a df=1 gram's first_doc is its only doc
    val docs = Tables.documents(spark, sf)
    val byGram = docs
      .select(col("doc_id"),
        explode(graft.functions.sketch.tokenShingles(col("text"), 3)).as("g"))
      .as[(Long, String)].collect().groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    fresh.foreach { case (g, (_, fd)) =>
      assert(byGram(g) == fd, s"first_doc mismatch for gram '$g'")
    }
  }

  test("exact ngram jaccard join equals brute-force all-pairs jaccard") {
    val docs = Tables.documents(spark, sf).limit(100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val got = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    // brute force: shingle sets to the driver, all pairs
    val sh = docs
      .select(col("doc_id"), sketch.shingleSet(text.tokens(col("text")), 3).as("s"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, s) => (id, s.toSet) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = sa.intersect(sb).size
      if inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.1
    } yield (a, b, j)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("cosineAllPairs is exact: superset of any LSH bucketing, matches brute force") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineAllPairs(emb, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDup(emb, threshold = 0.2, bits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH found a pair the exact scan missed")
    // spot-check one pair's cosine against a driver-side computation
    val rows = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap
    exact.headOption.foreach { case (a, b) =>
      val (va, vb) = (rows(a), rows(b))
      val dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val cos = dot / (math.sqrt(va.map(x => x.toDouble * x).sum) * math.sqrt(vb.map(x => x.toDouble * x).sum))
      assert(cos >= 0.2 - 1e-9, s"pair ($a,$b) below threshold: $cos")
    }
  }

  test("winnow pairs find the high-jaccard planted near-dups") {
    import graft.operators.{Dedup, TextAnalysis}
    val winnow = TextAnalysis.winnowPairs(Tables.documents(spark, sf))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // strong textual near-dups (exact ngram jaccard >= 0.8) must be
    // caught by fingerprint containment too: a 0.8-jaccard pair shares
    // long substrings, and shared substrings >= k+w-1 share fingerprints
    val strong = Dedup.ngramJaccardPairs(Tables.documents(spark, sf), threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strong.nonEmpty, "expected planted strong near-dups")
    val missed = strong.diff(winnow)
    assert(missed.isEmpty, s"winnow missed strong near-dups: $missed")
  }

  test("simhash: identical token multisets collide at hamming 0; disjoint don't match") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "uno dos tres cuatro cinco seis siete ocho")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df).as[(Long, Long, Long)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
  }

  test("winnowing guarantee: shared long substring => shared fingerprint") {
    val common = "the quick brown fox jumps over the lazy dog repeatedly"
    val df = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"totally different beginning $common and another ending"),
      (3L, "no overlap whatsoever in this completely unrelated sentence")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), sketch.winnow(col("text"), 8, 4).as("fp"))
      .as[(Long, Array[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty, "shared substring must share a fingerprint")
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty, "unrelated texts should not collide")
  }

  test("vec.cosine: orthogonal=0, identical=1, opposite=-1; zero vector safe") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 2f), Array(1f, 2f), 1.0),
      (Array(1f, 0f), Array(-1f, 0f), -1.0),
      (Array(0f, 0f), Array(1f, 1f), 0.0)
    ).toDF("a", "b", "want")
    val got = df.select(vec.cosine(col("a"), col("b")).as("c"), col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (c, want) => assert(math.abs(c - want) < 1e-9, s"got $c want $want") }
  }

  test("brute-force topk: nearest vector is the near-identical one") {
    val corpus = Seq(
      (10L, Array(1f, 0f, 0f)),
      (11L, Array(0.99f, 0.1f, 0f)),
      (12L, Array(0f, 1f, 0f)),
      (13L, Array(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1f, 0f, 0f))).toDF("query_id", "q_vec")
    val top = Similarity.bruteForceTopK(queries, corpus, k = 2)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(top.head == 11L)
  }

  test("annLsh recall vs brute force is usable on the real corpus") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val bf = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.annLsh(queries, emb, 5, bits = 4, tables = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.3, s"recall@5 too low: $recall")
  }

  test("annIvf recall vs brute force is usable on the real corpus") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val bf = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(queries, emb, 5, nlist = 16, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.2, s"ivf recall@5 too low: $recall")
    // every query must still return k results (probing can't starve output)
    assert(ivf.groupBy(_._1).forall(_._2.size == 5))
  }

  test("bounded top-k aggregate equals the window formulation on real data") {
    import graft.operators.Relational
    val viaAgg = Relational.qTopNPerGroupAgg(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val viaWindow = Relational.qTopNPerGroup(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaAgg == viaWindow)
  }

  test("TopKBuffer: insert/merge match a sort-based reference (randomized)") {
    import graft.functions.TopKBuffer
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def prop(p: Prop): Unit = {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
      assert(res.passed, res.status.toString)
    }
    prop(Prop.forAll(
      Gen.listOf(Gen.zip(Gen.choose(-5.0, 5.0), Gen.choose(-100L, 100L))),
      Gen.choose(1, 8)
    ) { (rows, k) =>
      // reference: full sort by (ord desc, tie asc), take k
      val want = rows.sortBy { case (o, t) => (-o, t) }.take(k)
      // split arbitrarily into two partial buffers, then merge
      val (l, r) = rows.splitAt(rows.length / 2)
      val a = new TopKBuffer(k); l.foreach { case (o, t) => a.insert(o, t) }
      val b = new TopKBuffer(k); r.foreach { case (o, t) => b.insert(o, t) }
      a.mergeIn(b)
      val got = (0 until a.size).map(i => (a.ords(i), a.ties(i))).toList
      got == want
    })
  }

  test("tokenWindowHashes: window counts and equality classes match the token windows") {
    import graft.functions.{sketch, text}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // same adversarial-whitespace corpus shape as the shingle property:
    // the kernel must agree with split(trim(text), '\s+') coordinates
    val tok = Gen.oneOf(Seq("a", "bb", "ccc", "a.b", "xy", "Z9", "_", "é", "tok"))
    val sep = Gen.oneOf(Seq(" ", "  ", "\t", "\n", "", "\f", "\r", " \t "))
    val doc = for {
      pad1 <- Gen.oneOf(Seq("", " ", "\t"))
      n <- Gen.choose(0, 10)
      ws <- Gen.listOfN(n, tok)
      ss <- Gen.listOfN(n, sep)
      pad2 <- Gen.oneOf(Seq("", " ", "\n"))
    } yield pad1 + ws.zip(ss).map { case (w, s) => w + s }.mkString + pad2
    val p = Prop.forAll(Gen.listOfN(10, doc), Gen.choose(2, 5)) { (texts, k) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(
          col("id"),
          sketch.tokenWindowHashes(col("text"), k).as("hs"),
          text.tokens(col("text")).as("t"))
        .as[(Long, Seq[Long], Seq[String])].collect()
      val countsOk =
        rows.forall { case (_, hs, t) => hs.length == math.max(0, t.length - k + 1) }
      // equal windows <-> equal hashes: the PARTITION of (doc, pos)
      // occurrences induced by kernel hashes must equal the partition
      // induced by the reconstructed window text
      val occ = rows.toSeq.flatMap { case (id, hs, t) =>
        hs.zipWithIndex.map { case (h, p) => ((id, p), h, t.slice(p, p + k).mkString(" ")) }
      }
      val byHash = occ.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      val byText = occ.groupBy(_._3).values.map(_.map(_._1).toSet).toSet
      countsOk && byHash == byText
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("scrubJoin kernel equals the filter+array_contains HOF twin") {
    import graft.functions.{sketch, text}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // same adversarial-whitespace docs as the window-hash property, plus
    // removal sets with duplicates and out-of-range positions (no-ops on
    // both sides; the kernel must also tolerate them)
    val tok = Gen.oneOf(Seq("a", "bb", "ccc", "a.b", "xy", "Z9", "_", "é", "tok"))
    val sep = Gen.oneOf(Seq(" ", "  ", "\t", "\n", "", "\f", "\r", " \t "))
    val doc = for {
      pad1 <- Gen.oneOf(Seq("", " ", "\t"))
      n <- Gen.choose(0, 10)
      ws <- Gen.listOfN(n, tok)
      ss <- Gen.listOfN(n, sep)
      pad2 <- Gen.oneOf(Seq("", " ", "\n"))
    } yield pad1 + ws.zip(ss).map { case (w, s) => w + s }.mkString + pad2
    val rem = Gen.listOf(Gen.choose(-2, 14))
    val p = Prop.forAll(Gen.listOfN(12, Gen.zip(doc, rem))) { rows =>
      val df = rows.zipWithIndex
        .map { case ((t, r), i) => (i.toLong, t, r.sorted) }
        .toDF("id", "text", "rem")
        .select(
          sketch.scrubJoin(col("text"), col("rem")).as("kernel"),
          expr("array_join(filter(split(trim(text), '\\\\s+'), " +
            "(tok, i) -> NOT array_contains(rem, i)), ' ')").as("hof"))
      df.filter(col("kernel") =!= col("hof")).count() == 0L
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
    // null-element removal entries are skipped, not matched
    val one = Seq((1L, "a b c", Seq[Option[Int]](None, Some(1))))
      .toDF("id", "text", "rem")
      .select(sketch.scrubJoin(col("text"), col("rem")).as("out"))
      .as[String].collect().head
    assert(one == "a c")
  }

  test("fused tokenShingles equals sort_array(shingleSet(tokens)); merge intersect equals array_intersect") {
    import graft.functions.{sketch, text}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // adversarial whitespace: tabs, newlines, vertical tab, form feed,
    // CR, runs of separators, control chars inside tokens, short docs
    val tok = Gen.oneOf(Seq("a", "bb", "ccc", "a.b", "xy", "Z9", "_", "é", "longertoken"))
    val sep = Gen.oneOf(Seq(" ", "  ", "\t", "\n", "", "\f", "\r", " \t ", "\r\n"))
    val doc = for {
      pad1 <- Gen.oneOf(Seq("", " ", " ", "\t\t"))
      ws <- Gen.listOfN(8, tok)
      ss <- Gen.listOfN(8, sep)
      pad2 <- Gen.oneOf(Seq("", " ", " ", "\n"))
    } yield pad1 + ws.zip(ss).map { case (w, s) => w + s }.mkString + pad2
    val p = Prop.forAll(Gen.listOfN(12, doc), Gen.choose(1, 4)) { (texts, k) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .select(
          sketch.tokenShingles(col("text"), k).as("fused"),
          sort_array(sketch.shingleSet(text.tokens(col("text")), k)).as("composed"),
          text.tokenCount(col("text")).as("kcount"),
          text.tokenCountComposed(col("text")).as("ccount")
        )
      df.filter(
        not(col("fused") === col("composed")) || col("kcount") =!= col("ccount")
      ).count() == 0L
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
    // merge intersect over sorted distinct arrays == hash-based intersect
    val arr = Gen.listOf(Gen.oneOf(Seq("a", "b", "c", "d", "ee", "f g", "")))
    val p2 = Prop.forAll(Gen.listOfN(10, Gen.zip(arr, arr))) { rows =>
      val df = rows.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a.distinct.sorted, b.distinct.sorted) }
        .toDF("id", "a", "b")
        .select(
          sketch.sortedIntersectCount(col("a"), col("b")).as("merged"),
          size(array_intersect(col("a"), col("b"))).as("hashed")
        )
      df.filter(col("merged") =!= col("hashed")).count() == 0L
    }
    val res2 = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p2)
    assert(res2.passed, res2.status.toString)
  }

  test("prefix filtering bounds candidates under a corpus-common shingle") {
    // every doc shares one boilerplate phrase (a shingle with df = n);
    // a naive inverted index would emit n(n-1)/2 candidate pairs from
    // that key alone — the prefix index must exclude it structurally
    val n = 80
    val docs = (1 to n).map { i =>
      (i.toLong, s"lorem ipsum dolor u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h u${i}i u${i}j")
    }.toDF("doc_id", "text")
    val sh = docs.select(
      col("doc_id"),
      graft.functions.sketch.shingleSet(graft.functions.text.tokens(col("text")), 3).as("s")
    )
    val candidates = graft.operators.Dedup.prefixCandidates(sh, threshold = 0.5).count()
    assert(candidates < n.toLong, s"prefix index leaked the hot shingle: $candidates candidates")
    // and the exact answer is preserved: no pair is at jaccard >= 0.5
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5)
    assert(pairs.count() == 0)
  }

  test("saltedJoin equals plain join, spreads the hot key") {
    import graft.engine.Skew
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i)).toDF("k", "v")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "tag")
    val plain = big.join(small, Seq("k")).select("k", "v", "tag")
      .as[(String, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), salt = 4)
      .select("k", "v", "tag").as[(String, Int, String)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._1 == "hot") == 100)
  }

  test("saltedJoin salt assignment is a pure function of row content") {
    import graft.engine.Skew
    val rows = (1 to 500).map(i => (s"k${i % 7}", i))
    def salts(parts: Int): Map[(String, Int), Long] = {
      val df = rows.toDF("k", "v").repartition(parts)
      df.withColumn("__salt", Skew.saltExpr(Seq("k", "v"), 8))
        .as[(String, Int, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    }
    // identical (row -> salt) mapping under any input partitioning —
    // the determinism a task retry / replay depends on
    assert(salts(1) == salts(13))
    assert(salts(13).values.toSet.size > 1, "salt must actually spread rows")
  }

  test("bpe token count: words, digits, punctuation split") {
    val df = Seq((1L, "hello, world! x2")).toDF("id", "t")
    // tokens: hello , world ! x 2  -> 6
    val got = df.select(graft.functions.text.bpeTokenCount(col("t"))).as[Int].collect()
    assert(got.head == 6)
  }

  test("approx stats bounded against exact: HLL within 10%, median within 5%") {
    // qApproxStats emits the bound checks as boolean columns (that is
    // what makes a sketch oracle-checkable); they must all hold
    val rows = graft.operators.Relational.qApproxStats(spark, sf)
      .select("exact_parts", "parts_ok", "median_ok")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (exact, partsOk, medianOk) =>
      assert(exact > 0)
      assert(partsOk, "approx_count_distinct outside 10% of exact")
      assert(medianOk, "percentile_approx median outside 5% of exact")
    }
  }

  test("text.tokens handles blank and multi-space input") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "a  b\tc"), (4L, " x ")).toDF("id", "t")
    val got = df.select(col("id"), text.tokenCount(col("t"))).as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 3, 4L -> 1))
  }

  test("text.shingles: fewer tokens than k yields empty, not descending sequence") {
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("id", "t")
    val got = df.select(col("id"), text.shingles(col("t"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L).isEmpty)
    assert(got(2L) == Seq("a b c", "b c d"))
  }

  test("prefix filtering: lemma bound survives float thresholds (t=0.8, J=4/5 pair)") {
    // J(A,B) = 4/5 = 0.8 >= t. The lemma prefix for |A|=5 at t=0.8 is
    // 5 - ceil(4) + 1 = 2; interpolating the Scala double 1.0-0.8
    // (0.1999...96) gave floor(0.999...)+1 = 1 — A then indexed only its
    // unique shingle, B only s1, and the qualifying pair vanished from
    // an operator documented EXACT
    val sh = Seq(
      (1L, Seq("x", "s1", "s2", "s3", "s4")),
      (2L, Seq("s1", "s2", "s3", "s4"))
    ).toDF("doc_id", "s")
    val cands = Dedup.prefixCandidates(sh, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)), s"J=0.8 pair must be a candidate, got $cands")
  }

  test("lineStats: per-doc dup-line fractions over genuinely multi-line docs") {
    val docs = Seq(
      (1L, "header\nunique one\nfooter"),
      (2L, "header\nunique two\nfooter"),
      (3L, "only unique here\n\n   \nrepeated inside\nrepeated inside"),
      (4L, null.asInstanceOf[String]) // null text: no lines, drops out
    ).toDF("doc_id", "text")
    val got = Dedup.lineStats(docs)
      .select("doc_id", "n_lines", "n_dup_lines")
      .as[(Long, Long, Long)].collect()
      .map { case (id, nl, nd) => id -> ((nl, nd)) }.toMap
    // doc 1/2: header+footer shared (2 dup lines of 3); blank lines dropped;
    // doc 3: within-doc repeats count as duplicated lines too
    assert(got == Map(1L -> (3L, 2L), 2L -> (3L, 2L), 3L -> (3L, 2L)))
  }

  test("substringSpans: cross-doc duplicated windows merge into maximal spans") {
    // docs 1 and 2 share the 5-token span "s1..s5" at different offsets;
    // with k=4 that is two overlapping duplicated windows per doc, which
    // must merge into ONE span of 5 tokens. doc 3 shares nothing.
    val df = Seq(
      (1L, "u1 u2 s1 s2 s3 s4 s5 t1 t2"),
      (2L, "s1 s2 s3 s4 s5 w1 w2 w3 w4"),
      (3L, "a1 a2 a3 a4 a5 a6 a7 a8 a9")
    ).toDF("doc_id", "text")
    val got = Dedup.substringSpans(df, k = 4)
      .select("doc_id", "n_spans", "dup_tokens", "first_pos")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(1L -> (1L, 5L, 2L), 2L -> (1L, 5L, 0L)))
  }

  test("substringSpans: disjoint shared spans stay separate, touching spans merge") {
    // doc 1 vs 2 share span A (tokens 0..3); doc 1 vs 3 share span B —
    // placed with a 1-token gap after A in doc 1, so doc 1 reports TWO
    // spans. In doc 4 the same two spans touch back-to-back (duplicated
    // windows at pos 0 and pos k — contiguous coverage) and merge to ONE.
    val spanA = "p1 p2 p3 p4"
    val spanB = "q1 q2 q3 q4"
    val df = Seq(
      (1L, s"$spanA gap $spanB"),
      (2L, s"$spanA z1 z2 z3 z4 z5"),
      (3L, s"y1 y2 y3 y4 y5 $spanB"),
      (4L, s"$spanA $spanB x1")
    ).toDF("doc_id", "text")
    val got = Dedup.substringSpans(df, k = 4)
      .select("doc_id", "n_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (2L, 8L))
    assert(got(4L) == (1L, 8L))
  }

  test("substringSpans: kernel and composed window paths agree end-to-end") {
    // real corpus + a planted pair exercising the tokenization quirks
    // (leading tab -> leading empty token; interior separator runs)
    val quirks = Seq(
      (9000001L, "\tq1 q2\t\tq3  q4 q5 q6 q7 q8 q9"),
      (9000002L, "\tq1 q2 q3 q4 q5 q6 q7 q8 q9 tail")
    ).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").unionByName(quirks)
    val viaKernel = Dedup.substringSpans(docs, k = 8, kernel = true)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaComposed = Dedup.substringSpans(docs, k = 8, kernel = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaKernel == viaComposed)
    assert(viaKernel.nonEmpty)
    // the quirk docs share a 9-token prefix window set in SHIFTED
    // positions (doc 1's double-tab glues nothing: \s+ collapses runs)
    assert(viaKernel.exists(_._1 == 9000001L))
  }

  test("substringSpans: within-doc repetition alone is not a duplicated span") {
    // the repeated window lives only in doc 1 — cross-doc contract says
    // no span (doc_repetition covers within-doc repeats)
    val df = Seq(
      (1L, "r1 r2 r3 r4 m1 r1 r2 r3 r4"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8 b9")
    ).toDF("doc_id", "text")
    assert(Dedup.substringSpans(df, k = 4).count() == 0L)
  }

  test("substringScrub: min-doc owner keeps its text, later docs lose the span") {
    // doc 1 owns the shared 4-token window (min id); doc 2 loses it and
    // keeps only its unique tail; doc 3 untouched (n_removed 0)
    val df = Seq(
      (1L, "s1 s2 s3 s4 a1 a2"),
      (2L, "s1 s2 s3 s4 b1 b2"),
      (3L, "c1 c2 c3 c4 c5 c6")
    ).toDF("doc_id", "text")
    val got = Dedup.substringScrub(df, k = 4)
      .select("doc_id", "n_tokens", "n_removed", "clean_fp")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == (6L, 0L, fp("s1 s2 s3 s4 a1 a2")))
    assert(got(2L) == (6L, 4L, fp("b1 b2")))
    assert(got(3L) == (6L, 0L, fp("c1 c2 c3 c4 c5 c6")))
    // an exact-dup doc of the owner loses EVERYTHING
    val dfDup = df.unionByName(Seq((4L, "s1 s2 s3 s4 a1 a2")).toDF("doc_id", "text"))
    val g4 = Dedup.substringScrub(dfDup, k = 4)
      .filter(col("doc_id") === 4L)
      .select("n_removed", "clean_fp").as[(Long, String)].head()
    assert(g4 == (6L, fp("")))
  }

  test("leakageMatrix: window copies attribute to (owner source -> dup source)") {
    // doc 1 (srcA) owns the shared window; docs 2 and 3 (srcB) copy it
    // (2 window occurrences, 2 distinct docs); doc 4 (srcA) also copies
    // it -> within-source leak row. doc 5 shares nothing.
    val df = Seq(
      (1L, "srcA", "s1 s2 s3 s4 a1 a2"),
      (2L, "srcB", "x1 s1 s2 s3 s4 x2"),
      (3L, "srcB", "s1 s2 s3 s4 y1 y2"),
      (4L, "srcA", "z1 z2 s1 s2 s3 s4"),
      (5L, "srcC", "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.leakageMatrix(df, k = 4)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(
      ("srcA", "srcA") -> ((1L, 1L)),
      ("srcA", "srcB") -> ((2L, 2L))))
  }

  test("tokenBudget: greedy per-source fill admits while under budget") {
    // equal-sized docs make the kept COUNT order-independent: budget 5
    // with 3-token docs admits cum_before 0 and 3 (overflow tolerance),
    // rejects 6+ regardless of hash order
    val docs = (1L to 6L).map(i => (i, "srcA", s"a$i b$i c$i")) ++
      (7L to 8L).map(i => (i, "srcB", s"d$i e$i f$i"))
    val df = docs.toDF("doc_id", "source", "text")
    val out = TextAnalysis.tokenBudget(df, Map("srcA" -> 5L), defaultBudget = 100L)
      .select("doc_id", "source", "n_tokens", "cum_before")
      .as[(Long, String, Long, Long)].collect()
    assert(out.count(_._2 == "srcA") == 2)
    assert(out.count(_._2 == "srcB") == 2) // under default budget, all kept
    assert(out.filter(_._2 == "srcA").map(_._4).sorted.toSeq == Seq(0L, 3L))
    // kept set is the md5-order prefix: recompute the greedy fill locally
    val hashed = df.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .as[(Long, String, String)].collect()
    val expectA = hashed.filter(_._2 == "srcA").sortBy(r => (r._3, r._1))
      .zipWithIndex.filter { case (_, i) => i * 3 < 5 }.map(_._1._1).toSet
    assert(out.filter(_._2 == "srcA").map(_._1).toSet == expectA)
  }

  test("semDedup: near-identical co-clustered vectors dedup to the min id") {
    val e = (v: Seq[Double]) => v.map(_.toFloat).toArray
    val df = Seq(
      // label-0 cluster around (1,0,0,0): 10 and 11 are near-identical
      (10L, e(Seq(1.0, 0.0, 0.0, 0.0)), 0),
      (11L, e(Seq(0.999, 0.001, 0.0, 0.0)), 0),
      (12L, e(Seq(0.7, 0.7, 0.05, 0.0)), 0), // same cluster, cos ~0.7 to v10: kept
      // label-1 cluster far away on a different axis
      (20L, e(Seq(0.0, 0.0, 1.0, 0.0)), 1),
      (21L, e(Seq(0.0, 0.0, 0.0, 1.0)), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(df, threshold = 0.95)
      .select("vec_id", "verdict").as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "kept", 11L -> "dup", 12L -> "kept", 20L -> "kept", 21L -> "kept"))
  }

  test("semDedupKmeans: near-identical vectors co-cluster and dedup; k caps the cluster ids") {
    val e = (v: Seq[Double]) => v.map(_.toFloat).toArray
    val df = Seq(
      (10L, e(Seq(1.0, 0.0, 0.0, 0.0))),
      (11L, e(Seq(0.999, 0.001, 0.0, 0.0))), // ~identical to 10: must drop
      (12L, e(Seq(0.7, 0.7, 0.05, 0.0))),
      (20L, e(Seq(0.0, 0.0, 1.0, 0.0))),
      (21L, e(Seq(0.0, 0.0, 0.0, 1.0)))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedupKmeans(df, k = 2, threshold = 0.95)
      .select("vec_id", "verdict").as[(Long, String)].collect().toMap
    assert(got(11L) == "dup", s"near-identical pair survived: $got")
    assert(got.removed(11L).values.forall(_ == "kept"), s"over-eager dedup: $got")
  }

  test("semDedupKmeans: k bounds the cluster space over the corpus (pairwise size bound)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.semDedupKmeans(emb, k = 8, threshold = 0.35)
    val sizes = out.groupBy("cluster").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect()
    val total = emb.filter(col("embedding").isNotNull).count()
    assert(sizes.map(_._2).sum == total, "every vector gets exactly one verdict row")
    assert(sizes.forall { case (c, _) => c >= 0 && c < 8 }, s"cluster id outside [0, k): $sizes")
    // the method's cost contract: k genuinely partitions the corpus, so
    // no cluster's quadratic pairwise stage degenerates to all-pairs
    assert(sizes.length > 1 && sizes.map(_._2).max < total,
      s"k=8 failed to split the corpus: $sizes")
  }

  test("oovScore: OOV fraction against the corpus top-K vocabulary") {
    val docs = Seq(
      (1L, "the the the cat"),
      (2L, "the dog"),
      (3L, "zebra quux")
    ).toDF("doc_id", "text")
    // vocab of size 2 = {the (5x), cat|dog ties -> 'cat' by term asc}
    val got = TextAnalysis.oovScore(docs, vocabSize = 2)
      .select("doc_id", "n_tokens", "n_oov")
      .as[(Long, Long, Long)].collect()
      .map { case (id, nt, no) => id -> ((nt, no)) }.toMap
    assert(got == Map(1L -> (4L, 0L), 2L -> (2L, 1L), 3L -> (2L, 2L)))
  }

  test("ngram incremental: both paths equal the full exact join restricted to old x new") {
    import org.apache.spark.sql.functions._
    // the exactness argument: prefix candidates under ANY single shared
    // df order (corpus order for the asset-sliced query; old-corpus
    // order with the df=1 fallback for the ingest-batch path) are a
    // superset of qualifying cross pairs, and verification is exact
    // Jaccard — so both must equal dedup_ngram's corpus-wide pair set
    // cut to (old, new) sides
    val docs = Tables.documents(spark, sf)
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val want = Dedup.ngramJaccardQuery(spark, sf)
      .filter(col("id_a") < cut && col("id_b") >= cut)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(want.nonEmpty, "sf0.001 must yield at least one cross-side near-dup pair")
    val gotQuery = Dedup.ngramIncrementalQuery(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(gotQuery == want, s"asset-sliced path disagrees: got ${gotQuery.size}, want ${want.size}")
    val oldDocs = docs.filter(col("doc_id") < cut)
    val dfT = Dedup.gramDf(oldDocs, 3)
    val gotBatch = Dedup.ngramIncrementalPairs(
      Dedup.ngramIndex(oldDocs, 3, Some(dfT)),
      docs.filter(col("doc_id") >= cut), dfT, k = 3, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(gotBatch == want, s"ingest-batch path disagrees: got ${gotBatch.size}, want ${want.size}")
  }

  test("property: cdc chunks are a lossless in-order cover for arbitrary text") {
    import graft.functions.sketch
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // include whitespace, repeats, and short strings — the chunker must
    // reassemble EVERY input exactly, whatever the boundary density
    val genText = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '\t', '\n', 'a'))).map(_.mkString)
    val p = Prop.forAllNoShrink(Gen.listOfN(25, genText)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = df.select(col("doc_id"), sketch.cdcChunks(col("text"), 8, 16).as("cs"))
        .as[(Long, Seq[String])].collect().toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val cs = got(i.toLong)
        cs.mkString == t && (t.isEmpty == cs.isEmpty) && cs.forall(_.nonEmpty)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), p)
    assert(res.passed, res.status.toString)
  }

  test("cdc chunks: lossless cover, boundary rule exact, and edit-locality vs fixed blocks") {
    import graft.functions.sketch
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // an insertion near the FRONT shifts every fixed-width block, but
    // CDC boundaries after the edit neighborhood re-align — the whole
    // point of content-defined chunking
    val edited = base.substring(0, 10) + "XYZ" + base.substring(10)
    val df = Seq((1L, base), (2L, edited), (3L, "short")).toDF("doc_id", "text")
    val chunks = df.select(col("doc_id"), sketch.cdcChunks(col("text"), 8, 64).as("cs"))
      .as[(Long, Seq[String])].collect().toMap
    // lossless: chunks concatenate back to the text, in order
    assert(chunks(1L).mkString == base)
    assert(chunks(2L).mkString == edited)
    assert(chunks(3L) == Seq("short")) // shorter than k: one whole-text chunk
    // boundary rule matches a driver-side reference on the gram hashes
    val grams = (0 to base.length - 8).map { s =>
      base.substring(s, s + 8).foldLeft(0L)((a, c) => a * 31L + c.toLong)
    }
    val ends = grams.zipWithIndex.collect {
      case (h, s) if java.lang.Long.remainderUnsigned(h, 64L) == 0L => s + 7
    }
    val wantLens = (ends :+ (base.length - 1)).distinct
      .foldLeft((List.empty[Int], -1)) { case ((acc, prev), e) => ((e - prev) :: acc, e) }
      ._1.reverse
    assert(chunks(1L).map(_.length) == wantLens)
    // edit-locality: the edited doc shares most chunk digests with base
    val shared = chunks(1L).toSet.intersect(chunks(2L).toSet)
    assert(shared.nonEmpty, "CDC must preserve chunks past the edit")
    assert(shared.map(_.length).sum > base.length / 2,
      s"most content should re-align after a front edit; shared only ${shared.map(_.length).sum} chars")
  }
}
