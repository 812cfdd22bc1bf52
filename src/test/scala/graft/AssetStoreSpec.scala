package graft

import graft.engine.AssetStore

/** Publish/load lifecycle of the durable corpus-asset store: commit
  * marker semantics, build-failure cleanup, and the pre-published
  * short-circuit (the crash/race contracts the PQ and n-gram assets
  * rely on).
  */
class AssetStoreSpec extends SparkSpec {

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_store_spec").toString
    spark.conf.set("spark.graft.index.dir", root)
    try f(root) finally spark.conf.unset("spark.graft.index.dir")
  }

  test("resolve publishes atomically: content lands with the commit marker") {
    withRoot { root =>
      var built = 0
      val dir = AssetStore.resolve(spark, "spec_a", staging => {
        built += 1
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "data.txt"), "payload")
      })
      assert(built == 1 && dir == s"$root/spec_a")
      assert(AssetStore.committed(spark, dir))
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "data.txt")) == "payload")
      // no staging residue
      assert(!new java.io.File(root).listFiles().exists(_.getName.startsWith(".build_")))
    }
  }

  test("a published asset short-circuits: the builder is never invoked again") {
    withRoot { _ =>
      AssetStore.resolve(spark, "spec_b", staging =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "d"), "x"))
      var calls = 0
      val dir2 = AssetStore.resolve(spark, "spec_b", _ => calls += 1)
      assert(calls == 0, "existing committed asset must be served, not rebuilt")
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(dir2, "d")) == "x")
    }
  }

  test("a failing build cleans its staging directory and publishes nothing") {
    withRoot { root =>
      intercept[RuntimeException] {
        AssetStore.resolve(spark, "spec_c", staging => {
          java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "half"), "torn")
          sys.error("builder died mid-write")
        })
      }
      assert(!AssetStore.committed(spark, s"$root/spec_c"))
      assert(!new java.io.File(s"$root/spec_c").exists(), "nothing may be published")
      assert(!new java.io.File(root).listFiles().exists(_.getName.startsWith(".build_")),
        "staging residue must be deleted on failure")
      // and the NEXT resolve builds cleanly
      var built = 0
      AssetStore.resolve(spark, "spec_c", staging => {
        built += 1
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "d"), "ok")
      })
      assert(built == 1)
    }
  }

  test("an UNCOMMITTED directory at the asset path is not served (marker is the contract)") {
    withRoot { root =>
      // simulate a torn publish from a crashed process: dir exists, no marker
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "spec_d"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "spec_d", "half"), "torn")
      assert(!AssetStore.committed(spark, s"$root/spec_d"))
      // resolve must refuse to serve it; with the path occupied and
      // uncommitted it errors loudly rather than reading torn data
      intercept[RuntimeException] {
        AssetStore.resolve(spark, "spec_d", staging =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "d"), "new"))
      }
    }
  }

  test("an un-creatable warehouse falls back to a JVM temp root instead of failing") {
    // parent is a FILE, so the configured root can never be created
    val blocker = java.nio.file.Files.createTempFile("graft_block", "").toString
    spark.conf.set("spark.graft.index.dir", blocker + "/sub")
    try {
      val dir = AssetStore.resolve(spark, "spec_fb", staging =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "d"), "x"))
      assert(AssetStore.committed(spark, dir), "fallback root must still publish")
      assert(!dir.startsWith(blocker), "must not claim the un-creatable root")
    } finally spark.conf.unset("spark.graft.index.dir")
  }

  test("gcStale sweeps rebuilt-corpus assets, old formats and torn staging; keeps live addresses") {
    withRoot { root =>
      // a fake corpus whose fingerprint anchors the LIVE asset
      val corpus = java.nio.file.Files.createTempDirectory("graft_gc_corpus").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(corpus, "t.parquet"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(corpus, "t.parquet", "f"), "v1")
      val fp = AssetStore.corpusFingerprint(spark, corpus, "t.parquet")
      def publish(id: String): Unit = AssetStore.resolve(spark, id, staging =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "d"), "x"))
      val v = AssetStore.FormatVersion
      publish(s"live_k3_v${v}_$fp")
      publish(s"stale_k3_v${v}_${"0" * 16}")   // fingerprint of a rebuilt corpus
      publish(s"oldfmt_k3_v${v - 1}_$fp")      // older layout version
      publish(s"newer_k3_v${v + 1}_$fp")       // rolling upgrade: NOT ours to sweep
      publish("unaddressed_misc")              // no address suffix: never touched
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, ".build_torn"))
      // torn publish at a LIVE address (non-atomic rename crash): dir
      // present, no marker — must be swept once aged, or the address wedges
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, s"tornlive_k3_v${v}_$fp"))
      // default grace: fresh uncommitted dirs may be a publish IN
      // FLIGHT — only the dead-fingerprint committed asset is swept
      val cautious = AssetStore.gcStale(spark, Seq(corpus -> "t.parquet")).sorted
      assert(cautious == Seq(s"stale_k3_v${v}_${"0" * 16}"),
        s"default grace must spare fresh staging/torn dirs and other versions: $cautious")
      // grace elapsed (graceMs=0): torn dirs sweep; older formats still
      // need the explicit opt-in
      val aged = AssetStore.gcStale(spark, Seq(corpus -> "t.parquet"), graceMs = 0L).sorted
      assert(aged == Seq(".build_torn", s"tornlive_k3_v${v}_$fp"),
        s"unexpected aged sweep set: $aged")
      val crossVersion = AssetStore.gcStale(spark, Seq(corpus -> "t.parquet"),
        graceMs = 0L, sweepOlderFormats = true)
      assert(crossVersion == Seq(s"oldfmt_k3_v${v - 1}_$fp"))
      assert(AssetStore.committed(spark, s"$root/live_k3_v${v}_$fp"), "live asset must survive")
      assert(new java.io.File(s"$root/newer_k3_v${v + 1}_$fp").exists,
        "newer-format assets may be in use by upgraded nodes")
      assert(new java.io.File(s"$root/unaddressed_misc").exists, "non-addressed dirs are not ours to delete")
      // corpus rebuild: the previously-live asset becomes sweepable
      java.nio.file.Files.writeString(java.nio.file.Paths.get(corpus, "t.parquet", "f2"), "v2")
      val deleted2 = AssetStore.gcStale(spark, Seq(corpus -> "t.parquet"))
      assert(deleted2 == Seq(s"live_k3_v${v}_$fp"))
    }
  }

  test("knn edge increment: equals the full rebuild on the merged corpus; publishes the merged address") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val oldDir = java.nio.file.Files.createTempDirectory("graft_knninc_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_knninc_new").toString
      val emb = Tables.embeddings(spark, sf)
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      emb.write.parquet(s"$newDir/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        // more hyperplanes than the query default so the batch does NOT
        // touch every standing bucket — the kept-verbatim path must be
        // exercised, not vacuous (asserted below)
        val B = 12
        Similarity.corpusKnnEdges(spark, oldDir, bits = B).count()
        Similarity.corpusBandedEmbeddings(spark, oldDir, bits = B).count()
        val touched = Similarity.corpusBandedEmbeddings(spark, oldDir, bits = B)
          .join(Similarity.corpusBandedEmbeddings(spark, newDir, bits = B)
            .filter(col("vec_id") >= cut).select("t", "b").distinct(), Seq("t", "b"))
          .select("vec_id").distinct().count()
        val oldN = emb.filter(col("vec_id") < cut && col("embedding").isNotNull).count()
        assert(touched < oldN,
          s"degenerate fixture: all $oldN standing sources affected — raise bits")
        def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        val builds0 = Similarity.knnAssetBuilds.get()
        val inc0 = Similarity.knnIncrementBuilds.get()
        val inc = canon(Similarity.corpusKnnEdgesIncrement(spark, oldDir, newDir, bits = B))
        assert(Similarity.knnIncrementBuilds.get() == inc0 + 1)
        assert(Similarity.knnAssetBuilds.get() == builds0,
          "the increment must not fall back to a full rebuild")
        val full = canon(Similarity.knnGraph(Tables.embeddings(spark, newDir), bits = B))
        assert(inc == full, s"increment diverged: ${inc.size} vs ${full.size} rows")
        // the published address is the one every consumer resolves:
        // a fresh handle LOADS the incremented table, builds stay flat
        Similarity.dropInMemoryIndexes()
        val served = canon(Similarity.corpusKnnEdges(spark, newDir, bits = B))
        assert(Similarity.knnAssetBuilds.get() == builds0,
          "consumers must LOAD the incremented asset, not rebuild")
        assert(served == inc)
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("knn increment publish: untouched pt ranges are file-copied forward, O(affected) ranges rewritten") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val oldDir = java.nio.file.Files.createTempDirectory("graft_knncp_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_knncp_new").toString
      val emb = Tables.embeddings(spark, sf)
      // a 10% append (the deployment shape) over narrow ranges, so
      // bucket-untouched ranges exist to copy forward
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) * 9 / 10
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      emb.write.parquet(s"$newDir/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        val B = 12; val W = 16L
        val oldPath = Similarity.corpusKnnEdgesPath(spark, oldDir, bits = B, partWidth = W)
        Similarity.corpusBandedEmbeddings(spark, oldDir, bits = B).count()
        // the affected pt ranges, recomputed the way the publisher
        // derives them: bucket-sharing standing sources plus the batch
        val affectedPts = Similarity.corpusBandedEmbeddings(spark, oldDir, bits = B)
          .join(Similarity.corpusBandedEmbeddings(spark, newDir, bits = B)
            .filter(col("vec_id") >= cut).select("t", "b").distinct(), Seq("t", "b"))
          .select("vec_id")
          .unionByName(emb.filter(col("vec_id") >= cut).select("vec_id"))
          .selectExpr(s"vec_id div $W AS pt").distinct()
          .collect().map(_.getLong(0)).toSet
        def ptFiles(dir: String): Map[Long, Set[(String, Long)]] =
          new java.io.File(dir).listFiles().filter(f => f.isDirectory && f.getName.startsWith("pt="))
            .map(d => d.getName.stripPrefix("pt=").toLong ->
              d.listFiles().filter(_.getName.endsWith(".parquet"))
                .map(f => (f.getName, f.length())).toSet)
            .toMap
        val oldFiles = ptFiles(oldPath)
        val untouchedPts = oldFiles.keySet.diff(affectedPts)
        assert(untouchedPts.nonEmpty,
          s"degenerate fixture: every old range affected (${oldFiles.keySet} vs $affectedPts)")
        val inc = Similarity.corpusKnnEdgesIncrement(spark, oldDir, newDir,
            bits = B, partWidth = W)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        val newPath = Similarity.corpusKnnEdgesPath(spark, newDir, bits = B, partWidth = W)
        val newFiles = ptFiles(newPath)
        // 1. every untouched range's data files moved by COPY: same
        //    names, same bytes — never re-serialized by Spark (a fresh
        //    write generates fresh part-file names)
        untouchedPts.foreach { pt =>
          assert(newFiles.get(pt).contains(oldFiles(pt)),
            s"untouched range pt=$pt must be copied forward verbatim: " +
              s"${oldFiles(pt)} vs ${newFiles.get(pt)}")
        }
        // 2. freshly-written ranges are exactly the affected ones that
        //    hold rows — O(affected), not O(corpus)
        val rewritten = newFiles.keySet.diff(untouchedPts)
        assert(rewritten.subsetOf(affectedPts),
          s"rewrote ranges outside the affected set: ${rewritten.diff(affectedPts)}")
        // 3. and the published table is row-identical to the full
        //    rebuild on the merged corpus
        val full = Similarity.knnGraph(Tables.embeddings(spark, newDir), bits = B)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(inc == full, s"increment diverged: ${inc.size} vs ${full.size} rows")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("pure-append metadata proof: a true append validates with ZERO Spark jobs; mutation stays ambiguous (r17)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { _ =>
      val oldDir = Files.createTempDirectory("graft_meta_old").toString
      val newDir = Files.createTempDirectory("graft_meta_new").toString
      val emb = Tables.embeddings(spark, sf)
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) * 9 / 10
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      // the append shape a log-structured ingest produces: standing
      // files byte-identical (copied with attributes, so the
      // name|len|mtime trust model sees THE SAME files), batch rows
      // landing in NEW files with strictly higher ids
      Files.createDirectories(Paths.get(s"$newDir/embeddings.parquet"))
      Files.list(Paths.get(s"$oldDir/embeddings.parquet")).forEach { p =>
        Files.copy(p, Paths.get(s"$newDir/embeddings.parquet/${p.getFileName}"),
          StandardCopyOption.COPY_ATTRIBUTES)
      }
      val batchTmp = Files.createTempDirectory("graft_meta_batch").toString
      emb.filter(col("vec_id") >= cut).coalesce(1).write.parquet(s"$batchTmp/b.parquet")
      val batchPart = Files.list(Paths.get(s"$batchTmp/b.parquet"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val batchName = s"part-batch-${batchPart.getFileName}"
      Files.move(batchPart, Paths.get(s"$newDir/embeddings.parquet/$batchName"))

      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      def stableJobCount(): Int = {
        var last = -1; var stable = 0
        val deadline = System.nanoTime() + 5000000000L
        while (stable < 3 && System.nanoTime() < deadline) {
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
          Thread.sleep(100)
        }
        jobs.get()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val before = stableJobCount() // drain any in-flight events first
        val meta = AssetStore.pureAppendByMetadata(
          spark, oldDir, newDir, "embeddings.parquet", "vec_id")
        assert(meta.isDefined, "a byte-identical-standing + higher-id batch must be proven")
        assert(meta.get.size == 1 && meta.get.head.endsWith(batchName),
          s"the proof must name exactly the batch file: ${meta.get}")
        assert(stableJobCount() == before,
          "the metadata proof must submit ZERO Spark jobs (listing + footers only)")
      } finally spark.sparkContext.removeSparkListener(listener)

      // r18: the proof memo is LRU-capped — an evicted (or gc-dropped)
      // entry just re-proves on the next consult, identically (the
      // facade-level drop is what a real assets_gc sweep calls)
      assert(AssetStore.appendProofMemoHas(oldDir, newDir, "embeddings.parquet", spark))
      Graft.dropDriverHandleCaches()
      assert(!AssetStore.appendProofMemoHas(oldDir, newDir, "embeddings.parquet", spark))
      val reproved = AssetStore.pureAppendByMetadata(
        spark, oldDir, newDir, "embeddings.parquet", "vec_id")
      assert(reproved.isDefined && reproved.get.size == 1 &&
        reproved.get.head.endsWith(batchName), "re-proof after eviction must be identical")

      // and the increment built over the proven append (batch rows read
      // straight from the proven files, no anti-join) still equals the
      // full rebuild on the merged corpus
      import graft.operators.Similarity
      Similarity.dropInMemoryIndexes()
      try {
        val B = 12
        Similarity.corpusKnnEdges(spark, oldDir, bits = B).count()
        val fb0 = Similarity.knnIncrementFallbacks.get()
        val inc = Similarity.corpusKnnEdgesIncrement(spark, oldDir, newDir, bits = B)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(Similarity.knnIncrementFallbacks.get() == fb0)
        val full = Similarity.knnGraph(Tables.embeddings(spark, newDir), bits = B)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(inc == full, s"metadata-proven increment diverged: ${inc.size} vs ${full.size} rows")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }

      // a mutated standing file (same name, fresh bytes => new mtime/len)
      // must NOT be provable from metadata — the digest join then runs
      // as ground truth (and the existing precondition specs pin that
      // an actual mutation falls back to the full rebuild)
      val mutDir = Files.createTempDirectory("graft_meta_mut").toString
      Files.createDirectories(Paths.get(s"$mutDir/embeddings.parquet"))
      Files.list(Paths.get(s"$newDir/embeddings.parquet")).forEach { p =>
        Files.copy(p, Paths.get(s"$mutDir/embeddings.parquet/${p.getFileName}"),
          StandardCopyOption.COPY_ATTRIBUTES)
      }
      val victim = Files.list(Paths.get(s"$mutDir/embeddings.parquet"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.writeString(victim, "not parquet anymore")
      assert(AssetStore.pureAppendByMetadata(
          spark, oldDir, mutDir, "embeddings.parquet", "vec_id").isEmpty,
        "a rewritten standing file must be ambiguous, never proven")
    }
  }

  test("append proof hardening: same-length same-mtime in-place edit stays ambiguous; trustListing=false forces the digest path (r18)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { _ =>
      // two single-file corpora with the SAME byte length but different
      // id ranges: identical row count, fixed-width columns,
      // uncompressed — only the stored values differ (the coarse-mtime
      // attack: an object store quantizing mtime to 1 s can serve such
      // an edit with an unchanged name|length|mtime triple)
      def corpus(dir: String, idBase: Long): Unit =
        spark.range(10).select((col("id") + idBase).as("vec_id"),
            (col("id") * 2 + idBase).as("label"))
          .coalesce(1).write.option("compression", "none")
          .parquet(s"$dir/t.parquet")
      val oldDir = Files.createTempDirectory("graft_hard_old").toString
      val edited = Files.createTempDirectory("graft_hard_edit").toString
      corpus(oldDir, 0L)
      corpus(edited, 1000L)
      def partFile(d: String) = Files.list(Paths.get(s"$d/t.parquet"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val oldPart = partFile(oldDir)
      val editPart = partFile(edited)
      assume(Files.size(oldPart) == Files.size(editPart),
        "fixture requires byte-length-equal encodings")
      // newDir = oldDir's listing with the edited bytes swapped in at
      // the same name, length AND mtime — invisible to the r17 check
      val newDir = Files.createTempDirectory("graft_hard_new").toString
      Files.createDirectories(Paths.get(s"$newDir/t.parquet"))
      Files.copy(editPart, Paths.get(s"$newDir/t.parquet/${oldPart.getFileName}"))
      Files.setLastModifiedTime(Paths.get(s"$newDir/t.parquet/${oldPart.getFileName}"),
        Files.getLastModifiedTime(oldPart))
      assert(AssetStore.pureAppendByMetadata(
          spark, oldDir, newDir, "t.parquet", "vec_id").isEmpty,
        "a same-length same-mtime in-place edit must be caught by the footer-stats check")

      // and an honest byte-identical copy at the same paths IS proven
      val okDir = Files.createTempDirectory("graft_hard_ok").toString
      Files.createDirectories(Paths.get(s"$okDir/t.parquet"))
      Files.copy(oldPart, Paths.get(s"$okDir/t.parquet/${oldPart.getFileName}"),
        StandardCopyOption.COPY_ATTRIBUTES)
      assert(AssetStore.pureAppendByMetadata(
          spark, oldDir, okDir, "t.parquet", "vec_id").contains(Seq.empty),
        "an unchanged listing with matching footer stats must still prove")

      // the hard override: trustListing=false refuses the metadata
      // proof outright (coarse-mtime stores run the digest ground truth)
      spark.conf.set(AssetStore.TrustListingKey, "false")
      try {
        val amb0 = AssetStore.metadataAppendAmbiguous.get()
        assert(AssetStore.pureAppendByMetadata(
          spark, oldDir, okDir, "t.parquet", "vec_id").isEmpty)
        assert(AssetStore.metadataAppendAmbiguous.get() == amb0 + 1)
      } finally spark.conf.unset(AssetStore.TrustListingKey)
    }
  }

  test("knn increment: an over-budget affected-range set degrades to the merged write, never aborts (r17)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val oldDir = java.nio.file.Files.createTempDirectory("graft_knnsat_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_knnsat_new").toString
      val emb = Tables.embeddings(spark, sf)
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) * 9 / 10
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      emb.write.parquet(s"$newDir/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        val B = 12
        Similarity.corpusKnnEdges(spark, oldDir, bits = B).count()
        // force the saturation pre-check: with a zero budget the range
        // COUNT exceeds it, so the publisher must take the one-job
        // merged write — no driver collect, no budget exception
        val sat0 = Similarity.knnIncrementSaturatedWrites.get()
        val inc0 = Similarity.knnIncrementBuilds.get()
        val inc = Similarity.corpusKnnEdgesIncrement(spark, oldDir, newDir, bits = B,
            affectedPtBudget = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(Similarity.knnIncrementSaturatedWrites.get() == sat0 + 1,
          "the over-budget range set must route through the degraded merged write")
        assert(Similarity.knnIncrementBuilds.get() == inc0 + 1,
          "still the increment path (precondition validated), just the degraded write")
        val full = Similarity.knnGraph(Tables.embeddings(spark, newDir), bits = B)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(inc == full, s"degraded write diverged: ${inc.size} vs ${full.size} rows")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("band increment: every old range copied forward, only batch ranges computed; edge increment co-publishes") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val oldDir = java.nio.file.Files.createTempDirectory("graft_bandinc_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_bandinc_new").toString
      val emb = Tables.embeddings(spark, sf)
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) * 9 / 10
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      emb.write.parquet(s"$newDir/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        val B = 12; val W = 16L
        val oldPath = Similarity.corpusBandedEmbeddingsPath(spark, oldDir, bits = B, partWidth = W)
        def ptFiles(dir: String): Map[Long, Set[(String, Long)]] =
          new java.io.File(dir).listFiles().filter(f => f.isDirectory && f.getName.startsWith("pt="))
            .map(d => d.getName.stripPrefix("pt=").toLong ->
              d.listFiles().filter(_.getName.endsWith(".parquet"))
                .map(f => (f.getName, f.length())).toSet)
            .toMap
        val oldFiles = ptFiles(oldPath)
        val full0 = Similarity.bandedAssetBuilds.get()
        val inc0 = Similarity.bandedIncrementBuilds.get()
        def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        val inc = canon(
          Similarity.corpusBandedEmbeddingsIncrement(spark, oldDir, newDir, bits = B, partWidth = W))
        assert(Similarity.bandedIncrementBuilds.get() == inc0 + 1)
        assert(Similarity.bandedAssetBuilds.get() == full0,
          "a pure append must never trigger a full band rebuild")
        val newPath = Similarity.corpusBandedEmbeddingsPath(spark, newDir, bits = B, partWidth = W)
        val newFiles = ptFiles(newPath)
        // EVERY old range's files ride along verbatim (a boundary range
        // may gain the batch's extra part files — old rows are never
        // superseded, so mixing is row-correct)
        oldFiles.foreach { case (pt, files) =>
          assert(files.subsetOf(newFiles.getOrElse(pt, Set.empty)),
            s"old range pt=$pt must be copied forward verbatim")
        }
        // the batch only wrote its own ranges: strictly-below-boundary
        // old ranges are EXACTLY equal, nothing recomputed there
        val boundary = (cut - 1) / W
        oldFiles.filter(_._1 < boundary).foreach { case (pt, files) =>
          assert(newFiles(pt) == files, s"pre-boundary range pt=$pt was rewritten")
        }
        // row-identity with the full banding of the merged corpus
        Similarity.dropInMemoryIndexes()
        val fullBuilds1 = Similarity.bandedAssetBuilds.get()
        val served = canon(Similarity.corpusBandedEmbeddings(spark, newDir, bits = B, partWidth = W))
        assert(Similarity.bandedAssetBuilds.get() == fullBuilds1,
          "consumers must LOAD the incremented band asset")
        assert(served == inc)
        val fullDir = java.nio.file.Files.createTempDirectory("graft_bandinc_chk").toString
        emb.write.parquet(s"$fullDir/embeddings.parquet")
        val want = canon(Similarity.corpusBandedEmbeddings(spark, fullDir, bits = B, partWidth = W))
        assert(inc == want, s"band increment diverged: ${inc.size} vs ${want.size} rows")

        // --- edge increment co-publishes the band asset: with BOTH
        // asset caches dropped and only the edge increment run, a band
        // load must hit the co-published asset, not rebuild
        val edgeOld = java.nio.file.Files.createTempDirectory("graft_bandinc_eo").toString
        val edgeNew = java.nio.file.Files.createTempDirectory("graft_bandinc_en").toString
        emb.filter(col("vec_id") < cut).write.parquet(s"$edgeOld/embeddings.parquet")
        emb.write.parquet(s"$edgeNew/embeddings.parquet")
        Similarity.corpusKnnEdgesPath(spark, edgeOld, bits = B, partWidth = W)
        Similarity.corpusBandedEmbeddings(spark, edgeOld, bits = B, partWidth = W).count()
        val full2 = Similarity.bandedAssetBuilds.get()
        Similarity.corpusKnnEdgesIncrement(spark, edgeOld, edgeNew, bits = B, partWidth = W).count()
        Similarity.dropInMemoryIndexes()
        Similarity.corpusBandedEmbeddings(spark, edgeNew, bits = B, partWidth = W).count()
        assert(Similarity.bandedAssetBuilds.get() == full2,
          "the edge increment must co-publish the merged band asset")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("simhash signature asset: built once, loaded by every consumer, bit-identical to the raw path") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      Dedup.dropInMemoryNgramTables()
      val docs = Tables.documents(spark, sf)
      val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
      def canon3(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val b0 = Dedup.simhashAssetBuilds.get()
      val pairsViaAsset = canon3(Dedup.simhashQuery(spark, sf))
      assert(Dedup.simhashAssetBuilds.get() == b0 + 1, "first consumer builds the asset")
      val incViaAsset = canon3(Dedup.simhashIncrementalQuery(spark, sf))
      assert(Dedup.simhashAssetBuilds.get() == b0 + 1, "second consumer must load, not rebuild")
      // bit-identical to the raw (no-asset) formulations
      val pairsRaw = canon3(Dedup.simhashPairs(docs)
        .orderBy(asc("hamming"), asc("id_a"), asc("id_b")).limit(200))
      assert(pairsViaAsset == pairsRaw, "asset-served pairs diverged from the raw path")
      val incRaw = canon3(Dedup.simhashIncremental(docs, cut))
      assert(incViaAsset == incRaw, "asset-served increment diverged from the raw path")
      // fresh JVM simulation: handle caches dropped, still no rebuild
      Dedup.dropInMemoryNgramTables()
      assert(canon3(Dedup.simhashQuery(spark, sf)) == pairsViaAsset)
      assert(Dedup.simhashAssetBuilds.get() == b0 + 1, "fresh handles must load the asset")
      spark.catalog.clearCache()
    }
  }

  test("band increment precondition: a mutated vector falls back to the full banding") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val oldDir = java.nio.file.Files.createTempDirectory("graft_bandpre_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_bandpre_new").toString
      val emb = Tables.embeddings(spark, sf)
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      emb.withColumn("embedding",
          when(col("vec_id") === 3L, reverse(col("embedding"))).otherwise(col("embedding")))
        .write.parquet(s"$newDir/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        val B = 12
        Similarity.corpusBandedEmbeddingsPath(spark, oldDir, bits = B)
        val inc0 = Similarity.bandedIncrementBuilds.get()
        def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        val got = canon(Similarity.corpusBandedEmbeddingsIncrement(spark, oldDir, newDir, bits = B))
        assert(Similarity.bandedIncrementBuilds.get() == inc0,
          "the band increment path must NOT run on a non-append delta")
        val chk = java.nio.file.Files.createTempDirectory("graft_bandpre_chk").toString
        Tables.embeddings(spark, newDir).write.parquet(s"$chk/embeddings.parquet")
        val want = canon(Similarity.corpusBandedEmbeddings(spark, chk, bits = B))
        assert(got == want, "the fallback must serve the correct rebuilt bands")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("knn increment precondition: a non-append delta falls back to the full rebuild") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val oldDir = java.nio.file.Files.createTempDirectory("graft_knnpre_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_knnpre_new").toString
      val emb = Tables.embeddings(spark, sf)
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      emb.filter(col("vec_id") < cut).write.parquet(s"$oldDir/embeddings.parquet")
      // NOT a pure append: one standing vector's embedding is replaced
      // under its reused vec_id (the silent-poison case the r16
      // precondition exists to catch)
      emb.withColumn("embedding",
          when(col("vec_id") === 3L, reverse(col("embedding"))).otherwise(col("embedding")))
        .write.parquet(s"$newDir/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        val B = 12
        Similarity.corpusKnnEdgesPath(spark, oldDir, bits = B)
        Similarity.corpusBandedEmbeddings(spark, oldDir, bits = B).count()
        val inc0 = Similarity.knnIncrementBuilds.get()
        val fb0 = Similarity.knnIncrementFallbacks.get()
        val got = Similarity.corpusKnnEdgesIncrement(spark, oldDir, newDir, bits = B)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(Similarity.knnIncrementFallbacks.get() == fb0 + 1,
          "the mutated corpus must trip the pure-append precondition")
        assert(Similarity.knnIncrementBuilds.get() == inc0,
          "the increment path must NOT run on a non-append delta")
        val full = Similarity.knnGraph(Tables.embeddings(spark, newDir), bits = B)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        assert(got == full, "the fallback must serve the correct rebuilt edges")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("mid-session corpus rebuild: every asset family serves the NEW address, same JVM") {
    // The content address was always honest ACROSS JVMs; this pins the
    // same-JVM contract — the handle caches are keyed by fingerprint,
    // recomputed per call, so a rebuilt corpus under the SAME path is
    // picked up without dropInMemory*() or a process restart.
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.functions._
    withRoot { root =>
      val corpus = java.nio.file.Files.createTempDirectory("graft_rebuild_corpus").toString
      Tables.embeddings(spark, sf).write.mode("overwrite")
        .parquet(s"$corpus/embeddings.parquet")
      Tables.documents(spark, sf).write.mode("overwrite")
        .parquet(s"$corpus/documents.parquet")
      Similarity.dropInMemoryIndexes()
      Dedup.dropInMemoryNgramTables()
      try {
        // --- first build against corpus v1
        val knnBuilds0 = Similarity.knnAssetBuilds.get()
        val pqTrain0 = Similarity.pqTrainings.get()
        val ngramBuilds0 = Dedup.ngramAssetBuilds.get()
        val edgesV1 = Similarity.corpusKnnEdges(spark, corpus).collect()
        val pqV1 = Similarity.pqIndex(spark, corpus, m = 8, k = 8)
        val idxV1 = Dedup.corpusNgramIndex(spark, corpus).select("doc_id").distinct().count()
        assert(Similarity.knnAssetBuilds.get() == knnBuilds0 + 1)
        assert(Similarity.pqTrainings.get() == pqTrain0 + 1)
        assert(Dedup.ngramAssetBuilds.get() == ngramBuilds0 + 1)
        // unchanged corpus: second calls hit the handle cache, no rebuild
        Similarity.corpusKnnEdges(spark, corpus).count()
        Similarity.pqIndex(spark, corpus, m = 8, k = 8)
        Dedup.corpusNgramIndex(spark, corpus).count()
        assert(Similarity.knnAssetBuilds.get() == knnBuilds0 + 1, "stable corpus must not rebuild")
        assert(Similarity.pqTrainings.get() == pqTrain0 + 1)
        assert(Dedup.ngramAssetBuilds.get() == ngramBuilds0 + 1)

        // --- REBUILD the corpus in place: keep only even vec_ids / doc_ids
        Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
          .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
        Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
          .write.mode("overwrite").parquet(s"$corpus/documents.parquet")

        // --- NO handle drop: the next calls must observe the rebuild
        val edgesV2 = Similarity.corpusKnnEdges(spark, corpus).collect()
        val pqV2 = Similarity.pqIndex(spark, corpus, m = 8, k = 8)
        val idxV2 = Dedup.corpusNgramIndex(spark, corpus).select("doc_id").distinct().count()
        assert(Similarity.knnAssetBuilds.get() == knnBuilds0 + 2,
          "rebuilt corpus must resolve a NEW knn edge asset in the same JVM")
        assert(Similarity.pqTrainings.get() == pqTrain0 + 2,
          "rebuilt corpus must retrain the PQ index in the same JVM")
        assert(Dedup.ngramAssetBuilds.get() == ngramBuilds0 + 2,
          "rebuilt corpus must rebuild the ngram index in the same JVM")
        assert(pqV2.codesPath != pqV1.codesPath, "new asset => new content address")
        assert(edgesV2.nonEmpty && edgesV2.forall { r =>
          r.getLong(0) % 2 == 0 && r.getLong(2) % 2 == 0
        }, "served edges must come from the REBUILT corpus (even ids only)")
        assert(edgesV1.exists(r => r.getLong(0) % 2 != 0), "v1 edges covered odd ids")
        assert(idxV2 < idxV1, "ngram index must cover the smaller rebuilt corpus")
        // both addresses coexist on disk (content-addressed, never overwritten)
        val knnDirs = new java.io.File(root).listFiles().map(_.getName)
          .filter(_.startsWith("knnedges_"))
        assert(knnDirs.length == 2, s"expected both corpus versions' assets, got ${knnDirs.toSeq}")
      } finally {
        Similarity.dropInMemoryIndexes()
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("minhash signature asset: built once, loaded by every consumer and by fresh JVMs, bit-identical to the raw path") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    withRoot { root =>
      val corpus = java.nio.file.Files.createTempDirectory("graft_mh_corpus").toString
      Tables.documents(spark, sf).write.mode("overwrite")
        .parquet(s"$corpus/documents.parquet")
      Dedup.dropInMemoryNgramTables()
      try {
        val builds0 = Dedup.minhashAssetBuilds.get()
        // asset-served pairs must be BIT-IDENTICAL to the raw-docs path
        // (the asset is a physical change: same oracle, same rows)
        val raw = Dedup.minhashPairs(Tables.documents(spark, corpus), threshold = 0.7)
          .orderBy("id_a", "id_b").collect()
        val served = Dedup.minhashPairsOn(Dedup.corpusMinhashSignatures(spark, corpus),
          threshold = 0.7).orderBy("id_a", "id_b").collect()
        assert(Dedup.minhashAssetBuilds.get() == builds0 + 1)
        assert(raw.toSeq == served.toSeq,
          "asset-served pairs must equal the raw signature path exactly")
        assert(raw.nonEmpty, "vacuous corpus: no near-dup pairs to compare")
        // the other consumers LOAD the same asset — zero further builds
        Dedup.minhashIncrementalOn(Dedup.corpusMinhashSignatures(spark, corpus), 50L).count()
        graft.operators.Clustering.connectedComponents(
          Dedup.minhashPairsOn(Dedup.corpusMinhashSignatures(spark, corpus), threshold = 0.7)
            .select("id_a", "id_b")).count()
        assert(Dedup.minhashAssetBuilds.get() == builds0 + 1,
          "every minhash consumer must share ONE signature build")
        // fresh JVM (handle cache dropped): load, never rebuild
        Dedup.dropInMemoryNgramTables()
        Dedup.corpusMinhashSignatures(spark, corpus).count()
        assert(Dedup.minhashAssetBuilds.get() == builds0 + 1,
          "a fresh JVM must load the committed asset, not rebuild it")
        val names = new java.io.File(root).listFiles().map(_.getName)
          .filter(_.startsWith("minhashsig_"))
        assert(names.length == 1 && names.head.startsWith("minhashsig_k3_h128_v"),
          s"one parameter-addressed signature asset expected: ${names.toSeq}")
        // second rung: the VERIFIED PAIR TABLE materializes once (off
        // the signature asset, no second signature build), serves every
        // graph consumer, and equals the direct computation exactly
        val pairBuilds0 = Dedup.minhashPairBuilds.get()
        val pairRows = Dedup.corpusMinhashPairs(spark, corpus, threshold = 0.7)
          .orderBy("id_a", "id_b").collect()
        assert(pairRows.toSeq == served.toSeq,
          "pair asset must equal the directly-computed pair table")
        Dedup.corpusMinhashPairs(spark, corpus, threshold = 0.7).count()
        assert(Dedup.minhashPairBuilds.get() == pairBuilds0 + 1 &&
          Dedup.minhashAssetBuilds.get() == builds0 + 1,
          "one pair build riding the existing signature asset")
        Dedup.dropInMemoryNgramTables()
        Dedup.corpusMinhashPairs(spark, corpus, threshold = 0.7).count()
        assert(Dedup.minhashPairBuilds.get() == pairBuilds0 + 1,
          "a fresh JVM must load the committed pair asset")
        val pairNames = new java.io.File(root).listFiles().map(_.getName)
          .filter(_.startsWith("minhashpairs_"))
        assert(pairNames.length == 1 && pairNames.head.startsWith("minhashpairs_k3_h128_b32_t700_v"),
          s"threshold-addressed pair asset expected: ${pairNames.toSeq}")
        // corpus rebuild in place: same JVM resolves the NEW address
        Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
          .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
        val ids = Dedup.corpusMinhashSignatures(spark, corpus)
          .select("doc_id").collect().map(_.getLong(0))
        assert(Dedup.minhashAssetBuilds.get() == builds0 + 2,
          "rebuilt corpus must build under a new address in the same JVM")
        assert(ids.forall(_ % 2 == 0), "served signatures must come from the rebuilt corpus")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("bpe merge asset: one training per corpus serves train AND apply; apply-from-asset equals retrain") {
    import graft.operators.TextAnalysis
    withRoot { root =>
      val corpus = java.nio.file.Files.createTempDirectory("graft_bpe_corpus").toString
      Tables.documents(spark, sf).write.mode("overwrite")
        .parquet(s"$corpus/documents.parquet")
      TextAnalysis.dropInMemoryBpeTables()
      try {
        val builds0 = TextAnalysis.bpeAssetBuilds.get()
        val wf = TextAnalysis.wordFrequency(Tables.documents(spark, corpus))
        // retrain-from-scratch reference (the pre-asset semantics)
        val retrained = TextAnalysis.bpeApply(wf, rounds = 3).collect()
        // train query + apply query: ONE training between them
        val merges = TextAnalysis.corpusBpeMerges(spark, corpus, rounds = 3)
        assert(merges.count() == 3L)
        val applied = TextAnalysis.bpeApplyFromMerges(wf, merges).collect()
        assert(TextAnalysis.bpeAssetBuilds.get() == builds0 + 1,
          "bpe_train and bpe_apply must share one training per corpus fingerprint")
        assert(applied.toSeq == retrained.toSeq,
          "apply-from-asset must reproduce the retrain-from-scratch segmentation exactly")
        // fresh JVM: load the committed merge list, never retrain
        TextAnalysis.dropInMemoryBpeTables()
        TextAnalysis.corpusBpeMerges(spark, corpus, rounds = 3).count()
        assert(TextAnalysis.bpeAssetBuilds.get() == builds0 + 1,
          "a fresh JVM must load the merge asset, not retrain")
        val names = new java.io.File(root).listFiles().map(_.getName)
          .filter(_.startsWith("bpemerges_"))
        assert(names.length == 1 && names.head.startsWith("bpemerges_r3_v"),
          s"one round-addressed merge asset expected: ${names.toSeq}")
        // a different round budget is a different model: new address
        TextAnalysis.corpusBpeMerges(spark, corpus, rounds = 2).count()
        assert(TextAnalysis.bpeAssetBuilds.get() == builds0 + 2)
      } finally {
        TextAnalysis.dropInMemoryBpeTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("knn edge asset address is parameter-complete: changed LSH constants resolve a new asset") {
    import graft.operators.Similarity
    withRoot { root =>
      val corpus = java.nio.file.Files.createTempDirectory("graft_knnparam_corpus").toString
      Tables.embeddings(spark, sf).write.mode("overwrite")
        .parquet(s"$corpus/embeddings.parquet")
      Similarity.dropInMemoryIndexes()
      try {
        val builds0 = Similarity.knnAssetBuilds.get()
        Similarity.corpusKnnEdges(spark, corpus).count()
        // same k, different LSH shape: MUST be a distinct asset — edges
        // built under one constant set can never serve another
        Similarity.corpusKnnEdges(spark, corpus, kTop = 5, tables = 4).count()
        assert(Similarity.knnAssetBuilds.get() == builds0 + 2,
          "a changed index-shaping parameter must build under a new address")
        val names = new java.io.File(root).listFiles().map(_.getName)
          .filter(_.startsWith("knnedges_")).sorted
        assert(names.exists(_.contains("_t8_")) && names.exists(_.contains("_t4_")),
          s"addresses must carry the parameter vector: ${names.toSeq}")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("minhash pair increment: standing pairs file-copied, batch-only banding merges exactly; edits fall back (r18)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { root =>
      val oldDir = Files.createTempDirectory("graft_mhp_old").toString
      val newDir = Files.createTempDirectory("graft_mhp_new").toString
      val docs = Tables.documents(spark, sf)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
      docs.filter(col("doc_id") < cut).write.parquet(s"$oldDir/documents.parquet")
      // append layout: standing files byte-copied, batch part files in
      Files.createDirectories(Paths.get(s"$newDir/documents.parquet"))
      Files.list(Paths.get(s"$oldDir/documents.parquet")).forEach(p =>
        Files.copy(p, Paths.get(s"$newDir/documents.parquet/${p.getFileName}"),
          StandardCopyOption.COPY_ATTRIBUTES))
      val bTmp = Files.createTempDirectory("graft_mhp_batch").toString
      docs.filter(col("doc_id") >= cut).write.parquet(s"$bTmp/b.parquet")
      Files.list(Paths.get(s"$bTmp/b.parquet"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, Paths.get(s"$newDir/documents.parquet/part-batch-${p.getFileName}")))
      Dedup.dropInMemoryNgramTables()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .sorted.toSeq
      def files(dir: String): Set[(String, Long)] =
        new java.io.File(dir).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet
      try {
        // the r18 crossover gate honestly routes sub-threshold standing
        // corpora to the rebuild — pin that first against a throwaway
        // warehouse so the gated rebuild doesn't pre-publish the
        // increment's address
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_mhp_root0").toString)
        val sel0 = Dedup.incrementRebuildSelections.get()
        val gi0 = Dedup.minhashPairIncrementBuilds.get()
        Dedup.corpusMinhashPairsIncrement(spark, oldDir, newDir).count()
        assert(Dedup.incrementRebuildSelections.get() == sel0 + 1,
          "a sub-threshold standing corpus must route to the rebuild")
        assert(Dedup.minhashPairIncrementBuilds.get() == gi0)
        Dedup.dropInMemoryNgramTables()
        spark.conf.set("spark.graft.index.dir", root)
        Dedup.corpusMinhashPairs(spark, oldDir).count()
        val full0 = Dedup.minhashPairBuilds.get()
        val inc0 = Dedup.minhashPairIncrementBuilds.get()
        val inc = canon(Dedup.corpusMinhashPairsIncrement(spark, oldDir, newDir, minStandingBytes = 0L))
        assert(Dedup.minhashPairIncrementBuilds.get() == inc0 + 1,
          "a pure append must publish the pair asset via the increment path")
        assert(Dedup.minhashPairBuilds.get() == full0,
          "the increment must never re-band the standing corpus")
        // standing pair files moved by byte copy (a fresh write
        // generates fresh part-file names)
        val pairAssets = new java.io.File(root).listFiles()
          .filter(_.getName.startsWith("minhashpairs")).map(_.toString)
        assert(pairAssets.length == 2, s"expected old+new pair assets, saw ${pairAssets.toSeq}")
        val (a, b) = (files(pairAssets(0)), files(pairAssets(1)))
        val (oldFiles, newFiles) = if (a.size <= b.size) (a, b) else (b, a)
        assert(oldFiles.subsetOf(newFiles),
          s"standing pair files must be copied verbatim: ${oldFiles.diff(newFiles)}")
        // row-identical to the from-scratch rebuild on the merged corpus
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_mhp_root2").toString)
        Dedup.dropInMemoryNgramTables()
        val full = canon(Dedup.corpusMinhashPairs(spark, newDir))
        assert(inc == full, s"pair increment diverged: ${inc.size} vs ${full.size} rows")
        spark.conf.set("spark.graft.index.dir", root)
        Dedup.dropInMemoryNgramTables()
        // consumers LOAD the incremented address, zero builds
        val full1 = Dedup.minhashPairBuilds.get()
        val served = canon(Dedup.corpusMinhashPairs(spark, newDir))
        assert(Dedup.minhashPairBuilds.get() == full1,
          "consumers must load the incremented pair asset, not rebuild")
        assert(served == inc)
        // an edited corpus must fall back to the full rebuild
        val edDir = java.nio.file.Files.createTempDirectory("graft_mhp_ed").toString
        docs.withColumn("text",
            when(col("doc_id") === 1L, lit("edited body text")).otherwise(col("text")))
          .write.parquet(s"$edDir/documents.parquet")
        val fb0 = Dedup.minhashPairIncrementFallbacks.get()
        val inc1 = Dedup.minhashPairIncrementBuilds.get()
        val viaFb = canon(Dedup.corpusMinhashPairsIncrement(spark, oldDir, edDir, minStandingBytes = 0L))
        assert(Dedup.minhashPairIncrementFallbacks.get() == fb0 + 1,
          "an edited corpus must not take the increment path")
        assert(Dedup.minhashPairIncrementBuilds.get() == inc1)
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_mhp_root3").toString)
        Dedup.dropInMemoryNgramTables()
        assert(viaFb == canon(Dedup.corpusMinhashPairs(spark, edDir)),
          "the fallback must serve the rebuilt pair graph")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("ngram index increment: postings copy-forward under a pinned order; answers equal the rebuild across an append chain (r18)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { root =>
      // three generations: gen0 (80% of ids) -> gen1 (90%) -> gen2 (all),
      // each landed as a real file-level append of the previous
      val dirs = Seq.fill(3)(Files.createTempDirectory("graft_ngix_gen").toString)
      val docs = Tables.documents(spark, sf)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val cuts = Seq(maxId * 8 / 10, maxId * 9 / 10, maxId + 1)
      docs.filter(col("doc_id") < cuts(0)).write.parquet(s"${dirs(0)}/documents.parquet")
      for (g <- 1 to 2) {
        Files.createDirectories(Paths.get(s"${dirs(g)}/documents.parquet"))
        Files.list(Paths.get(s"${dirs(g - 1)}/documents.parquet")).forEach(p =>
          Files.copy(p, Paths.get(s"${dirs(g)}/documents.parquet/${p.getFileName}"),
            StandardCopyOption.COPY_ATTRIBUTES))
        val bTmp = Files.createTempDirectory("graft_ngix_batch").toString
        docs.filter(col("doc_id") >= cuts(g - 1) && col("doc_id") < cuts(g))
          .write.parquet(s"$bTmp/b.parquet")
        Files.list(Paths.get(s"$bTmp/b.parquet"))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => Files.move(p,
            Paths.get(s"${dirs(g)}/documents.parquet/part-batch-g$g-${p.getFileName}")))
      }
      Dedup.dropInMemoryNgramTables()
      def pairs(idx: org.apache.spark.sql.DataFrame) =
        Dedup.ngramJaccardPairsIndexed(idx, 0.2).collect()
          .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
          .sorted.toSeq
      def docRows(idx: org.apache.spark.sql.DataFrame) =
        idx.select(col("doc_id"), col("n"), col("hs").cast("string"))
          .collect().map(_.mkString("|")).sorted.toSeq
      try {
        Dedup.corpusNgramIndex(spark, dirs(0)).count()
        // the founding corpus's gram asset exists in the runbook flow
        // (the gram_stats family publishes it every generation) — the
        // first increment derives its order pin from it with no build
        Dedup.corpusGramDf(spark, dirs(0)).count()
        val full0 = Dedup.ngramAssetBuilds.get()
        val inc0 = Dedup.ngramIdxIncrementBuilds.get()
        val idx1 = Dedup.corpusNgramIndexIncrement(spark, dirs(0), dirs(1), minStandingBytes = 0L)
        val idx2 = Dedup.corpusNgramIndexIncrement(spark, dirs(1), dirs(2), minStandingBytes = 0L)
        assert(Dedup.ngramIdxIncrementBuilds.get() == inc0 + 2,
          "both appends must publish via the increment path")
        assert(Dedup.ngramAssetBuilds.get() == full0,
          "the increment must never re-shingle the standing corpus")
        // standing posting files byte-copied across BOTH generations
        def files(dir: String): Set[(String, Long)] =
          new java.io.File(dir).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length())).toSet
        val idxAssets = new java.io.File(root).listFiles()
          .filter(f => f.getName.startsWith("ngramidx_")).map(_.toString)
          .sortBy(files(_).size)
        assert(idxAssets.length == 3, s"expected three generations: ${idxAssets.toSeq}")
        assert(files(idxAssets(0)).subsetOf(files(idxAssets(1))) &&
            files(idxAssets(1)).subsetOf(files(idxAssets(2))),
          "standing posting files must be copied verbatim down the chain")
        // the PINNED ORDER is the founding corpus's df table, carried
        // byte-identical across generations
        val ordAssets = new java.io.File(root).listFiles()
          .filter(f => f.getName.startsWith("ngramidxord_")).map(_.toString)
        assert(ordAssets.length == 2, s"one order asset per increment: ${ordAssets.toSeq}")
        val ordCanon = ordAssets.map(p => spark.read.parquet(p)
          .collect().map(_.mkString("|")).sorted.toSeq)
        assert(ordCanon(0) == ordCanon(1), "the order pin must not drift across appends")
        val foundingDf = Dedup.corpusGramDf(spark, dirs(0))
          .select(col("g"), col("__df")).collect().map(_.mkString("|")).sorted.toSeq
        assert(ordCanon(0) == foundingDf, "the pin must be the founding corpus's df order")
        // per-doc n/hs are order-independent and must equal the rebuild
        // exactly; CONSUMER ANSWERS must equal it too (the prefix lemma
        // under the pinned order stays complete)
        val viaInc = pairs(idx2)
        val incRows = docRows(idx2)
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_ngix_root2").toString)
        Dedup.dropInMemoryNgramTables()
        val rebuilt = Dedup.corpusNgramIndex(spark, dirs(2))
        assert(docRows(rebuilt) == incRows,
          "per-doc (n, hs) must be identical to the from-scratch rebuild")
        assert(pairs(rebuilt) == viaInc,
          "verified pair answers must be identical to the from-scratch rebuild")
        assert(viaInc.nonEmpty, "a pairless fixture is vacuous")
        spark.conf.set("spark.graft.index.dir", root)
        Dedup.dropInMemoryNgramTables()
        // an edited corpus must fall back to the full rebuild (which
        // resets the order chain: no order asset is published)
        val edDir = java.nio.file.Files.createTempDirectory("graft_ngix_ed").toString
        docs.withColumn("text",
            when(col("doc_id") === 1L, lit("edited body text")).otherwise(col("text")))
          .write.parquet(s"$edDir/documents.parquet")
        val fb0 = Dedup.ngramIdxIncrementFallbacks.get()
        val viaFb = pairs(Dedup.corpusNgramIndexIncrement(spark, dirs(2), edDir, minStandingBytes = 0L))
        assert(Dedup.ngramIdxIncrementFallbacks.get() == fb0 + 1)
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_ngix_root3").toString)
        Dedup.dropInMemoryNgramTables()
        assert(viaFb == pairs(Dedup.corpusNgramIndex(spark, edDir)),
          "the fallback must serve the rebuilt index's answers")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("minhash pair increment chains: two successive appends copy forward and equal the rebuild (r18)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { root =>
      val dirs = Seq.fill(3)(Files.createTempDirectory("graft_mhpc_gen").toString)
      val docs = Tables.documents(spark, sf)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val cuts = Seq(maxId * 8 / 10, maxId * 9 / 10, maxId + 1)
      docs.filter(col("doc_id") < cuts(0)).write.parquet(s"${dirs(0)}/documents.parquet")
      for (g <- 1 to 2) {
        Files.createDirectories(Paths.get(s"${dirs(g)}/documents.parquet"))
        Files.list(Paths.get(s"${dirs(g - 1)}/documents.parquet")).forEach(p =>
          Files.copy(p, Paths.get(s"${dirs(g)}/documents.parquet/${p.getFileName}"),
            StandardCopyOption.COPY_ATTRIBUTES))
        val bTmp = Files.createTempDirectory("graft_mhpc_batch").toString
        docs.filter(col("doc_id") >= cuts(g - 1) && col("doc_id") < cuts(g))
          .write.parquet(s"$bTmp/b.parquet")
        Files.list(Paths.get(s"$bTmp/b.parquet"))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => Files.move(p,
            Paths.get(s"${dirs(g)}/documents.parquet/part-batch-g$g-${p.getFileName}")))
      }
      Dedup.dropInMemoryNgramTables()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .sorted.toSeq
      try {
        Dedup.corpusMinhashPairs(spark, dirs(0)).count()
        val full0 = Dedup.minhashPairBuilds.get()
        val inc0 = Dedup.minhashPairIncrementBuilds.get()
        Dedup.corpusMinhashPairsIncrement(spark, dirs(0), dirs(1), minStandingBytes = 0L).count()
        val viaChain = canon(Dedup.corpusMinhashPairsIncrement(spark, dirs(1), dirs(2), minStandingBytes = 0L))
        assert(Dedup.minhashPairIncrementBuilds.get() == inc0 + 2,
          "both appends must publish via the increment path")
        assert(Dedup.minhashPairBuilds.get() == full0,
          "no generation may re-band the standing corpus")
        // gen0's pair files are byte-identical members of gen2's asset
        def files(dir: String): Set[(String, Long)] =
          new java.io.File(dir).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length())).toSet
        val assets = new java.io.File(root).listFiles()
          .filter(_.getName.startsWith("minhashpairs")).map(_.toString)
          .sortBy(files(_).size)
        assert(assets.length == 3, s"expected three generations: ${assets.toSeq}")
        assert(files(assets(0)).subsetOf(files(assets(1))) &&
            files(assets(1)).subsetOf(files(assets(2))),
          "standing pair files must be copied verbatim down the chain")
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_mhpc_root2").toString)
        Dedup.dropInMemoryNgramTables()
        assert(viaChain == canon(Dedup.corpusMinhashPairs(spark, dirs(2))),
          "the chained increments must equal the from-scratch rebuild")
        assert(viaChain.nonEmpty, "a pairless fixture is vacuous")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("ingest-gate order contract: cross pairs off an increment-built index equal the rebuilt path (r18)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { root =>
      // corpus grown by one append (increment-built index under the
      // founding order) vs the same corpus rebuilt from scratch
      // (current-df order): a batch of NEW documents probed against
      // each must yield the SAME verified cross pairs — the exactness
      // the corpusNgramOrder contract buys
      val oldDir = Files.createTempDirectory("graft_gate_old").toString
      val newDir = Files.createTempDirectory("graft_gate_new").toString
      val docs = Tables.documents(spark, sf)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
      docs.filter(col("doc_id") < cut).write.parquet(s"$oldDir/documents.parquet")
      Files.createDirectories(Paths.get(s"$newDir/documents.parquet"))
      Files.list(Paths.get(s"$oldDir/documents.parquet")).forEach(p =>
        Files.copy(p, Paths.get(s"$newDir/documents.parquet/${p.getFileName}"),
          StandardCopyOption.COPY_ATTRIBUTES))
      val bTmp = Files.createTempDirectory("graft_gate_batch").toString
      docs.filter(col("doc_id") >= cut).write.parquet(s"$bTmp/b.parquet")
      Files.list(Paths.get(s"$bTmp/b.parquet"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, Paths.get(s"$newDir/documents.parquet/part-batch-${p.getFileName}")))
      // the probing batch: genuinely new ids whose text duplicates
      // corpus text, so cross pairs exist at any threshold
      val probe = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.dropInMemoryNgramTables()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .sorted.toSeq
      try {
        Dedup.corpusNgramIndex(spark, oldDir).count()
        Dedup.corpusGramDf(spark, oldDir).count()
        Dedup.corpusNgramIndexIncrement(spark, oldDir, newDir, minStandingBytes = 0L).count()
        val viaInc = canon(Dedup.ngramIncrementalPairs(
          Dedup.corpusNgramIndex(spark, newDir), probe,
          Dedup.corpusNgramOrder(spark, newDir), 3, 0.2))
        spark.conf.set("spark.graft.index.dir",
          java.nio.file.Files.createTempDirectory("graft_gate_root2").toString)
        Dedup.dropInMemoryNgramTables()
        val viaRebuild = canon(Dedup.ngramIncrementalPairs(
          Dedup.corpusNgramIndex(spark, newDir), probe,
          Dedup.corpusNgramOrder(spark, newDir), 3, 0.2))
        assert(viaInc == viaRebuild,
          s"gate answers diverged: ${viaInc.size} vs ${viaRebuild.size} pairs")
        assert(viaInc.nonEmpty, "a pairless probe is vacuous")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("ngram order pin: a crashed-increment order residue next to a full-built index is ignored (r18)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withRoot { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ngord_res").toString
      Tables.documents(spark, sf).filter(col("doc_id") < 50)
        .write.parquet(s"$dir/documents.parquet")
      Dedup.dropInMemoryNgramTables()
      try {
        // a committed order asset at the index's address — the residue a
        // crash between the increment's two publishes leaves behind —
        // with content that is NOT the corpus's df
        val fp = AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
        AssetStore.resolve(spark, s"ngramidxord_k3_v${AssetStore.FormatVersion}_$fp",
          staging => Seq(("bogus gram", 7L)).toDF("g", "__df")
            .write.mode("overwrite").parquet(staging))
        // the index then gets FULL-built (no provenance marker): its
        // postings are ranked under the corpus's own df
        Dedup.corpusNgramIndex(spark, dir).count()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.mkString("|")).sorted.toSeq
        val got = canon(Dedup.corpusNgramOrder(spark, dir))
        assert(!got.contains("bogus gram|7"), "the residue order must be ignored")
        assert(got == canon(Dedup.corpusGramDf(spark, dir).select(col("g"), col("__df"))),
          "a full-built index's order is the corpus's own df table")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("ngram order staleness: drifted chains read below 10000, benign growth reads clean (r19)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // gen0: two common grams (df 16) and four rare df=1 grams; the
    // founding order's rare head is deterministic under (df, g)
    val gen0 = (0L until 16L).map(i => (i, "c1 c2 c3 c4")) ++ Seq(
      (16L, "r1 r2 r3"), (17L, "s1 s2 s3"), (18L, "t1 t2 t3"), (19L, "u1 u2 u3"))
    def mkChain(batch: Seq[(Long, String)]): (String, String) = {
      val oldDir = Files.createTempDirectory("graft_stale_old").toString
      val newDir = Files.createTempDirectory("graft_stale_new").toString
      gen0.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$oldDir/documents.parquet")
      val newTable = Paths.get(s"$newDir/documents.parquet")
      Files.createDirectories(newTable)
      val s1 = Files.list(Paths.get(s"$oldDir/documents.parquet"))
      try s1.forEach(p => Files.copy(p, newTable.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES))
      finally s1.close()
      val tmp = Files.createTempDirectory("graft_stale_batch").toString
      batch.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/b.parquet")
      val s2 = Files.list(Paths.get(s"$tmp/b.parquet"))
      try s2.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, newTable.resolve(s"part-batch-${p.getFileName}")))
      finally s2.close()
      (oldDir, newDir)
    }
    try {
      // ---- drifted chain: the batch pumps gen0's rarest gram from
      // df=1 to df=11, pushing it OUT of the current rare head
      withRoot { _ =>
        val (o1, n1) = mkChain((20L until 30L).map(i => (i, s"r1 r2 r3 x$i")))
        Dedup.dropInMemoryNgramTables()
        Dedup.corpusNgramIndex(spark, o1).count()
        Dedup.corpusGramDf(spark, o1).count()
        Dedup.corpusNgramIndexIncrement(spark, o1, n1, minStandingBytes = 0L).count()
        val drifted = Dedup.ngramOrderStaleness(spark, n1)
          .getOrElse(fail("a pinned chain must report staleness"))
        // shared vocab 6 -> head 3; pinned head {r,s,t}, current {s,t,u}
        assert(drifted("ngram_order_rare_overlap_bp") == 6666L,
          s"drift must displace the rare head: $drifted")
        // collision mass at current dfs: pinned head {r:11,s:1,t:1} ->
        // 121+1+1 = 123 vs current head {s,t,u} -> 3; the depth metric
        // the r19 calibration showed prices the drift
        assert(drifted("ngram_order_collision_bp") == 410000L, s"$drifted")
        // 10 batch-minted grams of 16 current
        assert(drifted("ngram_order_new_gram_bp") == 6250L, s"$drifted")
        // the batch's new grams are genuinely rare (df=1): the
        // fallback-collision row reads clean — rank drift is priced by
        // collision_bp, not double-charged here
        assert(drifted("ngram_order_new_collision_bp") == 10000L, s"$drifted")
      }
      // ---- benign chain: all-new vocabulary, shared dfs untouched
      withRoot { _ =>
        val (o2, n2) = mkChain((20L until 30L).map(i => (i, s"n${i}a n${i}b n${i}c")))
        Dedup.dropInMemoryNgramTables()
        Dedup.corpusNgramIndex(spark, o2).count()
        Dedup.corpusGramDf(spark, o2).count()
        Dedup.corpusNgramIndexIncrement(spark, o2, n2, minStandingBytes = 0L).count()
        val benign = Dedup.ngramOrderStaleness(spark, n2)
          .getOrElse(fail("a pinned chain must report staleness"))
        assert(benign("ngram_order_rare_overlap_bp") == 10000L,
          s"healthy vocabulary growth must read clean: $benign")
        assert(benign("ngram_order_collision_bp") == 10000L, s"$benign")
        assert(benign("ngram_order_new_gram_bp") == 6250L, s"$benign")
        assert(benign("ngram_order_new_collision_bp") == 10000L, s"$benign")
        // a FULL-built index carries no pin: staleness is not applicable
        assert(Dedup.ngramOrderStaleness(spark, o2).isEmpty,
          "a full-built index's order IS the current df — no staleness row")
        // and the increment rows map carries the metric (runbook surface)
        val g = new graft.Graft(spark)
        val rows = g.incrementAssets(o2, n2, Seq("ngram_index"))
        assert(rows.get("ngram_order_rare_overlap_bp").contains(10000L) &&
            rows.get("ngram_order_new_gram_bp").contains(6250L),
          s"assets_increment must surface the staleness rows: $rows")
        assert(rows.contains("ngram_order_new_collision_bp"),
          s"the r20 fallback-collision row must ride the same map: $rows")
      }
      // ---- template-boilerplate chain (r20 — the calibration's named
      // blind spot): every batch doc shares a NEW common gram. The
      // shared vocabulary never moves, so overlap and collision_bp read
      // a clean 10000 — but under the df=1 fallback the template gram
      // is a prefix gram with df=10 collision mass, and only the new
      // fallback-collision row prices it
      withRoot { _ =>
        val (o3, n3) = mkChain((20L until 30L).map(i => (i, s"tpl1 tpl2 tpl3 z$i")))
        Dedup.dropInMemoryNgramTables()
        Dedup.corpusNgramIndex(spark, o3).count()
        Dedup.corpusGramDf(spark, o3).count()
        Dedup.corpusNgramIndexIncrement(spark, o3, n3, minStandingBytes = 0L).count()
        // the probe rides the COMMITTED gram-stats asset (advice fix):
        // once it is published, no corpus shingle build runs
        Dedup.corpusGramDf(spark, n3).count()
        val builds0 = Dedup.ngramAssetBuilds.get()
        val tpl = Dedup.ngramOrderStaleness(spark, n3)
          .getOrElse(fail("a pinned chain must report staleness"))
        assert(Dedup.ngramAssetBuilds.get() == builds0,
          "staleness with a committed gram-stats asset must not rebuild it")
        // shared vocab 6 -> head 3; dfs of shared grams untouched
        assert(tpl("ngram_order_rare_overlap_bp") == 10000L, s"$tpl")
        assert(tpl("ngram_order_collision_bp") == 10000L,
          s"the shared-vocab ratio is blind to arrives-common grams: $tpl")
        // new grams: (tpl1,tpl2,tpl3) df=10 + 10 z-grams df=1 of 17
        // current -> head {100, 1, 1} = 102 vs current head mass 3
        assert(tpl("ngram_order_new_collision_bp") == 340000L,
          s"the fallback-collision row must catch the template: $tpl")
        assert(tpl("ngram_order_new_gram_bp") == 11L * 10000L / 17L, s"$tpl")
      }
    } finally {
      Dedup.dropInMemoryNgramTables()
      spark.catalog.clearCache()
    }
  }

  test("ngram order pin: a marker without its order asset fails fast, never mixes orders (r19)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    withRoot { root =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ngord_miss").toString
      Tables.documents(spark, sf).filter(col("doc_id") < 50)
        .write.parquet(s"$dir/documents.parquet")
      Dedup.dropInMemoryNgramTables()
      try {
        Dedup.corpusNgramIndex(spark, dir).count()
        // the warehouse-pruned corner: the index DECLARES a pinned order
        // (provenance marker) but the ngramidxord asset is gone —
        // degrading to the current-df order here is exactly the order
        // mixing that silently loses candidate pairs
        val idxDir = new java.io.File(root).listFiles()
          .filter(_.getName.startsWith("ngramidx_")) match {
            case Array(one) => one
            case other => fail(s"expected one index asset, got ${other.toSeq}")
          }
        java.nio.file.Files.writeString(idxDir.toPath.resolve("_GRAFT_DFORDER"), "")
        val ex = intercept[IllegalStateException] {
          Dedup.corpusNgramOrder(spark, dir).count()
        }
        assert(ex.getMessage.contains("ngramidxord") &&
          ex.getMessage.contains("Rebuild the index"), ex.getMessage)
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("cross-generation fixture: planted near-dups cross the cut and the pair increment equals the rebuild") {
    import graft.operators.Dedup
    import graft.tools.ScaleGen
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { _ =>
      // batch docs near-duplicating STANDING docs: the pair increment's
      // winning side
      val docs = ScaleGen.plantNearDups(Tables.documents(spark, sf), 300)
        .persist()
      // planting must never mint byte-identical texts: the signature
      // stage collapses exact twins before banding, so they would add
      // no near-dup pair to verify (exact twins across an append are
      // pinned by their own spec below)
      val nTexts = docs.filter(col("text").isNotNull).count()
      val nDistinct = docs.filter(col("text").isNotNull)
        .select(countDistinct(col("text"))).head().getLong(0)
      assert(nTexts == nDistinct, s"planting minted exact dups: $nTexts vs $nDistinct")
      assert(docs.exceptAll(Tables.documents(spark, sf)).count() > 0,
        "planting must actually change documents")
      val oldDir = Files.createTempDirectory("graft_xgen_old").toString
      val newDir = Files.createTempDirectory("graft_xgen_new").toString
      // file-level append layout (copy standing parts + move batch parts
      // in) so the metadata-only pure-append proof applies
      val docCut = docs.agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
      docs.filter(col("doc_id") < docCut).write.parquet(s"$oldDir/documents.parquet")
      val newTable = Paths.get(s"$newDir/documents.parquet")
      Files.createDirectories(newTable)
      val s1 = Files.list(Paths.get(s"$oldDir/documents.parquet"))
      try s1.forEach(p => Files.copy(p, newTable.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES))
      finally s1.close()
      val tmp = Files.createTempDirectory("graft_xgen_batch").toString
      docs.filter(col("doc_id") >= docCut).write.parquet(s"$tmp/b.parquet")
      val s2 = Files.list(Paths.get(s"$tmp/b.parquet"))
      try s2.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, newTable.resolve(s"part-batch-${p.getFileName}")))
      finally s2.close()
      docs.unpersist()
      Dedup.dropInMemoryNgramTables()
      try {
        // minStandingBytes = 0: the shipped gate routes local sizes to
        // the rebuild
        Dedup.corpusMinhashPairs(spark, oldDir).count()
        val inc0 = Dedup.minhashPairIncrementBuilds.get()
        val viaInc = Dedup.corpusMinhashPairsIncrement(spark, oldDir, newDir, minStandingBytes = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(Dedup.minhashPairIncrementBuilds.get() == inc0 + 1,
          "the fixture append must publish pairs via the increment")
        val cross = viaInc.filter { case (a, b) => a < docCut && b >= docCut }
        assert(cross.nonEmpty,
          "the fixture must plant batch docs near-duplicating STANDING docs")
        assert(viaInc.count { case (a, b) => a < docCut && b < docCut } > cross.size,
          "standing near-dup mass (the increment's winning term) must dominate")
        spark.conf.set("spark.graft.index.dir",
          Files.createTempDirectory("graft_xgen_root2").toString)
        Dedup.dropInMemoryNgramTables()
        val rebuilt = Dedup.corpusMinhashPairs(spark, newDir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(viaInc == rebuilt, "fixture increment diverged from the rebuild")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  test("minhash pair increment: a batch doc byte-identical to standing text collapses as in the rebuild") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withRoot { _ =>
      val docs = Tables.documents(spark, sf)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val cut = maxId * 9 / 10
      // the twin copies a shingle-bearing standing doc; its id lies above
      // the standing max, so the metadata-only append proof applies
      val twinOf = docs.filter(col("doc_id") < cut)
        .filter(size(split(trim(col("text")), "\\s+")) >= 10)
        .agg(min(col("doc_id"))).head().getLong(0)
      val twinId = maxId + 1
      val twin = docs.filter(col("doc_id") === twinOf).withColumn("doc_id", lit(twinId))
      val oldDir = Files.createTempDirectory("graft_twin_old").toString
      val newDir = Files.createTempDirectory("graft_twin_new").toString
      docs.filter(col("doc_id") < cut).write.parquet(s"$oldDir/documents.parquet")
      val newTable = Paths.get(s"$newDir/documents.parquet")
      Files.createDirectories(newTable)
      val s1 = Files.list(Paths.get(s"$oldDir/documents.parquet"))
      try s1.forEach(p => Files.copy(p, newTable.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES))
      finally s1.close()
      val tmp = Files.createTempDirectory("graft_twin_batch").toString
      docs.filter(col("doc_id") >= cut).unionByName(twin).write.parquet(s"$tmp/b.parquet")
      val s2 = Files.list(Paths.get(s"$tmp/b.parquet"))
      try s2.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, newTable.resolve(s"part-batch-${p.getFileName}")))
      finally s2.close()
      Dedup.dropInMemoryNgramTables()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .sorted.toSeq
      try {
        Dedup.corpusMinhashPairs(spark, oldDir).count()
        val inc0 = Dedup.minhashPairIncrementBuilds.get()
        val viaInc = canon(Dedup.corpusMinhashPairsIncrement(spark, oldDir, newDir,
          minStandingBytes = 0L))
        assert(Dedup.minhashPairIncrementBuilds.get() == inc0 + 1,
          "the append must publish pairs via the increment")
        spark.conf.set("spark.graft.index.dir",
          Files.createTempDirectory("graft_twin_root2").toString)
        Dedup.dropInMemoryNgramTables()
        val rebuilt = canon(Dedup.corpusMinhashPairs(spark, newDir))
        assert(!rebuilt.exists { case (a, b, _) => a == twinId || b == twinId },
          s"the rebuild collapses doc $twinId into its standing twin $twinOf")
        assert(viaInc == rebuilt,
          s"increment vs rebuild: extra ${viaInc.diff(rebuilt)}, missing ${rebuilt.diff(viaInc)}")
      } finally {
        Dedup.dropInMemoryNgramTables()
        spark.catalog.clearCache()
      }
    }
  }

  /** Corpus generations over the spec's embeddings, each a file-level
   *  append of the previous one (standing parts copied with attributes,
   *  batch parts moved in) so the edge increment's metadata-only
   *  pure-append proof applies; generation g holds vec_id < cuts(g). */
  private def embeddingGenerations(cuts: Seq[Long]): Seq[String] = {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val emb = Tables.embeddings(spark, sf)
    val dirs = cuts.map(_ => Files.createTempDirectory("graft_tri_gen").toString)
    emb.filter(col("vec_id") < cuts(0)).write.parquet(s"${dirs(0)}/embeddings.parquet")
    for (g <- 1 until cuts.size) {
      val table = Paths.get(s"${dirs(g)}/embeddings.parquet")
      Files.createDirectories(table)
      val s1 = Files.list(Paths.get(s"${dirs(g - 1)}/embeddings.parquet"))
      try s1.forEach(p => Files.copy(p, table.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES))
      finally s1.close()
      val tmp = Files.createTempDirectory("graft_tri_batch").toString
      emb.filter(col("vec_id") >= cuts(g - 1) && col("vec_id") < cuts(g))
        .write.parquet(s"$tmp/b.parquet")
      val s2 = Files.list(Paths.get(s"$tmp/b.parquet"))
      try s2.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, table.resolve(s"part-batch$g-${p.getFileName}")))
      finally s2.close()
    }
    dirs
  }

  private def maxVecId(): Long = {
    import org.apache.spark.sql.functions._
    Tables.embeddings(spark, sf).agg(max(col("vec_id"))).head().getLong(0)
  }

  private def canonTri(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq

  private def triAssets(root: String) = new java.io.File(root).listFiles()
    .filter(_.getName.startsWith("tristats_")).map(_.getName).toSeq

  test("tristats increment: the degrade path never builds the standing tristats asset (r19)") {
    import graft.operators.Similarity
    withRoot { root =>
      val Seq(oldDir, newDir) = embeddingGenerations(Seq(maxVecId() * 9 / 10, maxVecId() + 1))
      Similarity.dropInMemoryIndexes()
      try {
        // only the standing EDGE asset exists; oldDir's tristats is never built
        Similarity.corpusKnnEdges(spark, oldDir).count()
        val tri0 = Similarity.triangleAssetBuilds.get()
        val knn0 = Similarity.knnAssetBuilds.get()
        val inc0 = Similarity.knnIncrementBuilds.get()
        // `tristats` asked for alone through the facade
        assert(new graft.Graft(spark).incrementAssets(oldDir, newDir, Seq("tristats"))
          .keySet == Set("tristats"))
        assert(Similarity.knnIncrementBuilds.get() == inc0 + 1 &&
            Similarity.knnAssetBuilds.get() == knn0,
          "the edge asset must be published by increment, not rebuilt")
        assert(Similarity.triangleAssetBuilds.get() == tri0 + 1,
          "the publish must run exactly one wedge join — building " +
            "oldDir's standing tristats first is wasted work")
        assert(triAssets(root).size == 1,
          s"only newDir's asset may exist: ${triAssets(root)}")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("tristats increment: one wedge join over the incremented edges equals the full derivation") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    withRoot { _ =>
      val Seq(oldDir, newDir) = embeddingGenerations(Seq(maxVecId() * 9 / 10, maxVecId() + 1))
      Similarity.dropInMemoryIndexes()
      try {
        Similarity.corpusKnnEdges(spark, oldDir).count()
        val inc = canonTri(Similarity.corpusTriangleStatsIncrement(spark, oldDir, newDir))
        // row-identical to the derivation over the merged edge asset
        val und = Similarity.corpusKnnEdges(spark, newDir)
          .select(least(col("vec_id"), col("nbr_id")).as("a"),
            greatest(col("vec_id"), col("nbr_id")).as("b"))
          .dropDuplicates("a", "b")
        val full = canonTri(Similarity.triangleStatsOn(und))
        assert(inc == full, s"tristats increment diverged: ${inc.size} vs ${full.size} rows")
        // consumers LOAD the published address with zero builds
        Similarity.dropInMemoryIndexes()
        val tri1 = Similarity.triangleAssetBuilds.get()
        val knn1 = Similarity.knnAssetBuilds.get()
        assert(canonTri(Similarity.corpusTriangleStats(spark, newDir)) == inc)
        assert(Similarity.triangleAssetBuilds.get() == tri1,
          "consumers must load the published tristats asset, not rebuild")
        // an already-committed generation is served with zero builds
        Similarity.corpusTriangleStatsIncrement(spark, oldDir, newDir).count()
        assert(Similarity.triangleAssetBuilds.get() == tri1 &&
          Similarity.knnAssetBuilds.get() == knn1)
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("tristats increment chains: two successive appends publish edges by increment and equal the full derivation") {
    import graft.operators.Similarity
    withRoot { root =>
      val maxId = maxVecId()
      val dirs = embeddingGenerations(Seq(maxId * 8 / 10, maxId * 9 / 10, maxId + 1))
      Similarity.dropInMemoryIndexes()
      try {
        Similarity.corpusKnnEdges(spark, dirs(0)).count()
        for (gen <- 1 to 2) {
          val tri0 = Similarity.triangleAssetBuilds.get()
          val knn0 = Similarity.knnAssetBuilds.get()
          val inc0 = Similarity.knnIncrementBuilds.get()
          Similarity.corpusTriangleStatsIncrement(spark, dirs(gen - 1), dirs(gen)).count()
          assert(Similarity.knnIncrementBuilds.get() == inc0 + 1 &&
              Similarity.knnAssetBuilds.get() == knn0,
            s"generation $gen: the edge asset must be published by increment, not rebuilt")
          assert(Similarity.triangleAssetBuilds.get() == tri0 + 1,
            s"generation $gen: exactly one wedge join")
          assert(triAssets(root).size == gen,
            s"only the published generations' tristats may exist: ${triAssets(root)}")
        }
        Similarity.dropInMemoryIndexes()
        val knn1 = Similarity.knnAssetBuilds.get()
        assert(canonTri(Similarity.corpusTriangleStats(spark, dirs(2))) ==
            canonTri(Similarity.triangleStats(spark, dirs(2))),
          "the chained publishes must equal the full derivation over the merged edges")
        assert(Similarity.knnAssetBuilds.get() == knn1,
          "the full derivation reads the committed edge asset")
      } finally {
        Similarity.dropInMemoryIndexes()
        spark.catalog.clearCache()
      }
    }
  }

  test("corpusFingerprint changes with content and is stable under re-listing") {
    withRoot { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft_fp_corpus").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "t.parquet"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.parquet", "f1"), "aaa")
      val fp1 = AssetStore.corpusFingerprint(spark, dir, "t.parquet")
      val fp1b = AssetStore.corpusFingerprint(spark, dir, "t.parquet")
      assert(fp1 == fp1b, "same listing -> same address")
      assert(fp1.length == 16)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.parquet", "f2"), "bb")
      val fp2 = AssetStore.corpusFingerprint(spark, dir, "t.parquet")
      assert(fp1 != fp2, "a corpus rebuild must change the address")
      // absent table still fingerprints (distinctly), never throws
      val fpAbsent = AssetStore.corpusFingerprint(spark, dir, "missing.parquet")
      assert(fpAbsent != fp2)
    }
  }
}
