package graft.tools

import org.apache.spark.sql.SparkSession

/** ASSET-BUILD-TIME bench: time each durable corpus asset's BUILD into
  * a fresh warehouse — the number a 100 TB operator plans around (the
  * sf1 query tables measure latency AGAINST prebuilt assets; this
  * measures building them). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.AssetBench"
  *
  * Each family resolves into its own FRESH `spark.graft.index.dir`
  * (and the in-JVM handle caches are dropped first), so every number
  * is a cold build: corpus scan + kernel + parquet/file write. One
  * JSON line to stdout: {"sf_dir": ..., "builds": {name: sec, ...}}.
  */
object AssetBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Dedup, Similarity, TextAnalysis}

    def freshRoot(): Unit = {
      spark.conf.set("spark.graft.index.dir",
        java.nio.file.Files.createTempDirectory("graft_assetbench").toString)
      Dedup.dropInMemoryNgramTables()
      Similarity.dropInMemoryIndexes()
      TextAnalysis.dropInMemoryBpeTables()
      spark.catalog.clearCache()
    }

    // 10%-append standing corpus for the increment rows: the standing
    // assets are prebuilt in the SETUP phase (outside the timer) — the
    // timed number is what an append workflow actually pays: band the
    // batch, refresh affected sources, publish. Benchmarked at TWO LSH
    // widths: the query default bits=4 (16 buckets — bucket occupancy
    // makes every standing source affected, so the increment honestly
    // measures ≈ a rebuild) and the deployment width bits=12 (4096
    // buckets — the affected set shrinks to the batch's bucket
    // neighborhood, which is where the increment pays).
    //
    // r17: the new corpus is laid out the way a log-structured append
    // actually lands — the standing files byte-identical (copied with
    // attributes) plus fresh batch part files in the same directory —
    // so the metadata-only pure-append proof applies and the timed
    // number includes the REAL precondition cost (a listing + footer
    // reads, no corpus digest join). The r16 fixture rewrote the new
    // corpus into fresh files, which forced every increment through
    // the digest fallback and charged it a full standing-corpus scan
    // the production append shape never pays.
    val incOldDir = java.nio.file.Files.createTempDirectory("graft_assetbench_old").toString
    val incNewDir = java.nio.file.Files.createTempDirectory("graft_assetbench_new").toString
    // directory streams must be CLOSED (they hold an fd until then)
    def withStream[A](s: java.util.stream.Stream[A])(f: java.util.stream.Stream[A] => Unit): Unit =
      try f(s) finally s.close()
    def rmrf(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p))
        withStream(java.nio.file.Files.walk(p))(
          _.sorted(java.util.Comparator.reverseOrder())
            .forEach(java.nio.file.Files.delete(_)))
    // cut the corpus at 90% by id; old = standing files, new = those
    // same files + the batch's part files moved alongside
    def appendLayout(table: String, idCol: String): Unit = {
      import org.apache.spark.sql.functions.{col, expr}
      import java.nio.file.{Files => JF, Paths, StandardCopyOption}
      val df =
        if (table.startsWith("embeddings")) graft.Tables.embeddings(spark, sfDir)
        else graft.Tables.documents(spark, sfDir)
      val cut = df.agg((expr(s"max($idCol)") * 9 / 10).cast("long")).head().getLong(0)
      rmrf(Paths.get(s"$incOldDir/$table")); rmrf(Paths.get(s"$incNewDir/$table"))
      df.filter(col(idCol) < cut).write.parquet(s"$incOldDir/$table")
      val newTable = Paths.get(s"$incNewDir/$table")
      JF.createDirectories(newTable)
      withStream(JF.list(Paths.get(s"$incOldDir/$table")))(_.forEach(p =>
        JF.copy(p, newTable.resolve(p.getFileName.toString), StandardCopyOption.COPY_ATTRIBUTES)))
      val batchTmp = JF.createTempDirectory("graft_assetbench_batch").toString
      df.filter(col(idCol) >= cut).write.parquet(s"$batchTmp/b.parquet")
      withStream(JF.list(Paths.get(s"$batchTmp/b.parquet")))(
        _.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => JF.move(p, newTable.resolve(s"part-batch-${p.getFileName}"))))
    }
    def incSetup(bits: Int): () => Unit = () => {
      appendLayout("embeddings.parquet", "vec_id")
      Similarity.corpusKnnEdges(spark, incOldDir, bits = bits).count()
      Similarity.corpusBandedEmbeddings(spark, incOldDir, bits = bits).count()
    }
    def noSetup: () => Unit = () => ()
    val builds = Seq[(String, () => Unit, () => Long)](
      ("ngramidx_k3", noSetup, () => Dedup.corpusNgramIndex(spark, sfDir).count()),
      ("gramdf_k3", noSetup, () => Dedup.corpusGramDf(spark, sfDir).count()),
      ("cdcdigests", noSetup, () => Dedup.corpusChunkDigests(spark, sfDir).count()),
      ("minhashsig_k3_h128", noSetup, () => Dedup.corpusMinhashSignatures(spark, sfDir).count()),
      ("simhashsig", noSetup, () => Dedup.corpusSimhashSignatures(spark, sfDir).count()),
      ("knnedges_k5", noSetup, () => Similarity.corpusKnnEdges(spark, sfDir).count()),
      ("knnedges_k5_increment", incSetup(4),
        () => Similarity.corpusKnnEdgesIncrement(spark, incOldDir, incNewDir).count()),
      ("knnedges_k5b12", noSetup,
        () => Similarity.corpusKnnEdges(spark, sfDir, bits = 12).count()),
      ("knnedges_k5b12_increment", incSetup(12),
        () => Similarity.corpusKnnEdgesIncrement(spark, incOldDir, incNewDir, bits = 12).count()),
      // band asset alone: full banding vs the r16 copy-forward
      // increment (appends never change standing bands, so the
      // increment pays ~batch-fraction of the scan and write)
      ("embbands_b12", noSetup,
        () => Similarity.corpusBandedEmbeddings(spark, sfDir, bits = 12).count()),
      ("embbands_b12_increment", incSetup(12),
        () => Similarity.corpusBandedEmbeddingsIncrement(spark, incOldDir, incNewDir, bits = 12).count()),
      ("bpemerges_r3", noSetup, () => TextAnalysis.corpusBpeMerges(spark, sfDir, 3).count()),
      // SECOND-TIER assets: the verified pair graph and the triangle
      // stats, full derivation vs their increments. Increment rows
      // pass minStandingBytes = 0 to time the increment machinery: the
      // shipped gate routes every local-sized corpus to the rebuild,
      // which the full rows already time. The pair increment's timed
      // number includes the cold signature build at the new address.
      ("minhashpairs_t700", noSetup, () => Dedup.corpusMinhashPairs(spark, sfDir).count()),
      ("minhashpairs_t700_increment", () => {
        appendLayout("documents.parquet", "doc_id")
        Dedup.corpusMinhashPairs(spark, incOldDir).count(); ()
      }, () => Dedup.corpusMinhashPairsIncrement(spark, incOldDir, incNewDir,
        minStandingBytes = 0L).count()),
      ("tristats_b12", noSetup,
        () => Similarity.corpusTriangleStats(spark, sfDir, bits = 12).count()),
      ("ngramidx_k3_increment", () => {
        appendLayout("documents.parquet", "doc_id")
        Dedup.corpusNgramIndex(spark, incOldDir).count()
        Dedup.corpusGramDf(spark, incOldDir).count(); ()
      }, () => Dedup.corpusNgramIndexIncrement(spark, incOldDir, incNewDir,
        minStandingBytes = 0L).count()),
      // timed: the edge increment plus one wedge join over its output;
      // the standing tristats asset is prebuilt as in an append
      // workflow, though the publish never reads it
      ("tristats_b12_increment", () => {
        incSetup(12)()
        Similarity.corpusTriangleStats(spark, incOldDir, bits = 12).count(); ()
      }, () => Similarity.corpusTriangleStatsIncrement(spark, incOldDir, incNewDir, bits = 12).count())
    )
    // SPARK_GRAFT_ASSETBENCH_ONLY=a,b filters rows for local iteration
    // (same contract as Bench's SPARK_GRAFT_BENCH_ONLY)
    val only = sys.env.get("SPARK_GRAFT_ASSETBENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(builds)(names => builds.filter(b => names(b._1)))
    val timed = selected.map { case (name, setup, run) =>
      freshRoot()
      setup()
      val t0 = System.nanoTime()
      run()
      val sec = (System.nanoTime() - t0) / 1e9
      name -> math.round(sec * 1000) / 1000.0
    }
    val json = timed.map { case (n, s) => s""""$n": $s""" }.mkString(", ")
    println(s"""{"sf_dir": "$sfDir", "builds": {$json}}""")
    spark.stop()
  }
}
