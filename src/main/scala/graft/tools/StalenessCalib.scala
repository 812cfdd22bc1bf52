package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** NGRAM-ORDER STALENESS CALIBRATION (rounds 19-20) — turns the
  * runbook's staleness thresholds from judgment into measured curves.
  * Two ladders, each over independent pinned chains (gen0 = the
  * corpus, gen1 = gen0 + a 200-doc batch), measuring the staleness
  * rows against the pruning-efficiency cost they are supposed to
  * predict:
  *
  *   - RANK-DRIFT ladder (r19): the batch PUMPS R of the founding
  *     corpus's rarest grams into high frequency (drift INSIDE the
  *     shared vocabulary). The r19 run showed the first-choice metric
  *     (rare-end overlap) was WRONG here — R=4 reads a "healthy"
  *     9951 bp while generating 765× the candidates — and the
  *     collision-mass ratio tracks the excess monotonically; the
  *     runbook thresholds on it since.
  *   - TEMPLATE-BOILERPLATE ladder (r20 — the r19 calibration's named
  *     blind spot, closing the loop): every batch doc shares T
  *     template tokens (grams ABSENT from the pin that arrive
  *     COMMON). The shared vocabulary never moves, so overlap AND
  *     collision_bp read a clean 10000 at every T — while the df=1
  *     unseen-gram fallback makes each template gram a prefix gram for
  *     all 200 batch docs and the candidate volume explodes
  *     quadratically. `ngram_order_new_collision_bp` (Σ df² over the
  *     worst new grams vs the current rare head's mass) is the row
  *     built to price exactly this, and the rung places its rebuild
  *     threshold.
  *
  * Answers stay EXACT either way (the prefix lemma holds under any
  * fixed total order); the curves price the pin in candidates-verified
  * — the number that says when a rebuild pays. For each chain:
  *
  *   - the four staleness rows ([[graft.operators.Dedup.ngramOrderStaleness]]),
  *   - `cand_pinned` — candidate pairs the increment-built index (the
  *     FOUNDING order, pinned) generates at threshold 0.7,
  *   - `cand_fresh`  — candidates a from-scratch rebuild (current df
  *     order) generates for the same corpus,
  *   - `excess_bp`   — (cand_pinned − cand_fresh) · 10⁴ / cand_fresh.
  *
  * One JSON line to stdout:
  * {"rows": [{r, ...}, ...], "template_rows": [{t, ...}, ...]}.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *   sbt "runMain graft.tools.StalenessCalib"
  */
object StalenessCalib {
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
    import graft.operators.Dedup

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0)

    // founding rare grams, rarest-first under the index's (df, g) order
    // (bounded head; audited like every driver-side collect)
    val rareGrams = graft.engine.DriverBudget.collect("StalenessCalib.rareGrams", 512L)(
      Dedup.gramDf(docs0, 3)
        .orderBy(col("__df").asc, col("g").asc)
        .select("g").limit(512)).map(_.getString(0))

    def withStream[A](s: java.util.stream.Stream[A])(f: java.util.stream.Stream[A] => Unit): Unit =
      try f(s) finally s.close()

    // one independent pinned chain per rung: build gen1 = gen0 + batch,
    // pin the order by increment, read the staleness rows, count
    // candidates under the pinned and fresh orders
    def measureChain(tag: String, batch: Seq[(Long, String)]): String = {
      val oldDir = java.nio.file.Files.createTempDirectory(s"graft_cal_old_$tag").toString
      val newDir = java.nio.file.Files.createTempDirectory(s"graft_cal_new_$tag").toString
      docs0.coalesce(4).write.parquet(s"$oldDir/documents.parquet")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cal_batch").toString
      import spark.implicits._
      batch.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/b.parquet")
      val newTable = java.nio.file.Paths.get(s"$newDir/documents.parquet")
      java.nio.file.Files.createDirectories(newTable)
      withStream(java.nio.file.Files.list(java.nio.file.Paths.get(s"$oldDir/documents.parquet")))(
        _.forEach(p => java.nio.file.Files.copy(p, newTable.resolve(p.getFileName.toString),
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)))
      withStream(java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/b.parquet")))(
        _.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => java.nio.file.Files.move(p,
            newTable.resolve(s"part-batch-${p.getFileName}"))))
      // pinned chain in its own warehouse
      spark.conf.set("spark.graft.index.dir",
        java.nio.file.Files.createTempDirectory(s"graft_cal_wh_$tag").toString)
      Dedup.dropInMemoryNgramTables()
      Dedup.corpusNgramIndex(spark, oldDir).count()
      Dedup.corpusGramDf(spark, oldDir).count()
      val pinnedIdx = Dedup.corpusNgramIndexIncrement(spark, oldDir, newDir, minStandingBytes = 0L)
      val stale = Dedup.ngramOrderStaleness(spark, newDir)
        .getOrElse(sys.error("chain must be pinned"))
      val candPinned = Dedup.prefixCandidatesIdx(pinnedIdx, 0.7).count()
      // fresh rebuild in a scratch warehouse (current df order)
      spark.conf.set("spark.graft.index.dir",
        java.nio.file.Files.createTempDirectory(s"graft_cal_wh2_$tag").toString)
      Dedup.dropInMemoryNgramTables()
      val candFresh = Dedup.prefixCandidatesIdx(Dedup.corpusNgramIndex(spark, newDir), 0.7).count()
      val excessBp = if (candFresh == 0) 0L else (candPinned - candFresh) * 10000L / candFresh
      s""""overlap_bp": ${stale("ngram_order_rare_overlap_bp")}, """ +
        s""""collision_bp": ${stale("ngram_order_collision_bp")}, """ +
        s""""new_collision_bp": ${stale("ngram_order_new_collision_bp")}, """ +
        s""""new_gram_bp": ${stale("ngram_order_new_gram_bp")}, """ +
        s""""cand_pinned": $candPinned, "cand_fresh": $candFresh, "excess_bp": $excessBp"""
    }

    // rank-drift rung: doc j carries 4 grams drawn from the R rarest
    // (pumping each ~800/R times) + unique filler — a shared batch
    // template would take the unseen-gram df=1 fallback and dominate
    // BOTH sides' candidates, which is the OTHER ladder's job
    val rows = Seq(0, 4, 16, 64, 256).map { r =>
      val batch = (0 until 200).map { j =>
        val pumped =
          if (r == 0) ""
          else (0 until 4).map(i => rareGrams((j * 4 + i) % r)).mkString(" ", " ", "")
        val filler = (0 until 10).map(i => s"u${j}x$i").mkString(" ")
        (maxId + 1 + j, s"$filler$pumped")
      }
      s"""{"r": $r, ${measureChain(s"r$r", batch)}}"""
    }
    // template-boilerplate rung: every batch doc shares T template
    // tokens appended after its unique filler — T−2 interior 3-shingles
    // arrive at df=200, absent from the pin
    val templateRows = Seq(0, 4, 16, 64).map { t =>
      val template = (0 until t).map(i => s"tpl$i").mkString(" ")
      val batch = (0 until 200).map { j =>
        val filler = (0 until 10).map(i => s"v${j}x$i").mkString(" ")
        (maxId + 1 + j, if (t == 0) filler else s"$filler $template")
      }
      s"""{"t": $t, ${measureChain(s"t$t", batch)}}"""
    }
    println(s"""{"sf_dir": "$sfDir", "rows": [${rows.mkString(", ")}], """ +
      s""""template_rows": [${templateRows.mkString(", ")}]}""")
    spark.stop()
  }
}
