package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an N× scale point from an existing testdata directory —
  * the input for empirical linearity checkpoints (SCALING.md): every
  * 100 TB claim argued from plan shape at sf0.1 gets one measured 10×
  * point to confirm (or falsify) the curve.
  *
  * Replication is NOT naive copying, and the first version of this
  * generator taught the reason the hard way: the synthetic corpus has a
  * 31-word vocabulary, so its 3-shingle space (~31³) is already nearly
  * SATURATED at sf0.1 (avg shingle df 9.6) — replicas that re-draw
  * from the same vocabulary made posting lists ~10× denser and
  * candidate pairs grow ~quadratically, a generator artifact no real
  * 10× corpus shows (real corpora grow lexical diversity with size;
  * zipfian df tails stay bounded relative to the corpus). So:
  *   - documents: replica r > 0 deterministically permutes each text's
  *     tokens (sort by xxhash64(token, position, r)) AND prefixes every
  *     token with the replica tag — replicas draw from DISJOINT
  *     vocabularies, so per-replica shingle-df structure matches the
  *     original and similarity work scales ~linearly with the factor.
  *   - ids INTERLEAVE (`id·factor + r`) instead of block-shifting: the
  *     incremental queries cut at max(id)/2, and a block layout would
  *     put whole replicas on each side (zero cross-split shingle
  *     overlap — a degenerate probe); interleaving splits every
  *     replica in half, preserving each one's cross-split structure.
  *   - embeddings: replica r rotates every vector's components by r
  *     positions — within-replica geometry (distances, clusters) is
  *     preserved exactly, cross-replica cosines decorrelate.
  *   - lineitem: row replicas with l_orderkey/l_partkey shifted so
  *     distinct counts scale with the factor.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> <factor> [crossgenPermille]
  *
  * A positive `crossgenPermille` plants near-duplicate documents across
  * the 90%-by-id append cut ([[plantNearDups]]); embeddings are scaled
  * the same way in either mode.
  */
object ScaleGen {

  private val IdStride = 100000000L

  private def replicas(base: DataFrame, factor: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(r => f(base, r)).reduce(_ unionByName _)

  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame =
    replicas(docs, factor) { (d, r) =>
      // degenerate-population fidelity: NULL text stays NULL and
      // token-free text (empty / whitespace-only) passes through
      // untouched — the sf0.1 edge-case rows must survive into every
      // replica or the scale point under-exercises exactly the
      // degenerate paths; tokenization matches the engine's \s+ rule
      // (a bare single-space split would mint empty tokens)
      val toks = filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)
      val scrambled = concat_ws(" ",
        transform(
          array_sort(
            zip_with(
              toks,
              sequence(lit(0), size(toks) - 1),
              (t, i) => struct(xxhash64(t, i, lit(r)).as("h"),
                concat(lit(s"r${r}_"), t).as("t")))),
          x => x("t")))
      val text =
        if (r == 0) col("text")
        else when(col("text").isNull, lit(null).cast("string"))
          .when(size(toks) === 0, col("text"))
          .otherwise(scrambled)
      d.select(
        (col("doc_id") * factor + lit(r.toLong)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }

  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame =
    replicas(emb, factor) { (e, r) =>
      val dim = size(col("embedding"))
      val rot =
        if (r == 0) col("embedding")
        else transform(sequence(lit(0), dim - 1),
          i => element_at(col("embedding"), (pmod(i + lit(r), dim) + 1).cast("int")))
      e.select(
        (col("vec_id") * factor + lit(r.toLong)).as("vec_id"),
        rot.cast("array<float>").as("embedding"),
        col("label"))
    }

  def scaleLineitem(li: DataFrame, factor: Int): DataFrame =
    replicas(li, factor) { (l, r) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(r * IdStride))
        .withColumn("l_partkey", col("l_partkey") + lit(r * IdStride))
    }

  /** Events scale as 10× TRAFFIC over the same time range: user ids
    * interleave (per-user event counts — the session/interval partition
    * bound — stay at the original shape), timestamps unchanged (window
    * counts grow 10× per bucket, the realistic densification).
    */
  def scaleEvents(ev: DataFrame, factor: Int): DataFrame =
    replicas(ev, factor) { (e, r) =>
      e.withColumn("event_id", col("event_id") * factor + lit(r.toLong))
        .withColumn("user_id", col("user_id") * factor + lit(r.toLong))
    }

  /** CROSS-GENERATION NEAR-DUP PLANTING (round 19) — the fixture mode
    * the r18 verdict asked for: the stock ScaleGen corpus has modest
    * near-dup mass and none of it crosses the 90%-by-id append cut, so
    * the pair increment's winning term (the standing pair-verify mass
    * a rebuild re-pays and the increment copies forward) never shows
    * up locally. `permille`/1000 of ALL docs (hash-selected, so they
    * land on both sides of the cut) have their text replaced by a
    * DONOR doc's tokens minus one interior token — donors drawn
    * uniformly from the UNMARKED part of the STANDING id range (below
    * 90% of max; marked docs leave the pool — their own text is
    * replaced in the same pass, r20 advice fix), so
    * planted standing docs create standing×standing near-dup pairs
    * (the mass the increment skips re-verifying) and planted BATCH
    * docs create genuine cross-generation pairs (batch text
    * near-duplicating standing text — the population the r18 fixture
    * lacked entirely). Donors are restricted to ≥ 20 tokens so the
    * 3-shingle Jaccard after one interior drop stays ≥ (n−5)/(n−2) ≈
    * 0.83, safely above the 0.7 verify threshold; every planted text
    * also gets a doc-unique suffix token (one extra shingle, J stays
    * ≥ (n−5)/(n−1) ≈ 0.79), so no two planted docs are ever
    * byte-identical: the signature stage collapses byte-identical
    * texts into one representative before banding, so an exact twin
    * adds no pair to verify — the near-dup verification mass is what
    * this fixture measures.
    */
  def plantNearDups(docs: DataFrame, permille: Int): DataFrame = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val standingMax = maxId * 9 / 10
    def toks(c: Column) = filter(split(trim(c), "\\s+"), t => length(t) > 0)
    val donors = docs
      .filter(col("doc_id") <= standingMax)
      // r20 advice fix: a donor that is ITSELF marked has its text
      // replaced in the same pass, so its planted copier would pair
      // with nothing — excluding marked docs from the pool (the same
      // selection hash) keeps every planted doc paired with a
      // surviving, unmodified donor text
      .filter(pmod(xxhash64(col("doc_id"), lit("nd")), lit(1000L)) >= lit(permille.toLong))
      .select(col("doc_id").as("__donor"), toks(col("text")).as("__dt"))
      .filter(size(col("__dt")) >= 20)
    val marked = docs.withColumn("__donor",
      when(pmod(xxhash64(col("doc_id"), lit("nd")), lit(1000L)) < lit(permille.toLong),
        pmod(xxhash64(col("doc_id"), lit("ndp")), lit(standingMax + 1))))
    // 1-based interior drop position in [2, n-1]: never the first or
    // last token, so the planted text shares the donor's boundary
    // shingles too
    val dropPos = (pmod(xxhash64(col("doc_id"), lit("ndk")), size(col("__dt")) - 2) + 2)
      .cast("int")
    val planted = when(col("__dt").isNotNull && !(col("__donor") === col("doc_id")),
      concat_ws(" ", concat(
        slice(col("__dt"), lit(1), dropPos - 1),
        slice(col("__dt"), dropPos + 1, size(col("__dt"))),
        array(concat(lit("nd"), col("doc_id"))))))
    marked.join(donors, Seq("__donor"), "left")
      .select(
        col("doc_id"),
        coalesce(planted, col("text")).as("text"),
        col("lang"), col("source"),
        length(coalesce(planted, col("text"))).cast("long").as("n_chars"))
  }

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, factorS, crossgenPermille) = args match {
      case Array(s, o, f) => (s, o, f, 0)
      case Array(s, o, f, p) => (s, o, f, p.toInt)
    }
    val factor = factorS.toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-scalegen")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    val docsScaled = scaleDocuments(spark.read.parquet(s"$srcDir/documents.parquet"), factor)
    write(if (crossgenPermille > 0) plantNearDups(docsScaled, crossgenPermille) else docsScaled,
      "documents")
    write(scaleEmbeddings(spark.read.parquet(s"$srcDir/embeddings.parquet"), factor),
      "embeddings")
    write(scaleLineitem(spark.read.parquet(s"$srcDir/lineitem.parquet"), factor), "lineitem")
    write(scaleEvents(spark.read.parquet(s"$srcDir/events.parquet"), factor), "events")
    spark.stop()
  }
}
