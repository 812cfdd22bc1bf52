package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DEDUPLICATING CHUNK-STORE ingest — the storage-dedup sink of the
  * CDC family (the LBFS/venti shape: store every distinct chunk ONCE,
  * represent documents as manifests of chunk digests). Completes the
  * batch↔stream pairings: exact dedup ([[IngestDedup]]), near dedup
  * ([[NearDupIngest]]), quality gate ([[QualityGate]]), and
  * content-defined chunk storage ([[graft.operators.Dedup.cdcDedup]] /
  * `dedup_cdc_incremental` are the batch-side accounting twins).
  *
  * Per micro-batch:
  *   1. chunk every document ([[graft.functions.CdcChunks]] — local
  *      boundaries, so shared spans produce shared chunks);
  *   2. write the batch MANIFEST (doc_id, pos, digest, len) — the
  *      document's recipe; chunk TEXT never enters the manifest. A
  *      document with no chunks (empty or null text) gets one row with a
  *      null digest, so it is restored as it landed;
  *   3. append to the STORE only chunks whose digest is novel versus
  *      the standing store (prior batches) and within-batch first
  *      occurrences — an anti-join on skinny digests.
  *
  * Replay idempotence is the [[IngestDedup]] layout: both tables write
  * deterministic `batch=<id>` partitions with overwrite semantics and
  * the standing-store probe EXCLUDES the batch's own partition, so a
  * crash-replay rewrites the same files and converges. Reassembly
  * (manifest ⋈ store, concat by pos) reproduces every ingested
  * document byte-for-byte — the StreamingSpec lossless pin.
  *
  * Scale shape — per batch, the work tracks the batch, not the store's
  * history:
  *   - store partitions carry `hp` (2-hex digest prefix) under each
  *     `batch=<id>` dir, and each batch publishes tiny per-shard BLOOM
  *     sidecars (hp, bf) next to the store;
  *   - the batch's distinct chunks pay one lazy CASE dispatch on `hp`
  *     against the standing sidecars of the prefixes they touch (each
  *     row probes only its shard's filters — the
  *     [[graft.operators.Dedup.incrementalBloomSharded]] kernel applied
  *     to chunk digests). Bloom misses are PROVABLY novel and skip the
  *     exact join;
  *   - only Bloom MAYBES pay the exact anti-join, and the standing store
  *     is probed only under the maybes' own prefixes ([[PrefixProbe]]:
  *     one driver-side glob, then exactly those `hp=` leaves) — exact,
  *     because equal digests share their prefix. A batch with no maybes
  *     plans no store scan at all;
  *   - the layout check before the write ([[requireHpCompatible]]) is a
  *     driver-side listing of the newest batch, and the store and
  *     sidecar reads go through [[PrefixProbe]] with declared schemas: no
  *     partition discovery over the whole store, no schema-inference job.
  * No false negatives per shard, false positives re-checked exactly →
  * store contents and manifests are byte-identical to the unscreened
  * path (StreamingSpec pin).
  * Blooms are written BEFORE the store partition: a crash between the
  * two leaves a filter claiming chunks the store doesn't hold, which
  * the exact join refutes on replay — convergent; the reverse order
  * would leave stored chunks invisible to the screen (silent dupes).
  */
object ChunkStoreIngest {

  /** CDC window width: the rolling hash spans 8 characters. */
  private val CdcK = 8

  /** Data columns of a store leaf (`batch=<id>/hp=<xx>`). */
  private[graft] val StoreSchema: StructType =
    StructType.fromDDL("digest STRING, len BIGINT, chunk STRING")

  /** Data columns of a Bloom sidecar leaf (`batch=<id>`). */
  private[graft] val BloomSchema: StructType = StructType.fromDDL("hp STRING, bf BINARY")

  /** (doc_id, pos, digest, len, chunk, hp) rows of one batch — `pos` is
    * the chunk's 0-based position in its document, the reassembly key;
    * `hp` is the 2-hex digest prefix, the shard/pruning key shared with
    * the store layout and the Bloom sidecars.
    */
  private def chunkRows(batch: DataFrame, divisor: Int): DataFrame =
    batch
      .select(col("doc_id"),
        posexplode(graft.functions.sketch.cdcChunks(col("text"), CdcK, divisor))
          .as(Seq("pos", "chunk")))
      .select(col("doc_id"), col("pos"), md5(col("chunk")).as("digest"),
        length(col("chunk")).cast("long").as("len"), col("chunk"))
      .withColumn("hp", substring(col("digest"), 1, 2))

  /** Manifest rows of the batch's documents without chunks — empty or
    * null text, the only inputs CDC maps to no chunk: pos 0, null
    * digest, `len` the text length (0, or null for null text).
    * [[reassemble]] restores each as it landed.
    */
  private def chunklessRows(batch: DataFrame): DataFrame =
    batch.filter(col("text").isNull || col("text") === "")
      .select(col("doc_id"), lit(0).as("pos"), lit(null).cast("string").as("digest"),
        length(col("text")).cast("long").as("len"))

  /** Fail fast BEFORE writing the first hp-partitioned batch into a
    * store laid out in the pre-hp flat format. Mixing the two layouts
    * (flat parquet files under `batch=N` next to `batch=M/hp=xx/` dirs)
    * makes every subsequent partition discovery throw — wedging the
    * stream until a manual rewrite — so the incompatible WRITE is the
    * thing to stop, with a migration message, not the later read.
    * Driver-local, no Spark job: every write path runs this check, so a
    * store is uniform and its NEWEST batch directory that holds data
    * decides — `hp=` subdirectories mean hp layout, bare data files mean
    * flat. Batches that stored nothing hold neither and are skipped.
    */
  private[graft] def requireHpCompatible(
      spark: SparkSession, storeDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partition discovery's visibility rule: `_*` and `.*` are hidden
    def entries(dir: org.apache.hadoop.fs.Path) =
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val newestWithData =
      if (!fs.exists(path)) None
      else entries(path)
        .flatMap { case n @ s"batch=$id" => id.toLongOption.map(_ -> n); case _ => None }
        .sortBy(-_._1).iterator
        .map { case (_, n) => entries(new org.apache.hadoop.fs.Path(path, n)) }
        .find(_.nonEmpty)
    if (newestWithData.exists(_.exists(!_.startsWith("hp="))))
      throw new IllegalStateException(
        s"chunk store at $storeDir uses the pre-hp flat layout; " +
          "writing an hp-partitioned batch into it would create a " +
          "mixed-depth store that partition discovery rejects. " +
          "Migrate first: rewrite each batch=N partition with " +
          ".withColumn(\"hp\", substring(digest,1,2))" +
          ".write.partitionBy(\"hp\"), then resume the stream.")
  }

  /** The Bloom sidecar table lives NEXT TO the store (sibling path, so
    * a plain parquet read of the store never discovers it).
    */
  private[graft] def bloomDir(storeDir: String): String =
    storeDir.stripSuffix("/") + "_blooms"

  /** Per-shard standing Bloom filters for the prefixes a batch touches:
    * rows (hp, bf) from every OTHER batch's sidecar partition. Tiny —
    * batches × touched-prefixes rows of kilobyte blobs, kept bounded by
    * [[compactBlooms]] (the maintenance job that folds all batches'
    * filters into one row per shard). Empty, with no Spark job, before
    * any batch.
    */
  private[graft] def standingBlooms(
      spark: SparkSession, storeDir: String, batchId: Long,
      prefixes: Seq[String]): Seq[(String, Array[Byte])] = {
    val dir = new org.apache.hadoop.fs.Path(bloomDir(storeDir))
    // no sidecar yet: skip the query, whose prefix filter over an empty
    // local frame would be compiled afresh for every batch's prefix set
    if (prefixes.isEmpty || !dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir))
      Seq.empty
    // one filter row per (touched prefix, prior batch): ≤ 256 prefixes
    // × batch history — 1<<20 covers years of batches and still trips
    // on any corpus-proportional drift (compaction is the lever when a
    // deployment approaches it)
    else graft.engine.DriverBudget.collect("ChunkStore.standingBlooms", 1L << 20)(
        PrefixProbe.scan(spark, dir.toString, BloomSchema, batchId)
          .filter(col("hp").isin(prefixes: _*)))
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toSeq
  }

  /** COMPACTION: fold the per-batch sidecars into ONE row per shard.
    * Filters of different sizes cannot merge bit-wise, so the compacted
    * filters are REBUILT from the store's digest column (the source of
    * truth), sized to the largest shard — one scan of the skinny
    * digests, grouped per shard with map-side partials. The compacted
    * rows land in a NEGATIVE generation id (`batch=-1`/`batch=-2`,
    * never a real foreachBatch id, so no replay self-excludes them).
    * Crash safety across REPEATED compactions is generation
    * ALTERNATION, not overwrite-in-place: the new generation is
    * written to whichever negative id is currently absent, and every
    * OTHER sidecar partition (the previous generation + per-batch
    * dirs) is deleted only after that write commits — at every instant
    * some complete covering generation exists, so the worst crash
    * leaves EXTRA filters visible (more probe work), never a coverage
    * hole (an in-place overwrite would delete the only generation
    * covering already-compacted batches before its replacement
    * commits — a false-negative window that silently duplicates
    * chunks). A replay of a pre-compaction batch stays convergent: its
    * chunks screen as maybes against the compacted filters (they ARE
    * in the store) and the exact join — which self-excludes only the
    * STORE partition — re-verifies them. Run it whenever the sidecar
    * row count grows past a few hundred (the probe collects batches ×
    * touched-prefixes rows).
    *
    * CONCURRENT-INGEST safety is the same snapshot discipline applied
    * on the delete side: the sidecar partition list is captured BEFORE
    * the store digests are scanned, and only that captured set is
    * deleted after the new generation commits. A batch that lands
    * mid-compaction (after the snapshot) keeps its own sidecar — its
    * chunks were not in the digest scan, so the new generation does
    * not cover them, and deleting their filter would make future
    * probes screen them as "provably novel" and re-store duplicates
    * (breaking the byte-exact reassembly invariant: two store rows per
    * digest). Extra surviving sidecars cost probe rows, never
    * correctness.
    */
  def compactBlooms(spark: SparkSession, storeDir: String,
      bitsPerItem: Long = 10,
      midCompactionHook: () => Unit = () => ()): Unit = {
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(storePath)) return
    val dir = bloomDir(storeDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    // snapshot FIRST: only sidecars that predate the digest scan are
    // candidates for deletion — anything written later covers chunks
    // the new generation can't know about
    val preScan: Seq[org.apache.hadoop.fs.Path] =
      if (fs.exists(p))
        fs.listStatus(p).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("batch="))
      else Seq.empty
    midCompactionHook() // test seam: a concurrent batch lands here
    val digests = spark.read.parquet(storeDir).select(col("digest"), col("hp"))
    val maxShard = digests.groupBy("hp").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head()
    if (maxShard.isNullAt(0)) return
    val est = math.max(maxShard.getLong(0), 16L)
    def exists(name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(dir, name))
    // overwriting an id that exists is only safe when the OTHER
    // generation covers the store for the duration of the write
    val newGen = if (exists("batch=-1")) "batch=-2" else "batch=-1"
    digests.groupBy(col("hp"))
      .agg(graft.operators.Dedup.bloomAgg(
        xxhash64(col("digest")), est, est * bitsPerItem).as("bf"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$newGen")
    preScan
      .filter(_.getName != newGen)
      .foreach(q => fs.delete(q, true))
  }

  /** The lazy CASE dispatch over shard filters — one shared kernel
    * ([[graft.operators.Dedup.bloomDispatch]]) carries the
    * no-false-negative invariant for every Bloom tier in the engine.
    */
  private def bloomCandidate(blooms: Seq[(String, Array[Byte])]): Column =
    graft.operators.Dedup.bloomDispatch(blooms, col("digest"), col("hp"))

  /** Test seam: evaluate the shard-dispatched screen over arbitrary
    * (digest, hp) rows — the no-false-negative pin probes stored
    * digests through the exact expression the ingest path uses.
    */
  private[graft] def probeForSpec(
      df: DataFrame, blooms: Seq[(String, Array[Byte])]): DataFrame =
    df.withColumn("__cand", if (blooms.isEmpty) lit(false) else bloomCandidate(blooms))

  /** Process one micro-batch (columns `doc_id`, `text`): write the
    * manifest partition, the batch's Bloom sidecar, and the novel-chunk
    * store partition; returns (manifest rows, novel chunks stored).
    * Exposed for the spec.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      storeDir: String,
      manifestDir: String,
      divisor: Int = 64
  ): (Long, Long) = {
    val spark = batch.sparkSession
    requireHpCompatible(spark, storeDir)
    val rows = chunkRows(batch, divisor)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val manifestRows = graft.sources.WriteMetrics.countingWrite(
        rows.select(col("doc_id"), col("pos"), col("digest"), col("len"))
          .unionByName(chunklessRows(batch)))(
        _.write.mode(SaveMode.Overwrite).parquet(s"$manifestDir/batch=$batchId"))
      // within-batch first occurrence (smallest (doc_id, pos) wins —
      // deterministic under replay)
      val firstInBatch = rows
        .groupBy(col("digest"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      val batchDistinct = rows
        .join(firstInBatch, Seq("digest"))
        .filter(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos"))
        .select(col("digest"), col("hp"), col("len"), col("chunk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // tier 1+2: prefix spread (selects the standing sidecars) and
        // the sharded Bloom screen over them
        val prefixes = graft.engine.DriverBudget.collect(
            "ChunkStore.batchPrefixes", 256L)(
            batchDistinct.select(col("hp")).distinct())
          .map(_.getString(0)).toSeq
        val blooms = standingBlooms(spark, storeDir, batchId, prefixes)
        val probed = batchDistinct.withColumn("__cand",
          if (blooms.isEmpty) lit(false) else bloomCandidate(blooms))
        // tier 3: only Bloom maybes pay the exact anti-join, against the
        // standing store under the MAYBES' prefixes alone (equal digests
        // share their prefix, so this is exact); misses are provably
        // novel, and with no maybes the store is never scanned
        val maybePrefixes =
          if (blooms.isEmpty) Seq.empty
          else graft.engine.DriverBudget.collect("ChunkStore.maybePrefixes", 256L)(
              probed.filter(col("__cand")).select(col("hp")).distinct())
            .map(_.getString(0)).toSeq
        val screened =
          if (maybePrefixes.isEmpty) probed
          else probed.filter(!col("__cand")).unionByName(
            probed.filter(col("__cand")).join(
              PrefixProbe.scan(spark, storeDir, StoreSchema, batchId, maybePrefixes)
                .select(col("digest")),
              Seq("digest"), "left_anti"))
        val novel = screened
          .select(col("digest"), col("hp"), col("len"), col("chunk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // Bloom sidecar FIRST (see object scaladoc for the crash
          // ordering argument), sized from the largest shard's count
          val maxShard = novel.groupBy("hp").agg(count(lit(1)).as("n"))
            .agg(max(col("n"))).head()
          if (!maxShard.isNullAt(0)) {
            val est = math.max(maxShard.getLong(0), 16L)
            novel.groupBy(col("hp"))
              .agg(graft.operators.Dedup.bloomAgg(
                xxhash64(col("digest")), est, est * 10L).as("bf"))
              .write.mode(SaveMode.Overwrite).parquet(s"${bloomDir(storeDir)}/batch=$batchId")
          }
          val stored = graft.sources.WriteMetrics.countingWrite(novel)(
            _.write.partitionBy("hp").mode(SaveMode.Overwrite)
              .parquet(s"$storeDir/batch=$batchId"))
          (manifestRows, stored)
        } finally { novel.unpersist(false); () }
      } finally { batchDistinct.unpersist(false); () }
    } finally { rows.unpersist(false); () }
  }

  /** Reassemble documents from manifest ⋈ store — the restore path and
    * the lossless invariant's executable definition: every manifested
    * document comes back with its landed text, a chunkless one as `""`
    * (`len` 0) or null (`len` null). One digest-keyed join; per-doc
    * concat is bounded by document length.
    */
  def reassemble(spark: SparkSession, storeDir: String, manifestDir: String): DataFrame =
    spark.read.parquet(manifestDir)
      .join(spark.read.schema(StoreSchema).parquet(storeDir).select("digest", "chunk"),
        Seq("digest"), "left")
      .groupBy(col("doc_id"))
      .agg(when(count(col("len")) > 0,
        concat_ws("", array_sort(collect_list(struct(col("pos"), col("chunk"))))
          .getField("chunk"))).as("text"))

  /** Drain a doc stream (columns `doc_id`, `text`) into the store with
    * AvailableNow semantics.
    */
  def runChunkIngest(
      docs: DataFrame,
      storeDir: String,
      manifestDir: String,
      checkpoint: String,
      divisor: Int = 64
  ): Unit =
    EventStream.runAvailableNowForeach(docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, storeDir, manifestDir, divisor); ()
    }
}
