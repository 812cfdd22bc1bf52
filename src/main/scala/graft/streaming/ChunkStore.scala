package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  *   3. append to the STORE only the batch's first occurrence of each
  *      digest that no prior batch stored — one exact anti-join of the
  *      batch's distinct chunks against the standing store, probed the
  *      way [[IngestDedup]] probes its digest table: the batch's prefix
  *      spread selects the standing `hp=` leaves ([[PrefixProbe]]: one
  *      driver-side glob, declared schema, no partition discovery over
  *      the store's history). Pruning by prefix is exact, because equal
  *      digests share their prefix.
  *
  * Store leaves are laid out `batch=<id>/hp=<xx>` (2-hex digest prefix);
  * manifest partitions `batch=<id>`. Both are written with overwrite
  * semantics, the manifest FIRST, and the probe EXCLUDES the batch's own
  * store partition. A replay after a crash at any point therefore
  * recomputes the same novel set against the same prior batches and
  * rewrites the same files: a lost store partition is rewritten in
  * full, a written one is replaced by itself. Reassembly (manifest ⋈
  * store, concat by pos) reproduces every ingested document
  * byte-for-byte — the StreamingSpec lossless pin. A `<store>_blooms`
  * directory left by releases that screened chunks through per-batch
  * Bloom sidecars is never read and can be deleted.
  */
object ChunkStoreIngest {

  /** CDC window width: the rolling hash spans 8 characters. */
  private val CdcK = 8

  /** Data columns of a store leaf (`batch=<id>/hp=<xx>`). */
  private[graft] val StoreSchema: StructType =
    StructType.fromDDL("digest STRING, len BIGINT, chunk STRING")

  /** (doc_id, pos, digest, len, chunk, hp) rows of one batch — `pos` is
    * the chunk's 0-based position in its document, the reassembly key;
    * `hp` is the 2-hex digest prefix, the store's pruning key.
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

  /** Process one micro-batch (columns `doc_id`, `text`): write the
    * manifest partition, then the novel-chunk store partition; returns
    * (manifest rows, novel chunks stored). Exposed for the spec.
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
        // the batch's prefix spread: prunes the standing-store probe to
        // the `hp=` leaves its digests can match
        val prefixes = graft.engine.DriverBudget.collect(
            "ChunkStore.batchPrefixes", 256L)(
            batchDistinct.select(col("hp")).distinct())
          .map(_.getString(0)).toSeq
        val novel = batchDistinct.join(
          PrefixProbe.scan(spark, storeDir, StoreSchema, batchId, prefixes).select(col("digest")),
          Seq("digest"), "left_anti")
        val stored = graft.sources.WriteMetrics.countingWrite(novel)(
          _.write.partitionBy("hp").mode(SaveMode.Overwrite)
            .parquet(s"$storeDir/batch=$batchId"))
        (manifestRows, stored)
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
