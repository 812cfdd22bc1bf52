package graft.engine

import org.apache.spark.sql.SparkSession

/** Durable, content-addressed corpus-asset store — the shared publish/
  * load machinery behind every "build once per corpus, consume many"
  * artifact (PQ/IVF-PQ code tables, the PPJoin n-gram prefix index,
  * the shingle document-frequency table).
  *
  * An asset is a DIRECTORY under the index warehouse whose name
  * content-addresses (builder params, corpus fingerprint, layout
  * version). Publication is crash/race-safe: the builder writes into a
  * hidden staging directory, a commit marker lands last, and one atomic
  * rename makes the asset visible — a reader can never observe a
  * half-written asset, and a torn build leaves only an unreferenced
  * `.build_*` directory that never matches a content address.
  * Concurrent builders race benignly: publish is the rename guarded by
  * a target-existence check; the loser deletes its staging directory
  * and serves the winner's asset.
  *
  * The 100 TB shape: assets live NEXT TO the corpus they derive from
  * (warehouse-relative), survive every JVM, and are retired naturally —
  * a corpus rebuild changes the fingerprint, so old assets simply stop
  * being addressed (GC is `rm` on unreferenced directories).
  */
object AssetStore {

  /** Bump when any published asset layout changes: old assets are then
    * never addressed by newer code (no migration, no stale reads).
    * v1 = per-asset manifest as commit marker; v2 = store-level
    * `_GRAFT_COMMITTED` marker (uniform across asset kinds).
    */
  val FormatVersion = 2

  /** Spark ignores `_`/`.`-prefixed files in a table directory, so the
    * marker can sit inside an asset that IS a parquet table.
    */
  private val Marker = "_GRAFT_COMMITTED"

  // one fallback root per JVM for environments whose warehouse path is
  // not creatable (read-only cwd): durability degrades to JVM-lifetime
  // with a logged warning instead of failing every asset consumer
  private lazy val tmpFallbackRoot: String =
    java.nio.file.Files.createTempDirectory("graft_index_fallback").toString

  /** Root directory for durable assets. Resolution order: session conf
    * `spark.graft.index.dir` (the test/ops override), env
    * `GRAFT_INDEX_DIR`, else `<spark.sql.warehouse.dir>/graft_index`;
    * an un-creatable root falls back to a per-JVM temp directory
    * (loudly — assets are then caches, not durable).
    */
  def warehouse(spark: SparkSession): String = {
    val configured = spark.conf.getOption("spark.graft.index.dir")
      .orElse(sys.env.get("GRAFT_INDEX_DIR"))
      .getOrElse {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val base =
          if (wh.startsWith("file:")) new java.net.URI(wh).getPath
          else wh
        base.stripSuffix("/") + "/graft_index"
      }
    try {
      if (fsFor(spark, configured).mkdirs(new org.apache.hadoop.fs.Path(configured)))
        configured
      else sys.error("mkdirs returned false")
    } catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"asset warehouse $configured is not creatable (${e.getMessage}); " +
            s"falling back to JVM-lifetime $tmpFallbackRoot — assets will not survive this JVM")
        tmpFallbackRoot
    }
  }

  /** Content address of one corpus table: digest of its file listing
    * (name, length, mtime) — footer-level metadata, no data scan. A
    * corpus rebuild changes the listing, so a stale asset can never be
    * served for refreshed data; identical data re-listed gives the
    * identical address, so nothing rebuilds.
    */
  def corpusFingerprint(spark: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, table)
    listingFingerprint(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Digest of `p`'s recursive file listing (name, length, mtime), read
    * on the driver without a Spark job; an absent `p` digests its path.
    */
  def listingFingerprint(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.getName}|${f.getLen}|${f.getModificationTime}"
      }
    } else entries += s"absent|$p"
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Metadata-proven appends this JVM / ambiguous listings that fell
    * through to the digest join — spec seams for the r17 fast path.
    */
  private[graft] val metadataAppendProofs =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val metadataAppendAmbiguous =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** METADATA-ONLY PURE-APPEND PROOF (round 17). The increment
    * publishers' precondition ("every old row present, unchanged, in
    * the new corpus") previously cost a corpus-keyed digest join on
    * EVERY append publish — a full standing-corpus read per append,
    * the one recurring O(corpus) term left in the append workflow.
    * Under the SAME trust model [[corpusFingerprint]] already commits
    * to (a file is the same bytes iff name|length|mtime are unchanged),
    * a pure append is provable with ZERO Spark jobs:
    *
    *   1. every file of `oldDir/table` appears in `dir/table` at the
    *      same relative path with identical length and mtime — so every
    *      standing ROW is present, unchanged (no removal, no edit);
    *   2. (r18) every standing file's parquet FOOTER stats (row count +
    *      id range) are identical between the old copy and the copy
    *      under `dir` — closing the coarse-mtime hole where a
    *      same-length in-place edit inside the mtime quantum passes
    *      check 1 (a payload-only rewrite preserving row count AND id
    *      stats remains; [[TrustListingKey]]=false forces the digest
    *      join for stores where that residual matters);
    *   3. the batch files (new-listing minus old-listing) carry id
    *      ranges strictly ABOVE the standing corpus's max id, read from
    *      parquet FOOTER statistics on the driver — so no batch row
    *      reuses a standing id (the one violation a listing alone
    *      cannot see: an appended file redefining id 17 would make the
    *      increment's "new rows" anti-join silently drop it).
    *
    * Returns Some(batch file paths) when both hold (possibly empty —
    * an unchanged listing is trivially a pure append), None when the
    * listing is ambiguous (compaction, rewrite, missing footer stats,
    * overlapping id ranges) — the caller then falls back to the digest
    * join, which remains the ground-truth validator.
    *
    * Driver cost: one recursive listing per side plus one FOOTER read
    * per file (a few KB each, row groups never touched), parallelized
    * below; at 100 TB with ~10⁵ data files that is seconds of metadata
    * I/O in place of a full corpus scan + shuffle.
    */
  // proof memo keyed by (dirs, table, BOTH fingerprints): one default
  // append publish consults the proof once per derived family (four
  // times for documents.parquet) — the fingerprints re-list cheaply
  // and content-address the expensive footer sweep, so a changed
  // directory can never serve a stale verdict. LRU-capped (r18): keys
  // change every append, so an unbounded map leaks one entry per corpus
  // generation in a long-lived service driver; eviction just re-runs
  // the footer sweep (metadata I/O) on the next consult.
  private[graft] val AppendProofMemoCap = 64
  private val appendProofMemo =
    new BoundedMemo[String, Option[Seq[String]]](AppendProofMemoCap)
  private[graft] def appendProofMemoSize: Int = appendProofMemo.size
  private[graft] def dropAppendProofMemo(): Unit = appendProofMemo.clear()
  private[graft] def appendProofMemoHas(oldDir: String, dir: String, table: String,
      spark: SparkSession): Boolean =
    appendProofMemo.contains(
      s"$oldDir|$dir|$table|${corpusFingerprint(spark, oldDir, table)}|" +
        corpusFingerprint(spark, dir, table))

  /** HARD OVERRIDE for the listing trust model (r18, r17 ADVICE): on
    * stores with coarse mtime granularity (1 s on some object stores
    * and archive mounts) a same-length in-place edit of a standing
    * file within the mtime quantum is invisible to name|length|mtime.
    * The per-file footer-stats equality below catches any such edit
    * that moves row counts or id ranges; an edit that preserves BOTH
    * (a payload-only rewrite) can only be caught by content — set this
    * to false on coarse-mtime stores and every increment runs the
    * digest-join ground truth instead of the metadata proof.
    */
  val TrustListingKey = "spark.graft.append.trustListing"

  def pureAppendByMetadata(spark: SparkSession, oldDir: String, dir: String,
      table: String, idCol: String): Option[Seq[String]] = {
    if (!spark.conf.get(TrustListingKey, "true").toBoolean) {
      metadataAppendAmbiguous.incrementAndGet()
      return None
    }
    val memoKey = s"$oldDir|$dir|$table|${corpusFingerprint(spark, oldDir, table)}|" +
      corpusFingerprint(spark, dir, table)
    appendProofMemo.getOrElseUpdate(memoKey)(
      pureAppendByMetadataUncached(spark, oldDir, dir, table, idCol))
  }

  private def pureAppendByMetadataUncached(spark: SparkSession, oldDir: String, dir: String,
      table: String, idCol: String): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def listing(d: String): Option[Map[String, (Long, Long, org.apache.hadoop.fs.Path)]] = {
      val p = new org.apache.hadoop.fs.Path(d, table)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val base = fs.makeQualified(p).toString.stripSuffix("/") + "/"
      val b = Map.newBuilder[String, (Long, Long, org.apache.hadoop.fs.Path)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        // markers/CRCs are not data: same exclusions Spark's scan applies
        if (!name.startsWith("_") && !name.startsWith("."))
          b += f.getPath.toString.stripPrefix(base) ->
            ((f.getLen, f.getModificationTime, f.getPath))
      }
      Some(b.result())
    }
    val proof = for {
      old <- listing(oldDir)
      nw  <- listing(dir)
      if old.forall { case (rel, (len, mtime, _)) =>
        nw.get(rel).exists { case (l, m, _) => l == len && m == mtime } }
      batch = nw.collect { case (rel, (_, _, p)) if !old.contains(rel) => p }.toSeq
      // r18 hardening: the listing match alone trusts mtime, which can
      // be COARSE (1 s quanta) — a same-length in-place edit inside the
      // quantum slips through it. So every standing file's parquet
      // footer stats (row count + id range) must ALSO be identical
      // between the old copy and the copy under `dir`; a moved id
      // range, changed row count, or unreadable footer on either side
      // is ambiguous and falls back to the digest-join ground truth.
      // (A payload-only rewrite preserving both is the residual risk —
      // [[TrustListingKey]]=false closes it by forcing the digest.)
      oldStats <- pooledFooterStats(conf,
        old.toSeq.map { case (rel, (_, _, p)) => rel -> p }, idCol)
      newStats <- pooledFooterStats(conf,
        old.keys.toSeq.map(rel => rel -> nw(rel)._3), idCol)
      if old.keys.forall(rel => oldStats(rel) == newStats(rel))
      if batch.isEmpty || {
        val oldMax =
          if (oldStats.isEmpty) Long.MinValue else oldStats.values.map(_._3).max
        footerIdRange(conf, batch, idCol) match {
          case Some((batchMin, _)) => batchMin > oldMax
          case None => false // stats missing somewhere: ambiguous
        }
      }
    } yield batch.map(_.toString)
    (if (proof.isDefined) metadataAppendProofs else metadataAppendAmbiguous)
      .incrementAndGet()
    proof
  }

  /** Total data bytes of one corpus table from its file listing —
    * metadata-only, zero jobs (the size signal crossover heuristics
    * gate on, r17).
    */
  def tableBytes(spark: SparkSession, dir: String, table: String): Long =
    pathBytes(spark, new org.apache.hadoop.fs.Path(dir, table).toString)

  /** Listing bytes of an arbitrary directory (an already-resolved asset
    * path) — the metadata-only size signal the broadcast gates read
    * (r18). Same semantics as [[tableBytes]]: recursive, data files
    * only, 0 for a missing path, zero Spark jobs.
    */
  def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    var total = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) total += f.getLen
    }
    total
  }

  /** (min, max) of `idCol` across `files` from parquet footer column
    * statistics only — None if any file lacks usable stats (null ids,
    * non-long type, stats dropped by the writer). Footers are read on
    * a small driver pool; no Spark job is submitted.
    */
  /** Per-file (rowCount, idMin, idMax) from the parquet footer —
    * driver-side, row groups never touched. None when the footer is
    * unreadable or `idCol` lacks clean long statistics (AMBIGUOUS —
    * the digest join will surface whatever is actually wrong); a
    * zero-row file yields the neutral (0, MaxValue, MinValue).
    */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      f: org.apache.hadoop.fs.Path, idCol: String): Option[(Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    def unsafe(): Option[(Long, Long, Long)] = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        var rows = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        blocks.foreach { blk =>
          rows += blk.getRowCount
          blk.getColumns.asScala.find(_.getPath.toDotString == idCol) match {
            case Some(c) => c.getStatistics match {
              case s: org.apache.parquet.column.statistics.LongStatistics
                  if s.hasNonNullValue && s.getNumNulls == 0 =>
                mn = math.min(mn, s.getMin); mx = math.max(mx, s.getMax)
              case _ => return None
            }
            case None => return None
          }
        }
        Some((rows, mn, mx))
      } finally reader.close()
    }
    try unsafe() catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Footer stats for many files on a small driver pool; None the
    * moment ANY file is ambiguous.
    */
  private def pooledFooterStats(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[(String, org.apache.hadoop.fs.Path)], idCol: String)
      : Option[Map[String, (Long, Long, Long)]] = {
    if (files.isEmpty) return Some(Map.empty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    try {
      val futures = files.map { case (k, f) => k -> pool.submit(
        new java.util.concurrent.Callable[Option[(Long, Long, Long)]] {
          def call(): Option[(Long, Long, Long)] = footerStats(conf, f, idCol)
        })
      }
      val b = Map.newBuilder[String, (Long, Long, Long)]
      var ok = true
      futures.foreach { case (k, fut) =>
        fut.get() match {
          case Some(s) if ok => b += k -> s
          case Some(_) => ()
          case None => ok = false // keep draining so the pool shuts down clean
        }
      }
      if (ok) Some(b.result()) else None
    } finally pool.shutdown()
  }

  private def footerIdRange(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path], idCol: String): Option[(Long, Long)] =
    pooledFooterStats(conf, files.map(f => f.toString -> f), idCol).map { stats =>
      stats.values.foldLeft((Long.MaxValue, Long.MinValue)) {
        case ((mn, mx), (_, a, b)) => (math.min(mn, a), math.max(mx, b))
      }
    }

  /** Is a published, fully-committed asset present at `path`? */
  def committed(spark: SparkSession, path: String): Boolean = {
    val fs = fsFor(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(path, Marker))
  }

  /** The asset's directory iff it is already published — the
    * zero-build short-circuit increment publishers consult BEFORE
    * resolving their standing inputs (r17: the recursion fix hoists
    * the old-asset resolution out of the builder; without this check
    * that hoist would build the standing asset even when the target
    * address is already live).
    */
  def resolveIfCommitted(spark: SparkSession, assetId: String): Option[String] = {
    val dir = s"${warehouse(spark)}/$assetId"
    if (committed(spark, dir)) Some(dir) else None
  }

  /** Garbage-collect the warehouse: delete (a) committed assets of the
    * CURRENT `FormatVersion` whose trailing content fingerprint matches
    * none of the given corpora's current fingerprints (their corpus was
    * rebuilt — the address can never be served again), (b) addressed
    * current-version directories without a commit marker and `.build_*`
    * staging directories, but ONLY when older than `graceMs` — younger
    * ones may be a LIVE publish in flight (on a copy-rename filesystem
    * an in-progress publish is indistinguishable from a torn one, and
    * sweeping an active builder's staging dir would let its later
    * marker write silently recreate the path and publish an empty
    * committed asset), and (c) assets of OLDER format versions only
    * when `sweepOlderFormats` is set — during a rolling upgrade BOTH
    * older and newer versions may be actively served by other nodes,
    * so cross-version cleanup is a deliberate operator action after
    * the fleet converges, never a side effect. Never touches a
    * committed live address, any newer-version asset, or a directory
    * without the store's address suffix. Returns deleted names.
    *
    * This is the maintenance half of the content-addressed contract:
    * publication never overwrites, so reclamation is an explicit sweep
    * a deployment runs after corpus rebuilds.
    */
  def gcStale(spark: SparkSession, corpora: Seq[(String, String)],
      graceMs: Long = 60L * 60 * 1000, sweepOlderFormats: Boolean = false,
      dryRun: Boolean = false): Seq[String] = {
    val root = warehouse(spark)
    val fs = fsFor(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return Seq.empty
    val live = corpora.map { case (dir, table) => corpusFingerprint(spark, dir, table) }.toSet
    val addressed = raw"_v(\d+)_([0-9a-f]{16})$$".r.unanchored
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(rootPath).toSeq.flatMap { st =>
      val name = st.getPath.getName
      def agedOut = st.getModificationTime < cutoff
      val stale =
        if (!st.isDirectory) false
        else if (name.startsWith(".build_")) agedOut // crashed builder, not a live one
        else name match {
          case addressed(v, fp) if v.toInt == FormatVersion =>
            if (!committed(spark, st.getPath.toString)) agedOut // torn vs in-flight publish
            else !live.contains(fp)
          case addressed(v, _) => v.toInt < FormatVersion && sweepOlderFormats
          case _               => false // not ours; never touch
        }
      // dryRun reports the would-delete set without touching disk — the
      // operator preview behind the maintenance API's dry_run flag
      if (stale && (dryRun || fs.delete(st.getPath, true))) Some(name) else None
    }
  }

  /** Resolve `assetId` under the warehouse: serve the published asset
    * if present, else run `build` against a staging directory and
    * publish it. Returns the asset's directory; `onBuilt` tells the
    * caller whether THIS call produced it (false = loaded/lost race).
    */
  def resolve(spark: SparkSession, assetId: String,
      build: String => Unit, onBuilt: Boolean => Unit = _ => ()): String = {
    val root = warehouse(spark)
    val assetDir = s"$root/$assetId"
    if (committed(spark, assetDir)) { onBuilt(false); return assetDir }
    val fs = fsFor(spark, root)
    val staging = s"$root/.build_${java.util.UUID.randomUUID().toString.take(12)}"
    val sPath = new org.apache.hadoop.fs.Path(staging)
    val aPath = new org.apache.hadoop.fs.Path(assetDir)
    fs.mkdirs(sPath)
    try {
      build(staging)
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, Marker), true)
      try out.write(Array.emptyByteArray) finally out.close()
      if (!fs.exists(aPath) && fs.rename(sPath, aPath)) { onBuilt(true); assetDir }
      else if (committed(spark, assetDir)) { // lost the race: serve the winner
        fs.delete(sPath, true); onBuilt(false); assetDir
      } else sys.error(s"could not publish asset at $assetDir")
    } catch {
      case t: Throwable => fs.delete(sPath, true); throw t
    }
  }
}
