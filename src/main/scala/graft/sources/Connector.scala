package graft.sources

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The pluggable scroll/bulk seam. The reference's entire domain is one
  * connector pair — Elasticsearch scroll reads (`transfer.js:79-151`)
  * and bulk writes (`transfer.js:44-77`) — hard-wired into the engine;
  * here the engine is format-agnostic and a connector is three methods.
  * A real ES/HTTP connector implements `scan` as a parallel
  * slice-per-partition read and `bulk` as per-partition batched posts;
  * the in-tree implementations are the parquet steady state and an
  * in-memory mock that makes worker E2E tests self-contained (the
  * analog of `tests/services/worker.spec.js:64-143`).
  */
trait DocConnector {

  /** S1 scroll scan: the full contents of one table as a DataFrame. */
  def scan(spark: SparkSession, table: String): DataFrame

  /** K1 bulk sink: write `df` as the table's new contents, returning
    * the number of documents written. Must be idempotent under replays
    * (replace semantics, matching the engine's overwrite-by-slice).
    */
  def bulk(df: DataFrame, table: String): Long

  /** Remove the table and its contents; a table that does not exist is
    * left as it is.
    */
  def drop(table: String): Unit

  /** S3 index-metadata scan: table names matching a `*` glob. */
  def listTables(pattern: String = "*"): Seq[String]

  /** Resolvable storage location of a table, for connectors that have
    * one (filesystem paths); None for opaque stores.
    */
  def location(table: String): Option[String] = None

  /** An identity of the table's current contents that costs no Spark
    * job, or None when the connector has none. A task re-added with the
    * same spec and equal fingerprints for every kept table reuses its
    * recorded plan ([[graft.Graft.addTask]]); None always re-plans.
    */
  def fingerprint(table: String): Option[String] = None
}

object DocConnector {

  /** The `*`-glob over whole names that table and index listings share:
    * `*` matches any run of characters, everything else is literal.
    */
  def glob(pattern: String): String => Boolean = {
    val rx = java.util.regex.Pattern
      .compile(pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
    name => rx.matcher(name).matches()
  }
}

/** Count-as-you-write: the row count of a written DataFrame collected
  * as an `observe` metric of the write job itself. The previous shape —
  * re-reading the written output and counting it — is a second full
  * scan of everything written, per table/subtask; at 100 TB that doubles
  * the write path's read volume. An observation costs zero extra jobs
  * and zero extra I/O.
  */
object WriteMetrics {
  def countingWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(
      obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    write(observed)
    obs.get("rows").asInstanceOf[Long]
  }
}

/** File-table connector over any Spark DataSource format (parquet, csv,
  * json, orc, ...): tables are `<root>/<table>.<format>` single files
  * (the driver's testdata layout) or `<root>/<table>` directories (the
  * engine's own write layout). Slash-qualified names ("t/slice")
  * address per-subtask output dirs.
  *
  * All path probes go through the Hadoop `FileSystem` API resolved from
  * the root's scheme, NOT `java.io.File` — the root can be `hdfs://`,
  * `s3a://`, or a local path/`file:` URI, and a local-FS probe against a
  * remote root would silently mis-resolve every table.
  *
  * Text formats (csv/json) carry no embedded schema: pass `schema` in
  * production — without it the connector falls back to inference, which
  * costs an EXTRA FULL SCAN per table at read time (fine for ad-hoc
  * exploration, wrong as the 100 TB steady state).
  */
class FormatConnector(
    root: String,
    format: String = "parquet",
    schema: Option[StructType] = None,
    readOptions: Map[String, String] = Map.empty,
    writeOptions: Map[String, String] = Map.empty
) extends DocConnector {

  /** Hadoop conf from the active session (carries `fs.*` credentials and
    * endpoints); a bare Configuration only when no session exists.
    */
  private def hconf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** csv defaults: header row so names survive the round-trip, schema
    * inference only when no explicit schema was given.
    */
  private def fmtDefaults: Map[String, String] = format match {
    case "csv" =>
      Map("header" -> "true") ++
        (if (schema.isEmpty) Map("inferSchema" -> "true") else Map.empty)
    case _ => Map.empty
  }

  private def scanPath(table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$table.$format")
    if (p.getFileSystem(hconf).exists(p)) p.toString else s"$root/$table"
  }

  override def scan(spark: SparkSession, table: String): DataFrame = {
    val reader = spark.read.format(format).options(fmtDefaults ++ readOptions)
    schema.foreach(reader.schema)
    reader.load(scanPath(table))
  }

  /** A frame with an `_index` column (the reference's dynamic index
    * rename, M2) writes one `_index=<value>` directory per destination
    * index under the table.
    */
  override def bulk(df: DataFrame, table: String): Long = {
    val dest = s"$root/$table"
    WriteMetrics.countingWrite(df) { d =>
      val writer = d.write.format(format).options(fmtDefaults ++ writeOptions)
        .mode(SaveMode.Overwrite)
      (if (d.columns.contains("_index")) writer.partitionBy("_index") else writer).save(dest)
    }
  }

  override def drop(table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(scanPath(table))
    p.getFileSystem(hconf).delete(p, true); ()
  }

  override def listTables(pattern: String): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .map(_.getPath.getName.stripSuffix(s".$format"))
      .distinct.filter(DocConnector.glob(pattern)).sorted
  }

  override def location(table: String): Option[String] = Some(s"$root/$table")

  /** The table's driver-local recursive listing (name, length, mtime),
    * digested: a new, removed or rewritten file changes it.
    */
  override def fingerprint(table: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(scanPath(table))
    Some(graft.engine.AssetStore.listingFingerprint(p.getFileSystem(hconf), p))
  }
}

/** The parquet steady state (self-describing schema, column pruning +
  * predicate pushdown at the scan) — the default connector everywhere.
  */
final class ParquetConnector(root: String) extends FormatConnector(root, "parquet")

/** In-memory mock connector — the worker-E2E stand-in for a live
  * document store (what the reference spins real ES containers for).
  * `bulk` collects to the driver BY DESIGN: this is a test double, not
  * a scale path; the contract it verifies (replace semantics, counts,
  * table addressing) is the connector contract, not the storage.
  */
final class InMemoryConnector extends DocConnector {

  private val tables = TrieMap[String, (StructType, Seq[Row])]()

  override def scan(spark: SparkSession, table: String): DataFrame = {
    val (schema, rows) = tables.getOrElse(
      table, throw new NoSuchElementException(s"no such table: $table"))
    spark.createDataFrame(rows.asJava, schema)
  }

  override def bulk(df: DataFrame, table: String): Long = {
    val rows = df.collect().toSeq
    tables.put(table, (df.schema, rows))
    rows.size.toLong
  }

  override def listTables(pattern: String): Seq[String] =
    tables.keySet.toSeq.filter(DocConnector.glob(pattern)).sorted

  def count(table: String): Long = tables.get(table).map(_._2.size.toLong).getOrElse(0L)

  override def drop(table: String): Unit = { tables.remove(table); () }
}
