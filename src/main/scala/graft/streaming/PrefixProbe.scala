package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Self-excluding read of the standing history of a `batch=<id>` table —
  * the layout every ingest module writes its per-batch state in, and the
  * one reader all of them probe it with.
  *
  * The leaf directories are resolved on the driver with ONE `globStatus`
  * (of every batch's directory, or of every batch's `hp={p1,…}` leaves
  * for an `hp`-sharded table), so listing is O(touched leaves): the read
  * never hands Spark the table root, whose partition discovery would list
  * (and, past the parallel-discovery threshold, launch a listing job
  * over) the whole history. The glob names `batch=` and `hp=` literally, so hidden
  * `_*` / `.*` paths — staging dirs, checksums — never match. The
  * replaying batch's own leaves are dropped: a crash-replay must not see
  * its own earlier write.
  *
  * The rows come back with exactly the declared columns — the data
  * columns the writer puts in the files, never inferred (inference costs
  * a footer-read job per probe) — and as an empty frame of that schema,
  * with no Spark job, when no leaf matches.
  */
private[graft] object PrefixProbe {

  /** Every other batch's rows of the table at `dir`. */
  def scan(spark: SparkSession, dir: String, schema: StructType, batchId: Long): DataFrame =
    read(spark, dir, schema, batchId, "batch=*", identity)

  /** Every other batch's rows whose `hp` shard is in `prefixes`. */
  def scan(spark: SparkSession, dir: String, schema: StructType,
      batchId: Long, prefixes: Seq[String]): DataFrame =
    if (prefixes.isEmpty) empty(spark, schema)
    else read(spark, dir, schema, batchId, s"batch=*/hp={${prefixes.mkString(",")}}", _.getParent)

  private def read(spark: SparkSession, dir: String, schema: StructType,
      batchId: Long, glob: String, batchDir: Path => Path): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val self = s"batch=$batchId"
    val leaves = Option(fs.globStatus(new Path(root, glob))).toSeq.flatten
      .map(_.getPath)
      .filter(batchDir(_).getName != self)
      .map(_.toString)
    if (leaves.isEmpty) empty(spark, schema)
    else spark.read.schema(schema).parquet(leaves: _*)
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}
