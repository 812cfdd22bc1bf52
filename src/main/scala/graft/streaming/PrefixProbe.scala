package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Self-excluding, prefix-pruned read of a `batch=<id>/hp=<xx>` table —
  * the layout [[IngestDedup]]'s digest table and [[ChunkStoreIngest]]'s
  * chunk store share, and the one probe both use against it.
  *
  * The leaf directories are resolved on the driver with ONE
  * `globStatus` of every batch's `hp={p1,…}` leaves, so listing is
  * O(touched partitions) rather than O(every partition ever written):
  * the read never hands Spark the table root, whose partition discovery
  * would list (and, past the parallel-discovery threshold, launch a
  * listing job over) the whole history. The glob names `batch=` and
  * `hp=` literally, so hidden `_*` / `.*` paths — staging dirs,
  * checksums — never match, as partition discovery would skip them.
  */
private[graft] object PrefixProbe {

  /** Rows of every batch OTHER than `batchId` (a replaying batch must
    * not see its own earlier write) whose `hp` is in `prefixes`, read
    * with the declared `schema` (data columns plus the `hp` and `batch`
    * partition columns — never inferred, which would cost a footer-read
    * job per probe). Empty, with that schema and no Spark job, when no
    * leaf matches.
    */
  def scan(spark: SparkSession, dir: String, schema: String,
      batchId: Long, prefixes: Seq[String]): DataFrame = {
    val declared = StructType.fromDDL(schema)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val self = s"batch=$batchId"
    val leaves =
      if (prefixes.isEmpty) Seq.empty
      else Option(fs.globStatus(new Path(root, s"batch=*/hp={${prefixes.mkString(",")}}")))
        .map(_.toSeq).getOrElse(Seq.empty)
        .map(_.getPath)
        .filter(_.getParent.getName != self)
        .map(_.toString)
    if (leaves.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), declared)
    else
      spark.read.schema(declared).option("basePath", dir).parquet(leaves: _*)
  }
}
