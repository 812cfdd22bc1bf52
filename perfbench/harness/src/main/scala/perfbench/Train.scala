package perfbench

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A short Spark-only run over the paths the workloads use (parquet
  * write and read, aggregation, join, a `noop` write, an AvailableNow
  * stream), so the build can record a class-data-sharing archive that
  * every run starts from. It calls no graft code, so the archive is the
  * same whatever the program under test does. Its numbers are not
  * reported.
  */
object Train {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.dir("train")
    spark.range(0, 20000, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"), md5(col("id").cast("string")).as("text"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    t.groupBy("k").agg(count(lit(1)), max(col("text"))).join(t.limit(10), "k")
      .write.format("noop").mode("overwrite").save()
    spark.readStream.schema(t.schema).option("maxFilesPerTrigger", 1).parquet(s"$dir/t")
      .writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        b.groupBy("k").count().write.mode("overwrite").parquet(s"$dir/s/batch=$id"); ()
      }
      .option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    Outcome(Map.empty, Nil, 0.0, Nil, Map.empty)
  }
}
