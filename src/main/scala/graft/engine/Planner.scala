package graft.engine

import org.apache.spark.sql.SparkSession

import graft.model._
import graft.sources.DocConnector
import graft.transform.MetadataFilters

/** Task planning (P1/P5, `subtasks.js:369-396`): a task expands into
  * (tables kept by its index filters) x (size buckets), and the backlog
  * is that set minus the subtasks already completed, diffed on the
  * content-addressed subtask id.
  */
object Planner {

  /** Every subtask of `task`. A table survives when no index filter is
    * given or any filter accepts its [[IndexConfig]] (F1, OR-combined);
    * pruned tables are never scanned. A table with a size column in
    * `sizeCols` gets `buckets` equi-depth size ranges from [[Bounds.plan]]
    * over its `source` scan; any other table is one subtask spanning the
    * same sentinels as a bucket plan, counted with one job.
    */
  def expand(
      spark: SparkSession,
      task: TaskSpec,
      source: DocConnector,
      sizeCols: Map[String, String],
      indexFilters: Seq[MetadataFilters.IndexPred] = Seq.empty,
      buckets: Int = 3
  ): Seq[SubtaskSpec] =
    MetadataFilters.applyIndexFilters(task.tables.map(IndexConfig(_)), indexFilters)
      .map(_.name).flatMap { t =>
        val df = source.scan(spark, t)
        sizeCols.get(t) match {
          case Some(sizeCol) => Bounds.plan(df, t, sizeCol, buckets)
          case None =>
            Seq(SubtaskSpec(t, Double.NegativeInfinity, Double.MaxValue, Bounds.MaxFlushSize, df.count()))
        }
      }

  /** `buildBacklog` (`subtasks.js:369-396`): potential minus completed,
    * diffed on the content-addressed id (`subtask.js:20-25` — count is
    * excluded from identity, so a re-count never duplicates work).
    */
  def buildBacklog(
      potential: Seq[SubtaskSpec],
      completed: Set[String]
  ): Seq[SubtaskSpec] =
    potential.filterNot(s => completed.contains(s.subtaskId))
}
