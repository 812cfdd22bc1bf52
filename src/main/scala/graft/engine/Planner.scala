package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.sources.DocConnector
import graft.transform.MetadataFilters

/** Task planning (P1/P5, `subtasks.js:369-396`): a task expands into
  * (tables kept by its index filters) x (size buckets), and the backlog
  * is that set minus the subtasks already completed, diffed on the
  * content-addressed subtask id.
  */
object Planner {

  /** A task's potential subtasks, in kept-table order, and the one frame
    * per kept table that planning counted and every subtask of that
    * table scans.
    */
  final case class Plan(subtasks: Seq[SubtaskSpec], scans: Map[String, DataFrame])

  /** The task's tables in order, minus those no index filter accepts: a
    * table survives when no filter is given or any filter accepts its
    * [[IndexConfig]] (F1, OR-combined).
    */
  def keptTables(task: TaskSpec, indexFilters: Seq[MetadataFilters.IndexPred]): Seq[String] =
    MetadataFilters.applyIndexFilters(task.tables.map(IndexConfig(_)), indexFilters).map(_.name)

  /** Plan `task`: each kept table is scanned once through `source`
    * (pruned tables never are), and the tables are planned concurrently
    * on [[Workers]]. A table with a size column in `sizeCols` gets
    * `buckets` equi-depth size ranges from [[Bounds.plan]] over its scan;
    * any other table is one subtask spanning the same sentinels as a
    * bucket plan, counted with one job.
    */
  def expand(
      spark: SparkSession,
      task: TaskSpec,
      source: DocConnector,
      sizeCols: Map[String, String],
      indexFilters: Seq[MetadataFilters.IndexPred] = Seq.empty,
      buckets: Int = 3
  ): Plan = {
    val kept = keptTables(task, indexFilters)
    val planned = Workers.map(kept, Workers.count(spark, kept.size), s"graft-plan-${task.name}") { t =>
      val df = source.scan(spark, t)
      val subtasks = sizeCols.get(t) match {
        case Some(sizeCol) => Bounds.plan(df, t, sizeCol, buckets)
        case None =>
          Seq(SubtaskSpec(t, Double.NegativeInfinity, Double.MaxValue, Bounds.MaxFlushSize, df.count()))
      }
      (t, df, subtasks)
    }
    Plan(planned.flatMap(_._3), planned.map { case (t, df, _) => t -> df }.toMap)
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
