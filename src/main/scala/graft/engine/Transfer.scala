package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model._
import graft.sources.DocConnector
import graft.transform._

/** The reindex data path (`SURVEY.md` §3.2): one planned subtask's
  * slice of its table's planned scan is cut by its size range, folded
  * through the column mutators and bulk-written into a sink connector.
  * [[transferSubtask]] is the only method that moves documents;
  * [[transferMetadata]] moves index configs and templates.
  */
object Transfer {

  /** What one subtask wrote: its id, the rows the sink counted and the
    * sink-relative table it wrote (`<table>/<subtaskDir>`).
    */
  final case class SubtaskResult(subtaskId: String, rowsWritten: Long, outputPath: String)

  /** Mutators registered for data transfer, in application order. */
  final case class Pipeline(
      columnMutators: Seq[ColumnMutator] = Seq.empty,
      indexMutators: Seq[IndexConfig => IndexConfig] = Seq.empty,
      templateMutators: Seq[Template => Template] = Seq.empty
  )

  /** The subtask's size-range predicate, pushed into the scan: rows with
    * `minSize <= size < maxSize`. [[Bounds.plan]] marks its first bucket
    * with `minSize = -Infinity`, which also owns null sizes, and its last
    * bucket with `maxSize = Double.MaxValue`, which is open above and so
    * owns `+Infinity` and NaN (Spark SQL orders NaN above every value).
    * No planned cut equals either sentinel, so exactly one subtask of a
    * plan matches each row.
    */
  def sizeRangePred(subtask: SubtaskSpec, sizeCol: String): Column = {
    val upperPred =
      if (subtask.maxSize == Double.MaxValue) lit(true)
      else col(sizeCol) < subtask.maxSize
    if (subtask.minSize.isNegInfinity)
      col(sizeCol).isNull || upperPred
    else
      col(sizeCol) >= subtask.minSize && upperPred
  }

  /** Sanitized per-subtask output directory name. */
  def subtaskDirName(subtask: SubtaskSpec): String =
    subtask.subtaskId.replaceAll("[^a-zA-Z0-9._-]", "_")

  /** Execute one planned subtask (`worker.js:125-144`, `subtask.js:50-77`):
    * keep `subtask`'s size range of `scanned` — the frame its plan
    * counted — when the table has a size column, apply the mutator fold
    * and bulk the slice into `sink` under `<table>/<subtaskDir>`, so
    * subtasks retry and resume independently and their union is the
    * whole table. One slice is one bulk, so one Spark job on a file sink.
    */
  def transferSubtask(
      scanned: DataFrame,
      sink: DocConnector,
      subtask: SubtaskSpec,
      sizeCol: Option[String],
      pipeline: Pipeline
  ): SubtaskResult = {
    val src = sizeCol.fold(scanned)(c => scanned.filter(sizeRangePred(subtask, c)))
    val mutated = MutatorPipeline.applyColumnar(src, pipeline.columnMutators)
    val dest = s"${subtask.table}/${subtaskDirName(subtask)}"
    SubtaskResult(subtask.subtaskId, sink.bulk(mutated, dest), dest)
  }

  /** Metadata transfer (M3/M4 + K3/K4): apply index/template mutators and
    * replay DDL into the destination catalog, mirroring
    * `transfer.js:290-296` + `putIndices`/`putTemplates`.
    *
    * S4 semantics: a template pattern matching NOTHING is an error in the
    * reference (`transfer.js:402-405`) and propagates here — a silent
    * empty result would hide a typo'd pattern from the caller. Pass
    * `tolerateMissingTemplates = true` to opt into empty-is-fine.
    */
  def transferMetadata(
      source: Catalog,
      dest: Catalog,
      pipeline: Pipeline,
      indexPattern: String = "*",
      templatePattern: String = "*",
      tolerateMissingTemplates: Boolean = false,
      typeFilters: Seq[graft.transform.MetadataFilters.TypePred] = Seq.empty
  ): (Seq[IndexConfig], Seq[Template]) = {
    // F2: type filters prune which mapping TYPES (mapping keys) each
    // index carries across — OR-combined, none = keep all
    // (`subtasks.js:165`'s getTypesFromMappings + predicate)
    def pruneTypes(ic: IndexConfig): IndexConfig =
      if (typeFilters.isEmpty) ic
      else {
        val kept = graft.transform.MetadataFilters
          .applyTypeFilters(ic.mappings.keys.toSeq, typeFilters).toSet
        ic.copy(mappings = ic.mappings.view.filterKeys(kept).toMap)
      }
    val ics = source.getIndices(indexPattern).map { ic =>
      dest.createIndex(pipeline.indexMutators.foldLeft(pruneTypes(ic))((acc, f) => f(acc)))
    }
    // tolerance covers ONLY the pattern-matched-nothing lookup: a
    // NoSuchElementException thrown by a template MUTATOR (Map#apply on
    // a missing key) or by createTemplate must propagate, not vanish as
    // "no templates" after earlier templates were already written
    val found =
      try source.getTemplates(templatePattern)
      catch {
        case _: NoSuchElementException if tolerateMissingTemplates =>
          Seq.empty[graft.model.Template]
      }
    val tps = found.map { t =>
      dest.createTemplate(pipeline.templateMutators.foldLeft(t)((acc, f) => f(acc)))
    }
    (ics, tps)
  }
}
