package graft.model

/** Control-plane model of the engine (the reference's `app/models` dir).
  *
  * The reference validates these shapes at runtime with schema-inspector
  * (`app/models/inspector.js:7-31`); we get the same guarantees from the
  * type system plus tiny constructor checks.
  */

/** Namespaced identifier for registered transforms.
  *
  * Mirrors `app/models/objectId.js:33-58`: both `namespace` and `id` must
  * match `^[a-zA-Z][a-zA-Z0-9]{1,40}$`.
  */
final case class ObjectId(namespace: String, id: String) {
  require(ObjectId.valid(namespace), s"invalid namespace: '$namespace'")
  require(ObjectId.valid(id), s"invalid id: '$id'")
  override def toString: String = s"$namespace/$id"
}
object ObjectId {
  private val Pattern = "^[a-zA-Z][a-zA-Z0-9]{1,40}$".r
  def valid(s: String): Boolean = Pattern.matches(s)
  def parse(s: String): ObjectId = s.split("/", 2) match {
    case Array(ns, id) => ObjectId(ns, id)
    case _             => throw new IllegalArgumentException(s"expected namespace/id, got '$s'")
  }
}

/** The document envelope the reference streams (`transfer.js:119-124,175-189`):
  * `{_index, _type, _id, _source}` where `_source` is arbitrary JSON, kept
  * here as a flat string map. It is the unit of the reference mutator fold
  * ([[graft.transform.MutatorPipeline.applyDocs]]); transfers move typed
  * DataFrames.
  */
final case class Doc(
    index: String,
    docType: String,
    id: String,
    source: Map[String, String]
)

/** Index configuration (`transfer.js:364-372`; shape asserted in
  * `tests/services/transfer.spec.js:240`): name + settings + mappings +
  * aliases. Settings/mappings are opaque key-value metadata for us.
  */
final case class IndexConfig(
    name: String,
    settings: Map[String, String] = Map.empty,
    mappings: Map[String, String] = Map.empty,
    aliases: Seq[String] = Seq.empty
)

/** Index template (`transfer.js:383-406`): schema-for-future-tables. */
final case class Template(
    name: String,
    indexPatterns: Seq[String],
    settings: Map[String, String] = Map.empty,
    mappings: Map[String, String] = Map.empty
)

/** Reference of a registered filter/mutator inside a task, with optional
  * per-action argument override (`filters.js:96-99`: `action.arguments ||
  * task.arguments`).
  */
final case class ActionRef(id: ObjectId, arguments: Map[String, String] = Map.empty)

/** Declarative job spec (`app/models/task.js:71-122`): what to read, what
  * to write, which metadata filters prune the inputs, which mutators
  * rewrite rows in flight.
  */
final case class TaskSpec(
    name: String,
    sourceDir: String,
    destDir: String,
    tables: Seq[String],
    indexFilters: Seq[ActionRef] = Seq.empty,
    mutators: Seq[ActionRef] = Seq.empty,
    arguments: Map[String, String] = Map.empty
)

/** Unit of parallel work (`app/models/subtask.js:8-28,79-144`): one
  * (table, size-bucket) slice. `flushSize` is the write batch size
  * computed by the planner (`subtasks.js:267`).
  */
final case class SubtaskSpec(
    table: String,
    minSize: Double,
    maxSize: Double,
    flushSize: Int,
    count: Long
) {
  /** Content-addressed identity (`subtask.js:20-25`: stringified params
    * minus the count) — resume diffs completed IDs against planned IDs.
    */
  def subtaskId: String = s"$table:$minSize:$maxSize:$flushSize"
}

/** Progress checkpoint (`app/models/progress.js:6-32`). */
final case class Progress(
    tick: Long,
    transferred: Long,
    total: Long,
    worker: String,
    lastModified: java.time.Instant
)
