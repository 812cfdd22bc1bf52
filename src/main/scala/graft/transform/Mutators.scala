package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.ObjectId

/** The mutator system — the reference's UDF surface (`SURVEY.md` §2.4).
  *
  * Semantics from `app/services/transfer.js:271-284`: an ordered left-fold
  * over each document; for each mutator `if pred(doc, args) then doc =
  * mutate(doc, args)`; a mutate returning null drops the document and
  * short-circuits the rest of the pipeline.
  *
  * Two surfaces:
  *   - [[ColumnMutator]] / [[MutatorPipeline.applyColumnar]]: the fold a
  *     transfer runs. Each mutator is expressed in Catalyst `Column`s; the
  *     fold compiles to chained projections + filters that Catalyst
  *     collapses into a single whole-stage-codegen'd select, so a
  *     10-mutator pipeline costs one pass with full predicate pushdown.
  *   - [[DocMutator]] / [[MutatorPipeline.applyDocs]]: the reference fold
  *     over one [[graft.model.Doc]] at a time, with the exact
  *     fold/drop/arg-override laws; the columnar fold is property-tested
  *     against it.
  */
sealed trait ColumnMutator {
  def id: ObjectId
}

/** For rows matching `pred`, set each named column to the paired
  * expression; other rows keep their values (`when(pred, e).otherwise(col)`).
  * The predicate is evaluated against the row state BEFORE any of this
  * mutator's assignments (all assignments see one consistent predicate).
  */
final case class AssignMutator(
    id: ObjectId,
    pred: Column,
    assigns: Seq[(String, Column)]
) extends ColumnMutator

/** Adds a column (or overwrites unconditionally) — the common "enrich"
  * mutator shape, e.g. the `_index` date-rollup rename of
  * `examples/mutators/indexDate.js`.
  */
final case class WithColumnMutator(
    id: ObjectId,
    column: String,
    expr: Column
) extends ColumnMutator

/** Drops rows matching `pred` at this point in the pipeline — the
  * null-return drop of `transfer.js:272,283` /
  * `tests/services/validMutators/dropWithArgs.js`.
  */
final case class DropMutator(
    id: ObjectId,
    pred: Column
) extends ColumnMutator

/** Row-typed mutator over the schema-agnostic envelope. `mutate` returning
  * None drops the doc. Args resolution follows `filters.js:96-99`: the
  * per-action arguments override task-level arguments when non-empty.
  */
final case class DocMutator(
    id: ObjectId,
    predicate: (graft.model.Doc, Map[String, String]) => Boolean,
    mutate: (graft.model.Doc, Map[String, String]) => Option[graft.model.Doc],
    arguments: Map[String, String] = Map.empty
)

object MutatorPipeline {

  /** Compile an ordered mutator pipeline into DataFrame transformations.
    *
    * Each step is one projection/filter; Catalyst's CollapseProject +
    * CombineFilters fold the whole pipeline into a single codegen stage,
    * and drop-predicates on source columns push down to the scan.
    */
  def applyColumnar(df: DataFrame, mutators: Seq[ColumnMutator]): DataFrame =
    mutators.foldLeft(df) {
      case (d, AssignMutator(_, pred, assigns)) =>
        // Materialize the predicate once so every assignment sees the
        // pre-mutation row state even if it overwrites predicate inputs.
        // The temp name must not collide with a real column, or the drop
        // below would silently delete user data.
        val tmp = Iterator.from(0).map(i => s"__graft_pred_$i")
          .find(n => !d.columns.contains(n)).get
        val withP = d.withColumn(tmp, pred)
        val assigned = assigns.foldLeft(withP) { case (dd, (c, e)) =>
          dd.withColumn(c, when(col(tmp), e).otherwise(col(c)))
        }
        assigned.drop(tmp)
      case (d, WithColumnMutator(_, c, e)) =>
        d.withColumn(c, e)
      case (d, DropMutator(_, pred)) =>
        d.filter(!coalesce(pred, lit(false)))
    }

  /** The exact reference fold over one document (`transfer.js:271-284`):
    * ordered, short-circuit on drop, per-mutator arg override.
    */
  def applyDoc(
      doc: graft.model.Doc,
      mutators: Seq[DocMutator],
      taskArgs: Map[String, String]
  ): Option[graft.model.Doc] =
    mutators.foldLeft(Option(doc)) { (acc, m) =>
      acc.flatMap { d =>
        val args = if (m.arguments.nonEmpty) m.arguments else taskArgs
        if (m.predicate(d, args)) m.mutate(d, args) else Some(d)
      }
    }

  def applyDocs(
      docs: Seq[graft.model.Doc],
      mutators: Seq[DocMutator],
      taskArgs: Map[String, String] = Map.empty
  ): Seq[graft.model.Doc] =
    docs.flatMap(d => applyDoc(d, mutators, taskArgs))

  /** Columnar fold with per-stage observability: rows surviving each
    * mutator are counted via Spark's `observe` metrics (collected by the
    * driver's QueryExecutionListener / Observation with zero extra jobs
    * — the P6 progress analog at mutator granularity).
    */
  def applyColumnarObserved(
      df: DataFrame,
      mutators: Seq[ColumnMutator]
  ): (DataFrame, Seq[String]) = {
    val names = mutators.zipWithIndex.map { case (m, i) => s"graft_stage_${i}_${m.id.id}" }
    val observed = mutators.zip(names).foldLeft(df) { case (d, (m, name)) =>
      applyColumnar(d, Seq(m)).observe(name, count(lit(1)).as("rows"))
    }
    (observed, names)
  }
}

/** Metadata filters (§2.3 F1-F4): predicates over index configs / types
  * that prune whole tables BEFORE any data is read — the analog of
  * Catalyst partition pruning, applied at plan time.
  * Multiple filters combine with OR (`subtasks.js:164`).
  */
object MetadataFilters {
  type IndexPred = graft.model.IndexConfig => Boolean
  type TypePred  = String => Boolean

  /** OR-combination of index filters; no filters = keep everything
    * (`subtasks.js:162-182`).
    */
  def applyIndexFilters(
      indices: Seq[graft.model.IndexConfig],
      preds: Seq[IndexPred]
  ): Seq[graft.model.IndexConfig] =
    if (preds.isEmpty) indices
    else indices.filter(ic => preds.exists(p => p(ic)))

  def applyTypeFilters(types: Seq[String], preds: Seq[TypePred]): Seq[String] =
    if (preds.isEmpty) types
    else types.filter(t => preds.exists(p => p(t)))
}

/** A named, STORED metadata filter — the reference keeps filters in the
  * same namespaced CRUD store as mutators (`filters.js:39-126`), mounts
  * them at `/filters` (`app/api/index.js:13`), and task specs reference
  * them by id with an add-time existence pre-check (`tasks.js:79-80`).
  *
  * The reference stores uploaded JS predicates; the declarative analog
  * here is an anchored regex over the index name (kind `index`) or doc
  * type (kind `type`) — which covers the reference's dot-filter/prefix
  * idioms — while programmatic [[MetadataFilters.IndexPred]]s remain
  * available on the `addTask` API for anything richer.
  */
final case class StoredFilter(id: ObjectId, kind: String, pattern: String) {
  require(
    kind == StoredFilter.Index || kind == StoredFilter.Type,
    s"filter kind must be '${StoredFilter.Index}' or '${StoredFilter.Type}', got '$kind'")
  // compile eagerly at construction: an invalid pattern must fail the
  // POST that stores the filter (400), not detonate inside a later task
  // add that references it — stored-but-broken state fails every future
  // task with an error pointing at the wrong request
  try java.util.regex.Pattern.compile(pattern)
  catch {
    case e: java.util.regex.PatternSyntaxException =>
      throw new IllegalArgumentException(
        s"invalid filter pattern '$pattern': ${e.getMessage}")
  }
  @transient private lazy val rx = pattern.r
  /** As an index-metadata predicate; never matches when kind is `type`. */
  def indexPred: MetadataFilters.IndexPred =
    ic => kind == StoredFilter.Index && rx.matches(ic.name)
  /** As a doc-type predicate; never matches when kind is `index`. */
  def typePred: MetadataFilters.TypePred =
    t => kind == StoredFilter.Type && rx.matches(t)
}
object StoredFilter {
  val Index = "index"
  val Type = "type"
}

/** M5 replacement: SQL-expression mutators. The reference compiles
  * user-uploaded JavaScript at runtime (`compiler.js:6-12`); arbitrary
  * code upload is out of scope (sandboxing), so user extensibility is
  * SQL expression strings compiled by Catalyst — declarative, codegen'd,
  * and optimizer-visible, unlike a black-box UDF.
  */
object ExprMutators {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.expr

  /** Functions an UPLOADED expression may not call. SQL expressions are
    * vastly safer than the reference's eval'd JavaScript, but Spark's
    * builtin surface still includes generic JVM reflection
    * (`reflect`/`java_method` — arbitrary static method calls from a
    * string) and driver-side env probes; a mutator arriving over the
    * HTTP API must not become a remote-execution gadget. Denied at
    * REGISTRATION (parse tree walk), so a bad expression 400s at the
    * store rather than detonating inside a later transfer.
    */
  private val DeniedFunctions = Set("reflect", "java_method")

  private def vet(sql: String): Column = {
    val c = expr(sql)
    // parse independently for the walk: Spark 4's Column no longer
    // exposes its catalyst tree, and the parser is the same one expr uses
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql)
    // `collect` walks expression children only — a subquery's inner plan
    // is NOT a child, so `(SELECT reflect(...))` would smuggle a denied
    // call past the function walk. Subqueries have no meaning in a
    // per-row mutator anyway (no other table is in scope): reject the
    // whole construct instead of trying to walk every plan shape.
    parsed.foreach {
      case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
        throw new IllegalArgumentException(
          s"subqueries are not allowed in uploaded expressions: $sql")
      case _ => ()
    }
    val called = parsed.collect {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    val bad = called.intersect(DeniedFunctions)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"expression calls forbidden function(s) ${bad.mkString(", ")}: $sql")
    c
  }

  def assign(id: ObjectId, predicateSql: String, assigns: (String, String)*): AssignMutator =
    AssignMutator(id, vet(predicateSql), assigns.map { case (c, e) => c -> vet(e) })

  def withColumn(id: ObjectId, column: String, exprSql: String): WithColumnMutator =
    WithColumnMutator(id, column, vet(exprSql))

  def drop(id: ObjectId, predicateSql: String): DropMutator =
    DropMutator(id, vet(predicateSql))
}

/** Namespaced in-memory registry of transforms — replaces the reference's
  * Redis hash store + dynamic JS compiler (`mutators.js:43-122`,
  * `filters.js:39-126`, `compiler.js:6-12`). We accept named Scala
  * transforms and SQL `expr(...)` strings instead of uploaded code.
  */
final class TransformRegistry[T] {
  private val store =
    new java.util.concurrent.ConcurrentHashMap[String, T]()

  def add(id: ObjectId, t: T): Unit = store.put(id.toString, t)

  def get(id: ObjectId): Option[T] = Option(store.get(id.toString))

  /** Existence pre-check at task add time (`tasks.js:79-80`). */
  def require(id: ObjectId): T =
    get(id).getOrElse(
      throw new NoSuchElementException(s"transform not registered: $id")
    )

  def list(namespace: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    store.keySet().asScala.toSeq.filter(_.startsWith(namespace + "/")).sorted
  }

  def remove(id: ObjectId): Unit = store.remove(id.toString)

  /** Drop a whole namespace — task removal drops its namespaced
    * transforms (`tasks.js:89-97`).
    */
  def removeNamespace(namespace: String): Unit =
    list(namespace).foreach(k => store.remove(k))
}
