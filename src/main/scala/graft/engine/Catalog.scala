package graft.engine

import graft.model.{IndexConfig, Template}

/** Metadata catalog — index configs and templates as first-class, mutable
  * driver-side state (the reference's index/template scans and DDL sinks,
  * SURVEY §2.1 S3/S4 and §2.2 K3/K4). Metadata is *data* in chillastic:
  * it is scanned, filtered, mutated, and written like documents.
  */
final class Catalog {
  private val indices   = new java.util.concurrent.ConcurrentHashMap[String, IndexConfig]()
  private val templates = new java.util.concurrent.ConcurrentHashMap[String, Template]()

  // -- S3: index-metadata scan (`transfer.js:364-372`) -------------------

  def putIndexRaw(ic: IndexConfig): Unit = indices.put(ic.name, ic)

  def getIndices(pattern: String = "*"): Seq[IndexConfig] = {
    import scala.jdk.CollectionConverters._
    val matches = graft.sources.DocConnector.glob(pattern)
    indices.values.asScala.toSeq.filter(ic => matches(ic.name)).sortBy(_.name)
  }

  // -- S4: template scan with system filter (`transfer.js:383-406`) ------

  def putTemplateRaw(t: Template): Unit = templates.put(t.name, t)

  /** Drops system templates (name starting with '.', `transfer.js:389`);
    * errors if nothing matched — same contract as the reference.
    */
  def getTemplates(pattern: String = "*"): Seq[Template] = {
    import scala.jdk.CollectionConverters._
    val matches = graft.sources.DocConnector.glob(pattern)
    val all = templates.values.asScala.toSeq.filter(t => matches(t.name))
    // error-if-none runs AFTER the system (dot) filter: a pattern that
    // matches only system templates is as typo'd as one matching nothing,
    // and returning empty here would hide it as success
    val visible = all.filterNot(_.name.startsWith("."))
    if (visible.isEmpty)
      throw new NoSuchElementException(s"no templates found for pattern '$pattern'")
    visible.sortBy(_.name)
  }

  // -- K3: index DDL sink with system-setting projection ----------------

  /** Settings that must not be replayed onto a new table
    * (`transfer.js:235-243`): engine-generated identity/version props.
    */
  val SystemSettings: Set[String] =
    Set("index.uuid", "index.creation_date", "index.provided_name", "index.version.created")

  /** Create the index on the destination, dropping system settings first. */
  def createIndex(ic: IndexConfig): IndexConfig = {
    val cleaned = ic.copy(settings = ic.settings.view.filterKeys(!SystemSettings.contains(_)).toMap)
    indices.put(cleaned.name, cleaned)
    cleaned
  }

  // -- K4: template DDL sink --------------------------------------------

  def createTemplate(t: Template): Template = { templates.put(t.name, t); t }
}
