package graft.engine

/** P8 error log (`tasks.js:114-124,131-144`): per-task error records
  * scored by timestamp, readable back in time order.
  */
final class ErrorLog {
  import scala.jdk.CollectionConverters._
  final case class ErrorRecord(atMillis: Long, message: String, subtask: String)

  private val errors =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[ErrorRecord]]()

  def record(task: String, subtask: String, message: String,
             atMillis: Long = System.currentTimeMillis()): Unit =
    errors
      .computeIfAbsent(task, _ => new java.util.concurrent.ConcurrentLinkedQueue[ErrorRecord]())
      .add(ErrorRecord(atMillis, message, subtask))

  def getErrors(task: String): Seq[ErrorRecord] =
    Option(errors.get(task)).map(_.asScala.toSeq.sortBy(_.atMillis)).getOrElse(Seq.empty)
}
