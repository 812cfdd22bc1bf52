package graft.engine

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession

/** The bounded set of concurrent workers that plans a task's tables and
  * drains its backlog — the reference's N worker processes popping one
  * shared queue (`worker.js:61-123`). Threads start per call and are
  * joined before it returns, so none outlives the call; each inherits the
  * caller's Spark local properties and active session.
  */
object Workers {

  /** Workers for `items` units: no more than the units, Spark's default
    * parallelism or the driver's processors.
    */
  def count(spark: SparkSession, items: Int): Int =
    Seq(items, spark.sparkContext.defaultParallelism, Runtime.getRuntime.availableProcessors)
      .min.max(1)

  /** `f` over `items` on `workers` threads named `name-<k>`, each popping
    * the next item of one shared queue; results come back in item order.
    * The first error stops further pops and is rethrown once every
    * started item has returned.
    */
  def map[A, B](items: Seq[A], workers: Int, name: String)(f: A => B): Seq[B] = {
    val in = items.toIndexedSeq
    val out = new Array[Any](in.size)
    val next = new AtomicInteger()
    val failure = new AtomicReference[Throwable]()
    val threads = (1 to workers.min(in.size)).map { k =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < in.size && failure.get == null) {
          try out(i) = f(in(i))
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          i = next.getAndIncrement()
        }
      }, s"$name-$k")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    out.toSeq.asInstanceOf[Seq[B]]
  }
}
