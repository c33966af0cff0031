package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The one way the engine changes a session conf: for the duration of a
  * body, never for good. [[within]] sets each key for `body` and puts the
  * session back afterwards, also when `body` throws or the entry itself
  * fails part-way.
  *
  * Open scopes are counted per session and per key. The first scope to
  * set a key saves the value it replaces (set, or unset); a nested or
  * overlapping scope sets its own value and saves nothing; the last scope
  * holding the key to close restores the saved value. So overlapping
  * scopes on one session — two folds on two threads, a low-memory scope
  * around an interpreted fold — leave it as they found it, and a value
  * set before the first scope (a deployment's own threshold) comes back
  * byte-identical. Counts exist only while a scope is open.
  *
  * Other queries running on the session during a scope see its values:
  * Spark has no per-plan conf, so the session is the only handle.
  */
object ScopedConf {

  /** A key held by open scopes: the value the first one replaced
    * (`None`: unset) and how many scopes hold it.
    */
  private final class Held(val prior: Option[String]) { var open = 0 }

  private val held =
    mutable.HashMap.empty[SparkSession, mutable.HashMap[String, Held]]

  /** `body` with `settings` set on `spark`'s conf. `settings` is
    * evaluated once, at entry, under the scope lock — so a value derived
    * from the current conf sees every scope opened before it.
    */
  def within[A](spark: SparkSession, settings: => Seq[(String, String)])(
      body: => A): A = {
    val keys = enter(spark, settings)
    try body
    finally exit(spark, keys)
  }

  private def enter(spark: SparkSession,
                    settings: => Seq[(String, String)]): Seq[String] =
    synchronized {
      val keys = held.getOrElseUpdate(spark, mutable.HashMap.empty)
      lazy val set = spark.conf.getAll
      var taken = List.empty[String]
      try {
        settings.foreach { case (k, v) =>
          keys.getOrElseUpdate(k, new Held(set.get(k))).open += 1
          taken ::= k
          spark.conf.set(k, v)
        }
        taken
      } catch {
        case t: Throwable => exit(spark, taken); throw t
      }
    }

  private def exit(spark: SparkSession, taken: Seq[String]): Unit =
    synchronized {
      held.get(spark).foreach { keys =>
        taken.foreach { k =>
          val h = keys(k)
          h.open -= 1
          if (h.open == 0) {
            keys.remove(k)
            h.prior match {
              case Some(v) => spark.conf.set(k, v)
              case None    => spark.conf.unset(k)
            }
          }
        }
        if (keys.isEmpty) held.remove(spark)
      }
    }
}
