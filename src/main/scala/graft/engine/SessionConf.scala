package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Session SQL confs scoped to one call. */
object SessionConf {

  /** Spark's expression-evaluation switch: `NO_CODEGEN` evaluates
    * projections, predicates and orderings interpreted and keeps
    * whole-stage codegen off, so planning a query compiles no
    * generated classes.
    */
  val FactoryModeKey = "spark.sql.codegen.factoryMode"

  /** The scoped calls in flight on one (session, key): the value the
    * key had before the first of them began, and one entry per call
    * still running, oldest first.
    */
  private final class Open(val before: Option[String]) {
    val calls = mutable.ArrayBuffer.empty[Call]
  }
  private final class Call(val value: String)

  private val open = mutable.HashMap.empty[(SparkSession, String), Open]

  /** Run `f` with `key` set to `value` on the session. When the last
    * scoped call on that session and key returns — or throws — the
    * value the key had before the first of them began is put back (or
    * the key is unset again, if it was not set). Calls may nest and may
    * run on several threads at once: while any of them runs, the key
    * holds the value of the latest one still running.
    *
    * The conf is session-global: a query any other thread plans on the
    * same session while a scoped call runs sees `value` too, and a
    * value set on that key by plain `spark.conf.set` during the call is
    * overwritten when the last scoped call ends.
    */
  def scoped[T](spark: SparkSession, key: String, value: String)(f: => T): T = {
    val id = (spark, key)
    val call = new Call(value)
    open.synchronized {
      open.getOrElseUpdate(id, new Open(spark.conf.getAll.get(key))).calls += call
      spark.conf.set(key, value)
    }
    try f
    finally open.synchronized {
      val o = open(id)
      o.calls -= call
      if (o.calls.nonEmpty) spark.conf.set(key, o.calls.last.value)
      else {
        open -= id
        o.before match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }

  /** Run `f` with interpreted expression evaluation (see
    * [[FactoryModeKey]]): every query `f` plans and executes compiles
    * no classes.
    */
  def interpreted[T](spark: SparkSession)(f: => T): T =
    scoped(spark, FactoryModeKey, "NO_CODEGEN")(f)
}
