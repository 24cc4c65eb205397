package graft.ops

import org.apache.spark.sql.Observation

/** Defensive decoding of `Observation` metric values: the value types
  * are not part of Spark's API, so a bare `asInstanceOf` would turn a
  * representation change into a ClassCastException mid-lifecycle. */
private[graft] object Observed {

  /** The int collection observed as `name` (a `collect_set` of an int
    * column). Blocks until the observed action has run. */
  def ints(obs: Observation, name: String): Seq[Int] =
    decodeInts(name, obs.get(name))

  /** Accepts either collection form a row value takes (`Seq` or JVM
    * array) with any numeric element type; anything else fails loudly,
    * naming the metric. */
  def decodeInts(name: String, value: Any): Seq[Int] = {
    def int(v: Any): Int = v match {
      case n: Number => n.intValue
      case other => throw new IllegalStateException(
        s"observed metric '$name' holds a non-numeric element: $other")
    }
    value match {
      case s: scala.collection.Seq[_] => s.map(int).toSeq
      case a: Array[_] => a.toSeq.map(int)
      case other => throw new IllegalStateException(
        s"observed metric '$name' is not a collection: $other")
    }
  }
}
