package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query packs' one memo table: the intermediates several queries
  * of a Verify/Bench pass share (d2's LSH pairs feed d6's clusters,
  * x18's fingerprints feed x18b, u11's fit feeds u1/u12/u13, one
  * indexed lineitem Frame feeds the fm* and pipe queries). Library
  * functions keep nothing between calls; only the packs memoize, and
  * only here.
  *
  * An entry is keyed by a name plus the scale dir and holds the session
  * it was built under and its own free action. An entry built under
  * another session is rebuilt, not served: its plan may be bound to a
  * STOPPED SparkContext, where every action throws "SparkContext has
  * been shut down". [[release]] (via `SparkEntry.releaseCaches()`, at
  * the end of every Verify/Bench pass) frees every entry and clears the
  * table. Builds nest (d6's cluster build reads the pairs entry), so
  * the one lock is the object's reentrant monitor. */
object DfMemo {

  private final case class Entry(session: SparkSession, value: Any, free: () => Unit)

  private val table = scala.collection.mutable.LinkedHashMap[(String, String), Entry]()

  /** The `name` entry for scale dir `d` under session `s`, built (and
    * registered with `free`) when absent or built under another
    * session; a replaced entry is freed first unless its context is
    * stopped (its blocks died with it). */
  def apply[V](name: String, d: String, s: SparkSession)(free: V => Unit)
              (build: => V): V = synchronized {
    table.get((name, d)) match {
      case Some(e) if e.session eq s => e.value.asInstanceOf[V]
      case stale =>
        stale.foreach { e => table.remove((name, d)); freeLive(e) }
        val v = build
        table((name, d)) = Entry(s, v, () => free(v))
        v
    }
  }

  /** A persisted DataFrame entry, freed with `unpersist`. */
  def persisted(name: String, d: String, s: SparkSession)(build: => DataFrame): DataFrame =
    apply[DataFrame](name, d, s)(_.unpersist(blocking = false))(build)

  /** A plain value entry (merge lists, vocabularies): no Spark data, nothing to free. */
  def plain[V](name: String, d: String, s: SparkSession)(build: => V): V =
    apply[V](name, d, s)(_ => ())(build)

  /** Free every entry and clear the table. */
  def release(): Unit = synchronized {
    table.values.foreach(freeLive)
    table.clear()
  }

  private def freeLive(e: Entry): Unit =
    if (!e.session.sparkContext.isStopped) e.free()
}
