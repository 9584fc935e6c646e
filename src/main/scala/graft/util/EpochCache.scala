package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The driver's one cache over IMMUTABLE metadata: committed epochs
  * and their schemas, input-file schemas, equality-delete resolutions
  * and probe plans, pruning proofs and MV rewrite candidates. Each of those costs a Spark job or a few
  * filesystem round-trips to recompute and never changes once written.
  *
  * Every entry is keyed by an identity the CALLER derives from the
  * thing itself — an epoch's (uri, claim) from its commit record,
  * which also keys what is computed from one epoch (its schema,
  * collected manifest, equality-delete resolutions and probe plans,
  * and, with the predicate, its pruning proofs), a file's (path,
  * mtime, length), a view's (root, spec text) — so an entry can only
  * be served for the exact object it was computed from. Nothing
  * is invalidated by hand; eviction only costs the recomputation, so a
  * miss is always correct and the cache is purely an optimization.
  * Checks that guard a hit against outside change (a swept scratch
  * file, a lowered conf bound) stay with the caller.
  *
  * One LRU bounded by ESTIMATED retained bytes under one budget. Each
  * [[Kind]] supplies a cheap weight for its values (rows × columns,
  * key-tuple counts, a constant) — never an object-graph walk:
  * analyzed plans reference the session. A value heavier than the
  * whole budget is not retained.
  */
object EpochCache {

  /** One family of entries: its keys never collide with another
    * kind's, and `weigh` estimates a value's retained bytes. */
  final class Kind[V](val weigh: V => Long)

  val BudgetBytes: Long = 64L << 20

  private final case class Slot(kind: Kind[_], key: Any)
  private final class Entry(val value: Any, val weight: Long)

  // access-ordered: iteration starts at the least recently used entry
  private val lru = new java.util.LinkedHashMap[Slot, Entry](64, 0.75f, true)
  private var retained = 0L // guarded by lru

  def get[V](kind: Kind[V], key: Any): Option[V] = lru.synchronized {
    Option(lru.get(Slot(kind, key))).map(_.value.asInstanceOf[V])
  }

  def put[V](kind: Kind[V], key: Any, value: V): Unit = {
    val slot = Slot(kind, key)
    val weight = math.max(1L, kind.weigh(value))
    lru.synchronized {
      drop(slot)
      if (weight <= BudgetBytes) {
        lru.put(slot, new Entry(value, weight))
        retained += weight
        val it = lru.values.iterator
        while (retained > BudgetBytes) {
          retained -= it.next().weight
          it.remove()
        }
      }
    }
  }

  /** The cached value, else `compute` — run outside the lock — cached. */
  def getOrElseUpdate[V](kind: Kind[V], key: Any)(compute: => V): V =
    get(kind, key).getOrElse {
      val v = compute
      put(kind, key, v)
      v
    }

  def remove[V](kind: Kind[V], key: Any): Unit =
    lru.synchronized(drop(Slot(kind, key)))

  /** Forget everything — what a fresh JVM sees. */
  def clear(): Unit = lru.synchronized { lru.clear(); retained = 0L }

  /** Estimated bytes currently retained (always ≤ [[BudgetBytes]]). */
  def retainedBytes: Long = lru.synchronized(retained)

  private def drop(slot: Slot): Unit = {
    val old = lru.remove(slot)
    if (old != null) retained -= old.weight
  }

  /** Inferred parquet schemas — of epoch directories and input files. */
  val Schemas = new Kind[StructType](s => 64L + 128L * s.length)

  /** `spark.read.parquet(path)` with its schema inferred once per `key`:
    * a hit re-reads with `.schema(s)`, skipping the footer-reading
    * Spark job schema inference launches, and returns a frame
    * identical to an uncached read. */
  def readParquet(spark: SparkSession, path: String, key: Any): DataFrame =
    get(Schemas, key) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        put(Schemas, key, df.schema)
        df
    }
}
