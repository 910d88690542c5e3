package graft

import java.util.concurrent.ConcurrentHashMap

/** get → load → putIfAbsent memoization for loaders that RUN SPARK JOBS
  * (model fits, driver collects, count jobs). `computeIfAbsent` would hold
  * the map's bin lock across the job: a loader that transitively loads
  * through the same map would throw IllegalStateException("Recursive
  * update") or deadlock, and concurrent sessions' unrelated loads hashing
  * to one bin would serialize behind each other's driver jobs — the
  * [[Readers.artifact]] lock discipline, shared so every model/artifact
  * cache in the engine gets it by construction. The cost is a benign
  * double load under a miss race (loaders are deterministic functions of
  * their key; `putIfAbsent` keeps whichever landed first).
  */
object Memo {
  /** Loaders must return NON-NULL (a ConcurrentHashMap cannot hold null
    * values; the old `computeIfAbsent` silently treated null as no-entry).
    * Model a legitimately-absent artifact as an Option/empty value instead
    * — the require turns the contract violation into a named error rather
    * than an NPE inside the map.
    */
  def once[V <: AnyRef](map: ConcurrentHashMap[String, V], key: String)(load: => V): V = {
    val cached = map.get(key)
    if (cached != null) cached
    else {
      val loaded = load
      require(loaded != null, s"Memo loader returned null for key $key")
      val prev = map.putIfAbsent(key, loaded)
      if (prev != null) prev else loaded
    }
  }

  private val keyLocks = new ConcurrentHashMap[String, Object]()

  /** Run `body` holding the per-key lock for `key`: same-key bodies
    * serialize, unrelated keys stay fully concurrent (never the map's bin
    * lock). Lock entries are deliberately never removed: eager cleanup
    * opens a narrow window where a finisher's removal lets a racing caller
    * mint a fresh lock and double-run a side-effecting body — the exact bug
    * this lock exists to prevent. Growth is bounded by DISTINCT keys ever
    * locked (~16 bytes each; one per fixture rebuild in practice). A body
    * re-entering its OWN key from another thread deadlocks — side-effecting
    * bodies are leaves by contract.
    */
  def exclusive[T](key: String)(body: => T): T =
    keyLocks.computeIfAbsent(key, _ => new Object).synchronized(body)

  /** [[once]] for SIDE-EFFECTING loaders (an artifact write, a directory
    * build) where a miss-race double load is NOT benign: two threads
    * running the loader concurrently would race two Overwrite jobs on one
    * artifact path. Same-KEY loads serialize on [[exclusive]]; a loader may
    * still load OTHER keys through the same map.
    */
  def onceExclusive[V <: AnyRef](map: ConcurrentHashMap[String, V], key: String)(load: => V): V = {
    val cached = map.get(key)
    if (cached != null) cached
    else
      // Lock identity includes the CALLER'S map so equal key strings from
      // unrelated caches never serialize on one lock.
      exclusive(s"${System.identityHashCode(map)}:$key") {
        val again = map.get(key)
        if (again != null) again
        else {
          val loaded = load
          require(loaded != null, s"Memo loader returned null for key $key")
          map.put(key, loaded)
          loaded
        }
      }
  }
}
