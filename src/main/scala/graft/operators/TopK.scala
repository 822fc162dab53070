package graft.operators

/** Primitive binary heap of (key: Double, id: Long, row: Int) entries —
  * the one top-k selection every driver-local ANN search uses
  * ([[graft.serve.LocalAnn]]'s shortlists, reranks and ivf probes, the
  * [[Hnsw]] beam). No entry is boxed and nothing is allocated per
  * candidate.
  *
  * Entries order ascending by (java.lang.Double.compare(key), id):
  * exactly the order Scala's `Ordering.Double` gives (key, id) tuples
  * in `sortBy` and `TreeSet` — −0.0 before +0.0, NaN after +∞, all NaNs
  * equal. So [[offer]] keeps the same k entries as
  * `sortBy(t => (t.key, t.id)).take(k)`, bit for bit. An order of
  * (x desc, id asc, NaN last) — the cosine families' — is the same
  * order on key = −x: negation reverses every non-NaN comparison,
  * including ±0.0, and −NaN is still NaN, so it still sorts last.
  *
  * `maxRoot` keeps the greatest entry at the root (a bounded top-k: the
  * root is the current worst and is evicted first); otherwise the least
  * (a best-first frontier). `capacity` is both the most entries
  * [[offer]] keeps and the arrays' starting size; [[push]] doubles them
  * when full. Size it from the data, e.g. min(shortlist, index size),
  * never from a request knob alone. Not thread-safe: one per call. */
private[graft] final class TopK(maxRoot: Boolean, capacity: Int) {
  private var keys = new Array[Double](math.max(1, capacity))
  private var ids = new Array[Long](keys.length)
  private var rows = new Array[Int](keys.length)
  private var n = 0

  def size: Int = n
  def key(i: Int): Double = keys(i)
  def id(i: Int): Long = ids(i)
  def row(i: Int): Int = rows(i)
  /** The x of a slot offered with key = −x (NaN stays the canonical NaN). */
  def negKey(i: Int): Double = if (keys(i).isNaN) Double.NaN else -keys(i)

  /** (ka, ia) sorts strictly before (kb, ib). */
  private def lt(ka: Double, ia: Long, kb: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(ka, kb)
    c < 0 || (c == 0 && ia < ib)
  }

  /** Slot a belongs nearer the root than slot b. */
  private def above(a: Int, b: Int): Boolean =
    if (maxRoot) lt(keys(b), ids(b), keys(a), ids(a))
    else lt(keys(a), ids(a), keys(b), ids(b))

  private def swap(a: Int, b: Int): Unit = {
    val k = keys(a); keys(a) = keys(b); keys(b) = k
    val i = ids(a); ids(a) = ids(b); ids(b) = i
    val r = rows(a); rows(a) = rows(b); rows(b) = r
  }

  private def siftDown(from: Int, end: Int): Unit = {
    var p = from
    var done = false
    while (!done) {
      val l = 2 * p + 1
      if (l >= end) done = true
      else {
        val c = if (l + 1 < end && above(l + 1, l)) l + 1 else l
        if (above(c, p)) { swap(c, p); p = c } else done = true
      }
    }
  }

  def push(key: Double, id: Long, row: Int): Unit = {
    if (n == keys.length) {
      val cap = 2 * n
      keys = java.util.Arrays.copyOf(keys, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
      rows = java.util.Arrays.copyOf(rows, cap)
    }
    keys(n) = key; ids(n) = id; rows(n) = row
    var c = n
    n += 1
    while (c > 0 && above(c, (c - 1) / 2)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
  }

  /** Remove the root (the worst of a `maxRoot` heap, else the best). */
  def pop(): Unit = {
    n -= 1
    keys(0) = keys(n); ids(0) = ids(n); rows(0) = rows(n)
    siftDown(0, n)
  }

  /** Keep the `capacity` least entries offered to a `maxRoot` heap: push
    * while under `capacity`, then replace the root whenever (key, id)
    * sorts before it. A `capacity` ≤ 0 keeps nothing (`take(0)`). */
  def offer(key: Double, id: Long, row: Int): Unit =
    if (n < capacity) push(key, id, row)
    else if (n > 0 && lt(key, id, keys(0), ids(0))) {
      keys(0) = key; ids(0) = id; rows(0) = row
      siftDown(0, n)
    }

  /** Heap-sort a `maxRoot` heap in place: afterwards slots 0 until
    * [[size]] ascend. This ends the heap; only read it after. */
  def sortAscending(): Unit = {
    require(maxRoot, "only a max-root heap sorts ascending")
    var end = n
    while (end > 1) { end -= 1; swap(0, end); siftDown(0, end) }
  }
}
