package graft.canon

/** Single-task min-label union-find — the small-graph solve that
  * [[ConnectedComponents.runCounted]] takes when the symmetrized table
  * has at most [[ConnectedComponents.SmallSolveMaxRows]] rows.
  * Union-by-min (the root of a merged set is always its smallest node id)
  * with path halving, so `find` returns the component's min id directly
  * — the same fixpoint the iterative min-label-propagation loop converges
  * to, with zero shuffles and zero rounds.
  *
  * Primitive-array open addressing (no boxed maps): at the gate's ceiling
  * (4M symmetrized rows ≈ ~64 MB) the id dictionary and parent array
  * together stay under ~100 MB in one task and the solve is linear-ish
  * (inverse-Ackermann) in the edge count.
  */
private[graft] object LocalUnionFind {

  /** Solve components over symmetric `(a, b)` edge rows; emits one
    * `(node, minLabelOfComponent)` row per distinct node id seen. Output
    * order is the dictionary's insertion order — deterministic for a
    * deterministic input order, and consumers treat the frame as a set. */
  def solve(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var cap = 1 << 12
    var mask = cap - 1
    // open-addressed id -> dense-index map; slot state in `keys` with a
    // parallel occupancy bitmap-free convention: `slots(i) == -1` is empty
    var keys = new Array[Long](cap)
    var slots = new Array[Int](cap)
    java.util.Arrays.fill(slots, -1)
    var ids = new Array[Long](cap)
    var parent = new Array[Int](cap)
    var n = 0

    def rehash(): Unit = {
      val oldKeys = keys; val oldSlots = slots
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap)
      slots = new Array[Int](cap)
      java.util.Arrays.fill(slots, -1)
      ids = java.util.Arrays.copyOf(ids, cap)
      parent = java.util.Arrays.copyOf(parent, cap)
      var i = 0
      while (i < oldSlots.length) {
        val s = oldSlots(i)
        if (s >= 0) {
          var j = (java.lang.Long.hashCode(oldKeys(i)) & mask)
          while (slots(j) >= 0) j = (j + 1) & mask
          keys(j) = oldKeys(i); slots(j) = s
        }
        i += 1
      }
    }

    def index(id: Long): Int = {
      if (n * 2 >= cap) rehash()
      var j = java.lang.Long.hashCode(id) & mask
      while (slots(j) >= 0) {
        if (keys(j) == id) return slots(j)
        j = (j + 1) & mask
      }
      keys(j) = id; slots(j) = n
      ids(n) = id; parent(n) = n
      n += 1
      n - 1
    }

    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) {
        parent(i) = parent(parent(i)) // path halving
        i = parent(i)
      }
      i
    }

    while (edges.hasNext) {
      val (a, b) = edges.next()
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra != rb) {
        // union-by-min: the smaller ID becomes (stays) the root
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    val out = new Array[(Long, Long)](n)
    var i = 0
    while (i < n) { out(i) = (ids(i), ids(find(i))); i += 1 }
    out.iterator
  }
}
