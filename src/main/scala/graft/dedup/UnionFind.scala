package graft.dedup

/** Array-backed union-find over indices `0 until n`, the one copy
  * behind the driver-local connected-components paths. A union roots
  * the merged set at the SMALLER of the two roots, so every set's
  * root is its minimum index — labels do not depend on union order.
  * `find` compresses the path it walks.
  */
private[dedup] final class UnionFind(n: Int) {
  private val parent = Array.tabulate(n)(identity)

  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  def union(a: Int, b: Int): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
}
