package graft.functions

/** Complete-linkage agglomerative clustering with a flat cut at distance t —
  * the reference's `linkage(..., 'complete')` + `fcluster(t, 'distance')`
  * (SURVEY C3, RGPs.ipynb:2671,2712 cells 85-88).
  *
  * Deliberately driver-side: the reference clusters N≈5k insertions, for
  * which an O(N²)-memory Lance-Williams pass is fine. The 100 TB-scale path
  * is MinHash-LSH bucketing + connected components (see
  * `Similarity.cluster`, `operators/Components`) — this exact-linkage
  * kernel stays for reference-fidelity on collected condensed distances.
  *
  * Memory: the matrix is stored condensed (upper triangle, one flat
  * allocation) — n(n−1)/2 doubles, half a full n×n and no per-row object
  * headers. n = 20k → 1.6 GB; the indexing caps n at 65535 (pair count
  * overflows Int above that), which is already far past any sane driver
  * heap — [[graft.operators.Similarity.cluster]]'s dispatch threshold sits
  * well below.
  */
object Agglomerative {

  /** Cluster items 0..n-1 given a symmetric distance lookup; returns the
    * flat cluster label per item (labels are 1-based, ordered by first
    * item index — deterministic, unlike scipy's leaf ordering).
    */
  def completeLinkageCut(n: Int, dist: (Int, Int) => Double, t: Double): Array[Int] = {
    if (n == 0) return Array.empty
    require(n <= 65535,
      s"exact complete-linkage kernel caps at 65535 items (condensed-matrix " +
        s"indexing), got $n — route through the LSH+components scale branch")
    // condensed pairwise complete-linkage distance matrix: pair (i<j) lives
    // at i*(2n-i-1)/2 + (j-i-1)
    val d = new Array[Double]((n.toLong * (n - 1) / 2).toInt)
    @inline def ix(i: Int, j: Int): Int = {
      val a = if (i < j) i else j
      val b = if (i < j) j else i
      (a.toLong * (2L * n - a - 1) / 2 + (b - a - 1)).toInt
    }
    {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { d(ix(i, j)) = dist(i, j); j += 1 }
        i += 1
      }
    }
    val alive = Array.fill(n)(true)
    val members = Array.tabulate(n)(i => List(i))

    // Nearest-neighbor lists replace the O(active²) pair scan per merge.
    // Complete-linkage distances only GROW on merge, so a cluster's cached
    // nearest neighbor stays valid unless that neighbor was one of the two
    // merged clusters — only those entries rescan. Pick order and
    // tie-breaking (lexicographically first minimal pair over ascending
    // indices) are identical to the full scan's.
    val nnd = new Array[Double](n)
    val nni = new Array[Int](n)
    def rescan(i: Int): Unit = {
      var best = Double.PositiveInfinity; var bj = -1; var k = 0
      while (k < n) {
        if (alive(k) && k != i) {
          val v = d(ix(i, k))
          if (v < best) { best = v; bj = k }
        }
        k += 1
      }
      nnd(i) = best; nni(i) = bj
    }
    (0 until n).foreach(rescan)

    var nActive = n
    var done = false
    while (!done && nActive > 1) {
      var bi = -1; var bd = Double.PositiveInfinity
      var i = 0
      while (i < n) { if (alive(i) && nnd(i) < bd) { bd = nnd(i); bi = i }; i += 1 }
      if (bd > t) done = true
      else {
        val (lo, hi) = (math.min(bi, nni(bi)), math.max(bi, nni(bi)))
        members(lo) = members(lo) ++ members(hi)
        alive(hi) = false; nActive -= 1
        var k = 0
        while (k < n) {
          if (alive(k) && k != lo) {
            val p = ix(lo, k)
            val nd = math.max(d(p), d(ix(hi, k)))
            d(p) = nd
          }
          k += 1
        }
        rescan(lo)
        k = 0
        while (k < n) {
          if (alive(k) && k != lo && (nni(k) == lo || nni(k) == hi)) rescan(k)
          k += 1
        }
      }
    }

    // labels 1..k ordered by each cluster's minimum member index; the merge
    // target is always the smaller index, so ascending alive order == that
    val labels = new Array[Int](n)
    var next = 1
    var c = 0
    while (c < n) {
      if (alive(c)) { members(c).foreach(labels(_) = next); next += 1 }
      c += 1
    }
    labels
  }
}
