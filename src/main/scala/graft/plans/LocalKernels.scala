package graft.plans

/** Driver-local kernels that finish a driver loop in memory once its
  * working set is bounded: Lloyd's algorithm for the k-means and PQ
  * quantizers (trained on a capped sample, the FAISS practice) and a
  * min-root union-find for star connected components once the live
  * edge set is small (Kiveris et al., SoCC 2014). Callers own the caps;
  * these kernels only see arrays that already fit.
  *
  * The Lloyd arithmetic matches the Spark expressions of the
  * distributed form it replaces per expression: VectorDot's sequential
  * fold, `cos = dot / (norm·norm)` with `norm = sqrt(dot)`,
  * `dist2 = dot(a,a) − 2·dot(a,b) + dot(b,b)`, Spark's double ordering
  * (NaN greatest, −0.0 equal to 0.0), ties to the lowest cluster id,
  * and the `avg` mean (one sum, then one division). The mean sums in
  * vec_id order; Spark's `avg` adds per-partition partial sums in
  * shuffle order, so the two agree bit for bit only on a single
  * partition and may differ in the last bits otherwise. A cluster
  * that wins no row disappears, as it does under `groupBy`.
  */
object LocalKernels {

  /** Spark's SQL double ordering: NaN equals NaN and is greater than
    * every other value; −0.0 equals 0.0. */
  def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** VectorDot's fold: ascending, over the shorter length. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a(i) * b(i)
      i += 1
    }
    s
  }

  /** Lloyd's algorithm over `rows`, which must already be in vec_id
    * order: the first `k` rows seed clusters 0..k-1, then `iters`
    * assign/update steps. `cosine = true` assigns by maximum cosine
    * (spherical k-means), `false` by minimum squared L2 (the PQ
    * codebook step). Returns the surviving cluster ids, ascending, and
    * their centroids. */
  def lloyd(
      rows: Array[Array[Double]],
      k: Int,
      iters: Int,
      cosine: Boolean
  ): (Array[Int], Array[Array[Double]]) = {
    val n = rows.length
    val s = math.min(k, n)
    var ids = Array.tabulate(s)(identity)
    var cents = Array.tabulate(s)(rows(_))
    // per-row self terms are the same every iteration
    val self = rows.map(r => if (cosine) math.sqrt(dot(r, r)) else dot(r, r))
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters && cents.nonEmpty) {
      val cSelf = cents.map(c => if (cosine) math.sqrt(dot(c, c)) else dot(c, c))
      def score(i: Int, j: Int): Double =
        if (cosine) dot(rows(i), cents(j)) / (self(i) * cSelf(j))
        else self(i) - 2.0 * dot(rows(i), cents(j)) + cSelf(j)
      var i = 0
      while (i < n) {
        // ascending cluster scan, replaced only on a strict win: ties
        // keep the lowest id
        var best = 0
        var bestScore = score(i, 0)
        var j = 1
        while (j < cents.length) {
          val sc = score(i, j)
          val c = compareDoubles(sc, bestScore)
          if (if (cosine) c > 0 else c < 0) {
            best = j
            bestScore = sc
          }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      // avg per (cluster, pos): positions a member lacks do not count
      val len = new Array[Int](cents.length)
      i = 0
      while (i < n) {
        len(assign(i)) = math.max(len(assign(i)), rows(i).length)
        i += 1
      }
      val sums = len.map(new Array[Double](_))
      val cnts = len.map(new Array[Long](_))
      i = 0
      while (i < n) {
        val r = rows(i)
        val sm = sums(assign(i))
        val ct = cnts(assign(i))
        var p = 0
        while (p < r.length) {
          sm(p) += r(p)
          ct(p) += 1
          p += 1
        }
        i += 1
      }
      val live = len.indices.filter(len(_) > 0).toArray
      ids = live.map(ids(_))
      cents = live.map { j =>
        val sm = sums(j)
        var p = 0
        while (p < sm.length) {
          sm(p) = sm(p) / cnts(j)(p).toDouble
          p += 1
        }
        sm
      }
      it += 1
    }
    (ids, cents)
  }

  /** Connected components of the undirected edges (us(i), vs(i)) by a
    * union-find whose root is always the component minimum (the
    * smaller root adopts the larger). Returns the star edges
    * (node, component minimum) for every node that is not its own
    * minimum — exactly the fixpoint edge set of star-CC. */
  def minRootComponents(
      us: Array[Long],
      vs: Array[Long]
  ): (Array[Long], Array[Long]) = {
    val all = new Array[Long](us.length + vs.length)
    System.arraycopy(us, 0, all, 0, us.length)
    System.arraycopy(vs, 0, all, us.length, vs.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) {
        all(n) = all(i)
        n += 1
      }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    // node index order is id order, so the minimum index is the minimum id
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < us.length) {
      val a = find(java.util.Arrays.binarySearch(ids, us(i)))
      val b = find(java.util.Arrays.binarySearch(ids, vs(i)))
      if (a < b) parent(b) = a
      else if (b < a) parent(a) = b
      i += 1
    }
    val outU = Array.newBuilder[Long]
    val outL = Array.newBuilder[Long]
    i = 0
    while (i < n) {
      val r = find(i)
      if (r != i) {
        outU += ids(i)
        outL += ids(r)
      }
      i += 1
    }
    (outU.result(), outL.result())
  }
}
