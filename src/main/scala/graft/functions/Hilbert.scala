package graft.functions

/** The 2-D Hilbert xy→d bit walk behind [[graft.plans.HilbertXy2dExpr]]
  * (Hilbert 1891; the iterative form of Warren's Hacker's Delight). */
object Hilbert {

  /** Hilbert index of (x, y) on a 2^bits × 2^bits grid: `bits` levels,
    * top bit first, in exact 64-bit integer arithmetic. */
  def xy2d(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    val n1 = (1L << bits) - 1L
    var h = 0L
    var i = bits - 1
    while (i >= 0) {
      val s = 1L << i
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      h += (s * s) * ((3L * rx) ^ ry)
      if (ry == 0L) {
        val nx = if (rx == 1L) n1 - y else y
        val ny = if (rx == 1L) n1 - x else x
        x = nx; y = ny
      }
      i -= 1
    }
    h
  }
}
