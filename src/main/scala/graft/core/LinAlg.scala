package graft.core

import breeze.linalg.{DenseMatrix, DenseVector, inv}

/** Driver-side small dense linear algebra (p ≤ ~10 throughout — the
  * reference never solves anything bigger than (p+q)² ≈ 10×10, cf.
  * taylor_deviate.R:476-482). Distributed aggregates produce packed
  * Gram matrices / gradient vectors; everything here runs on the driver
  * on a handful of doubles.
  */
object LinAlg {

  /** Solve A x = b for symmetric A given in packed row-major upper
    * triangle (length p(p+1)/2) and b (length p). */
  def solvePacked(p: Int, packedA: Array[Double], b: Array[Double]): Array[Double] = {
    val a = unpack(p, packedA)
    (a \ DenseVector(b)).toArray
  }

  def inverse(a: DenseMatrix[Double]): DenseMatrix[Double] = inv(a)

  /** Unpack a row-major upper-triangular packed symmetric matrix. */
  def unpack(p: Int, packed: Array[Double]): DenseMatrix[Double] = {
    val m = DenseMatrix.zeros[Double](p, p)
    var k = 0
    var i = 0
    while (i < p) {
      var j = i
      while (j < p) {
        m(i, j) = packed(k); m(j, i) = packed(k)
        k += 1; j += 1
      }
      i += 1
    }
    m
  }
}
