package graftbench

import org.apache.spark.sql.Row

/** Self-test of the output digests (run by graftbench/test_metrics.py):
  *   java -cp <classpath> graftbench.DigestSelfTest
  * Exits 1 and names the failed property on the first failure. */
object DigestSelfTest {
  def main(args: Array[String]): Unit = {
    val cols = Seq("k", "v")
    val a = Seq(Row(1, 2.5), Row(2, null), Row(3, -0.0))
    val checks = Seq(
      "row order is ignored" ->
        (Digest.rows(cols, a) == Digest.rows(cols, a.reverse)),
      "-0.0 and 0.0 agree" ->
        (Digest.rows(cols, Seq(Row(1, -0.0))) == Digest.rows(cols, Seq(Row(1, 0.0)))),
      "column names count" ->
        (Digest.rows(cols, a) != Digest.rows(Seq("k", "w"), a)),
      "values count" ->
        (Digest.rows(cols, a) != Digest.rows(cols, Seq(Row(1, 2.5000001), Row(2, null), Row(3, 0.0)))),
      "null is not the text \\N" ->
        (Digest.rows(cols, Seq(Row(1, null))) != Digest.rows(cols, Seq(Row(1, "\\N")))),
      "duplicate rows count" ->
        (Digest.rows(cols, a) != Digest.rows(cols, a :+ a.head)),
      "map entry order is ignored" ->
        (Digest.canon(Map("a" -> 1, "b" -> 2)) == Digest.canon(Map("b" -> 2, "a" -> 1))),
      "array element order counts" ->
        (Digest.canon(Seq(1, 2)) != Digest.canon(Seq(2, 1))),
      "nested rows recurse" ->
        (Digest.canon(Row(Seq(1.0, -0.0), Row("x"))) == "([1.0,0.0],(x))"),
      "estimates ignore the 12th significant digit" ->
        (Digest.estimates(Seq("b" -> 0.123456789012)) == Digest.estimates(Seq("b" -> 0.123456789013))),
      "estimates see the 6th significant digit" ->
        (Digest.estimates(Seq("b" -> 0.123456)) != Digest.estimates(Seq("b" -> 0.123457))),
      "estimates keep their names" ->
        (Digest.estimates(Seq("b" -> 1.0)) != Digest.estimates(Seq("c" -> 1.0))))
    val failed = checks.collect { case (name, false) => name }
    failed.foreach(n => System.err.println(s"digest self-test failed: $n"))
    println(s"digest self-test: ${checks.size - failed.size}/${checks.size} passed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
