package graft.perfbench

import org.apache.spark.sql.Row

/** Checks the result digest the query mix relies on: it ignores row order
  * and last-bit rounding noise, and it rejects a perturbed value, a lost
  * row and a duplicated row. Prints one line per case; exits 1 on any
  * failure. Run by perfbench/test_analysis.py. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val base = Seq(
      Row(1L, "a", 0.1 + 0.2, Seq(1.5, 2.5)),
      Row(2L, "b", 1e-7, Seq.empty[Double]),
      Row(3L, null, -42.125, Seq(3.0)))
    def d(rows: Seq[Row]) = Digest.format(Digest.of(rows.iterator))
    val ref = d(base)
    val cases = Seq(
      ("reordered rows match", d(base.reverse) == ref),
      ("last-bit noise matches", d(base.updated(0, Row(1L, "a", 0.3, Seq(1.5, 2.5)))) == ref),
      ("perturbed value rejected", d(base.updated(2, Row(3L, null, -42.126, Seq(3.0)))) != ref),
      ("perturbed array element rejected",
        d(base.updated(0, Row(1L, "a", 0.1 + 0.2, Seq(1.5, 2.6)))) != ref),
      ("null vs string rejected", d(base.updated(2, Row(3L, "", -42.125, Seq(3.0)))) != ref),
      ("lost row rejected", d(base.tail) != ref),
      ("duplicated row rejected", d(base :+ base.head) != ref))
    cases.foreach { case (name, ok) => println(s"${if (ok) "ok" else "FAIL"} $name") }
    if (!cases.forall(_._2)) sys.exit(1)
  }
}
