package perfbench

/** Checks of the multiset row hash, run by `test_metrics.py`:
  * `perfbench.SelfCheck` exits non-zero on the first failure. */
object SelfCheck {
  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val rows = Seq(11L, -7L, 42L, 0L, Long.MaxValue)
    val h = RowHash.fold(rows.iterator)
    check("order-insensitive", RowHash.fold(rows.reverseIterator) == h)
    check("counts rows", h._1 == rows.size)
    // duplicates must add up, not cancel as XOR would
    check("a duplicate changes the hash", RowHash.fold((rows :+ 42L).iterator)._2 != h._2)
    check("a pair of duplicates does not cancel",
      RowHash.fold((rows ++ Seq(42L, 42L)).iterator)._2 != h._2)
    check("two copies differ from one", RowHash.fold(Iterator(5L, 5L))._2 != RowHash.fold(Iterator(5L))._2)
    check("multiplicity moves between rows",
      RowHash.fold(Iterator(1L, 1L, 2L))._2 != RowHash.fold(Iterator(1L, 2L, 2L))._2)
    check("empty input", RowHash.fold(Iterator.empty) == ((0L, 0L)))
    println("SelfCheck: ok")
  }
}
