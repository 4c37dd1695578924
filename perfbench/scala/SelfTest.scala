package graftbench

/** Checks of the digest the benchmark's correctness checks rest on:
  * stable under row reordering, sensitive to a changed, dropped or
  * duplicated row, blind to last-bit floating-point noise, and equal for
  * the same value read back as different JDBC/Spark types. Exit 1 on any
  * failure. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val ts = java.sql.Timestamp.valueOf("1995-03-15 00:00:00")
    val rows: Seq[Seq[Any]] = (1 to 200).map(i =>
      Seq(i.toLong, s"name-$i", i * 0.1, if (i % 7 == 0) null else ts, Seq(i, i + 1)))
    val d = Digest.of(rows)
    val rnd = new scala.util.Random(7)
    val checks = Seq(
      "reordering keeps the digest" ->
        (1 to 5).forall(_ => Digest.of(rnd.shuffle(rows)) == d),
      "a changed value changes it" ->
        (Digest.of(rows.updated(17, rows(17).updated(1, "other"))) != d),
      "a dropped row changes it" -> (Digest.of(rows.tail) != d),
      "a duplicated row changes it" -> (Digest.of(rows :+ rows.head) != d),
      "moving a value between columns changes it" ->
        (Digest.of(Seq(Seq("a", "b"))) != Digest.of(Seq(Seq("b", "a")))),
      "last-bit floating noise is ignored" ->
        (Digest.of(Seq(Seq(0.1 + 0.2))) == Digest.of(Seq(Seq(0.3)))),
      "a real floating difference is not" ->
        (Digest.of(Seq(Seq(0.3))) != Digest.of(Seq(Seq(0.3001)))),
      "Int, Long and decimal of one value agree" ->
        (Set(Digest.of(Seq(Seq(5))), Digest.of(Seq(Seq(5L))),
          Digest.of(Seq(Seq(new java.math.BigDecimal("5.00"))))).size == 1),
      "Spark rows digest like plain sequences" ->
        (Digest.of(Seq(org.apache.spark.sql.Row(1L, "x").toSeq)) == Digest.of(Seq(Seq(1L, "x")))))
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    if (checks.exists(!_._2)) sys.exit(1)
  }
}
