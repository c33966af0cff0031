package perfbench

import java.nio.file.Paths

/** The benchmark's own checks (`python3 perfbench/run.py --selftest` runs
  * these, then checks the printed metric set of every workload):
  *  - the generator is deterministic per seed and differs across seeds;
  *  - the independent fold equals the pipeline's committed tables on a
  *    tiny seed, and a fold of a perturbed log does not.
  *
  * {{{ Main selftest <workDir> }}}
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = Main.session(work)
    val off = new Tracer(false)
    def files(seed: Long) = {
      val g = new Gen(spark, seed, off)
      (0 until 3).map(_ => g.nextFile(2000).map(_.text).mkString("\n"))
    }
    check(files(7) == files(7), "generator: same seed, same files")
    check(files(7) != files(8), "generator: another seed, other files")
    val log = new Gen(spark, 7, off).nextFile(20000)
    val kinds = log.flatMap(_.change).groupBy(c => (c.table, c.op)).map { case (k, v) => k -> v.size }
    check(kinds.contains(("transactions", "d")) && kinds.contains(("customers", "d")) &&
      kinds.contains(("accounts", "u")) && kinds.contains(("customers", "u")) &&
      log.exists(_.change.isEmpty) &&
      log.flatMap(_.change).size > log.flatMap(_.change).distinct.size,
      s"generator: change mix has updates, deletes, replays and corrupt lines $kinds")

    val cdc = new Cdc(spark, "cdc_trickle", 7L, 2, work.resolve("cdc"), off, None)
    cdc.setup()
    try cdc.run() finally cdc.cleanup()
    val gates = cdc.gates()
    gates.filterNot(_.ok).foreach(g => println(s"[selftest]   ${g.name}: ${g.detail}"))
    check(gates.forall(_.ok), s"fold equals the pipeline on seed 7 (${gates.size} gates)")
    // drop the first account balance update: the fold must now disagree
    val all = cdc.landedLines
    val k = all.indexWhere(_.change.exists(c => c.table == "accounts" && c.op == "u"))
    check(!cdc.gates(all.patch(k, Nil, 1)).forall(_.ok), "a perturbed log fails the gates")
    spark.stop()
  }
}
