package perfbench

import java.nio.file.{Files, Paths}

/** Records the query workloads' result fingerprints: run once per query
  * over the benchmark's dataset, after the same queries' outputs have been
  * checked against their DuckDB oracles (see perfbench/README.md).
  *
  * {{{ Main record <dataDir> <printsOut> }}}
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outPath) = args
    val work = Files.createTempDirectory("perfbench-record")
    val spark = Main.session(work)
    val lines = QueryLoad.All.map { q =>
      s"$q ${Fp.of(graft.Queries.queries(q)(spark, dataDir))}"
    }
    Files.writeString(Paths.get(outPath),
      ("# query rows:hash — recorded by `Main record`; see README.md" +: lines)
        .mkString("", "\n", "\n"))
    spark.stop()
  }
}
