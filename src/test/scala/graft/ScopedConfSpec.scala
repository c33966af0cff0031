package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import graft.gold.MemoryBudget

/** [[ScopedConf]]'s two users on one session: a low-memory scope and an
  * interpreted [[Width.Single]] scope set different keys, and however
  * they overlap — nested, or interleaved across threads — and whichever
  * body throws, the session's four confs come back as they were, set
  * values byte-identical and unset ones unset.
  */
class ScopedConfSpec extends SparkSpec {

  private val keys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, SQLConf.CODEGEN_FACTORY_MODE.key)

  /** The four confs as the session has them set (absent: unset). */
  private def confs(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter { case (k, _) => keys.contains(k) }

  test("overlapping low-memory and single-width scopes restore both key sets, also on a throw") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "7340032") // not the default
    s.conf.set("spark.sql.shuffle.partitions", "13")
    s.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "true")
    s.conf.unset(SQLConf.CODEGEN_FACTORY_MODE.key)
    val before = confs(s)
    sys.props("graft.test.mbPerCore") = "150"
    try {
      // nested: the inner interpreted body throws inside the low-memory scope
      intercept[IllegalStateException](MemoryBudget.withLowMemoryProfile(s) {
        Width.Single.run(s) {
          assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
          assert(s.conf.get(SQLConf.CODEGEN_FACTORY_MODE.key) == "NO_CODEGEN")
          throw new IllegalStateException("boom")
        }
      })
      assert(confs(s) == before)

      // interleaved: the low-memory scope opens first and closes first,
      // while the single-width scope it overlapped is still open; that
      // scope's body then throws
      val lowOpen = new CountDownLatch(1)
      val lowClose = new CountDownLatch(1)
      implicit val ec: ExecutionContext = ExecutionContext.global
      val low = Future(MemoryBudget.withLowMemoryProfile(s) {
        lowOpen.countDown()
        lowClose.await(1, TimeUnit.MINUTES)
      })
      assert(lowOpen.await(1, TimeUnit.MINUTES))
      intercept[IllegalStateException](Width.Single.run(s) {
        lowClose.countDown()
        Await.result(low, 1.minute)
        assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == "7340032",
          "the closed low-memory scope did not restore its keys")
        assert(s.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == "false",
          "the low-memory scope's close touched the single-width keys")
        throw new IllegalStateException("boom")
      })
      assert(confs(s) == before)
    } finally sys.props.remove("graft.test.mbPerCore")
  }
}
