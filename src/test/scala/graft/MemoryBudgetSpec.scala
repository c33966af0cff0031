package graft

import graft.gold.MemoryBudget

/** Pins the scoped low-memory profile's restore contract — the r11
  * sticky-profile episode (a uniform suite-wide ~1.2× from one leaked
  * degradation) must not be able to recur in any quieter form:
  *
  *  - after the OUTERMOST scope exits, the session's planning confs are
  *    byte-identical to their pre-scope values — including a
  *    deployment-configured autoBroadcastJoinThreshold, which a plain
  *    `unset` would silently revert to the built-in default;
  *  - scope state is per-session, not JVM-global: a scope open on one
  *    session cannot delay or corrupt the restore of another;
  *  - at/above the floor the wrapper is a no-op that never touches
  *    session confs.
  */
class MemoryBudgetSpec extends SparkSpec {

  private val ShuffleKey = "spark.sql.shuffle.partitions"
  private val BcastKey = "spark.sql.autoBroadcastJoinThreshold"

  private def graftKeys(s: org.apache.spark.sql.SparkSession): Seq[String] =
    Seq("graft.lowmem.appliedFloor", "graft.lowmem.basePartitions",
      "graft.lowmem.baseAutoBroadcast", "graft.lowmem.scopeDepth",
      "graft.lowmem.priorFloor").filter(k => s.conf.getOption(k).isDefined)

  test("outermost exit restores planning confs byte-identically, incl. a custom broadcast threshold") {
    val s = spark.newSession()
    s.conf.set(BcastKey, "7340032") // a deployment-custom 7 MB, NOT the default
    s.conf.set(ShuffleKey, "13")
    sys.props("graft.test.mbPerCore") = "150"
    try {
      val preB = s.conf.get(BcastKey)
      val preP = s.conf.get(ShuffleKey)
      MemoryBudget.withLowMemoryProfile(s) {
        assert(s.conf.get(BcastKey) == "-1", "auto-broadcast not disabled in scope")
        assert(s.conf.get(ShuffleKey).toInt < 13, "shuffle cap not applied in scope")
        // nested scope with a TIGHTER floor keeps the profile engaged
        MemoryBudget.withLowMemoryProfile(s, floorMb = 600L) {
          assert(s.conf.get(BcastKey) == "-1")
        }
        assert(s.conf.get(BcastKey) == "-1",
          "inner exit must not restore while the outer scope is open")
      }
      assert(s.conf.get(BcastKey) == preB,
        s"custom broadcast threshold lost: ${s.conf.get(BcastKey)} != $preB")
      assert(s.conf.get(ShuffleKey) == preP)
      assert(graftKeys(s).isEmpty, s"leaked scope-state keys: ${graftKeys(s)}")
    } finally sys.props.remove("graft.test.mbPerCore")
  }

  test("scope state is per-session: an open scope on session A does not block session B's restore") {
    val a = spark.newSession()
    val b = spark.newSession()
    a.conf.set(BcastKey, "5242880")
    b.conf.set(BcastKey, "3145728")
    sys.props("graft.test.mbPerCore") = "150"
    try {
      MemoryBudget.withLowMemoryProfile(a) {
        assert(a.conf.get(BcastKey) == "-1")
        // a FULL scope on B, opened and closed while A's is still open:
        // under the old JVM-global depth counter B would stay degraded
        // (depth never hits 0 until A exits) and A's prior floor could
        // be re-applied to B
        MemoryBudget.withLowMemoryProfile(b) {
          assert(b.conf.get(BcastKey) == "-1")
        }
        assert(b.conf.get(BcastKey) == "3145728",
          "B's exit must restore B even while A's scope is open")
        assert(graftKeys(b).isEmpty)
        assert(a.conf.get(BcastKey) == "-1", "A must stay degraded inside its scope")
      }
      assert(a.conf.get(BcastKey) == "5242880")
      assert(graftKeys(a).isEmpty)
    } finally sys.props.remove("graft.test.mbPerCore")
  }

  test("at/above the floor the wrapper is a no-op: zero session-conf mutations") {
    val s = spark.newSession()
    sys.props("graft.test.mbPerCore") = "100000" // roomy heap
    try {
      val before = (s.conf.get(ShuffleKey), s.conf.get(BcastKey))
      val out = MemoryBudget.withLowMemoryProfile(s) {
        assert(graftKeys(s).isEmpty, "no scope keys may be written above the floor")
        42
      }
      assert(out == 42)
      assert((s.conf.get(ShuffleKey), s.conf.get(BcastKey)) == before)
      assert(graftKeys(s).isEmpty)
    } finally sys.props.remove("graft.test.mbPerCore")
  }
}
