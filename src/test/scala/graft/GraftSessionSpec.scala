package graft

import org.scalatest.funsuite.AnyFunSuite

/** The canonical session settings are load-bearing (the codegen-cache
  * sizing alone is the difference between 64 s and 257 s for the full
  * gate sweep — docs/PLANS.md round-8 forensics), so pin them: a
  * refactor that drops one from the factory map should fail here, not
  * in a driver bench three rounds later.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("confs carries the engine's required settings") {
    val c = GraftSession.confs(8)
    assert(c("spark.sql.shuffle.partitions") === "8")
    // must exceed the gate's generated-class working set (195 queries x
    // several codegen units each); the 100-entry default thrashes
    assert(c("spark.sql.codegen.cache.maxEntries").toInt >= 1000)
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("coresFromEnv honors the harness default when env is absent") {
    // when SPARK_GRAFT_CPUS is set (the tier-1 command sets it) the env
    // value wins; otherwise every visible processor
    val viaEnv = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    assert(GraftSession.coresFromEnv() ===
      viaEnv.getOrElse(Runtime.getRuntime.availableProcessors))
  }
}
