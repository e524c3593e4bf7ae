package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract shape guards: the gate's value rests on EVERY query
  * having a DuckDB mirror — a `queries` entry without an `oracleSql`
  * twin silently downgrades to a rows-only check, and an orphan oracle
  * is dead text. No SparkSession needed; this is pure map algebra.
  */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val unoracled = q -- o
    val orphaned = o -- q
    assert(unoracled.isEmpty, s"queries without oracles: ${unoracled.toSeq.sorted.mkString(", ")}")
    assert(orphaned.isEmpty, s"oracles without queries: ${orphaned.toSeq.sorted.mkString(", ")}")
  }

  test("query names are stable lower_snake identifiers") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("[a-z][a-z0-9_]*"))
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("no query or oracle key is textually defined twice") {
    // a duplicate Map key compiles fine and SILENTLY shadows the
    // earlier entry (later wins) — the r13 events_ab_cuped lesson: a
    // rewritten query can be dead code while the gate stays green on
    // the survivor. Scan the SOURCE for `"name" ->` entries that match
    // gate query names and demand exactly one definition each.
    def dups(path: String): Map[String, Int] = {
      val p = java.nio.file.Paths.get(path)
      assume(java.nio.file.Files.exists(p), s"$path not found (cwd?)")
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      "\"([a-z][a-z0-9_]*)\" ->".r.findAllMatchIn(src).map(_.group(1))
        .toSeq.filter(SparkEntry.queries.keySet)
        .groupBy(identity).view.mapValues(_.size).filter(_._2 > 1).toMap
    }
    val qd = dups("src/main/scala/graft/SparkEntry.scala")
    val od = dups("src/main/scala/graft/OracleSql.scala")
    assert(qd.isEmpty, s"duplicate query keys: $qd")
    assert(od.isEmpty, s"duplicate oracle keys: $od")
  }

  test("the served-list rounding is written only in Search.topK") {
    // one rule turns a (doc_id, score) frame into a served list; a copy
    // of its 4dp rounding elsewhere is a second rule that can drift
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found (cwd?)")
    val rule = java.util.regex.Pattern.quote("""round(col("score"), 4)""").r
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        root.relativize(p).toString.replace('\\', '/') ->
          rule.findAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).size
      }.filter(_._2 > 0).toMap
    assert(hits == Map("graft/search/Search.scala" -> 1), hits.toString)
  }
}
