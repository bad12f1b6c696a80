package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the checked query surface: the DuckDB oracle SQL of every query and
  * the set of query names. A refactor of the operators or of `Queries`
  * must leave both digests unchanged; a change that means to move them
  * updates the pinned values in the same commit.
  */
class OracleSurfaceSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  test("oracle SQL map and query-name set match their pinned sha256") {
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert((oracle.length, names.length) == ((139, 141)))
    // entries are NUL-separated: neither names nor SQL text contain NUL
    val oracleDigest = sha256(oracle.map { case (k, v) => s"$k\u0000$v" }.mkString("\u0000"))
    val namesDigest = sha256(names.mkString("\u0000"))
    assert(oracleDigest == "ca26e37c0cc6a49682af71c9ade7ae48bfe5c83e68d11f46895ec32525c318fb", "oracle SQL changed")
    assert(namesDigest == "f377e29ae0df430b4c2c8f4185146f7154ea8ea6e836e5bf99cce75d20b4af83", "query-name set changed")
  }
}
