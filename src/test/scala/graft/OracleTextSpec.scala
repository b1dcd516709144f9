package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins every registered DuckDB oracle's text: the SHA-256 of each
  * query's oracle SQL must equal its line in
  * `src/test/resources/oracle_sql.sha256` (`<name> <hex>`, one per
  * query, sorted by name). A refactor keeps every oracle
  * byte-identical by passing this unchanged; a change that edits an
  * oracle on purpose rewrites the file from a `graft.Verify` output
  * directory:
  * {{{
  * python3 -c 'import hashlib,json,sys; d=json.load(open(sys.argv[1])); [print(k, hashlib.sha256(d[k].encode()).hexdigest()) for k in sorted(d)]' \
  *   <out>/oracle_sql.json > src/test/resources/oracle_sql.sha256
  * }}}
  */
class OracleTextSpec extends AnyFunSuite {

  test("every (name, oracle text) matches its pinned SHA-256") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")(
      scala.io.Codec.UTF8)
    val want =
      try src.getLines().map(_.split(" ") match {
        case Array(name, hex) => name -> hex
        case bad => fail(s"malformed line: ${bad.mkString(" ")}")
      }).toMap
      finally src.close()
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val got = SparkEntry.oracleSql.map { case (name, text) =>
      name -> sha.digest(text.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    assert((got.keySet -- want.keySet).isEmpty, "oracles without a pin")
    assert((want.keySet -- got.keySet).isEmpty, "pins without an oracle")
    val changed = got.keySet.toSeq.sorted.filter(n => got(n) != want(n))
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }
}
