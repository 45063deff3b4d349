package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry: a SHA-256 over the sorted `(name, oracle)`
  * pairs of [[Queries.all]]. Any refactor that moves, regroups or
  * rewires query modules must leave every name and every oracle string
  * byte-identical; a deliberate oracle change re-pins the digest in the
  * same commit.
  */
class QueryRegistrySpec extends AnyFunSuite {

  /** Side-table paths carry the JVM's pid (`QueriesScale.sidePath`,
    * sometimes followed by a table suffix such as `_tombstones`);
    * normalize it so the digest is a function of the source alone.
    */
  private def normalized(oracle: String): String = {
    val pid = ProcessHandle.current().pid()
    oracle.replaceAll(s"(/tmp/graft_oracle_side/[A-Za-z0-9_]+)_$pid(?!\\d)",
      "$1_<pid>")
  }

  private def digest(pairs: Seq[(String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    pairs.sorted.foreach { case (n, o) =>
      md.update(s"$n\u0000$o\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("the registry's (name, oracle) pairs match the pinned digest") {
    val pairs = Queries.all.map(q =>
      q.name -> q.oracle.map(normalized).getOrElse("<no oracle>"))
    assert(pairs.size === 229)
    assert(pairs.map(_._1).distinct.size === 229)
    assert(digest(pairs) ===
      "c175f2531bb4a6c609d29d571a2716797e697e6250ffcf39f1e2cca856d7f521")
  }
}
