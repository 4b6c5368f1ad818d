package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Library reads leave the session's conf as they found it: the settings
  * they need are set when the session is built.
  */
class SessionConfSpec extends AnyFunSuite with SparkFixture {

  test("reading Tables.events leaves the session conf unchanged") {
    // a session of its own, with nanosAsLong set the other way (the
    // test corpus stores plain microsecond timestamps, which read
    // either way), so a read that forced it would show
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val before = s.conf.getAll
    assert(Tables.events(s, sfDir).count() > 0)
    assert(s.conf.getAll == before)
  }
}
