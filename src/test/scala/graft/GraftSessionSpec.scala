package graft

import graft.core.GraftSession
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_EXTRA_CONF: k=v entries in order; a malformed entry is refused by name") {
    assert(GraftSession.extraConf("") == Nil)
    assert(GraftSession.extraConf(" a=1 ; b.c=x=y;; d= ") ==
      Seq("a" -> "1", "b.c" -> "x=y", "d" -> ""))
    val e = intercept[IllegalArgumentException](
      GraftSession.extraConf("a=1;spark.sql.shuffle.partitions"))
    assert(e.getMessage.contains("'spark.sql.shuffle.partitions'"))
    intercept[IllegalArgumentException](GraftSession.extraConf("=v"))
  }
}
