package graftbench

import org.scalatest.funsuite.AnyFunSuite

class NamesSpec extends AnyFunSuite {

  test("per-pack metrics cover all 13 query packs") {
    assert(Names.packs.size == 13)
    assert(Names.packs.map(_._1).toSet.size == 13)
    assert(Names.packs.flatMap(_._2.queries.keys).size == graft.SparkEntry.queries.size)
  }

  test("JSON rendering escapes strings and keeps numbers exact") {
    assert(Json.render(Map("a" -> "x\"y", "b" -> 1.5, "c" -> 2L, "d" -> Seq(true, false))) ==
      """{"a":"x\"y","b":1.5,"c":2,"d":[true,false]}""")
    assert(Json.num(Double.NaN) == "null")
  }
}
