package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point in src/main has a caller: a public def that
  * nothing in src/main or src/test names is either deleted or given a
  * test. */
class MainSourcesSpec extends AnyFunSuite {
  test("every public def in src/main is named outside its definition") {
    val offenders = MainSources.uncalledPublicDefs()
    assert(offenders.isEmpty,
      s"${offenders.size} public defs nothing calls: " +
        offenders.mkString(", "))
  }

  test("comments are blanked, string literals are kept") {
    val src = "val a = \"x // y\" // gone\n/* gone\n gone */ def f = '/'"
    assert(MainSources.withoutComments(src) ==
      "val a = \"x // y\" \n\n def f = '/'")
  }
}
