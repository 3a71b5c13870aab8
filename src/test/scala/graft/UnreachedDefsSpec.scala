package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs tools/unreached_defs.py: a `src/main` definition that nothing in
  * `src/main` or `perfbench/src` names fails the suite until it gets a
  * caller, is deleted, or is listed with its reason in
  * tools/unreached_defs_allow.txt.
  *
  * Cancels (not fails) when python3 is absent.
  */
class UnreachedDefsSpec extends AnyFunSuite {

  test("every src/main definition has a caller or an allowlisted reason") {
    val p = try {
      new ProcessBuilder("python3", "tools/unreached_defs.py")
        .redirectErrorStream(true).start()
    } catch { case _: java.io.IOException => null }
    assume(p != null, "python3 not available")
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, s"unreached definitions:\n$out")
  }
}
