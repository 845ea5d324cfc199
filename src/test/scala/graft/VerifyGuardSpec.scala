package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's wall-clock budget guard: a query that blows the per-query
  * cap must be NAMED (stderr + exit 3), so a future driver-side
  * timeout is distinguishable from a silent harness mismatch — the
  * named-slow-query trail survives in the log even when the artifact
  * doesn't. overCap is the pure core of that guard.
  */
class VerifyGuardSpec extends AnyFunSuite {
  test("under-cap walls trigger nothing") {
    assert(Verify.overCap(Seq("a" -> 1.0, "b" -> 599.9), 600.0) === Seq.empty)
  }

  test("over-cap queries are named, sorted, boundary exclusive") {
    assert(Verify.overCap(
      Seq("z_slow" -> 601.0, "a_slow" -> 9999.0, "ok" -> 600.0), 600.0) ===
      Seq("a_slow", "z_slow"))
  }

  test("empty wall set is fine (all queries failed or resumed)") {
    assert(Verify.overCap(Seq.empty, 600.0) === Seq.empty)
  }

  test("GRAFT_VERIFY_ONLY parses to a trimmed name set; blank means every entry") {
    assert(Verify.selection(None) === None)
    assert(Verify.selection(Some(" , ")) === None)
    assert(Verify.selection(Some("q_dau_wau, v_norm,")) ===
      Some(Set("q_dau_wau", "v_norm")))
  }

  test("only a run over every entry mirrors its detail over the tracked record") {
    assert(Verify.mirrorsDetail(Verify.selection(None)))
    assert(!Verify.mirrorsDetail(Verify.selection(Some("v_norm"))))
  }
}
