package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalacheck.Gen.Parameters

import graft.model.Model.ScipSymbol

/** PBT target suggested by SURVEY §5: SCIP-symbol parse/format round-trip
  * (reference `pkg/models/symbol.go:20-38`, SplitN(s, " ", 5)). Uses raw
  * ScalaCheck generators with a fixed seed (no scalatestplus bridge in the
  * offline cache).
  */
class ScipSymbolSpec extends AnyFunSuite {

  private val field = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  // descriptor may itself contain spaces — SplitN(_, " ", 5) keeps them
  private val descriptor = Gen.nonEmptyListOf(
    Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.oneOf('#', '.', '/',
      '(', ')'))).map(_.mkString)

  private val symbolGen: Gen[ScipSymbol] = for {
    sc <- field; m <- field; n <- field; v <- field; d <- descriptor
  } yield ScipSymbol(sc, m, n, v, d)

  test("parse(format(s)) == s for 500 generated symbols") {
    var seed = Seed(42L)
    (1 to 500).foreach { _ =>
      val s = symbolGen.pureApply(Parameters.default, seed)
      assert(ScipSymbol.parse(s.format).contains(s),
        s"round-trip failed for ${s.format}")
      seed = seed.next
    }
  }

  test("parse rejects <5 fields") {
    assert(ScipSymbol.parse("a b c d").isEmpty)
    assert(ScipSymbol.parse("").isEmpty)
  }
}
