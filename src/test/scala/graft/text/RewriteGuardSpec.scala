package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.Csv

/** The literal guards of [[Rewrite]] are a pure speed-up: a rule whose
  * regex matches a name must never be skipped. The regex folds case per
  * char (CASE_INSENSITIVE | UNICODE_CASE), so the guard must fold the
  * same way on names where full lowercasing differs — 'İ' (U+0130),
  * 'ı' (U+0131), 'ſ' (U+017F) and 'K' (U+212A, Kelvin sign). */
class RewriteGuardSpec extends AnyFunSuite {

  private val variants: Seq[String => String] = Seq(
    _.replace('I', 'İ').replace('i', 'İ'),
    _.replace('I', 'ı').replace('i', 'ı'),
    _.replace('S', 'ſ').replace('s', 'ſ'),
    _.replace('K', '\u212A').replace('k', '\u212A'))

  test("every rule whose regex matches passes its guard (non-ASCII case folding)") {
    val names = Csv.records("golden/norm_golden.csv").map(_("input")).distinct
    assert(names.nonEmpty)
    var matched = 0
    for (name <- names; v <- variants; n = v(name);
         (pattern, passes) <- Rewrite.abbrAdj.guards(n)
         if pattern.matcher(n).find()) {
      matched += 1
      assert(passes, s"guard skips rule <${pattern.pattern}> although it matches <$n>")
    }
    assert(matched > 0)
    info(s"$matched (rule, name) matches checked over ${names.size} golden names × 4 foldings")
  }

  test("abbrAdj rewrites dotted/dotless-i and long-s spellings like their ASCII forms") {
    assert(Rewrite.abbrAdj("İNCORPORATED ACME") == "inc acme")
    assert(Rewrite.abbrAdj("İNCORPORATED ACME") == Rewrite.abbrAdj("INCORPORATED ACME"))
    assert(Rewrite.abbrAdj("ACME HOLDİNG") == Rewrite.abbrAdj("ACME HOLDING"))
  }
}
