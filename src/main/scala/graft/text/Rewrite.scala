package graft.text

import java.util.Locale
import java.util.regex.{Matcher, Pattern}

/** Ordered regex rewrite engine with the exact semantics of the
  * reference's `_abbr_adj` (/root/reference/utils/_abbr.py:5-28):
  *
  *  - rules applied strictly in list order;
  *  - a pattern containing `"(?"` is used as-is with a trailing
  *    `(?!\w)`; any other pattern is wrapped `(?<!\w)…(?!\w)`;
  *  - matching is case-insensitive and Unicode-aware (Python `re`
  *    defaults → Java `CASE_INSENSITIVE | UNICODE_CASE |
  *    UNICODE_CHARACTER_CLASS`);
  *  - the replacement is a space plus the target, then one
  *    left-to-right pass collapsing `"  "` → `" "` and a strip;
  *  - a non-blank target is de-doubled once per rule
  *    (`\btarget\s+target\b` → target, case-SENSITIVE, _abbr.py:24-27);
  *  - final collapse + strip + lowercase (_abbr.py:28).
  *
  * Performance (round 7, guide §1.2 "per-task work"): running ~250
  * matchers per name made the normalize stage ~4.8 ms/name. Each rule
  * now carries a REQUIRED LITERAL — a substring that must occur
  * (case-insensitively) in the name for the pattern to possibly match,
  * extracted conservatively from the pattern source (rules where no
  * sound literal exists keep a null guard and always run). A guarded
  * miss skips the matcher allocation and regex scan entirely; the
  * rule's residual effects (the once-per-rule `"  "`→`" "` collapse
  * and strip, and the case-sensitive target de-double, which can fire
  * on text produced by EARLIER rules even when this rule's pattern
  * does not match) are preserved verbatim on the skip path. The
  * de-double matcher is additionally guarded by a cheap
  * `name.contains(target)` (necessary condition, case-sensitive like
  * the pattern). Golden parity: the 1180-name normalization fixture
  * suite pins the output bit-for-bit.
  */
final class Rewrite(rules: Seq[(String, String)]) extends Serializable {

  private val FLAGS =
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS

  private final case class Compiled(
      pattern: Pattern,
      replacement: String, // " " + target, already quoted for appendReplacement
      requiredLit: String, // folded literal that must occur, or null
      collapse: Pattern,   // null when target is blank
      collapseRepl: String,
      collapseLit: String) // raw target (case-sensitive guard), or null

  @transient private lazy val compiled: Array[Compiled] = rules.map { case (pat, target) =>
    val p =
      if (pat.contains("(?")) Pattern.compile(pat + """(?!\w)""", FLAGS)
      else Pattern.compile("""(?<!\w)""" + pat + """(?!\w)""", FLAGS)
    val collapse =
      if (target.strip().nonEmpty)
        Pattern.compile("""\b""" + target + """\s+""" + target + """\b""")
      else null
    Compiled(p, Matcher.quoteReplacement(" " + target),
      Rewrite.requiredLiteral(pat), collapse,
      if (collapse != null) Matcher.quoteReplacement(target) else null,
      if (collapse != null) target else null)
  }.toArray

  def apply(name0: String): String = {
    var name = name0
    // case-folded shadow for the case-insensitive literal guards,
    // recomputed only when a fired rule actually changed the string
    var ln = Rewrite.fold(name)
    var i = 0
    while (i < compiled.length) {
      val r = compiled(i)
      val prev = name
      if (r.requiredLit == null || ln.contains(r.requiredLit)) {
        name = r.pattern.matcher(name).replaceAll(r.replacement)
          .replace("  ", " ").strip()
      } else {
        // pattern cannot match: replaceAll is the identity, but the
        // reference still collapses one "  " pass and strips per rule
        name = name.replace("  ", " ").strip()
      }
      if (r.collapse != null && name.contains(r.collapseLit))
        name = r.collapse.matcher(name).replaceAll(r.collapseRepl)
      if (name ne prev) ln = Rewrite.fold(name)
      i += 1
    }
    name.replace("  ", " ").strip().toLowerCase(Locale.ROOT)
  }

  /** Per rule: its compiled pattern and whether its literal guard lets
    * `name` through — the guard-soundness probe of RewriteGuardSpec. */
  private[text] def guards(name: String): Seq[(Pattern, Boolean)] = {
    val ln = Rewrite.fold(name)
    compiled.toSeq.map(r => (r.pattern, r.requiredLit == null || ln.contains(r.requiredLit)))
  }
}

object Rewrite {
  /** The case folding `java.util.regex` applies to each char under
    * CASE_INSENSITIVE | UNICODE_CASE: toLowerCase(toUpperCase(c)).
    * Length-preserving, unlike `String.toLowerCase` (full case mapping
    * turns 'İ' into "i̇", two chars), and it maps 'İ', 'ı' → 'i',
    * 'ſ' → 's', 'K' (Kelvin) → 'k' as the regex does — so a guard
    * literal is found in the folded name whenever the pattern matches. */
  private[text] def fold(s: String): String = {
    val cs = s.toCharArray
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      cs(i) =
        if (c < 0x80) { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
        else Character.toLowerCase(Character.toUpperCase(c))
      i += 1
    }
    new String(cs)
  }

  /** abbr_adj = hardcode + abbr1 + abbr2 (_abbr.py:333). */
  lazy val abbrAdj: Rewrite =
    new Rewrite(AbbrTables.hardcode ++ AbbrTables.abbr)

  /** Conservative required-literal extraction from a regex source:
    * the longest run of plain literal characters (letters, digits,
    * space, '&', ',', and escaped '.'/'-') that the pattern demands
    * verbatim. Returns null (no guard) whenever the pattern contains
    * constructs that could make a run optional or alternated ('|',
    * '[', braces) or when the best run is shorter than 2 chars. A char
    * immediately followed by a quantifier ('?', '*', '{') is dropped
    * from its run (it may repeat zero times); '+' keeps the char (one
    * occurrence is required) but ends the run. Folded ([[fold]]) to
    * match the CASE_INSENSITIVE semantics (guard checks a folded name). */
  private[text] def requiredLiteral(pat: String): String = {
    if (pat.contains("|") || pat.contains("[") || pat.contains("{")) return null
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    def endRun(): Unit = { if (cur.nonEmpty) runs += cur.toString; cur.clear() }
    var i = 0
    var depth = 0 // inside (…) groups: lookarounds etc. are not required text
    while (i < pat.length) {
      val c = pat.charAt(i)
      def nextIs(chs: String): Boolean =
        i + 1 < pat.length && chs.indexOf(pat.charAt(i + 1)) >= 0
      c match {
        case '\\' if i + 1 < pat.length =>
          val e = pat.charAt(i + 1)
          if ((e == '.' || e == '-') && !(i + 2 < pat.length &&
              "?*+{".indexOf(pat.charAt(i + 2)) >= 0)) {
            if (depth == 0) cur += e
            i += 1
          } else { // \w, \s, quantified escapes, … — a break, not a literal
            endRun(); i += 1
          }
        case '(' => depth += 1; endRun()
        case ')' => depth = math.max(0, depth - 1); endRun()
        case '^' | '$' | '.' | '*' | '+' | '?' => endRun()
        case lit if lit.isLetterOrDigit || lit == ' ' || lit == '&' || lit == ',' =>
          if (nextIs("?*{")) endRun() // optional char: not required
          else if (depth == 0) {
            cur += lit
            if (nextIs("+")) endRun() // required once, but run ends here
          }
        case _ => endRun()
      }
      i += 1
    }
    endRun()
    val best = runs.sortBy(-_.length).headOption.getOrElse("")
    if (best.length >= 2) fold(best) else null
  }
}
