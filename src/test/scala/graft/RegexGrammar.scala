package graft

import org.scalacheck.Gen

/** A generative regex grammar over the alphabet a–h, 0–3: each pattern
  * comes with a generator of strings it matches, built by construction
  * (pick a branch per alternation, repeat quantified atoms a random
  * legal number of times). It covers the constructs the trigram
  * requirement compiler ([[graft.sources.SegmentIndex.requiredTrigrams]])
  * must see through or give up on soundly. */
object RegexGrammar {

  // a generated pattern = (regex fragment, generator of matching strings)
  case class Pat(re: String, sample: Gen[String])

  private val litChar: Gen[Char] = Gen.oneOf(('a' to 'h') ++ ('0' to '3'))

  private def litRun(maxLen: Int): Gen[Pat] =
    for {
      n <- Gen.chooseNum(1, maxLen)
      cs <- Gen.listOfN(n, litChar)
    } yield { val s = cs.mkString; Pat(s, Gen.const(s)) }

  private val dotAtom: Gen[Pat] =
    litChar.map(c => Pat(".", Gen.const(c.toString)))

  private val classAtom: Gen[Pat] = Gen.oneOf(
    Pat("[xyz]", Gen.oneOf("x", "y", "z")),
    // small range (expands to a literal family in the compiler)
    Pat("[a-c]", Gen.oneOf("a", "b", "c")),
    // wide range (stays Free)
    Pat("[a-h]", Gen.oneOf("a", "c", "e", "h")),
    // nested class union (Java semantics: {a} ∪ {b,c} ∪ {d})
    Pat("[a[bc]d]", Gen.oneOf("a", "b", "c", "d")),
    // intersection with negation: [a-h] ∩ ¬{b,c}
    Pat("[a-h&&[^bc]]", Gen.oneOf("a", "d", "e", "f", "g", "h")))

  private val escapeAtom: Gen[Pat] = Gen.oneOf(
    Pat("\\d", Gen.oneOf("0", "1", "2", "3")),
    Pat("\\w", Gen.oneOf("a", "b", "0")),
    // operand-bearing escapes: the compiler must bail (Free) rather than
    // read the operand digits as literal requirements
    Pat("\\x61", Gen.const("a")),
    Pat("\\0141", Gen.const("a")),
    Pat("\\p{Lower}", Gen.oneOf("a", "b", "c")),
    // quoted literals, bare and with a tail-binding quantifier (the
    // quantifier applies to the last quoted char only)
    Pat("\\Qa.c\\E", Gen.const("a.c")),
    Pat("\\Qab\\E?", Gen.oneOf("a", "ab")),
    Pat("\\Qab\\E{1,2}", Gen.oneOf("ab", "abb")))

  private def quantified(inner: Pat): Gen[Pat] = Gen.oneOf(
    // ? : zero or one
    Gen.oneOf(true, false).map(keep =>
      Pat(s"(?:${inner.re})?", if (keep) inner.sample else Gen.const(""))),
    // + : one to three
    Gen.chooseNum(1, 3).map(k =>
      Pat(s"(?:${inner.re})+",
        Gen.listOfN(k, inner.sample).map(_.mkString))),
    // {2,3}
    Gen.chooseNum(2, 3).map(k =>
      Pat(s"(?:${inner.re}){2,3}",
        Gen.listOfN(k, inner.sample).map(_.mkString))))

  // unique named-group names across one generated pattern (Java rejects
  // duplicate names within a pattern)
  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private def alternation(depth: Int): Gen[Pat] =
    for {
      n <- Gen.chooseNum(2, 3)
      branches <- Gen.listOfN(n, sequence(depth - 1))
      pick <- Gen.chooseNum(0, n - 1)
      // group spellings the compiler must all see through: capturing,
      // non-capturing, NAMED capturing, inline-flagged
      wrap <- Gen.oneOf("(", "(?:", "(?named>", "(?i:", "(?s:")
    } yield {
      val open =
        if (wrap == "(?named>") s"(?<g${nameCounter.incrementAndGet()}>"
        else wrap
      Pat(
        branches.map(_.re).mkString(open, "|", ")"),
        Gen.delay(branches(pick).sample))
    }

  // short-literal alternation groups: the exact-set path ((ab|cd)ef
  // requires {abef, cdef}) — members too short to carry a trigram alone
  private val shortAltGroup: Gen[Pat] =
    for {
      n <- Gen.chooseNum(2, 3)
      branches <- Gen.listOfN(n, litRun(2))
      pick <- Gen.chooseNum(0, n - 1)
      opt <- Gen.oneOf("", "?")
    } yield Pat(
      branches.map(_.re).mkString("(", "|", ")") + opt,
      if (opt == "?") Gen.oneOf(Gen.const(""), branches(pick).sample)
      else branches(pick).sample)

  // big bounded repeats of multi-member classes: the capped-enumeration
  // path (x[ab]{7}y) where the block must not bind to both neighbors
  private val bigRepeat: Gen[Pat] =
    for {
      m <- Gen.chooseNum(5, 8)
      cls <- Gen.oneOf(("[ab]", Gen.oneOf("a", "b")),
        ("[abc]", Gen.oneOf("a", "b", "c")), ("a", Gen.const("a")))
      body <- Gen.listOfN(m, cls._2)
    } yield Pat(s"${cls._1}{$m}", Gen.const(body.mkString))

  // lookaround spellings: positive lookahead plans its inner trigrams
  // (the zero-width prefix is then CONSUMED by the following atoms, so
  // samples satisfy both); negative lookahead and lookbehind stay
  // requirement-free ('z' is outside the sample alphabet, so (?!zz…)
  // and (?<!zz…) never reject a generated string)
  private val lookaroundAtom: Gen[Pat] = Gen.oneOf(
    for { p <- litRun(4); t <- litRun(3) } yield
      Pat(s"(?=${p.re})${p.re}${t.re}", Gen.const(p.re + t.re)),
    for { p <- litRun(3); c <- litChar } yield
      Pat(s"(?=${p.re}.)${p.re}$c", Gen.const(p.re + c)),
    // lookahead over an alternation of the following text's prefix
    for { p <- litRun(3); q <- litRun(3); t <- litRun(2) } yield
      Pat(s"(?=${p.re}|${q.re})${p.re}${t.re}",
        Gen.const(p.re + t.re)),
    for { t <- litRun(4) } yield Pat(s"(?!zz)${t.re}", Gen.const(t.re)),
    for { t <- litRun(4) } yield Pat(s"${t.re}(?<!zz)", Gen.const(t.re)),
    // positive lookbehind re-asserting the text just consumed
    for { p <- litRun(4); t <- litRun(3) } yield
      Pat(s"${p.re}(?<=${p.re})${t.re}", Gen.const(p.re + t.re)))

  // lookaround NESTED INSIDE an alternation branch (the r9 verdict's
  // composition case, e.g. `(a(?=b)|c)d`): the planner must treat the
  // lookahead's requirement as branch-local — AND-ing it into the OTHER
  // branch would wrongly prune strings that take that branch. Samples
  // exercise both branches; in `(p(?=t)|q)t` branch 1's lookahead is
  // satisfied by the following tail, branch 2 never sees it.
  private val nestedLookaroundAlt: Gen[Pat] = Gen.oneOf(
    for { p <- litRun(3); q <- litRun(3); t <- litRun(3);
          first <- Gen.oneOf(true, false) } yield
      Pat(s"(${p.re}(?=${t.re})|${q.re})${t.re}",
        Gen.const((if (first) p.re else q.re) + t.re)),
    // negative lookaround inside one branch (never rejects: 'z' is
    // outside the sample alphabet) — must not poison the alternation
    for { p <- litRun(3); q <- litRun(3); t <- litRun(2);
          first <- Gen.oneOf(true, false) } yield
      Pat(s"(${p.re}(?!zz)|${q.re})${t.re}",
        Gen.const((if (first) p.re else q.re) + t.re)),
    // lookbehind re-asserting its own branch's text
    for { p <- litRun(3); q <- litRun(3); t <- litRun(2);
          first <- Gen.oneOf(true, false) } yield
      Pat(s"(${p.re}(?<=${p.re})|${q.re})${t.re}",
        Gen.const((if (first) p.re else q.re) + t.re)),
    // optional group around a lookahead-carrying alternation: the whole
    // group contributes NO requirement (it can match empty)
    for { p <- litRun(3); q <- litRun(3); t <- litRun(3);
          mode <- Gen.chooseNum(0, 2) } yield
      Pat(s"((?=${p.re})${p.re}|${q.re})?${t.re}",
        Gen.const(mode match {
          case 0 => t.re         // group skipped entirely
          case 1 => q.re + t.re  // branch 2
          case _ => p.re + t.re  // branch 1, lookahead self-satisfied
        })))

  private def atom(depth: Int): Gen[Pat] =
    if (depth <= 0) Gen.oneOf(litRun(6), dotAtom, classAtom, escapeAtom)
    else Gen.frequency(
      4 -> litRun(6),
      1 -> dotAtom,
      1 -> classAtom,
      1 -> escapeAtom,
      1 -> shortAltGroup,
      1 -> bigRepeat,
      1 -> lookaroundAtom,
      1 -> nestedLookaroundAlt,
      2 -> alternation(depth),
      // quantify only UNQUANTIFIED base atoms: nesting quantifiers over
      // single-char wildcards ((?:(?:\d)+)+) makes the java.util.regex
      // sanity check itself explode with catastrophic backtracking
      1 -> Gen.lzy(
        Gen.oneOf(litRun(6), dotAtom, classAtom, escapeAtom)
          .flatMap(quantified)))

  def sequence(depth: Int): Gen[Pat] =
    for {
      n <- Gen.chooseNum(1, 4)
      parts <- Gen.listOfN(n, atom(depth))
    } yield Pat(
      parts.map(_.re).mkString,
      Gen.sequence[List[String], String](parts.map(_.sample)).map(_.mkString))
}
