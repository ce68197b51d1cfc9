package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SegmentIndex
import graft.sources.SegmentIndex.TriReq

/** Property test for the regex → trigram-requirement compiler: on random
  * regexes from a generative grammar, any string that MATCHES the regex
  * must SATISFY the requirement tree (literal containment / AND / OR).
  * That implication is exactly what makes manifest pruning sound — a
  * segment lacking a required trigram can be skipped only if no matching
  * string can avoid containing the literal.
  *
  * Matching strings are produced alongside each regex by construction
  * ([[RegexGrammar]]), then double-checked with java.util.regex.
  */
class TrigramPropertySpec extends AnyFunSuite {

  import RegexGrammar.sequence

  /** Does `s` satisfy the requirement tree? */
  private def satisfies(s: String, r: TriReq): Boolean = r match {
    case TriReq.Free => true
    case TriReq.Lit(l) => l.length < 3 || s.contains(l)
    case TriReq.All(xs) => xs.forall(satisfies(s, _))
    case TriReq.AnyOf(xs) => xs.exists(satisfies(s, _))
  }

  test("matching strings always satisfy the trigram requirement tree") {
    val gen = for {
      p <- sequence(3)
      s <- p.sample
    } yield (p.re, s)
    var checked = 0
    for (i <- 0 until 500) {
      val (re, s) = gen(Gen.Parameters.default, Seed(i.toLong)).get
      // sanity: the constructed sample really matches
      assert(s.matches(re), s"generator bug: '$s' !~ /$re/ (seed $i)")
      val req = SegmentIndex.requiredTrigrams(re)
      assert(satisfies(s, req),
        s"soundness violation: '$s' matches /$re/ but fails $req (seed $i)")
      checked += 1
    }
    assert(checked == 500)
  }

  test("requirement is not vacuous on plain literals") {
    // guard against the trivial 'always Free' implementation
    assert(SegmentIndex.requiredTrigrams("abcdef") == TriReq.Lit("abcdef"))
    assert(SegmentIndex.requiredTrigrams("abc(def|ghi)") != TriReq.Free)
  }

  test("literal families: classes and optionals strengthen, not break, the run") {
    import TriReq._
    // gr[ae]y: the class merges into the run as an alternative family
    assert(SegmentIndex.requiredTrigrams("gr[ae]y") ==
      AnyOf(Seq(Lit("gray"), Lit("grey"))))
    // colou?r: optional char becomes the classic two-spelling requirement
    assert(SegmentIndex.requiredTrigrams("colou?r") ==
      AnyOf(Seq(Lit("color"), Lit("colour"))))
    // \Q…\E quotes metachars into a literal requirement
    assert(SegmentIndex.requiredTrigrams("\\Qa.b+c\\E") == Lit("a.b+c"))
    // a quantifier after \E binds to the LAST quoted char only (Java:
    // xx\Qab\E?yy matches "xxayy") — the requirement must not demand
    // the whole quoted run
    assert(satisfies("xxayy", SegmentIndex.requiredTrigrams("xx\\Qab\\E?yy")))
    assert(SegmentIndex.requiredTrigrams("xx\\Qab\\E?yy") match {
      case AnyOf(xs) => xs.toSet == Set(Lit("xxayy"), Lit("xxabyy"))
      case _ => false
    })
    // \Qab\E{2} matches "abb", never "abab"
    assert(satisfies("abb", SegmentIndex.requiredTrigrams("\\Qab\\E{2}")))
    assert(satisfies("xaz", SegmentIndex.requiredTrigrams("x\\Qab\\E*z")))
    // class repetition stays bounded and exact: [ab]{2} → 4 alternatives
    assert(SegmentIndex.requiredTrigrams("x[ab]{2}y") match {
      case AnyOf(xs) => xs.toSet == Set(
        Lit("xaay"), Lit("xaby"), Lit("xbay"), Lit("xbby"))
      case _ => false
    })
    // small ranges expand ([a-c] ≤ 4 chars); wide/open ranges stay Free
    assert(SegmentIndex.requiredTrigrams("er[a-c]or") match {
      case AnyOf(xs) =>
        xs.toSet == Set(Lit("eraor"), Lit("erbor"), Lit("ercor"))
      case _ => false
    })
    assert(SegmentIndex.requiredTrigrams("x[a-z]y") == Free)
    // one short/empty alternative makes the family vacuous, never wrong:
    // (ab)?cd requires nothing (cd alone is < 3 chars)
    assert(SegmentIndex.requiredTrigrams("[xy]") == Free)
    // soundness spot checks against real matches
    for ((re, s) <- Seq(
        ("gr[ae]y", "grey"), ("colou?r", "color"), ("x[ab]{2}y", "xbay"),
        (".*\\Qa.b+c\\E.*", "za.b+cz"), ("err[0-9]or", "err5or"),
        ("\\Qhttp://\\E[a-z]+\\Q.com\\E", "http://site.com")))
      assert(s.matches(re) &&
        satisfies(s, SegmentIndex.requiredTrigrams(re)), s"$re vs $s")
  }

  test("named / flagged / atomic groups are seen through; lookaround " +
    "and x-flag groups stay Free") {
    import TriReq._
    // named capture participates in the exact-set product like (?:
    assert(SegmentIndex.requiredTrigrams("(?<amt>foo|bar)baz") ==
      AnyOf(Seq(Lit("foobaz"), Lit("barbaz"))))
    // inline flags with a body parse the body ('i' is safe: both index
    // and probe lowercase their trigrams)
    assert(SegmentIndex.requiredTrigrams("(?i:foo)bar") == Lit("foobar"))
    assert(SegmentIndex.requiredTrigrams("(?s:foo.bar)qux") ==
      All(Seq(Lit("foo"), Lit("bar"), Lit("qux"))))
    // atomic group: language ⊆ body's, body requirement is sound
    assert(SegmentIndex.requiredTrigrams("(?>foo)bar") == Lit("foobar"))
    // x-flag changes tokenization: whitespace/comments must NOT become
    // literal requirements
    assert(SegmentIndex.requiredTrigrams("(?x:f o o)bar") == Lit("bar"))
    assert(satisfies("foobar", SegmentIndex.requiredTrigrams("(?x:f o o)bar")))
    // NEGATIVE lookaround remains a requirement-free zone
    assert(SegmentIndex.requiredTrigrams("(?!foo)bar") == Lit("bar"))
    assert(SegmentIndex.requiredTrigrams("(?<!foo)bar") == Lit("bar"))
    // positive lookbehind: the inner match ended here, so it's in the
    // document — its trigrams are required (short inner → no trigram)
    assert(SegmentIndex.requiredTrigrams("(?<=foo)bar") ==
      All(Seq(Lit("foo"), Lit("bar"))))
    assert(satisfies("xbar", SegmentIndex.requiredTrigrams("(?<=x)bar")))
    // POSITIVE lookahead: the inner pattern is a required match whose
    // trigrams prune; zero-width, so it never joins a literal run
    assert(SegmentIndex.requiredTrigrams("(?=foo)bar") ==
      All(Seq(Lit("foo"), Lit("bar"))))
    assert(SegmentIndex.requiredTrigrams("(?=\\d+px)qux") == Lit("qux"))
    // quantified lookahead: optional → no requirement from it
    assert(SegmentIndex.requiredTrigrams("(?:(?=foo))?bar") == Lit("bar"))
    // inexact inner alternation still contributes its AnyOf
    assert(SegmentIndex.requiredTrigrams("(?=foo|buzz)barn") ==
      All(Seq(AnyOf(Seq(Lit("foo"), Lit("buzz"))), Lit("barn"))))
  }

  test("inline flags that change what a literal matches (x, u, U) " +
    "impose no requirement the match lacks") {
    for ((re, s) <- Seq(
        ("(?x)f o o", "foo"), ("(?x)f o o", "xfooy"),
        ("(?iu)ſtop", "stop"), ("(?iu:ſtop)", "stop"), ("(?iU)ſtop", "STOP"),
        ("(?i)(?u)ſtop", "stop"), ("ab(?u)(?i)ſtop", "abstop"))) {
      assert(java.util.regex.Pattern.compile(re).matcher(s).find(),
        s"$re should find in $s")
      assert(satisfies(s, SegmentIndex.requiredTrigrams(re)),
        s"$re vs $s: ${SegmentIndex.requiredTrigrams(re)}")
    }
    // flags that leave literal text alone keep planning
    assert(SegmentIndex.requiredTrigrams("(?i)foobar") == TriReq.Lit("foobar"))
    assert(SegmentIndex.requiredTrigrams("(?-x)foobar") == TriReq.Lit("foobar"))
    assert(SegmentIndex.requiredTrigrams("(?iu:ſtop)bar") == TriReq.Lit("bar"))
  }

  test("exact-set product: nested groups of sub-trigram literals compose " +
    "into prunable requirements") {
    import TriReq._
    assert(SegmentIndex.requiredTrigrams("ab(cd|ef)gh") ==
      AnyOf(Seq(Lit("abcdgh"), Lit("abefgh"))))
    // two-level nesting
    assert(SegmentIndex.requiredTrigrams("((a|b)(x|y))cd") match {
      case AnyOf(xs) => xs.toSet == Set(
        Lit("axcd"), Lit("aycd"), Lit("bxcd"), Lit("bycd"))
      case _ => false
    })
    // optional group factorization: (ab)?cdef keeps cdef required and
    // the dominated longer spelling is dropped
    assert(SegmentIndex.requiredTrigrams("(ab)?cdef") == Lit("cdef"))
    // an inexact branch poisons only the exactness, not the requirement
    assert(SegmentIndex.requiredTrigrams("(abc|d+)efg") ==
      Lit("efg"))
    for ((re, s) <- Seq(
        ("ab(cd|ef)gh", "xxabefghyy"), ("((a|b)(x|y))cd", "bycd"),
        ("(ab)?cdef", "cdef"), ("(abc|d+)efg", "ddddefg"),
        ("err(or|ors)? ", "err "))) {
      assert(java.util.regex.Pattern.compile(re).matcher(s).find(),
        s"$re should find in $s")
      assert(satisfies(s, SegmentIndex.requiredTrigrams(re)), s"$re vs $s")
    }
  }

  test("a capped repeat of a multi-member family must not bind to BOTH " +
    "neighbors (regression: x[ab]{7}y vs xabababby)") {
    // [ab]{7} caps at 4 enumerated copies; the enumerated block matches
    // the FIRST copies of the real text, so it may merge with the
    // preceding run but must break before the following one — merging
    // both sides demands a contiguous block adjacent to r AND q that a
    // 7-copy match need not contain
    val s = "xabababby"
    assert(s.matches("x[ab]{7}y"))
    assert(satisfies(s, SegmentIndex.requiredTrigrams("x[ab]{7}y")),
      s"requirement ${SegmentIndex.requiredTrigrams("x[ab]{7}y")}")
    // single-member repeats stay fully merged (suffix-aligned, sound)
    assert(satisfies("xaaaaaaay", SegmentIndex.requiredTrigrams("xa{7}y")))
  }

  test("operand-bearing escapes and nested classes never yield false requirements") {
    def sat(s: String, req: TriReq): Boolean = satisfies(s, req)
    // \x41 = 'A': the operand digits must NOT become required literals
    assert(sat("Aabc", SegmentIndex.requiredTrigrams("\\x41abc")))
    // \cJ = LF; \0101 = 'A'; \p{L} = any letter; \Q..\E literal quote
    assert(sat("xAy", SegmentIndex.requiredTrigrams("x\\0101y")))
    assert(sat("qz", SegmentIndex.requiredTrigrams("\\p{Lu}qz")))
    assert(sat("a.c", SegmentIndex.requiredTrigrams("\\Qa.c\\E")))
    // nested class union [a[b]c] matches 'b' — the tail must not be
    // parsed as literal text
    assert(sat("xbyz", SegmentIndex.requiredTrigrams("x[a[b]c]yz")))
    assert(sat("xayz", SegmentIndex.requiredTrigrams("x[a-z&&[^bc]]yz")))
  }
}
