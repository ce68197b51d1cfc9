package graft.ast

/** Arithmetic formula parser: `"(a - b) * (a + b)"`, `"a / 100"`.
  *
  * Same grammar as the reference's ANTLR ArithmeticParser
  * (reference core/src/main/antlr/ArithmeticParser.g4:33-66 walked by
  * FormulaListener.scala:26-133): identifiers resolve to base-expression
  * ids, numbers to constants; `* /` bind tighter than `+ -`; parens group.
  * Hand-rolled precedence-climbing — no parser-generator dependency.
  */
object FormulaParser {

  /** Deepest paren nesting a formula may have. The parser recurses once
    * per level, so an unbounded depth ends in a StackOverflowError — an
    * Error, which the HTTP shell's 400 path never sees. */
  val MaxDepth = 256

  def parse(formula: String, baseExprs: Map[String, BaseExpr]): AstNode = {
    val p = new Parser(tokenize(formula), baseExprs)
    val ast = p.parseExpr(0)
    p.expectEnd()
    ast
  }

  private sealed trait Tok
  private case class Id(name: String) extends Tok
  private case class Num(value: Double) extends Tok
  private case class Op(op: Char) extends Tok
  private case object LParen extends Tok
  private case object RParen extends Tok

  private def tokenize(s: String): List[Tok] = {
    val toks = List.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case ' ' | '\t' | '\n' | '\r' => i += 1
        case '(' => toks += LParen; i += 1
        case ')' => toks += RParen; i += 1
        case '+' | '-' | '*' | '/' => toks += Op(c); i += 1
        case d if d.isDigit =>
          // NUMBER with optional exponent — the reference grammar's
          // SCIENTIFIC_NUMBER: NUMBER (E SIGN? UNSIGNED_INTEGER)?
          // (reference ArithmeticParser.g4:84-86), so "1e3"/"2E-4" are
          // valid constants and must not lex as Num + Id
          val start = i
          while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
          if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
            val mark = i
            var j = i + 1
            if (j < s.length && (s.charAt(j) == '+' || s.charAt(j) == '-')) j += 1
            if (j < s.length && s.charAt(j).isDigit) {
              while (j < s.length && s.charAt(j).isDigit) j += 1
              i = j
            } else i = mark // bare trailing 'e' is an identifier start
          }
          val text = s.substring(start, i)
          val num = try text.toDouble catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"malformed number '$text' in formula: $s")
          }
          toks += Num(num)
        case a if a.isLetter || a == '_' =>
          val start = i
          while (i < s.length &&
            (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
          toks += Id(s.substring(start, i))
        case other =>
          throw new IllegalArgumentException(s"unexpected char '$other' in formula: $s")
      }
    }
    toks.result()
  }

  private val opNames = Map('+' -> "add", '-' -> "sub", '*' -> "mul", '/' -> "div")
  private def prec(c: Char): Int = c match {
    case '+' | '-' => 1
    case '*' | '/' => 2
  }

  private class Parser(var toks: List[Tok], baseExprs: Map[String, BaseExpr]) {
    private var depth = 0

    def parseExpr(minPrec: Int): AstNode = {
      var lhs = parseAtom()
      var done = false
      while (!done) {
        toks match {
          case Op(c) :: rest if prec(c) >= minPrec =>
            toks = rest
            val rhs = parseExpr(prec(c) + 1)
            lhs = Formula(lhs, rhs, opNames(c))
          case _ => done = true
        }
      }
      lhs
    }

    private def parseAtom(): AstNode = toks match {
      case LParen :: rest =>
        toks = rest
        depth += 1
        if (depth > MaxDepth) throw new IllegalArgumentException(
          s"formula nests parentheses deeper than $MaxDepth")
        val inner = parseExpr(0)
        depth -= 1
        toks match {
          case RParen :: r2 => toks = r2; inner
          case _ => throw new IllegalArgumentException("unbalanced parentheses in formula")
        }
      case Num(v) :: rest => toks = rest; ConstantExpr(v)
      case Id(name) :: rest =>
        toks = rest
        baseExprs.getOrElse(name,
          throw new IllegalArgumentException(s"unknown base expression id '$name' in formula"))
      case other =>
        throw new IllegalArgumentException(s"unexpected token $other in formula")
    }

    def expectEnd(): Unit =
      if (toks.nonEmpty)
        throw new IllegalArgumentException(s"trailing tokens in formula: $toks")
  }
}
