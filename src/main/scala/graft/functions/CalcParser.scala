package graft.functions

/** Compiler for the reference's `calculation` strings — arithmetic over form
  * columns, e.g. `results./bmi_weight / ((results./bmi_height/100) *
  * (results./bmi_height/100))` or `(Variable.to_date(end) -
  * Variable.to_date(pt./visit_date)) / 86400`.
  *
  * The reference substitutes declared column names textually and hands the
  * result to Python `eval` (variable.py:87-97,107-119). We substitute the
  * declared columns (longest first, same textual semantics), then parse the
  * arithmetic with a small recursive-descent parser into an [[Ast]], which
  * [[CatalogProgram]] compiles to postfix: no UDF, no runtime eval.
  */
object CalcParser {

  sealed trait Ast
  final case class Num(v: Double) extends Ast
  final case class Ref(idx: Int) extends Ast
  final case class Bin(op: Char, l: Ast, r: Ast) extends Ast
  final case class Neg(e: Ast) extends Ast
  final case class ToDate(e: Ast) extends Ast
  /** python builtins seen in real catalogs: abs(), int() (truncate-to-zero) */
  final case class Fn(name: String, e: Ast) extends Ast
  /** comparison yielding 1.0/0.0 (python bools are numbers under eval) */
  final case class Cmp(op: String, l: Ast, r: Ast) extends Ast

  private val Placeholder = '\u0001'

  /** Substitute each declared column (longest first — matches the reference's
    * plain str.replace semantics incl. its substring-collision behavior on
    * *undeclared* text, which we avoid by substituting declared names only). */
  def substitute(calculation: String, columns: Seq[String]): (String, Seq[String]) = {
    val ordered = columns.distinct.sortBy(-_.length)
    var s = calculation
    ordered.zipWithIndex.foreach { case (c, i) =>
      s = s.replace(c, s"$Placeholder$i$Placeholder")
    }
    (s, ordered)
  }

  def parse(input: String): Ast = new Parser(input).parseAll()

  private final class Parser(s: String) {
    private var pos = 0
    private def peek: Char = if (pos < s.length) s.charAt(pos) else '\u0000'
    private def skipWs(): Unit = while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1

    def parseAll(): Ast = {
      val e = cmp()
      skipWs()
      require(pos == s.length, s"trailing input at $pos in calculation: $s")
      e
    }

    // cmp := expr (('<='|'<'|'>='|'>'|'=='|'!=') expr)?
    private def cmp(): Ast = {
      val l = expr()
      skipWs()
      val two = if (pos + 1 < s.length) s.substring(pos, pos + 2) else ""
      val op =
        if (Seq("<=", ">=", "==", "!=").contains(two)) { pos += 2; two }
        else if (peek == '<' || peek == '>') { val c = peek.toString; pos += 1; c }
        else ""
      if (op.isEmpty) l else Cmp(op, l, expr())
    }

    // expr := term (('+'|'-') term)*
    private def expr(): Ast = {
      var l = term()
      skipWs()
      while (peek == '+' || peek == '-') {
        val op = peek; pos += 1
        l = Bin(op, l, term()); skipWs()
      }
      l
    }

    // term := factor (('*'|'/') factor)*  — '**' (python pow) handled in factor
    private def term(): Ast = {
      var l = factor()
      skipWs()
      while ((peek == '*' && !(pos + 1 < s.length && s.charAt(pos + 1) == '*')) ||
             peek == '/') {
        val op = peek; pos += 1
        l = Bin(op, l, factor()); skipWs()
      }
      l
    }

    // factor := ('-'|'+') factor | atom ('**' factor)?   (right-assoc pow,
    // python precedence: ** binds tighter than unary minus on the left)
    private def factor(): Ast = {
      skipWs()
      peek match {
        case '-' => pos += 1; Neg(factor())
        case '+' => pos += 1; factor()
        case _ =>
          val base = atom()
          skipWs()
          if (peek == '*' && pos + 1 < s.length && s.charAt(pos + 1) == '*') {
            pos += 2
            Bin('^', base, factor())
          } else base
      }
    }

    private def atom(): Ast = {
      skipWs()
      peek match {
        case '-' => pos += 1; Neg(factor())
        case '+' => pos += 1; factor()
        case '(' =>
          pos += 1
          val e = expr(); skipWs()
          require(peek == ')', s"expected ) at $pos in: $s"); pos += 1
          e
        case Placeholder =>
          pos += 1
          val start = pos
          while (peek != Placeholder) pos += 1
          val idx = s.substring(start, pos).toInt
          pos += 1
          Ref(idx)
        case c if c.isDigit || c == '.' =>
          val start = pos
          while (peek.isDigit || peek == '.' || peek == 'e' || peek == 'E' ||
                 ((peek == '+' || peek == '-') && pos > start &&
                   (s.charAt(pos - 1) == 'e' || s.charAt(pos - 1) == 'E'))) pos += 1
          Num(s.substring(start, pos).toDouble)
        case c if c.isLetter =>
          val start = pos
          while (peek.isLetter || peek == '.' || peek == '_') pos += 1
          val name = s.substring(start, pos)
          require(Seq("Variable.to_date", "abs", "int").contains(name),
            s"unknown function or unsubstituted column '$name' in: $s")
          skipWs()
          require(peek == '(', s"expected ( after $name in: $s"); pos += 1
          val e = cmp(); skipWs()
          require(peek == ')', s"expected ) at $pos in: $s"); pos += 1
          if (name == "Variable.to_date") ToDate(e) else Fn(name, e)
        case other =>
          throw new IllegalArgumentException(s"unexpected '$other' at $pos in: $s")
      }
    }
  }
}
