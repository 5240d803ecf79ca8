package graft.rdf

/** N-Quads line parser (recursive descent).
  *
  * Accepts the grammar exercised by the W3C rdfc10 fixtures
  * (FIXTURES.md §2): IRIREF with `\uXXXX`/`\UXXXXXXXX` escapes decoded
  * at parse time, BLANK_NODE_LABEL, literals with ECHAR + UCHAR
  * escapes and optional `@lang` / `^^<dt>`, optional graph term,
  * `#` comments and blank lines. One statement per line.
  *
  * Mirrors the observable behavior of the reference's oxttl
  * `NQuadsParser` (dev-dep used by its test runner,
  * `/root/reference/src/lib.rs:116-119`); not a translation.
  *
  * Language tags are lowercased (canonical N-Quads requires lowercase
  * language tags; every fixture tag is already lowercase) in the root
  * locale, so a tag does not depend on the JVM's default locale.
  */
object NQuadsParser {

  final class ParseException(msg: String) extends RuntimeException(msg)

  /** Parse a whole document into quads (input order preserved;
    * set-semantics dedup is the caller's concern). */
  def parseDocument(text: String): Vector[Quad] = {
    val out = Vector.newBuilder[Quad]
    var lineNo = 0
    text.linesIterator.foreach { line =>
      lineNo += 1
      parseLine(line, lineNo).foreach(out += _)
    }
    out.result()
  }

  /** Parse one line; None for blank/comment lines. */
  def parseLine(line: String, lineNo: Int = 0): Option[Quad] = {
    val p = new LineParser(line, lineNo)
    p.parse()
  }

  private final class LineParser(line: String, lineNo: Int) {
    private var i = 0
    private val n = line.length

    private def fail(msg: String): Nothing =
      throw new ParseException(s"line $lineNo: $msg at offset $i in: $line")

    private def skipWs(): Unit =
      while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1

    private def atComment: Boolean = i < n && line.charAt(i) == '#'

    def parse(): Option[Quad] = {
      skipWs()
      if (i >= n || atComment) return None
      val (sk, sv) = parseSubject()
      skipWs()
      val pv = parseIriRef()
      skipWs()
      val (ok, ov, odt, olang) = parseObject()
      skipWs()
      var gk = TermKind.DefaultGraph
      var gv = ""
      if (i < n && line.charAt(i) != '.') {
        val c = line.charAt(i)
        if (c == '<') { gk = TermKind.Iri; gv = parseIriRef() }
        else if (c == '_') { gk = TermKind.BNode; gv = parseBNodeLabel() }
        else fail(s"unexpected graph term start '$c'")
        skipWs()
      }
      if (i >= n || line.charAt(i) != '.') fail("expected '.'")
      i += 1
      skipWs()
      if (i < n && !atComment) fail("trailing content after '.'")
      Some(Quad(sk, sv, pv, ok, ov, odt, olang, gk, gv))
    }

    private def parseSubject(): (Byte, String) = {
      if (i >= n) fail("empty subject")
      line.charAt(i) match {
        case '<' => (TermKind.Iri, parseIriRef())
        case '_' => (TermKind.BNode, parseBNodeLabel())
        case c   => fail(s"unexpected subject start '$c'")
      }
    }

    private def parseObject(): (Byte, String, String, String) = {
      if (i >= n) fail("empty object")
      line.charAt(i) match {
        case '<' => (TermKind.Iri, parseIriRef(), "", "")
        case '_' => (TermKind.BNode, parseBNodeLabel(), "", "")
        case '"' =>
          val lex = parseLexical()
          if (i < n && line.charAt(i) == '@') {
            i += 1
            val start = i
            while (i < n && (line.charAt(i).isLetterOrDigit || line.charAt(i) == '-')) i += 1
            if (i == start) fail("empty language tag")
            (TermKind.Literal, lex, "", line.substring(start, i).toLowerCase(java.util.Locale.ROOT))
          } else if (i + 1 < n && line.charAt(i) == '^' && line.charAt(i + 1) == '^') {
            i += 2
            val dt = parseIriRef()
            // normalize: explicit xsd:string == plain literal
            (TermKind.Literal, lex, if (dt == Quad.XsdString) "" else dt, "")
          } else (TermKind.Literal, lex, "", "")
        case c => fail(s"unexpected object start '$c'")
      }
    }

    private def parseIriRef(): String = {
      if (i >= n || line.charAt(i) != '<') fail("expected '<'")
      i += 1
      val sb = new StringBuilder(32)
      while (i < n && line.charAt(i) != '>') {
        val c = line.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= n) fail("dangling escape in IRI")
          line.charAt(i) match {
            case 'u' => appendCodePoint(sb, readHex(4))
            case 'U' => appendCodePoint(sb, readHex(8))
            case e   => fail(s"invalid IRI escape '\\$e'")
          }
        } else { sb.append(c); i += 1 }
      }
      if (i >= n) fail("unterminated IRI")
      i += 1
      sb.toString
    }

    private def parseBNodeLabel(): String = {
      if (i + 1 >= n || line.charAt(i) != '_' || line.charAt(i + 1) != ':')
        fail("expected '_:'")
      i += 2
      val start = i
      // permissive PN_CHARS: run to whitespace/EOL. Per the N-Quads
      // grammar a label may contain '.' only medially, so trailing
      // dots are NOT part of the label — they stay in the stream for
      // the statement terminator ("_:b." is a valid statement end
      // without a separating space).
      while (i < n && !isWs(line.charAt(i))) i += 1
      var end = i
      while (end > start && line.charAt(end - 1) == '.') end -= 1
      if (end == start) fail("empty blank node label")
      i = end
      line.substring(start, end)
    }

    private def isWs(c: Char): Boolean = c == ' ' || c == '\t'

    private def parseLexical(): String = {
      if (i >= n || line.charAt(i) != '"') fail("expected '\"'")
      i += 1
      val sb = new StringBuilder(32)
      while (i < n && line.charAt(i) != '"') {
        val c = line.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= n) fail("dangling escape in literal")
          line.charAt(i) match {
            case 't'  => sb.append('\t'); i += 1
            case 'b'  => sb.append('\b'); i += 1
            case 'n'  => sb.append('\n'); i += 1
            case 'r'  => sb.append('\r'); i += 1
            case 'f'  => sb.append('\f'); i += 1
            case '"'  => sb.append('"'); i += 1
            case '\'' => sb.append('\''); i += 1
            case '\\' => sb.append('\\'); i += 1
            case 'u'  => appendCodePoint(sb, readHex(4))
            case 'U'  => appendCodePoint(sb, readHex(8))
            case e    => fail(s"invalid literal escape '\\$e'")
          }
        } else { sb.append(c); i += 1 }
      }
      if (i >= n) fail("unterminated literal")
      i += 1
      sb.toString
    }

    /** \\U escapes can encode values outside Unicode (e.g.
      * \\U00110000); Character.toChars would throw
      * IllegalArgumentException, which is not a parse error callers
      * can catch — validate first. */
    private def appendCodePoint(sb: StringBuilder, cp: Int): Unit = {
      if (!Character.isValidCodePoint(cp)) fail(f"invalid code point U+$cp%X in escape")
      sb.appendAll(Character.toChars(cp))
    }

    /** Reads `\uXXXX`/`\UXXXXXXXX` digits; caller consumed `\u`/`\U`.
      * On entry `i` points at the u/U marker. */
    private def readHex(digits: Int): Int = {
      i += 1 // past 'u'/'U'
      if (i + digits > n) fail("truncated \\u escape")
      var v = 0
      var k = 0
      while (k < digits) {
        val c = line.charAt(i + k)
        val d = Character.digit(c, 16)
        if (d < 0) fail(s"bad hex digit '$c'")
        v = (v << 4) | d
        k += 1
      }
      i += digits
      v
    }
  }
}
