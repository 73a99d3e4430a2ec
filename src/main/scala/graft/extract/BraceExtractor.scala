package graft.extract

import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** Shared brace-depth extractor core for the C-family languages the
  * reference supports (Java, Kotlin, C#, Rust — parsing/processor.rs:183-196
  * lists the full language set). Per-language regex tables; scope nesting by
  * brace depth, like [[TypeScriptExtractor]].
  *
  * For the JVM languages (Java/Kotlin) the extractor additionally emits
  * [[RawTypeFact]] rows — package declarations, variable/field/param types,
  * supertype lists, return types — which feed the type-directed resolver
  * ([[graft.analyze.TypedResolver]]), the DataFrame counterpart of the
  * reference's expression resolvers (kotlin/expression_resolver.rs:103-1757,
  * java/expression_resolver.rs).
  */
abstract class BraceExtractor extends Extractor {

  /** (regex, kind) for container definitions that open a named scope. */
  protected def containerRes: Seq[(Regex, String)]
  /** (regex, kind) for callable definitions. */
  protected def callableRes: Seq[(Regex, String)]
  /** import/include statements → (importType, importPath, name, alias). */
  protected def parseImport(line: String): Option[(String, String, String, String)]
  protected def keywords: Set[String]
  protected def lineComment: String = "//"

  // ---- JVM-language hooks (default off) --------------------------------
  /** `package a.b.c` declaration → package name. */
  protected def packageRe: Option[Regex] = None
  /** Prefix every definition FQN with the file's package (reference FQN
    * convention for Java/Kotlin: com.example.foo.Foo.foo).
    */
  protected def qualifyWithPackage: Boolean = false
  /** Emit [[RawTypeFact]] rows for the typed resolver. */
  protected def emitTypeFacts: Boolean = false
  /** Unnamed scope-opening container (Kotlin `companion object {`). */
  protected def anonymousContainer(line: String): Option[String] = None
  /** Parse the supertype names out of a container header line, given the
    * offset just past the container name.
    */
  protected def superTypes(line: String, afterName: Int): Seq[String] = Nil
  /** Declared/inferred (varName, typeExpr) from a local/field declaration. */
  protected def varDecl(line: String): Option[(String, String)] = None
  /** (paramName, typeExpr) pairs from a callable header line. */
  protected def paramFacts(line: String): Seq[(String, String)] = Nil
  /** Return type expression from a callable header line ("A|B" = candidate
    * set to be unified by least-upper-bound at resolution).
    */
  protected def returnType(line: String): Option[String] = None
  /** Var name whose initializer opens a multi-line inferable block
    * (Kotlin `val x = when (...) {` / `= try {`): constructor names seen
    * until the block closes become the var's candidate type set.
    */
  protected def inferenceStart(line: String): Option[String] = None
  /** Kotlin extension-property header `val Recv.prop` / `val Recv.prop: T`
    * → (recvType, prop, declared type if any).
    */
  protected def extensionPropertyHeader(
      line: String): Option[(String, String, Option[String])] = None
  /** `@Name` annotation-line names (attached to the next definition when
    * the language emits type facts; always excluded from the call-ref scan
    * — `#[derive(Debug)]` / `@Suppress("x")` argument lists are not call
    * sites to a real parser).
    */
  protected def annotationNames(line: String): Seq[String] = Nil
  /** Extra language-specific call-site shapes the shared regex set misses
    * (single capture group = callee name). Rust turbofish:
    * `collect::<Vec<_>>()`.
    */
  protected def extraCallRes: Seq[Regex] = Nil
  /** Kotlin operator desugaring: `(a + b)` → plus-call on `a`. */
  protected def emitBinaryOperators: Boolean = false
  /** Language-specific callable-kind refinement given the enclosing
    * container name (C#: a Method named like its class is a Constructor).
    */
  protected def refineCallableKind(name: String, enclosing: Option[String],
      kind: String): String = kind
  /** Multi-line string delimiter whose contents are blanked before scanning
    * (Scala/Kotlin triple quotes) — a tree-sitter parser never sees string
    * bodies as code; neither should the heuristic.
    */
  protected def multilineStringDelim: Option[String] = None
  /** String-interpolation hole config (Scala `s"…${…}…"`, Kotlin
    * templates) — holes are code to a real parser, so calls inside them
    * are real call sites; see [[NoiseBlanker.Holes]].
    */
  protected def interpolationHoles: Option[NoiseBlanker.Holes] = None
  /** Recognize Rust raw strings (`r#"…"#`) — their bodies may span lines
    * and carry unescaped quotes/braces (test-fixture JSON is the common
    * case), which corrupts quote tracking and scope depth if scanned as
    * ordinary string syntax.
    */
  protected def rawStrings: Boolean = false
  /** Close expression-body callables by indentation (Scala
    * `def f: T = expr` has no brace to pop; the body ends where the
    * indentation returns to the header's level).
    */
  protected def indentExtents: Boolean = false
  /** Emit call refs for block application `name { ... }` /
    * `recv.name { ... }` (Scala's other call syntax).
    */
  protected def emitBraceCalls: Boolean = false
  /** Skip call-shaped matches in match-arm pattern position (before `=>`,
    * guard clauses excepted) — Rust only, where `=>` is unambiguous.
    */
  protected def patternArrowExclusion: Boolean = false
  /** Emit refs for parenless `new X` / `new X[T]` (Scala allows both;
    * scalac still parses them as constructor calls). `new X {…}` anonymous
    * subclasses are skipped — a real parser names those `$anon`, not `X`.
    */
  protected def emitBareNew: Boolean = false
  /** Non-scope member definitions inside a container body, dispatched on
    * the container's declaring keyword ("flavor") — Rust struct fields /
    * enum variants (rust.rs:288-299 treats both as definitions with
    * CLASS_TO_METHOD containment). Returns (name, kind).
    */
  protected def memberRule(line: String, flavor: String): Option[(String, String)] = None
  /** First-word tokens that CONTINUE a pending multi-line declaration
    * header beyond the universal extends/with/:/=/{ set — Rust/Kotlin/C#
    * `where` clauses, Java `implements`/`throws`/`permits`. Without these a
    * line like `where T: Clone` between a generic header and its `{` would
    * close the pending header body-less and the scope would never open.
    */
  protected def continuationTokens: Set[String] = Set.empty

  private val callRe: Regex =
    """(?:([A-Za-z_$][A-Za-z0-9_$.?]*)\.)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\(""".r
  // `new ArrayList<String>()`: the generic args break the plain call regex
  private val genericNewRe: Regex =
    """new\s+(?:([A-Za-z_$][A-Za-z0-9_$.]*)\.)?([A-Za-z_$][A-Za-z0-9_$]*)\s*<[^>]*>\s*\(""".r
  // Scala-only (emitBareNew): `new X[T](…)` — square-bracket generics break
  // the plain call regex the same way Java's angle brackets do
  private val scalaGenericNewRe: Regex =
    """\bnew\s+(?:([A-Za-z_$][\w$.]*)\.)?([A-Za-z_][\w$]*)\s*\[[^\]]*\]\s*\(""".r
  // Scala-only (emitBareNew): parenless `new X` / `new X[T]` — still a
  // constructor call to scalac. `(`/`[` exclusions defer to the call and
  // generic-new regexes; `{`/with/extends exclude anonymous subclasses
  private val bareNewRe: Regex =
    ("""\bnew\s+(?:([A-Za-z_$][\w$.]*)\.)?([A-Za-z_][\w$]*)""" +
      """(\s*\[[^\]]*\])?(?![\w$])(?!\s*[(\[{]|\s+(?:with|extends)\b)""").r
  private val chainCallRe: Regex =
    """([A-Za-z_]\w*)\s*\(([^()]*)\)\s*[?]?\.\s*([A-Za-z_]\w*)\s*\(""".r
  private val binOpRe: Regex =
    """\(\s*(\w+)\s*\+\s*(\w+)\s*\)(?:\s*\.\s*(\w+)\s*\()?""".r
  private val ctorNameRe: Regex = """([A-Z]\w*)\s*\(""".r
  private val braceCallRe: Regex =
    """(?:([A-Za-z_][\w.]*)\s*\.\s*)?([A-Za-z_]\w*)\s*\{""".r
  private val prevWordRe: Regex = """([A-Za-z_]\w*)[^\w]*$""".r
  private val braceCallStop: Set[String] = Set("match", "try", "catch",
    "finally", "else", "do", "yield", "new", "extends", "with", "throw",
    "return", "if", "for", "while", "then", "object", "class", "trait",
    "def", "val", "var", "type", "case", "import", "package", "given",
    "sealed", "final", "lazy", "implicit", "override", "private",
    "protected", "abstract", "super", "this")
  // `=` that starts an expression body — not `==`, `=>`, `<=`, `+=`, …
  private val exprEqRe: Regex = """(?<![=<>!+\-*/:&|])=(?![=>])""".r
  // the container's declaring keyword, for memberRule dispatch
  private val flavorRe: Regex =
    """\b(struct|enum|union|trait|impl|mod|class|interface|object|record|namespace|delegate)\b""".r

  override def extract(f: SourceFile): Extracted = {
    val rawLines = f.content.split("\n", -1)
    // strings/chars/block comments blanked (length-preserving): code-shaped
    // text inside literals must not fabricate definitions or call sites
    val lines = NoiseBlanker.blank(rawLines, lineComment, multilineStringDelim,
      holes = interpolationHoles, rawStrings = rawStrings)
    val lineStart = new Array[Long](lines.length + 1)
    var off = 0L
    for (i <- rawLines.indices) { lineStart(i) = off; off += rawLines(i).getBytes("UTF-8").length + 1 }
    lineStart(lines.length) = off

    val defs = ArrayBuffer[RawDefinition]()
    val imports = ArrayBuffer[RawImport]()
    val refs = ArrayBuffer[RawReference]()
    val facts = ArrayBuffer[RawTypeFact]()
    // (depthAtOpen, name, index into defs — for end-range backfill at pop,
    //  declaring keyword for memberRule dispatch)
    var containerStack = List.empty[(Int, String, Int, String)]
    // callables with a brace-opened body: (depthAtOpen, defIdx) — tracked
    // only for end-range backfill (they never contribute to FQNs), so the
    // resolver's innermost-caller window attributes call sites to the
    // METHOD, not just its enclosing class
    var callableStack = List.empty[(Int, Int)]
    // containers AND open callables, for type-fact scope attribution
    var factScopeStack = List.empty[(Int, String)]
    var depth = 0
    var pkg = ""
    // (varName, scope, depthAtDecl, collected ctor type names)
    var pendingInference: Option[(String, String, Int, ArrayBuffer[String])] = None
    var pendingProp: Option[(String, String)] = None
    var pendingAnnotations = List.empty[String]
    // a definition header that has not yet opened its body brace (or proven
    // itself body-less): multiline `class Foo(\n …) extends Bar {` headers
    // and body-less `case class X(a: Int)` both land here — the former
    // opens its scope when the `{` arrives, the latter never corrupts the
    // sibling FQN chain with a phantom scope
    var pendHeader: StringBuilder = null
    var pendIsContainer = false
    var pendDepth = 0
    var pendIdx = -1
    var pendAfterName = 0
    var pendParens = 0
    var pendIndent = 0
    var pendFlavor = ""
    // inside a multi-line constraint/supertype clause opened by one of the
    // language's continuationTokens (`where` / `implements` / …): every
    // following line continues the header until its `{`, `;` or `=` — the
    // clause's member lines (`T: Clone,`) carry no continuation keyword of
    // their own
    var pendContClause = false
    // expression-body callables closed by indentation (indentExtents):
    // (headerIndent, defIdx)
    var indentStack = List.empty[(Int, Int)]
    var lastContent = -1

    def pkgPrefix(parts: Seq[String]): String =
      ((if (qualifyWithPackage && pkg.nonEmpty) Seq(pkg) else Nil) ++ parts)
        .mkString(".")

    // net paren balance from `from` to EOL, and the index just past the
    // last balanced param group (exprEq search starts there, so `=` inside
    // default-argument lists can't masquerade as the body's `=`)
    def headerSplit(line: String, from: Int): (Int, Int) = {
      var bal = 0; var pos = from; var close = from; var opened = false
      while (pos < line.length) {
        val c = line.charAt(pos)
        if (c == '(') { bal += 1; opened = true }
        else if (c == ')') { bal -= 1; if (bal == 0 && opened) close = pos + 1 }
        pos += 1
      }
      (bal, close)
    }

    /** Resolve the pending header: open its scope, or (body-less) emit its
      * deferred type facts and, for expression-body callables, hand the
      * extent to the indentation tracker.
      */
    def finishPending(open: Boolean): Unit = {
      val header = pendHeader.toString
      pendHeader = null
      pendContClause = false
      if (emitTypeFacts) {
        val fqn = defs(pendIdx).fqn
        val ln = defs(pendIdx).startLine
        if (pendIsContainer)
          superTypes(header, pendAfterName).foreach { sup =>
            facts += RawTypeFact(f.path, "extends", "", fqn, sup, ln)
          }
        else {
          paramFacts(header).foreach { case (pn, pt) =>
            facts += RawTypeFact(f.path, "var", fqn, pn, pt, ln)
          }
          returnType(header).foreach { rt =>
            facts += RawTypeFact(f.path, "returns", fqn, "", rt, ln)
          }
        }
      }
      if (open) {
        val name = defs(pendIdx).name
        if (pendIsContainer)
          containerStack ::= (pendDepth, name, pendIdx, pendFlavor)
        else callableStack ::= (pendDepth, pendIdx)
        factScopeStack ::= (pendDepth, name)
      } else if (!pendIsContainer && indentExtents)
        indentStack ::= (pendIndent, pendIdx)
    }

    /** Advance the pending header through one line. Returns -1 when the
      * line is consumed (still in the header), else the offset from which
      * normal processing should resume.
      */
    // the call-ref scan over one line segment (base = scan start within
    // the full line). Def-header lines scan only their remainder; lines
    // ABSORBED by the pending-header machinery (multi-line expression
    // bodies, param lists, extends clauses) are scanned through this too —
    // a real parser sees calls there (`= JObject(\n  JString(f(x)), …`),
    // so the heuristic must not lose them
    def scanCallRefs(lineIdx: Int, full: String, base: Int): Unit = {
      if (base < full.length) {
        val seg = full.substring(base)
        // Rust match arms: `Value::String(s) => …` — tuple-struct patterns
        // before the arrow are destructuring, not calls (`=>` appears
        // nowhere else in Rust), while calls inside an `if` guard between
        // the pattern and the arrow are real expressions and stay
        val patBoundary: Int =
          if (!patternArrowExclusion) -1
          else {
            val arrow = full.indexOf("=>")
            if (arrow < 0) -1
            else {
              val g = full.indexOf(" if ")
              if (g >= 0 && g < arrow) g else arrow
            }
          }
        callRe.findAllMatchIn(seg).foreach { m =>
          val name = m.group(2)
          val c0 = base + m.start(2)
          val c1 = base + m.end(2)
          // call-form (parens): empty receiver → CALLS classification; the
          // receiver EXPRESSION rides along for the typed resolver only
          if (!keywords(name) && !(patBoundary >= 0 && c0 < patBoundary)) {
            val recvExpr = Option(m.group(1)).getOrElse("").replace("?", "")
            refs += RawReference(f.path, name, "",
              lineStart(lineIdx) + c0, lineStart(lineIdx) + c1, lineIdx, c0, c1, recvExpr)
          }
        }
        extraCallRes.foreach { re =>
          re.findAllMatchIn(seg).foreach { m =>
            val name = m.group(1)
            if (!keywords(name)) {
              val c0 = base + m.start(1)
              val c1 = base + m.end(1)
              refs += RawReference(f.path, name, "",
                lineStart(lineIdx) + c0, lineStart(lineIdx) + c1, lineIdx, c0, c1, "")
            }
          }
        }
        if (emitBraceCalls)
          braceCallRe.findAllMatchIn(seg).foreach { m =>
            val name = m.group(2)
            val prevWord = prevWordRe
              .findFirstMatchIn(full.substring(0, base + m.start))
              .map(_.group(1)).getOrElse("")
            // block application `xs.foreach { … }` — a call under Scala's
            // other application syntax; keyword heads (`match {`) and
            // non-application contexts (`new Foo {`, `extends Bar {`) are
            // filtered by the stop list on both the name and the word
            // preceding the whole match
            if (!keywords(name) && !braceCallStop(name) &&
                !braceCallStop(prevWord)) {
              val c0 = base + m.start(2)
              val c1 = base + m.end(2)
              refs += RawReference(f.path, name, "",
                lineStart(lineIdx) + c0, lineStart(lineIdx) + c1, lineIdx, c0, c1,
                Option(m.group(1)).getOrElse(""))
            }
          }
        if (emitBareNew) {
          (scalaGenericNewRe.findAllMatchIn(seg) ++
              bareNewRe.findAllMatchIn(seg)).foreach { m =>
            val name = m.group(2)
            val c0 = base + m.start(2)
            val c1 = base + m.end(2)
            if (!keywords(name))
              refs += RawReference(f.path, name, "",
                lineStart(lineIdx) + c0, lineStart(lineIdx) + c1, lineIdx, c0, c1,
                Option(m.group(1)).getOrElse(""))
          }
        }
        if (emitTypeFacts)
          genericNewRe.findAllMatchIn(seg).foreach { m =>
            val name = m.group(2)
            val c0 = base + m.start(2)
            val c1 = base + m.end(2)
            if (!keywords(name))
              refs += RawReference(f.path, name, "",
                lineStart(lineIdx) + c0, lineStart(lineIdx) + c1, lineIdx, c0, c1,
                Option(m.group(1)).getOrElse(""))
          }
        if (emitTypeFacts)
          chainCallRe.findAllMatchIn(seg).foreach { m =>
            val name = m.group(3)
            val c0 = base + m.start(3)
            val c1 = base + m.end(3)
            if (!keywords(name) && !keywords(m.group(1)))
              refs += RawReference(f.path, name, "",
                lineStart(lineIdx) + c0, lineStart(lineIdx) + c1, lineIdx, c0, c1,
                "CALL:" + m.group(1))
          }
        if (emitBinaryOperators)
          binOpRe.findAllMatchIn(seg).foreach { m =>
            val c0 = base + m.start
            refs += RawReference(f.path, "plus", "",
              lineStart(lineIdx) + c0, lineStart(lineIdx) + c0 + 4, lineIdx, c0, c0 + 4,
              m.group(1))
            Option(m.group(3)).filterNot(keywords).foreach { chained =>
              val c3 = base + m.start(3)
              refs += RawReference(f.path, chained, "",
                lineStart(lineIdx) + c3, lineStart(lineIdx) + m.end(3), lineIdx, c3,
                base + m.end(3), "BINOP:" + m.group(1))
            }
          }
      }
    }

    def advancePending(line: String): Int = {
      var k = 0
      if (pendParens > 0) {
        while (k < line.length && pendParens > 0) {
          val c = line.charAt(k)
          if (c == '(') pendParens += 1 else if (c == ')') pendParens -= 1
          k += 1
        }
        if (pendParens > 0) { pendHeader.append(' ').append(line); return -1 }
      }
      val rest = line.substring(k)
      val t = rest.trim
      if (t.isEmpty) {
        if (k > 0) pendHeader.append(' ').append(line.substring(0, k))
        return -1
      }
      val startsContClause = continuationTokens(t.takeWhile(_.isLetter))
      val isCont = k > 0 || pendContClause || startsContClause ||
        t.startsWith("extends") || t.startsWith("with") ||
        t.startsWith(":") || t.startsWith("=") || t.startsWith("{")
      if (!isCont) { finishPending(open = false); return 0 }
      if (startsContClause) pendContClause = true
      val bracePos = rest.indexOf('{')
      val semiPos = rest.indexOf(';')
      if (bracePos >= 0 && (semiPos < 0 || bracePos < semiPos)) {
        pendHeader.append(' ').append(line.substring(0, k + bracePos))
        finishPending(open = true)
        return k + bracePos
      }
      if (semiPos >= 0) {
        pendHeader.append(' ').append(line.substring(0, k + semiPos))
        finishPending(open = false)
        return k + semiPos
      }
      if (!pendIsContainer) {
        exprEqRe.findFirstMatchIn(rest) match {
          case Some(m) =>
            // include the params consumed on THIS line (line[0..k)) — the
            // assembled header must keep the closing ')' or paramFacts /
            // returnType see an unterminated param list and emit nothing
            pendHeader.append(' ').append(line.substring(0, k + m.start))
            finishPending(open = false)
            return k + m.end
          case None =>
            pendHeader.append(' ').append(line); return -1
        }
      }
      pendHeader.append(' ').append(line)
      -1
    }

    for (i <- lines.indices) {
      val raw = lines(i)
      var line = raw.indexOf(lineComment) match {
        case -1 => raw
        case n => raw.substring(0, n)
      }
      var skipLine = false
      if (pendHeader != null) {
        val from = advancePending(line)
        if (from < 0) { scanCallRefs(i, line, 0); skipLine = true }
        else if (from > 0) {
          scanCallRefs(i, line.substring(0, from), 0)
          line = (" " * from) + line.substring(from)
        }
      }
      if (!skipLine) {
      val lineIndent = line.indexWhere(c => !c.isWhitespace)
      if (indentExtents && lineIndent >= 0) {
        while (indentStack.nonEmpty && lineIndent <= indentStack.head._1) {
          val idx = indentStack.head._2
          val el = if (lastContent >= defs(idx).startLine) lastContent
                   else defs(idx).startLine
          defs(idx) = defs(idx).copy(
            endByte = lineStart(el + 1) - 1, endLine = el)
          indentStack = indentStack.tail
        }
      }
      def fqnOf(name: String) =
        pkgPrefix(containerStack.reverseIterator.map(_._2).toSeq :+ name)
      def factScope: String =
        pkgPrefix(factScopeStack.reverseIterator.map(_._2).toSeq)
      def add(name: String, fqn: String, kind: String, colNo: Int): Unit =
        defs += RawDefinition(f.path, fqn, name, kind,
          lineStart(i) + colNo, lineStart(i) + line.length, i, i, colNo, line.length)
      def attachAnnotations(): Unit = {
        // annotation refs bind to the ANNOTATED definition's line so the
        // caller-containment join attributes them to it (the reference
        // attributes @A on a method to that method); pseudo-columns beyond
        // the line end keep the sites distinct from real call refs
        pendingAnnotations.zipWithIndex.foreach { case (an, k) =>
          val c = line.length + 1 + k
          refs += RawReference(f.path, an, "",
            lineStart(i) + c, lineStart(i) + c + an.length, i, c, c + an.length)
        }
        pendingAnnotations = Nil
      }

      if (emitTypeFacts && pkg.isEmpty) packageRe.foreach { re =>
        re.findFirstMatchIn(line).foreach { m =>
          pkg = m.group(1)
          facts += RawTypeFact(f.path, "package", "", "", pkg, i)
        }
      }

      // multi-line initializer inference: collect constructor names until
      // the opening depth is restored (processed before brace bookkeeping,
      // finalized after it)
      pendingInference.foreach { case (_, _, _, acc) =>
        ctorNameRe.findAllMatchIn(line).foreach { m =>
          if (!keywords(m.group(1))) acc += m.group(1)
        }
      }

      var matched = false
      var refScanFrom = 0 // after a def header, only scan the remainder
      containerRes.foreach { case (re, kind) =>
        if (!matched) re.findFirstMatchIn(line).foreach { m =>
          val fqn = fqnOf(m.group(1))
          attachAnnotations()
          add(m.group(1), fqn, kind, m.start(1))
          val (pBal, _) = headerSplit(line, m.end(1))
          // a body-less declaration (`case class X(a: Int)`, `struct Foo;`)
          // opens no scope — pushing it would nest every later sibling
          // under a phantom FQN. Same-line `{` opens immediately; anything
          // else (multiline params, next-line extends clause, Allman brace)
          // goes through the pending-header machinery, which opens the
          // scope when the `{` arrives and stays silent when it never does.
          val flavor = flavorRe.findFirstMatchIn(line.substring(0, m.start(1)))
            .map(_.group(1)).getOrElse(kind.toLowerCase)
          if (pBal == 0 && line.indexOf('{', m.end(1)) >= 0) {
            if (emitTypeFacts)
              superTypes(line, m.end(1)).foreach { sup =>
                facts += RawTypeFact(f.path, "extends", "", fqn, sup, i)
              }
            containerStack ::= (depth, m.group(1), defs.length - 1, flavor)
            factScopeStack ::= (depth, m.group(1))
            // one-line body members (`sealed trait E { def id: String }`):
            // the container match consumed the line, so callables declared
            // inside a SAME-LINE-CLOSED body would be lost. Only the closed
            // case is safe — a body continuing past the line would need
            // stack bookkeeping for the member's extent.
            val bodyFrom = line.indexOf('{', m.end(1)) + 1
            var bal = 1
            var bodyEnd = bodyFrom
            while (bodyEnd < line.length && bal > 0) {
              val ch = line.charAt(bodyEnd)
              if (ch == '{') bal += 1 else if (ch == '}') bal -= 1
              if (bal > 0) bodyEnd += 1
            }
            if (bal == 0) {
              val body = line.substring(bodyFrom, bodyEnd)
              callableRes.foreach { case (cre, ckind) =>
                cre.findAllMatchIn(body).foreach { cm =>
                  val n = cm.group(1)
                  add(n, fqnOf(n),
                    refineCallableKind(n, Some(m.group(1)), ckind),
                    bodyFrom + cm.start(1))
                }
              }
            }
          } else {
            pendHeader = new StringBuilder(line)
            pendIsContainer = true
            pendDepth = depth
            pendIdx = defs.length - 1
            pendAfterName = m.end(1)
            pendParens = math.max(pBal, 0)
            pendIndent = if (lineIndent >= 0) lineIndent else 0
            pendFlavor = flavor
          }
          matched = true
          refScanFrom = m.end
        }
      }
      if (!matched) anonymousContainer(line).foreach { name =>
        val fqn = fqnOf(name)
        add(name, fqn, "Class", 0)
        containerStack ::= (depth, name, defs.length - 1, "object")
        factScopeStack ::= (depth, name)
        matched = true
      }
      // non-scope members of the immediately-enclosing container body
      // (Rust struct fields / enum variants; C# indexers / operator
      // overloads / finalizers): dispatch on the container's declaring
      // keyword, only at its direct body depth. Tried BEFORE callableRes —
      // a C# conversion operator (`public static implicit operator Foo(`)
      // would otherwise be mis-captured by the generic Method regex as a
      // method named after the target type (and then refined into a
      // phantom Constructor when the type is the enclosing class).
      if (!matched && containerStack.nonEmpty &&
          depth == containerStack.head._1 + 1) {
        memberRule(line, containerStack.head._4).foreach { case (name, kind) =>
          val c = math.max(line.indexOf(name), 0)
          attachAnnotations()
          add(name, fqnOf(name), kind, c)
          matched = true
          refScanFrom = c + name.length
        }
      }
      if (!matched) callableRes.foreach { case (re, kind) =>
        if (!matched) re.findFirstMatchIn(line).foreach { m =>
          val name = m.group(1)
          if (!keywords(name)) {
            val k0 = if (kind == "Method" && containerStack.isEmpty) "Function" else kind
            val k = refineCallableKind(name, containerStack.headOption.map(_._2), k0)
            val fqn = fqnOf(name)
            attachAnnotations()
            add(name, fqn, k, m.start(1))
            val (pBal, pClose) = headerSplit(line, m.start(1))
            def emitHeaderFacts(): Unit = if (emitTypeFacts) {
              paramFacts(line).foreach { case (pn, pt) =>
                facts += RawTypeFact(f.path, "var", fqn, pn, pt, i)
              }
              returnType(line).foreach { rt =>
                facts += RawTypeFact(f.path, "returns", fqn, "", rt, i)
              }
            }
            if (pBal == 0 && line.indexOf('{', m.end - 1) >= 0) {
              emitHeaderFacts()
              callableStack ::= (depth, defs.length - 1)
              factScopeStack ::= (depth, name)
            } else if (pBal == 0 && exprEqRe
                .findFirstMatchIn(line.substring(pClose)).isDefined) {
              // complete single-line expression-body header `def f(…): T = …`
              emitHeaderFacts()
              if (indentExtents)
                indentStack ::=
                  ((if (lineIndent >= 0) lineIndent else 0, defs.length - 1))
            } else {
              // unfinished header (open params / no body token yet): defer
              pendHeader = new StringBuilder(line)
              pendIsContainer = false
              pendDepth = depth
              pendIdx = defs.length - 1
              pendAfterName = m.start(1)
              pendParens = math.max(pBal, 0)
              pendIndent = if (lineIndent >= 0) lineIndent else 0
            }
            matched = true
            refScanFrom = m.end
          }
        }
      }
      if (!matched) parseImport(line).foreach { case (it, path, name, alias) =>
        imports += RawImport(f.path, it, path, name, alias,
          lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
        refScanFrom = line.length
      }

      if (!matched) {
        val anns = annotationNames(line)
        if (anns.nonEmpty) {
          if (emitTypeFacts) pendingAnnotations ++= anns
          refScanFrom = line.length
        }
      }

      if (emitTypeFacts && !matched && pendingInference.isEmpty) {
        pendingProp match {
          case Some((recv, prop)) =>
            // `val Recv.prop` header seen: a `get() = Ctor(...)` body line
            // types the extension property
            ctorNameRe.findFirstMatchIn(line).foreach { m =>
              if (line.contains("get()") && !keywords(m.group(1)))
                facts += RawTypeFact(f.path, "prop", recv, prop, m.group(1), i)
            }
            if (line.trim.nonEmpty) pendingProp = None
          case None =>
            extensionPropertyHeader(line) match {
              // a declared type types the property outright; else the
              // getter line that follows may
              case Some((recv, prop, Some(t))) =>
                facts += RawTypeFact(f.path, "prop", recv, prop, t, i)
              case Some((recv, prop, None)) => pendingProp = Some((recv, prop))
              case None =>
                inferenceStart(line) match {
                  case Some(varName) =>
                    pendingInference =
                      Some((varName, factScope, depth, ArrayBuffer[String]()))
                    ctorNameRe.findAllMatchIn(line).foreach { m =>
                      if (!keywords(m.group(1)))
                        pendingInference.get._4 += m.group(1)
                    }
                  case None =>
                    varDecl(line).foreach { case (vn, vt) =>
                      facts += RawTypeFact(f.path, "var", factScope, vn, vt, i)
                    }
                }
            }
        }
      }

      scanCallRefs(i, line, refScanFrom)

      for (c <- line) {
        if (c == '{') depth += 1
        else if (c == '}') {
          depth -= 1
          while (containerStack.nonEmpty && depth <= containerStack.head._1) {
            // backfill the container's true extent (block end, not header) —
            // the reference resolver's caller-containment join needs it
            val idx = containerStack.head._3
            defs(idx) = defs(idx).copy(
              endByte = lineStart(i) + line.length, endLine = i)
            containerStack = containerStack.tail
          }
          while (callableStack.nonEmpty && depth <= callableStack.head._1) {
            val idx = callableStack.head._2
            defs(idx) = defs(idx).copy(
              endByte = lineStart(i) + line.length, endLine = i)
            callableStack = callableStack.tail
          }
          while (factScopeStack.nonEmpty && depth <= factScopeStack.head._1)
            factScopeStack = factScopeStack.tail
        }
      }

      pendingInference.foreach { case (vn, scope, d0, acc) =>
        if (depth <= d0 && !line.trim.endsWith("{") && acc.nonEmpty) {
          facts += RawTypeFact(f.path, "var", scope, vn, acc.distinct.mkString("|"), i)
          pendingInference = None
        } else if (depth <= d0 && !line.trim.endsWith("{") &&
          line.trim.nonEmpty && !line.trim.startsWith("val") &&
          !line.trim.startsWith("var")) {
          pendingInference = None
        }
      }
      } // !skipLine
      if (line.exists(c => !c.isWhitespace)) lastContent = i
    }
    if (pendHeader != null) finishPending(open = false)
    if (indentExtents && lastContent >= 0)
      indentStack.foreach { case (_, idx) =>
        if (lastContent >= defs(idx).startLine)
          defs(idx) = defs(idx).copy(
            endByte = lineStart(lastContent + 1) - 1, endLine = lastContent)
      }
    Extracted(f, defs.toSeq, imports.toSeq, refs.toSeq, facts.toSeq)
  }
}

/** Java (reference fixtures: fixtures/java, analyzer
  * analysis/languages/java/expression_resolver.rs).
  */
object JavaExtractor extends BraceExtractor {
  override val language = "java"
  override val containerRes = Seq(
    """(?:public\s+|private\s+|protected\s+|abstract\s+|final\s+|static\s+)*class\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r -> "Class",
    """(?:public\s+|private\s+|protected\s+)*@interface\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r -> "Interface",
    """(?:public\s+|private\s+|protected\s+)*interface\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r -> "Interface",
    """(?:public\s+|private\s+|protected\s+)*enum\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r -> "Class",
    """(?:public\s+|private\s+|protected\s+)*record\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r -> "Class")
  override val callableRes = Seq(
    // the body `{` is OPTIONAL: a multi-line header (`void f()\n  throws E {`,
    // Allman brace) goes through the pending-header machinery, which opens
    // the scope when the brace arrives and stays body-less when it never
    // does (abstract/interface methods). The `=`-free type charset keeps
    // field initializers (`int x = f(y);`) from matching.
    """(?:public\s+|private\s+|protected\s+|static\s+|final\s+|synchronized\s+|abstract\s+|native\s+|default\s+)+[A-Za-z_$][\w$<>\[\],. ]*\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*\([^;]*\)\s*(?:throws[\w, .]+)?\{?""".r -> "Method",
    // constructor: modifier + ClassName( ... ) — no return type
    """(?:public|private|protected)\s+([A-Z][A-Za-z0-9_$]*)\s*\([^;)]*\)\s*\{?""".r -> "Method")
  override val keywords = Set("if", "for", "while", "switch", "catch", "return",
    "new", "super", "this", "assert", "synchronized")
  override def parseImport(line: String) = {
    val re = """^\s*import\s+(static\s+)?([\w.]+)(\.\*)?\s*;""".r
    re.findFirstMatchIn(line).map { m =>
      val path = m.group(2)
      val wildcard = m.group(3) != null
      (if (m.group(1) != null) "static_import" else if (wildcard) "wildcard_import" else "import",
        path, if (wildcard) "*" else path.split("\\.").last, null)
    }
  }

  override val packageRe = Some("""^\s*package\s+([\w.]+)\s*;""".r)
  override val qualifyWithPackage = true
  override val emitTypeFacts = true
  override def superTypes(line: String, afterName: Int): Seq[String] = {
    val rest = line.substring(math.min(afterName, line.length))
    val ext = """extends\s+([\w.]+)""".r.findFirstMatchIn(rest).map(_.group(1)).toSeq
    // `(?:\{|$)`: an assembled multi-line header ends BEFORE its `{` (the
    // pending machinery appends only up to the brace), so the implements
    // list may run to end-of-string
    val impl = """implements\s+([\w.,\s]+?)\s*(?:\{|$)""".r.findFirstMatchIn(rest)
      .map(_.group(1)).toSeq.flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    ext ++ impl
  }
  private val fieldRe =
    """([A-Z][\w.]*)(?:<[^>]*>)?\s+(\w+)\s*[=;]""".r
  private val varKwRe = """\bvar\s+(\w+)\s*=\s*(?:new\s+)?([A-Z][\w.]*)""".r
  private val instanceOfRe = """instanceof\s+([A-Z][\w.]*)\s+(\w+)""".r
  override def varDecl(line: String): Option[(String, String)] = {
    varKwRe.findFirstMatchIn(line).map(m => (m.group(1), m.group(2)))
      .orElse(instanceOfRe.findFirstMatchIn(line).map(m => (m.group(2), m.group(1))))
      .orElse(fieldRe.findFirstMatchIn(line).collect {
        case m if !line.trim.startsWith("return") => (m.group(2), m.group(1))
      })
  }
  override def paramFacts(line: String): Seq[(String, String)] = {
    val open = line.indexOf('(')
    val close = line.lastIndexOf(')')
    if (open < 0 || close <= open) Nil
    else line.substring(open + 1, close).split(",").toSeq.flatMap { p =>
      """([A-Z][\w.]*)(?:<[^>]*>)?\s+(\w+)\s*$""".r.findFirstMatchIn(p.trim)
        .map(m => (m.group(2), m.group(1)))
    }
  }
  override def returnType(line: String): Option[String] =
    ("""(?:(?:public|private|protected|static|final|synchronized|abstract|native|default)\s+)+""" +
      """([A-Z][\w.]*)(?:<[^>]*>)?\s+\w+\s*\(""").r
      .findFirstMatchIn(line).map(_.group(1))
  override def annotationNames(line: String): Seq[String] =
    """^\s*@([A-Za-z_]\w*)""".r.findFirstMatchIn(line).map(_.group(1)).toSeq
  // `class Foo extends Bar\n    implements Baz {` / `void f()\n throws E {`
  // / sealed `permits` — all continue a pending multi-line header
  override val continuationTokens = Set("implements", "throws", "permits")
  // Modifier-LESS member methods at a container's direct body depth:
  // implicitly-public interface methods (`int size();`), package-private
  // class methods (`void grow(int n) {`), annotation members. Safe at this
  // depth because Java class bodies hold only declarations — statements
  // live inside method bodies two levels down. Lines carrying a modifier
  // are left to callableRes, whose path also emits param/return type facts
  // and tracks body extents.
  private val modifierStartRe =
    """^\s*(?:public|private|protected|static|final|synchronized|abstract|native|default|class|interface|enum|record)\b""".r
  private val bareMemberRe =
    """^\s*(?:<[^>]*>\s*)?[A-Za-z_$][\w$<>\[\],. ]*\s+([A-Za-z_$][\w$]*)\s*\([^;{]*\)\s*(?:throws[\w, .]+)?[;{]""".r
  override def memberRule(line: String, flavor: String): Option[(String, String)] =
    flavor match {
      case "class" | "interface" | "enum" | "record" =>
        if (modifierStartRe.findFirstIn(line).isDefined) None
        else bareMemberRe.findFirstMatchIn(line).collect {
          case m if !keywords(m.group(1)) => (m.group(1), "Method")
        }
      case _ => None
    }
}

/** Kotlin (reference fixtures: fixtures/kotlin, resolver
  * analysis/languages/kotlin/expression_resolver.rs).
  */
object KotlinExtractor extends BraceExtractor {
  override val language = "kotlin"
  override val containerRes = Seq(
    """(?:data\s+|sealed\s+|abstract\s+|open\s+|inner\s+|enum\s+|annotation\s+)*class\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """(?:sealed\s+)?interface\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Interface",
    """(?:companion\s+)?object\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class")
  override val callableRes = Seq(
    """(?:override\s+|open\s+|private\s+|public\s+|internal\s+|protected\s+|inline\s+|suspend\s+|operator\s+|infix\s+|tailrec\s+)*fun\s+(?:<[^>]+>\s*)?(?:[\w.<>?]+\.)?([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r -> "Method",
    """val\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*\{""".r -> "Lambda")
  override val keywords = Set("if", "for", "while", "when", "catch", "return",
    "listOf", "mapOf", "setOf")
  override def parseImport(line: String) = {
    val re = """^\s*import\s+(\w+(?:\.\w+)*)(\.\*)?(?:\s+as\s+(\w+))?""".r
    re.findFirstMatchIn(line).map { m =>
      val wildcard = m.group(2) != null
      (if (wildcard) "wildcard_import" else "import", m.group(1),
        if (wildcard) "*" else m.group(1).split("\\.").last, m.group(3))
    }
  }

  override val packageRe = Some("""^\s*package\s+([\w.]+)""".r)
  override val qualifyWithPackage = true
  override val emitTypeFacts = true
  override val emitBinaryOperators = true
  override val multilineStringDelim = Some("\"\"\"")
  // Kotlin templates interpolate in every string form, no prefix needed
  override val interpolationHoles = Some(NoiseBlanker.Holes(
    "${", inQuote = true, inMulti = true, prefixRequired = false))
  override def anonymousContainer(line: String): Option[String] =
    if ("""companion\s+object\s*(\{|$)""".r.findFirstIn(line).isDefined)
      Some("Companion")
    else None
  override def superTypes(line: String, afterName: Int): Seq[String] = {
    // skip the primary constructor's parens before looking for `: Super`
    var i = math.min(afterName, line.length)
    while (i < line.length && line(i).isWhitespace) i += 1
    if (i < line.length && line(i) == '(') {
      var d = 0
      while (i < line.length) {
        if (line(i) == '(') d += 1
        else if (line(i) == ')') { d -= 1; if (d == 0) { i += 1
          // done skipping
          while (i < line.length && line(i).isWhitespace) i += 1
          return superListFrom(line, i) } }
        i += 1
      }
      Nil
    } else superListFrom(line, i)
  }
  private def superListFrom(line: String, i: Int): Seq[String] =
    if (i < line.length && line(i) == ':')
      line.substring(i + 1).takeWhile(_ != '{').split(",").toSeq
        .map(_.replaceAll("\\(.*?\\)", "").replaceAll("<[^>]*>", "").trim)
        .filter(s => s.nonEmpty && s.matches("""[\w.]+"""))
    else Nil
  private val typedValRe =
    """\b(?:val|var)\s+(\w+)\s*:\s*([\w.]+)[?]?\s*=""".r
  private val ctorValRe =
    """\b(?:val|var)\s+(\w+)\s*=\s*([A-Z][\w.]*)\s*\(""".r
  private val memberValRe =
    """\b(?:val|var)\s+(\w+)\s*=\s*([A-Z][\w.]*)\s*$""".r
  override def varDecl(line: String): Option[(String, String)] =
    typedValRe.findFirstMatchIn(line).map(m => (m.group(1), m.group(2)))
      .orElse(ctorValRe.findFirstMatchIn(line).map(m => (m.group(1), m.group(2))))
      .orElse(memberValRe.findFirstMatchIn(line).map(m => (m.group(1), m.group(2))))
  override def paramFacts(line: String): Seq[(String, String)] = {
    val open = line.indexOf('(')
    val close = line.indexOf(')', math.max(open, 0))
    if (open < 0 || close <= open) Nil
    else line.substring(open + 1, close).split(",").toSeq.flatMap { p =>
      """(\w+)\s*:\s*([\w.]+)[?]?\s*$""".r.findFirstMatchIn(p.trim)
        .map(m => (m.group(1), m.group(2)))
    }
  }
  override def returnType(line: String): Option[String] = {
    val declared = """\)\s*:\s*([\w.]+)""".r.findFirstMatchIn(line).map(_.group(1))
    declared.orElse {
      """\)\s*=\s*(.+)$""".r.findFirstMatchIn(line).flatMap { m =>
        val rhs = m.group(1)
        val ctors = """([A-Z]\w*)\s*\(""".r.findAllMatchIn(rhs)
          .map(_.group(1)).filterNot(keywords).toSeq.distinct
        if (ctors.nonEmpty) Some(ctors.mkString("|")) else None
      }
    }
  }
  override def inferenceStart(line: String): Option[String] =
    """\b(?:val|var)\s+(\w+)\s*=\s*(?:when\s*\(|try\s*\{|if\s*\()""".r
      .findFirstMatchIn(line).map(_.group(1))
  override def extensionPropertyHeader(
      line: String): Option[(String, String, Option[String])] =
    """^\s*val\s+([A-Z][\w.]*)\.(\w+)\s*(?::\s*([\w.]+)[^=]*)?$""".r
      .findFirstMatchIn(line)
      .map(m => (m.group(1), m.group(2), Option(m.group(3))))
  override def annotationNames(line: String): Seq[String] =
    """^\s*@([A-Za-z_]\w*)""".r.findFirstMatchIn(line).map(_.group(1)).toSeq
  // Kotlin generic-constraint clause: `class C<T> where T : Comparable<T>`
  override val continuationTokens = Set("where")
}

/** C# (reference language set includes CSharp). Definition-kind mapping
  * mirrors csharp.rs:248-320's `simplify_definition_type`: struct, record,
  * enum and delegate collapse into Class; constructors, properties and
  * interface members are first-class kinds so the nesting edges carry the
  * reference's relationship table (csharp.rs:168-245: CLASS_TO_CONSTRUCTOR,
  * CLASS_TO_PROPERTY, INTERFACE_TO_METHOD, …). One documented divergence:
  * a `namespace` becomes a Module definition here (the reference keeps
  * namespaces only as FQN parts — csharp.rs:322-325), which yields richer
  * MODULE_TO_* containment without changing any member pair's type.
  */
object CSharpExtractor extends BraceExtractor {
  override val language = "csharp"
  override val containerRes = Seq(
    """(?:public\s+|private\s+|internal\s+|protected\s+|abstract\s+|sealed\s+|static\s+|partial\s+)*class\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """(?:public\s+|internal\s+)*interface\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Interface",
    """(?:public\s+|internal\s+|readonly\s+|ref\s+)*struct\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    // record / record struct / record class → Class (csharp.rs:254-259)
    """(?:public\s+|internal\s+|sealed\s+)*record\s+(?:struct\s+|class\s+)?([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    // enum → Class (csharp.rs:260-262); members are values, not defs
    """(?:public\s+|internal\s+)*enum\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    // delegate → Class (csharp.rs:280-282); body-less, so the pending
    // machinery never opens a scope for it. Fields/events stay dropped
    // (csharp.rs:279,292 map both to None)
    """(?:public\s+|internal\s+|private\s+|protected\s+)*delegate\s+[\w<>\[\],. ?]+\s+([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r -> "Class",
    """namespace\s+([A-Za-z_][A-Za-z0-9_.]*)""".r -> "Module")
  override val callableRes = Seq(
    """(?:public\s+|private\s+|internal\s+|protected\s+|static\s+|virtual\s+|override\s+|async\s+|sealed\s+)+[A-Za-z_][\w<>\[\],. ?]*\s+([A-Za-z_][A-Za-z0-9_]*)\s*\([^;]*\)\s*\{?""".r -> "Method",
    // constructor: modifiers + ClassName( — refined below against the
    // enclosing container's name (csharp.rs CSharpDefinitionType::Constructor)
    """(?:public\s+|private\s+|internal\s+|protected\s+)+([A-Z]\w*)\s*\([^;]*\)\s*(?::\s*(?:base|this)\s*\([^)]*\)\s*)?\{?\s*$""".r -> "Method",
    // property with an accessor block: `public int Size { get; set; }`;
    // modifiers optional (interface properties carry none), anchored so a
    // mid-line `{ get` can't fabricate one
    """^\s*(?:public\s+|private\s+|internal\s+|protected\s+|static\s+|virtual\s+|override\s+)*[A-Za-z_][\w<>\[\],. ?]*\s+([A-Za-z_][A-Za-z0-9_]*)\s*\{\s*(?:get|set|init)""".r -> "Property",
    // body-less interface member: `int M(string s);`
    """^\s*(?:[A-Za-z_][\w<>\[\],?]*)\s+([A-Za-z_]\w*)\s*\([^)]*\)\s*;\s*$""".r -> "Method")
  override val keywords = Set("if", "for", "while", "switch", "catch", "return",
    "new", "base", "this", "using", "foreach", "lock")
  override def refineCallableKind(name: String, enclosing: Option[String],
      kind: String): String =
    if (kind == "Method" && enclosing.contains(name)) "Constructor" else kind
  override def parseImport(line: String) = {
    val re = """^\s*using\s+(static\s+)?([\w.]+)\s*;""".r
    re.findFirstMatchIn(line).map { m =>
      (if (m.group(1) != null) "static_import" else "import", m.group(2),
        m.group(2).split("\\.").last, null)
    }
  }
  // generic-constraint clause between a generic header and its `{`:
  // `class Cache<T> where T : IComparable<T>` — continues the pending header
  override val continuationTokens = Set("where")
  // Indexers, operator overloads and finalizers (csharp.rs:281-291
  // simplify_definition_type: Indexer→Property, Operator→StaticMethod,
  // Finalizer→InstanceMethod — i.e. the kinds below keep the reference's
  // CLASS_TO_PROPERTY / CLASS_TO_METHOD relationship routing). Names follow
  // the written form: an indexer is "this[]", an operator is
  // "operator<token>" (`operator+`, `operator==`, conversion operators
  // `operatorTargetType`), a finalizer is "~ClassName" — distinct from the
  // constructor's name by the tilde.
  private val indexerRe =
    """^\s*(?:public\s+|private\s+|internal\s+|protected\s+|virtual\s+|override\s+)*[A-Za-z_][\w<>\[\],. ?]*\s+this\s*\[""".r
  private val operatorRe =
    """^\s*(?:public\s+|private\s+|internal\s+|protected\s+|static\s+)+(?:[A-Za-z_][\w<>\[\],. ?]*\s+)?(?:implicit\s+|explicit\s+)?operator\s*([^\s(]+)\s*\(""".r
  private val finalizerRe = """^\s*~([A-Za-z_]\w*)\s*\(\s*\)""".r
  override def memberRule(line: String, flavor: String): Option[(String, String)] =
    flavor match {
      case "class" | "struct" | "record" | "interface" =>
        if (indexerRe.findFirstIn(line).isDefined) Some(("this[]", "Property"))
        else operatorRe.findFirstMatchIn(line)
          .map(m => ("operator" + m.group(1), "Method"))
          .orElse(finalizerRe.findFirstMatchIn(line)
            .map(m => ("~" + m.group(1), "Method")))
      case _ => None
    }
}

/** Scala — beyond the reference's language set, so this engine can index
  * itself (and any Spark codebase).
  */
object ScalaExtractor extends BraceExtractor {
  override val language = "scala"
  override val containerRes = Seq(
    """(?:final\s+|abstract\s+|sealed\s+|case\s+|private\s+|implicit\s+)*class\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """(?:case\s+)?object\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """(?:sealed\s+)?trait\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Interface")
  override val callableRes = Seq(
    """(?:override\s+|private(?:\[\w+\])?\s+|protected\s+|final\s+|implicit\s+|lazy\s+)*def\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Method")
  override val keywords = Set("if", "for", "while", "match", "return", "Seq",
    "Map", "Set", "List", "Array", "Some", "println", "assert", "require",
    "this")
  override val multilineStringDelim = Some("\"\"\"")
  // s"…${esc(p)}…" carries a real call site (scalac parses holes as code);
  // the `s`/`f`/`raw` prefix is required — plain "…${…}…" is literal text
  override val interpolationHoles = Some(NoiseBlanker.Holes(
    "${", inQuote = true, inMulti = true, prefixRequired = true))
  override val indentExtents = true
  override val emitBraceCalls = true
  override val emitBareNew = true
  override def parseImport(line: String) = {
    val re = """^\s*import\s+(\w+(?:\.\w+)*)(?:\.(_|\{[^}]*\}|\w+))?\s*$""".r
    re.findFirstMatchIn(line.takeWhile(_ != '/')).flatMap { m =>
      val base = m.group(1)
      Option(m.group(2)) match {
        case Some("_") => Some(("wildcard_import", base, "*", null))
        case Some(sel) if sel.startsWith("{") =>
          Some(("named_import", base, sel.stripPrefix("{").stripSuffix("}")
            .split(",")(0).trim.split("\\s*=>\\s*")(0), null))
        case Some(one) => Some(("import", s"$base.$one", one, null))
        case None => Some(("import", base, base.split("\\.").last, null))
      }
    }
  }
}

/** Rust (reference language set includes Rust). */
object RustExtractor extends BraceExtractor {
  override val language = "rust"
  override val containerRes = Seq(
    """(?:pub(?:\([^)]*\))?\s+)?mod\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Module",
    """(?:pub(?:\([^)]*\))?\s+)?struct\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """(?:pub(?:\([^)]*\))?\s+)?enum\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """(?:pub(?:\([^)]*\))?\s+)?trait\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Interface",
    // `impl Trait for Type` scopes members under the RECEIVING type —
    // rust.rs resolves the impl's self type, not the trait; tried before
    // the plain-impl rule so `for` wins when present. Both rules are
    // line-start-anchored: `impl` also appears mid-line as an opaque type
    // (`-> impl Iterator<…> {`, `x: impl Into<…>`), where matching would
    // fabricate a phantom container AND swallow the fn def on that line
    // (containerRes is tried before callableRes). `impl dyn Trait`
    // (inherent impls on trait objects) scopes under the trait name.
    // the self type may be path-qualified (`for rmcp::ErrorData`) — scope
    // under the LAST segment, the type itself (rust.rs resolves the same)
    """^\s*(?:unsafe\s+)?impl(?:\s*<[^>]*>)?\s+(?:dyn\s+)?[A-Za-z_][\w:<>, ]*?\s+for\s+(?:[A-Za-z_]\w*::)*([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class",
    """^\s*(?:unsafe\s+)?impl(?:\s*<[^>]*>)?\s+(?:dyn\s+)?([A-Za-z_][A-Za-z0-9_]*)""".r -> "Class")
  override val callableRes = Seq(
    """(?:pub(?:\([^)]*\))?\s+)?(?:async\s+|unsafe\s+|const\s+|extern\s+)*fn\s+([A-Za-z_][A-Za-z0-9_]*)""".r -> "Method")
  override val keywords = Set("if", "for", "while", "match", "return", "Some",
    "Ok", "Err", "None", "vec", "println", "panic", "assert", "assert_eq",
    // reserved words that look like call heads to the line scanner
    // (`let (a, b) = …`, `impl Fn(i32) -> i32`) — none can name a user fn
    "let", "else", "fn", "impl", "dyn", "move", "loop", "unsafe", "as",
    "in", "use", "pub", "mod", "where", "type", "const", "static", "enum",
    "struct", "trait", "async", "await", "ref", "mut", "box", "crate",
    "super", "self", "Self", "Fn", "FnMut", "FnOnce")
  // `#[derive(Debug)]` / `#[cfg(test)]` / `#[strum(serialize = "…")]`
  // attribute lines: their argument lists are not call sites (tree-sitter
  // parses attributes as meta items, not expressions — rust.rs emits no
  // references from them)
  private val attrRe = """^\s*#!?\[\s*([A-Za-z_][\w:]*)""".r
  override def annotationNames(line: String): Seq[String] =
    attrRe.findFirstMatchIn(line).map(_.group(1).split("::").last).toSeq
  // turbofish call sites (`collect::<Vec<_>>()`, `parse::<u16>()`) — the
  // generic-args block sits between the callee name and the paren, so the
  // shared name-then-paren regex can't see them
  override val extraCallRes =
    Seq("""([A-Za-z_]\w*)\s*::\s*<.*?>\s*\(""".r)
  // match-arm patterns (`Value::String(s) =>`) are destructuring, not
  // calls — rustc's AST keys them as patterns and the fidelity measurement
  // showed them as the dominant call-precision FP family
  override val patternArrowExclusion = true
  override def parseImport(line: String) = {
    val re = """^\s*(?:pub\s+)?use\s+([\w:]+)(?:::\{[^}]*\})?(?:\s+as\s+(\w+))?\s*;""".r
    re.findFirstMatchIn(line).map { m =>
      ("use", m.group(1).replace("::", "."),
        m.group(1).split("::").last, m.group(2))
    }
  }
  // `where` clauses between a generic header and its `{` are common in
  // generic-heavy Rust (`impl<T> Cache<T>\nwhere\n    T: Clone\n{`) — they
  // continue the pending header rather than closing it body-less
  override val continuationTokens = Set("where")
  // raw strings (`r#"…"#`) carry unescaped quotes and braces across lines
  // (test-fixture JSON); without this the quote tracker desyncs and scope
  // depth drifts for the rest of the file
  override val rawStrings = true
  // struct fields and enum variants are definitions in the reference's
  // analyzer (rust.rs:288-299: Struct→Field and Enum→Variant both carry
  // CLASS_TO_METHOD containment); only the direct body depth of a
  // struct/union/enum is dispatched here, so struct-literal expressions
  // inside fn bodies (flavor "impl"/"mod") never match
  private val fieldRe = """^\s*(?:pub(?:\([^)]*\))?\s+)?([a-z_]\w*)\s*:\s*\S""".r
  private val variantRe = """^\s*([A-Z]\w*)\s*(?:\(|\{|,|=|$)""".r
  override def memberRule(line: String, flavor: String): Option[(String, String)] =
    flavor match {
      case "struct" | "union" =>
        fieldRe.findFirstMatchIn(line).map(m => (m.group(1), "Field"))
      case "enum" =>
        variantRe.findFirstMatchIn(line).map(m => (m.group(1), "Variant"))
      case _ => None
    }
}
