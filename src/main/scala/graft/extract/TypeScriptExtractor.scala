package graft.extract

import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** E2 for TypeScript/JavaScript — heuristic brace-depth extractor
  * (reference analyzer: analysis/languages/typescript.rs). Covers:
  * class / interface / function / `const f = (..) =>` / methods inside
  * classes; `import x from 'm'`, `import {a as b, c} from 'm'`,
  * `import * as ns from 'm'`, side-effect `import 'm'`, `require('m')`;
  * call references.
  */
object TypeScriptExtractor extends Extractor {
  override val language = "typescript"

  private val classRe: Regex =
    """(?:export\s+)?(?:abstract\s+)?(class|interface|enum)\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r
  // `namespace X {` / `module X {` (TS internal modules, possibly dotted):
  // the reference SKIPS Namespace definitions (typescript.rs:41-43
  // `continue`) but namespace segments DO scope member FQNs — so a
  // namespace pushes an FQN scope with no definition row. The `{` keeps
  // `module.exports` (CommonJS, `.` follows immediately) from matching.
  private val namespaceRe: Regex =
    """(?:export\s+)?(?:declare\s+)?(?:namespace|module)\s+([A-Za-z_$][A-Za-z0-9_$.]*)\s*\{""".r
  private val funcRe: Regex =
    """(?:export\s+)?(?:async\s+)?function\s*\*?\s+([A-Za-z_$][A-Za-z0-9_$]*)""".r
  // a TS return-type annotation between an arrow's param list and its
  // `=>`: `(value: string): boolean =>`
  private val arrowReturn = """(?:\s*:\s*[^=;{}]+?)?"""
  private val arrowRe: Regex =
    ("""(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*(?::[^=]+)?=\s*(?:async\s+)?(?:\((?:[^()]|\([^()]*\))*\)""" +
      arrowReturn + """|[A-Za-z_$][A-Za-z0-9_$]*)\s*=>""").r
  // from a multi-line arrow head's close paren through its `=>`
  private val arrowTailRe: Regex = (arrowReturn + """\s*=>""").r
  private val methodRe: Regex =
    """^\s*(?:public\s+|private\s+|protected\s+|static\s+|async\s+|readonly\s+|get\s+|set\s+)*(?:\*\s*)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\([^;]*\)\s*(?::[^{;]+)?\{""".r
  // multi-line member head: `async load ({` — params continue on following
  // lines, so there is no close paren (let alone `{`) on the header line.
  // Only meaningful at a class's DIRECT body depth, where statements cannot
  // occur (anything `name (…` there IS a member declaration).
  private val methodHeadOpenRe: Regex =
    """^\s*(?:public\s+|private\s+|protected\s+|static\s+|async\s+|readonly\s+|get\s+|set\s+)*(?:\*\s*)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\([^;()]*$""".r
  // relaxed class-body member head (fallback when methodRe's `;`-free param
  // constraint fails on object-type annotations): name + open paren only;
  // the caller additionally requires class-body depth and a `{`-ended line
  private val methodRelaxedRe: Regex =
    """^\s*(?:public\s+|private\s+|protected\s+|static\s+|async\s+|readonly\s+|get\s+|set\s+)*(?:\*\s*)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\(""".r
  // `name (args) {` in statement position is a syntax error in JS unless it
  // is an object-literal/class method definition — so outside a class's
  // direct body depth it marks an OBJECT method: not a definition the
  // reference extracts, but not a call either. The function/=> guard keeps
  // callback-passing calls (`setTimeout(function () {`) out.
  private val objMethodRe: Regex =
    """^\s*(?:async\s+)?(?:get\s+|set\s+|static\s+)*(?:\*\s*)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\(([^;{}]*)\)\s*\{""".r
  // multi-line arrow const: `const f = ({` / `const f = async (` — the
  // param list spans lines; the `=>` is only visible at the close paren.
  private val arrowHeadOpenRe: Regex =
    """(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*=\s*(?:async\s*)?\(([^;()]*)$""".r
  private val importFromRe: Regex =
    """import\s+(.+?)\s+from\s+['"]([^'"]+)['"]""".r
  private val importBareRe: Regex = """import\s+['"]([^'"]+)['"]""".r
  private val requireRe: Regex =
    """(?:const|let|var)\s+([A-Za-z_$][A-Za-z0-9_${}, ]*)\s*=\s*require\(\s*['"]([^'"]+)['"]\s*\)""".r
  private val callRe: Regex =
    """(?:([A-Za-z_$][A-Za-z0-9_$.]*)\.)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\(""".r
  // call-site stoplist: control keywords plus prefix-operator / statement
  // keywords that read as `kw (expr)` — never callee names
  private val keywords = Set("if", "for", "while", "switch", "catch", "return",
    "function", "constructor", "super", "typeof", "new", "import", "require",
    "await", "async", "throw", "yield", "delete", "void")
  // definition stoplist: narrower — `delete (nodePath) {` and friends ARE
  // legal member names (property position allows reserved words), and
  // `constructor` IS a definition (tree-sitter extracts it; the reference's
  // TS census counts every constructor — tests.rs:239-244's 32 defs for the
  // two model files include both constructors)
  private val defStop = Set("if", "for", "while", "switch", "catch", "return",
    "function", "super", "typeof", "new", "import", "require")

  override def extract(f: SourceFile): Extracted = {
    val rawLines = f.content.split("\n", -1)
    // blank '...'/"..."/`...` string bodies and /* */ comments so quoted
    // code can't fabricate defs/refs or corrupt brace depth; imports match
    // on the blanked line too (so commented-out imports are ignored) with
    // module paths recovered from the raw line's identical span
    val lines = NoiseBlanker.blank(rawLines, "//", Some("`"),
      singleQuoteStrings = true,
      // `…${fn(x)}…` template holes are code (tree-sitter parses them);
      // only backtick strings interpolate in JS/TS
      holes = Some(NoiseBlanker.Holes(
        "${", inQuote = false, inMulti = true, prefixRequired = false)),
      // /…/ regex bodies carry unbalanced quotes and braces — blank them
      regexLiterals = true)
    val lineStart = new Array[Long](rawLines.length + 1)
    var off = 0L
    for (i <- rawLines.indices) { lineStart(i) = off; off += rawLines(i).getBytes("UTF-8").length + 1 }
    lineStart(rawLines.length) = off

    val defs = ArrayBuffer[RawDefinition]()
    val imports = ArrayBuffer[RawImport]()
    val refs = ArrayBuffer[RawReference]()
    // (braceDepthAtOpen, name, index into defs — for end-range backfill;
    // -1 marks a NAMESPACE scope: contributes to FQNs, no def row)
    var classStack = List.empty[(Int, String, Int)]
    // innermost scope is a real class/interface/enum (namespaces are FQN
    // carriers only: a `function` at namespace depth is a Function)
    def inClassScope = classStack.headOption.exists(_._3 >= 0)
    // brace-opened function/method bodies: (depthAtOpen, defIdx) — extent
    // tracking only (no FQN impact), for method-level caller attribution
    var callableStack = List.empty[(Int, Int)]
    var depth = 0
    // open multi-line `const f = (` arrow head awaiting its close paren:
    // (name, headerLine, headerCol, openParenBalance)
    var pendingArrow: Option[(String, Int, Int, Int)] = None

    for (i <- lines.indices) {
      val raw = lines(i)
      val line = raw.indexOf("//") match { case -1 => raw; case n => raw.substring(0, n) }
      // Imports are matched on the comment-truncated BLANKED line (so
      // `// import x from 'y'` and `/* require('b') */` can't fabricate
      // rows), and the module path — whose characters blanking erased — is
      // recovered from the identical span of the raw line (NoiseBlanker is
      // length-preserving)
      def rawSpan(start: Int, end: Int): String = rawLines(i).substring(start, end)

      def fqnOf(name: String) =
        (classStack.reverseIterator.map(_._2).toSeq :+ name).mkString(".")
      def add(name: String, kind: String, colNo: Int): Unit =
        defs += RawDefinition(f.path, fqnOf(name), name, kind,
          lineStart(i) + colNo, lineStart(i) + line.length, i, i, colNo, line.length)

      var matchedDef = false
      // when a def matches, its body (after the match) is still scanned for
      // calls — `const f = (x) => g(x)` carries a real call site for g
      var callScanFrom = 0
      // continuation of a multi-line `const f = (` arrow head: track the
      // param list's paren balance; at the close, a `=>` makes the header a
      // definition (anchored at the header line). Mid-params lines skip the
      // def matchers (nothing on them is a declaration) but still scan
      // calls — defaults like `timeout = makeTimeout()` carry real call
      // sites. The CLOSE line's remainder past the `=>` is normal code and
      // goes back through the def matchers (via a space-padded view that
      // keeps column numbers intact), so `) => { ... }; const g = () =>`
      // still declares g; an abandoned (runaway) head re-enables the full
      // line.
      var defLine: String = if (pendingArrow.isDefined) null else line
      pendingArrow.foreach { case (name, headLine, headCol, balance0) =>
        var bal = balance0
        var closeIdx = -1
        var j = 0
        while (j < line.length && closeIdx < 0) {
          val c = line.charAt(j)
          if (c == '(') bal += 1
          else if (c == ')') { bal -= 1; if (bal == 0) closeIdx = j }
          j += 1
        }
        if (closeIdx >= 0) {
          pendingArrow = None
          val after = line.substring(closeIdx + 1)
          val tail = arrowTailRe.findPrefixMatchOf(after)
          if (tail.isDefined) {
            val kind = if (inClassScope) "Method" else "Function"
            defs += RawDefinition(f.path, fqnOf(name), name, kind,
              lineStart(headLine) + headCol,
              lineStart(headLine) + rawLines(headLine).length,
              headLine, headLine, headCol, rawLines(headLine).length)
            val rest = closeIdx + 1 + tail.get.end
            defLine = (" " * rest) + line.substring(rest)
          } else
            defLine = (" " * (closeIdx + 1)) + after
        } else if (i - headLine > 30) { // runaway guard
          pendingArrow = None
          defLine = line
        } else pendingArrow = Some((name, headLine, headCol, bal))
      }
      val atClassBodyDepth = classStack.headOption.exists(h =>
        h._3 >= 0 && depth == h._1 + 1)
      if (defLine != null) {
      val dline = defLine
      classRe.findFirstMatchIn(dline).foreach { m =>
        val kind = if (m.group(1) == "interface") "Interface" else "Class"
        add(m.group(2), kind, m.start(2))
        classStack ::= (depth, m.group(2), defs.length - 1)
        matchedDef = true; callScanFrom = m.end
      }
      if (!matchedDef) namespaceRe.findFirstMatchIn(dline).foreach { m =>
        classStack ::= (depth, m.group(1), -1) // FQN scope, no def row
        matchedDef = true; callScanFrom = m.end
      }
      def pushCallableIfBraced(fromCol: Int): Unit =
        if (dline.indexOf('{', fromCol) >= 0)
          callableStack ::= (depth, defs.length - 1)
      if (!matchedDef) funcRe.findFirstMatchIn(dline).foreach { m =>
        val kind = if (inClassScope) "Method" else "Function"
        add(m.group(1), kind, m.start(1)); pushCallableIfBraced(m.end - 1)
        matchedDef = true; callScanFrom = m.end
      }
      if (!matchedDef) arrowRe.findFirstMatchIn(dline).foreach { m =>
        add(m.group(1), if (inClassScope) "Method" else "Function", m.start(1))
        pushCallableIfBraced(m.end - 1)
        matchedDef = true; callScanFrom = m.end
      }
      // members only live at the class's DIRECT body depth; deeper
      // `name (…) {` lines are object-literal methods inside a member body
      // (the reference's tree-sitter rules extract class members only)
      if (!matchedDef && atClassBodyDepth)
        methodRe.findFirstMatchIn(dline).foreach { m =>
          if (!defStop(m.group(1))) {
            add(m.group(1), "Method", m.start(1)); pushCallableIfBraced(m.end - 1)
            matchedDef = true; callScanFrom = m.end
          }
        }
      if (!matchedDef && atClassBodyDepth)
        methodHeadOpenRe.findFirstMatchIn(dline).foreach { m =>
          if (!defStop(m.group(1))) {
            add(m.group(1), "Method", m.start(1))
            matchedDef = true; callScanFrom = m.end
          }
        }
      // relaxed member fallback: methodRe's `[^;]*` param matcher rejects
      // `;` inside object-type annotations (`constructor({...}: { a: string;
      // b: string })`), but at a class's DIRECT body depth statements cannot
      // occur — a brace-opened `name (…` line there IS a member declaration
      if (!matchedDef && atClassBodyDepth && dline.trim.endsWith("{"))
        methodRelaxedRe.findFirstMatchIn(dline).foreach { m =>
          if (!defStop(m.group(1))) {
            add(m.group(1), "Method", m.start(1)); pushCallableIfBraced(m.end - 1)
            matchedDef = true; callScanFrom = m.end
          }
        }
      if (!matchedDef) arrowHeadOpenRe.findFirstMatchIn(dline).foreach { m =>
        pendingArrow = Some((m.group(1), i, m.start(1), 1))
      }
      }

      importFromRe.findFirstMatchIn(line) match {
        case Some(m) =>
          val clause = m.group(1).trim
          val module = rawSpan(m.start(2), m.end(2))
          if (clause.startsWith("{")) {
            clause.stripPrefix("{").stripSuffix("}").split(",").map(_.trim)
              .filter(_.nonEmpty).foreach { item =>
                val parts = item.split("\\s+as\\s+")
                imports += RawImport(f.path, "named_import", module,
                  parts(0).trim, if (parts.length > 1) parts(1).trim else null,
                  lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
              }
          } else if (clause.startsWith("* as ")) {
            imports += RawImport(f.path, "namespace_import", module,
              "*", clause.stripPrefix("* as ").trim,
              lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
          } else {
            imports += RawImport(f.path, "default_import", module,
              clause.split(",")(0).trim, null,
              lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
          }
        case None =>
          importBareRe.findFirstMatchIn(line).foreach { m =>
            imports += RawImport(f.path, "side_effect_import",
              rawSpan(m.start(1), m.end(1)), "", null,
              lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
          }
          requireRe.findFirstMatchIn(line).foreach { m =>
            imports += RawImport(f.path, "require", rawSpan(m.start(2), m.end(2)),
              m.group(1).replaceAll("[{} ]", ""), null,
              lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
          }
      }

      // `name (args) {` in statement position is only legal as an object-
      // literal method definition — neither a def the reference extracts
      // nor a call; suppress the leading name (other names on the line —
      // param defaults — are genuine call sites)
      val objHeadCol: Int =
        if (matchedDef) -1
        else objMethodRe.findFirstMatchIn(line)
          .filter(m => !m.group(2).contains("function") &&
            !m.group(2).contains("=>"))
          .map(_.start(1)).getOrElse(-1)
      if (!line.trim.startsWith("import"))
        callRe.findAllMatchIn(line).foreach { m =>
          val name = m.group(2)
          // call-form (parens): empty receiver -> CALLS classification.
          // `#`-private calls are skipped: privates are not extracted as
          // definitions (tree-sitter keys them as private_property_
          // identifier, a different node), so the name could never resolve
          val priv = m.start(2) > 0 && line.charAt(m.start(2) - 1) == '#'
          if (!keywords(name) && m.start(2) != objHeadCol && !priv &&
              m.start(2) >= callScanFrom)
            refs += RawReference(f.path, name, "",
              lineStart(i) + m.start(2), lineStart(i) + m.end(2), i, m.start(2), m.end(2))
        }

      // track brace depth; pop class scopes whose block closed, backfilling
      // the class's true extent (the caller-containment join needs it)
      for (c <- line) {
        if (c == '{') depth += 1
        else if (c == '}') {
          depth -= 1
          while (classStack.nonEmpty && depth <= classStack.head._1) {
            val idx = classStack.head._3
            if (idx >= 0) // namespace scopes have no def row to backfill
              defs(idx) = defs(idx).copy(endByte = lineStart(i) + line.length,
                endLine = i)
            classStack = classStack.tail
          }
          while (callableStack.nonEmpty && depth <= callableStack.head._1) {
            val idx = callableStack.head._2
            defs(idx) = defs(idx).copy(endByte = lineStart(i) + line.length,
              endLine = i)
            callableStack = callableStack.tail
          }
        }
      }
    }
    Extracted(f, defs.toSeq, imports.toSeq, refs.toSeq)
  }
}

/** E2 for Ruby — heuristic extractor (reference fixtures: ruby test-repo;
  * analyzers analysis/languages/ruby/). Covers module/class/def nesting via
  * `end`-balancing, `require`/`require_relative`, call references.
  */
object RubyExtractor extends Extractor {
  override val language = "ruby"

  private val moduleRe: Regex = """^(\s*)module\s+([A-Z][A-Za-z0-9_:]*)""".r
  private val classRe: Regex =
    """^(\s*)class\s+([A-Z][A-Za-z0-9_:]*)(?:\s*<\s*([A-Za-z0-9_:]+))?""".r
  private val defRe: Regex = """^(\s*)def\s+(self\.)?([A-Za-z_][A-Za-z0-9_?!=]*)""".r
  private val requireRe: Regex = """^\s*require(_relative)?\s+['"]([^'"]+)['"]""".r
  private val blockOpenRe: Regex =
    """^\s*(?:if|unless|while|until|case|begin|do)\b""".r
  private val callRe: Regex =
    """(?:([A-Za-z_@][A-Za-z0-9_.@]*)\.)?([a-z_][A-Za-z0-9_?!]*)\s*\(""".r
  // assignment: `x = rhs` / `@ivar = rhs` / `x ||= rhs` — feeds the typed
  // resolver's variable type map (reference: ruby/type_map.rs assignment
  // tracking). Compound/comparison operators must not match: the charset
  // before `=` is the variable name itself, and `=` must not be followed by
  // `=` or `~` (==, =~).
  private val assignRe: Regex =
    """^\s*(@{1,2}[a-z_][A-Za-z0-9_]*|[a-z_][A-Za-z0-9_]*)\s*(?:\|\|)?=(?![=~])\s*(.+)$""".r
  private val newRhsRe: Regex = """^([A-Z][A-Za-z0-9_:]*)\.new\b""".r
  // a bare identifier in call position (assignment RHS or standalone line):
  // indistinguishable from a local variable lexically, so these are emitted
  // with callReceiver=IMPLICIT and resolved (or dropped) ONLY by the typed
  // resolver's scope rules (reference: scope_resolver.rs resolve_identifier
  // checks the variable map before method lookup)
  private val bareIdRe: Regex = """^([a-z_][A-Za-z0-9_]*[?!]?)$""".r
  private val bareStmtKeywords = Set("end", "else", "begin", "ensure",
    "retry", "redo", "next", "break", "return", "yield", "super", "nil",
    "true", "false", "self", "private", "public", "protected", "puts")
  // Ruby calls are usually paren-less; the dotted `receiver.method` form is
  // unambiguous enough to extract without a parser (`instance.save`,
  // `storage.dup`). Bare paren-less identifiers are indistinguishable from
  // local variables heuristically, so they are left to real parser input
  // via Indexer.fromParsed (reference: analysis/languages/ruby/* resolves
  // them with tree-sitter scopes).
  private val dottedCallRe: Regex =
    """([A-Za-z_@][A-Za-z0-9_.@]*)\.([a-z_][A-Za-z0-9_]*[?!]?)(?![\w?!(.])""".r
  private val keywords = Set("if", "unless", "while", "until", "puts", "def",
    "require", "require_relative", "attr_accessor", "attr_reader", "new")

  // defIdx: index into the defs buffer, so the scope's true end (its
  // balanced `end` line) can be backfilled at pop — without it a definition
  // would span only its header line and the reference resolver's caller-
  // containment join could never place a call site inside it
  private final case class RScope(name: String, kind: String, line: Int,
                                  col: Int, defIdx: Int)

  override def extract(f: SourceFile): Extracted = {
    val rawLines = f.content.split("\n", -1)
    // blank '...'/"..." string bodies so quoted code can't fabricate
    // defs/refs; requires parse from the RAW line (quoted paths); `#`
    // comments are truncated below, string-safely once contents are blank
    val lines = NoiseBlanker.blank(rawLines, "#", None,
      singleQuoteStrings = true, blockComments = false,
      // "#{fn(x)}" holes interpolate in double-quoted Ruby strings only
      // ('…' is literal); tree-sitter parses them as code
      holes = Some(NoiseBlanker.Holes(
        "#{", inQuote = true, inMulti = false, prefixRequired = false)))
    val lineStart = new Array[Long](rawLines.length + 1)
    var off = 0L
    for (i <- rawLines.indices) { lineStart(i) = off; off += rawLines(i).getBytes("UTF-8").length + 1 }
    lineStart(rawLines.length) = off

    val defs = ArrayBuffer[RawDefinition]()
    val imports = ArrayBuffer[RawImport]()
    val refs = ArrayBuffer[RawReference]()
    val facts = ArrayBuffer[RawTypeFact]()
    // stack entries: Some(scope) for module/class/def, None for other `end`-blocks
    var stack = List.empty[Option[(RScope, Long)]]

    def fqn(name: String) =
      (stack.flatten.reverseIterator.map(_._1.name).toSeq :+ name).mkString(".")
    // fqn of the innermost open scope (the variable-map scope of this line)
    def scopeFqn =
      stack.flatten.reverseIterator.map(_._1.name).mkString(".")
    // fqn of the innermost enclosing class/module (instance-variable scope)
    def typeFqn = stack.flatten.toList
      .dropWhile(s => s._1.kind != "Class" && s._1.kind != "Module")
      .reverseIterator.map(_._1.name).mkString(".")

    for (i <- lines.indices) {
      val raw = lines(i)
      val line = raw.indexOf('#') match { case -1 => raw; case n => raw.substring(0, n) }
      val trimmed = line.trim

      moduleRe.findFirstMatchIn(line) match {
        case Some(m) =>
          defs += RawDefinition(f.path, fqn(m.group(2)), m.group(2), "Module",
            lineStart(i) + m.start(2), lineStart(i) + line.length, i, i, m.start(2), line.length)
          stack ::= Some((RScope(m.group(2), "Module", i, m.start(2), defs.length - 1), lineStart(i)))
        case None => classRe.findFirstMatchIn(line) match {
          case Some(m) =>
            defs += RawDefinition(f.path, fqn(m.group(2)), m.group(2), "Class",
              lineStart(i) + m.start(2), lineStart(i) + line.length, i, i, m.start(2), line.length)
            if (m.group(3) != null) // `class Foo < Bar` superclass
              facts += RawTypeFact(f.path, "extends", "", fqn(m.group(2)),
                m.group(3).replace("::", "."), i)
            stack ::= Some((RScope(m.group(2), "Class", i, m.start(2), defs.length - 1), lineStart(i)))
          case None => defRe.findFirstMatchIn(line) match {
            case Some(m) =>
              val inClass = stack.flatten.headOption.exists(s =>
                s._1.kind == "Class" || s._1.kind == "Module")
              val kind = if (inClass) "Method" else "Function"
              defs += RawDefinition(f.path, fqn(m.group(3)), m.group(3), kind,
                lineStart(i) + m.start(3), lineStart(i) + line.length, i, i, m.start(3), line.length)
              stack ::= Some((RScope(m.group(3), kind, i, m.start(3), defs.length - 1), lineStart(i)))
            case None =>
              val trailingDo = trimmed.matches(""".*\bdo\s*(\|[^|]*\|)?\s*$""")
              if ((blockOpenRe.findFirstIn(trimmed).isDefined || trailingDo) &&
                  !trimmed.contains(" end")) stack ::= None
              requireRe.findFirstMatchIn(line).foreach { m =>
                // match on the blanked line (^-anchored, but consistent with
                // TypeScript); path recovered from the raw line's span
                val path = rawLines(i).substring(m.start(2), m.end(2))
                imports += RawImport(f.path,
                  if (m.group(1) != null) "require_relative" else "require",
                  path, path.split("/").last, null,
                  lineStart(i), lineStart(i) + line.length, i, i, 0, line.length)
              }
              assignRe.findFirstMatchIn(line).foreach { m =>
                val target = m.group(1)
                val scope = if (target.startsWith("@")) typeFqn else scopeFqn
                // only `.new` yields a concrete type (type_map.rs:518-529);
                // any other RHS still SHADOWS the name ("?") so the typed
                // resolver never mistakes an assigned local for a method
                val t = newRhsRe.findFirstMatchIn(m.group(2).trim)
                  .map(_.group(1).replace("::", ".")).getOrElse("?")
                facts += RawTypeFact(f.path, "var", scope, target, t, i)
                // bare-identifier RHS: a call on implicit self (or a local —
                // the resolver's variable map decides)
                bareIdRe.findFirstMatchIn(m.group(2).trim).foreach { b =>
                  val n = b.group(1)
                  if (!keywords(n) && !bareStmtKeywords(n)) {
                    val off = line.indexOf(n, m.start(2))
                    refs += RawReference(f.path, n, "",
                      lineStart(i) + off, lineStart(i) + off + n.length,
                      i, off, off + n.length, callReceiver = "IMPLICIT")
                  }
                }
              }
              if (assignRe.findFirstMatchIn(line).isEmpty)
                bareIdRe.findFirstMatchIn(trimmed).foreach { b =>
                  val n = b.group(1)
                  if (!keywords(n) && !bareStmtKeywords(n)) {
                    val off = line.indexOf(n)
                    refs += RawReference(f.path, n, "",
                      lineStart(i) + off, lineStart(i) + off + n.length,
                      i, off, off + n.length, callReceiver = "IMPLICIT")
                  }
                }
              callRe.findAllMatchIn(line).foreach { m =>
                val name = m.group(2)
                // call-form (parens): empty receiver -> CALLS classification;
                // the receiver EXPRESSION rides in callReceiver for the
                // typed resolver (does not affect classification).
                // `X.new(...)` keeps its ref despite `new` being noise-
                // filtered bare: the reference resolves the constant X to a
                // CALLS edge on the class itself (ruby tests.rs:421,666
                // assert callee == "User" for `User.new` / `User.find`)
                if (!keywords(name) || (name == "new" && m.group(1) != null))
                  refs += RawReference(f.path, name, "",
                    lineStart(i) + m.start(2), lineStart(i) + m.end(2), i, m.start(2), m.end(2),
                    callReceiver = Option(m.group(1)).getOrElse(""))
              }
              dottedCallRe.findAllMatchIn(line).foreach { m =>
                val name = m.group(2)
                if (!keywords(name))
                  refs += RawReference(f.path, name, m.group(1),
                    lineStart(i) + m.start(2), lineStart(i) + m.end(2), i, m.start(2), m.end(2))
              }
          }
        }
      }
      if (trimmed == "end" || trimmed.startsWith("end ")) {
        if (stack.nonEmpty) {
          // backfill the popped scope's true extent (body, not just header)
          stack.head.foreach { case (sc, _) =>
            val d = defs(sc.defIdx)
            defs(sc.defIdx) = d.copy(endByte = lineStart(i) + line.length,
              endLine = i)
          }
          stack = stack.tail
        }
      }
    }
    Extracted(f, defs.toSeq, imports.toSeq, refs.toSeq, facts.toSeq)
  }
}
